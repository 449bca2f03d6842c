#!/bin/bash
# 50k-doc spark-submit scale smoke with a real mid-extract kill — validates
# the crash-window reconcile (pipeline/ExtractJob.reconcile) at scale, not
# just in PipelineSpec's simulated crash: gen -> extract killed -9 at ~50% ->
# re-submit (reconcile cleans the uncommitted run dir, completes all docs) ->
# third submit resumes as a no-op -> duplicate-free output asserted.
#
# Usage: tools/scale_smoke.sh [ndocs] [kill_after_sec]   (spark-submit on PATH;
# master cores, shuffle partitions and driver heap come from this host)
set -u
NDOCS=${1:-50000}
KILL_AFTER=${2:-50}
JAR=$(ls -t target/scala-2.13/ocrrecognitionspark_*.jar | head -1)
BASE=/tmp/graft_scale_smoke
CORES=$(nproc)
# heap: half of MemTotal, clamped to 2..8g (the build's default rule)
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)
SUBMIT="spark-submit --class graft.Main --master local[$CORES] \
  --driver-memory $HEAP --conf spark.sql.shuffle.partitions=$CORES \
  --conf spark.ui.enabled=false $JAR"

rm -rf "$BASE"; mkdir -p "$BASE"

echo "== gen $NDOCS docs"
time $SUBMIT gen "$BASE/snap" "$NDOCS" 2>"$BASE/gen.err" | grep GEN

echo "== extract (killed -9 after ${KILL_AFTER}s)"
setsid $SUBMIT extract "$BASE/snap" "$BASE/out" "$BASE/ckpt" \
  >"$BASE/extract1.out" 2>"$BASE/extract1.err" &
PID=$!
sleep "$KILL_AFTER"
kill -9 -- "-$PID" 2>/dev/null
wait "$PID" 2>/dev/null
echo "killed extract pgid $PID after ${KILL_AFTER}s"
ls "$BASE/out" 2>/dev/null || echo "(no output dir yet)"

echo "== re-submit extract (reconcile + complete)"
time $SUBMIT extract "$BASE/snap" "$BASE/out" "$BASE/ckpt" \
  2>"$BASE/extract2.err" | grep EXTRACT

echo "== third submit (no-op resume)"
time $SUBMIT extract "$BASE/snap" "$BASE/out" "$BASE/ckpt" \
  2>"$BASE/extract3.err" | grep EXTRACT

echo "== duplicate-free output assertion (duckdb, driver-side check)"
# the assertion must be able to FAIL the smoke: propagate python's status
# (without this, a regression that duplicates docs would still exit 0 via
# the trailing du)
python3 - "$BASE" "$NDOCS" <<'EOF' || { echo "SMOKE FAILED: duplicate check"; exit 1; }
import duckdb, sys
base, n = sys.argv[1], int(sys.argv[2])
rows, docs = duckdb.sql(
    f"SELECT count(*), count(DISTINCT doc_id) "
    f"FROM read_parquet('{base}/out/run=*/*.parquet')").fetchone()
assert docs == n, f"expected {n} distinct docs, got {docs}"
assert rows == docs, f"{rows - docs} duplicate doc rows"
print(f"OK: {docs} distinct docs, {rows} rows, zero duplicates")
EOF

echo "== layout evidence (partition counts, lineage:done size ratio)"
python3 - "$BASE" <<'EOF'
import duckdb, glob, os, sys
base = sys.argv[1]
out_files = glob.glob(f"{base}/out/run=*/*.parquet")
done_files = glob.glob(f"{base}/ckpt/done/run=*/*.parquet")
lin_files = glob.glob(f"{base}/ckpt/lineage/run=*/*.parquet")
lin_rows, lin_docs = duckdb.sql(
    f"SELECT count(*), sum(doc_count) "
    f"FROM read_parquet('{base}/ckpt/lineage/run=*/*.parquet')").fetchone()
done_b = sum(os.path.getsize(f) for f in done_files)
lin_b = sum(os.path.getsize(f) for f in lin_files)
out_b = sum(os.path.getsize(f) for f in out_files)
print(f"output: {len(out_files)} part files, {out_b/1e6:.1f} MB; "
      f"run dirs: {len(set(os.path.dirname(f) for f in out_files))}")
print(f"done table: {len(done_files)} files, {done_b/1e6:.2f} MB; "
      f"lineage: {len(lin_files)} files, {lin_b/1e6:.3f} MB, "
      f"{lin_rows} partition rows covering {lin_docs} docs")
print(f"lineage:done size ratio 1:{done_b/max(lin_b,1):.0f} "
      f"(the metadata the run summary reads vs the per-doc table it avoids)")
EOF
du -sh "$BASE/out" "$BASE/ckpt"
