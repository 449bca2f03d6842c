#!/bin/bash
# 50k-doc spark-submit scale smoke with a real mid-extract kill — validates
# the crash-window reconcile (pipeline/ExtractJob.reconcile) at scale, not
# just in PipelineSpec's simulated crash: gen -> extract killed -9 inside a
# crash window -> re-submit (reconcile cleans the uncommitted run dir, or
# re-appends a committed run's lineage, and completes all docs) -> third
# submit resumes as a no-op, reporting docs_this_run=0 and every doc
# already done -> gen rewrites the same docs, which must keep the snapshot
# id -> a fourth submit is a no-op too -> duplicate-free output asserted.
#
# The output run dir exists only while the extract writes, near its end, so
# the kill is not timed: the script polls every 0.2 s and kills as soon as a
# run dir appears, with kill_after_sec as the upper bound. It prints which
# window the kill hit and fails if it hit none.
#
# Usage: tools/scale_smoke.sh [ndocs] [kill_after_sec]   (spark-submit on PATH;
# master cores, shuffle partitions and driver heap come from this host)
set -u
NDOCS=${1:-50000}
KILL_AFTER=${2:-600}
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
time GEN1=$($SUBMIT gen "$BASE/snap" "$NDOCS" 2>"$BASE/gen.err" | grep GEN)
echo "$GEN1"

echo "== extract (killed -9 once a run dir exists, at most ${KILL_AFTER}s)"
START=$(date +%s.%N)
setsid $SUBMIT extract "$BASE/snap" "$BASE/out" "$BASE/ckpt" \
  >"$BASE/extract1.out" 2>"$BASE/extract1.err" &
PID=$!
for ((i = 0; i < KILL_AFTER * 5; i++)); do
  compgen -G "$BASE/out/run=*" >/dev/null && break
  kill -0 "$PID" 2>/dev/null || break
  sleep 0.2
done
kill -9 -- "-$PID" 2>/dev/null
wait "$PID" 2>/dev/null
echo "killed extract pgid $PID after $(awk -v s="$START" -v e="$(date +%s.%N)" 'BEGIN {printf "%.1f", e - s}') s"
ls "$BASE/out" 2>/dev/null || echo "(no output dir yet)"
RUN=$(compgen -G "$BASE/out/run=*" | head -1)
if [ -z "$RUN" ]; then
  WINDOW="none: no run dir yet, nothing for reconcile to repair"
elif [ ! -e "$RUN/_SUCCESS" ]; then
  WINDOW="run dir without _SUCCESS: reconcile deletes it"
elif [ ! -e "$BASE/ckpt/lineage/$(basename "$RUN")/_SUCCESS" ]; then
  WINDOW="committed output without lineage _SUCCESS: reconcile re-appends its lineage"
else
  WINDOW="none: output and lineage both committed"
fi
echo "kill window: $WINDOW"
case "$WINDOW" in
  none*) echo "SMOKE FAILED: the kill missed every crash window"; exit 1 ;;
esac

echo "== re-submit extract (reconcile + complete)"
time $SUBMIT extract "$BASE/snap" "$BASE/out" "$BASE/ckpt" \
  2>"$BASE/extract2.err" | grep EXTRACT

# a no-op resume: the summary's counts must add up, nothing extracted and
# every doc already done
noop_extract() {
  local START LINE want
  START=$(date +%s.%N)
  LINE=$($SUBMIT extract "$BASE/snap" "$BASE/out" "$BASE/ckpt" \
    2>"$BASE/extract$1.err" | grep EXTRACT)
  echo "$LINE"
  echo "took $(awk -v s="$START" -v e="$(date +%s.%N)" 'BEGIN {printf "%.1f", e - s}') s"
  for want in docs_this_run=0 "docs_already_done=$NDOCS" "docs_done=$NDOCS"; do
    [[ " $LINE " == *" $want "* ]] ||
      { echo "SMOKE FAILED: submit $1 did not report $want"; exit 1; }
  done
}

echo "== third submit (no-op resume)"
noop_extract 3

echo "== gen the same $NDOCS docs again (new part files, same snapshot id)"
GEN2=$($SUBMIT gen "$BASE/snap" "$NDOCS" 2>"$BASE/gen2.err" | grep GEN)
echo "$GEN2"
snap_of() { sed -n 's/.*snapshot=\([^ ]*\).*/\1/p' <<<"$1"; }
[[ -n "$(snap_of "$GEN1")" && "$(snap_of "$GEN1")" == "$(snap_of "$GEN2")" ]] ||
  { echo "SMOKE FAILED: the rewrite changed the snapshot id"; exit 1; }

echo "== fourth submit (no-op resume against the rewrite)"
noop_extract 4

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

echo "== layout evidence (partition counts, lineage:output size ratio)"
python3 - "$BASE" <<'EOF'
import duckdb, glob, os, sys
base = sys.argv[1]
out_files = glob.glob(f"{base}/out/run=*/*.parquet")
lin_files = glob.glob(f"{base}/ckpt/lineage/run=*/*.parquet")
lin_rows, lin_docs = duckdb.sql(
    f"SELECT count(*), sum(doc_count) "
    f"FROM read_parquet('{base}/ckpt/lineage/run=*/*.parquet')").fetchone()
lin_b = sum(os.path.getsize(f) for f in lin_files)
out_b = sum(os.path.getsize(f) for f in out_files)
print(f"output: {len(out_files)} part files, {out_b/1e6:.1f} MB; "
      f"run dirs: {len(set(os.path.dirname(f) for f in out_files))}")
print(f"lineage: {len(lin_files)} files, {lin_b/1e6:.3f} MB, "
      f"{lin_rows} partition rows covering {lin_docs} docs")
print(f"lineage:output size ratio 1:{out_b/max(lin_b,1):.0f} "
      f"(the per-partition metadata vs the per-doc output)")
EOF
du -sh "$BASE/out" "$BASE/ckpt"
