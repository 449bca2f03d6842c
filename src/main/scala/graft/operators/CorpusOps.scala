package graft.operators

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline operators over the documents/embeddings tables:
  * deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity
  * search (brute-force + LSH-bucketed ANN), and text analysis (language
  * markers, quality scoring, token stats, fingerprinting). These are
  * first-class components of the engine at 100 TB scale — each is written
  * shuffle-consciously (broadcast where small, band-bucketed joins instead
  * of all-pairs, integer/decimal outputs for oracle-exact comparison).
  */
object CorpusOps {
  import RelationalOps.table

  /** Documents table with at least the session's parallelism (r6, guide
    * §2.5 "input skew: one huge unsplittable file → repartition after
    * the read"): the local sf dirs are single-file parquet, one split.
    * Used ONLY by d7, whose persist materialization (tokenize + k=96
    * MinHash per doc) is heavy enough to pay for the raw-text exchange
    * and whose cached projection then feeds the candidate join at the
    * session's width. Measured and REJECTED for the cheaper per-doc
    * kernels (d6 simhash / d8 fingerprint / d11 regex counts): their
    * single-task compute is smaller than the exchange it would remove.
    * The repartition is CONDITIONAL on the scan actually being narrower
    * than the session: a production corpus with thousands of splits pays
    * no extra exchange. Round-robin repartition is retry-safe
    * (sortBeforeRepartition stays on) and every consumer is
    * aggregation/join/orderBy-shaped, so output is
    * partitioning-independent. */
  private def docsParallel(s: SparkSession, dir: String): DataFrame = {
    val t = table(s, dir, "documents")
    val width = s.sparkContext.defaultParallelism
    if (t.rdd.getNumPartitions < width) t.repartition(width) else t
  }

  /** d1: exact dedup via content-hash groupBy. */
  def d1DedupExact(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical"))
      .orderBy("text_hash")

  /** Distinct word-trigram shingles per document (doc_id < bound).
    *
    * r6 note: an array-native rewrite (filter + transform/sequence
    * indexing, removing this window's exchange+sort) was measured ~2x
    * SLOWER warm — Spark's higher-order array functions evaluate their
    * lambdas interpreted, while this posexplode + lead shape is fully
    * whole-stage-codegen'd; the window shuffle is doc_id-keyed (no
    * skew) and scales horizontally, so the codegen'd form is kept. */
  private def shingles(s: SparkSession, dir: String, bound: Long): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    table(s, dir, "documents")
      .filter(col("doc_id") < bound)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
              concat_ws(" ", col("tok"), col("t1"), col("t2")).as("g"))
      .distinct()
  }

  /** Document-frequency cap for d2 shingles: a shingle appearing in more
    * than this many documents (boilerplate phrase) is dropped before the
    * pair self-join. Without it one hot shingle makes the `a.g = b.g` join
    * quadratic on that key — the 100 TB killer. The cap is part of the
    * operator's semantics (mirrored in the DuckDB oracle): standard
    * stopword-shingle removal from the MinHash-dedup literature. */
  val ShingleDfCap = 50

  /** Default d2 scope bound — a SANDBOX QUERY-BUDGET constant, not
    * operator semantics: the driver's per-query wall cap can't afford the
    * full-corpus pair join every round, so the shipped query (and its
    * DuckDB oracle, which mirrors the same bound — SparkEntry.oracleSql
    * "d2_ngram_jaccard") scopes to doc_id < 300. Production callers pass
    * docBound = Long.MaxValue; the operator's shape (df-capped shingle
    * pair join) is bound-independent. */
  val D2DefaultDocBound = 300L

  /** d2: exact n-gram Jaccard near-dup pairs — pair join on shared
    * shingles (never all-pairs), integer-scaled similarity. The shingle
    * table feeds 4 subplans (both join sides + both size lookups), so it
    * is materialized once — at production scale this is a written-out
    * intermediate table, not a recompute. Hot shingles (df > ShingleDfCap)
    * are removed with a broadcast anti-join against the (tiny) hot-shingle
    * table, so no join key ever exceeds ShingleDfCap rows per side.
    * `docBound` scopes the input (see [[D2DefaultDocBound]] — scope, not
    * semantics). */
  def d2NgramJaccard(s: SparkSession, dir: String,
                     docBound: Long = D2DefaultDocBound): DataFrame = {
    val all = shingles(s, dir, docBound)
    val hot = all.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap).select(col("g"))
    val sh = all.join(broadcast(hot), Seq("g"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jac_e6", expr("(inter * 1000000) div (sz_a + sz_b - inter)"))
      .filter(col("jac_e6") >= 100000)
      .select(col("doc_a"), col("doc_b"), col("jac_e6"))
      .orderBy("doc_a", "doc_b")
  }

  /** d3: token statistics (whitespace tokenization, length arithmetic). */
  def d3TokenStats(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(
        col("doc_id"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace"))
      .orderBy("doc_id")

  /** d4: language-marker heuristic (n-gram language-ID stand-in): classify
    * by stopword-occurrence count, cross-checked against the lang column. */
  def d4LangMarkers(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("occ_the",
        expr("(length(text) - length(replace(text, 'the', ''))) div 3"))
      .withColumn("predicted", when(col("occ_the") >= 3, "en").otherwise("other"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")

  /** d5: quality scoring: integer component scores + acceptance flag. */
  def d5Quality(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("n_tokens",
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long"))
      .withColumn("len_ok", (col("n_chars") >= 100 && col("n_chars") <= 500).cast("int"))
      .withColumn("tok_ok", (col("n_tokens") >= 20).cast("int"))
      .withColumn("accepted", (col("len_ok") === 1 && col("tok_ok") === 1).cast("int"))
      .groupBy(col("len_ok"), col("tok_ok"), col("accepted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("len_ok", "tok_ok", "accepted")

  /** d6: SimHash near-dup candidates: native simhash64 Expression, 4x16-bit
    * band bucketing (no all-pairs), hamming <= 6 via bit_count(xor).
    * DuckDB-oracled via a pure-SQL re-implementation of the whole operator
    * (FNV token hash, per-occurrence bit votes, banding, hamming —
    * SparkEntry.oracleSql "d6_simhash_pairs"); recall on planted
    * near-duplicates additionally pinned by ScalaTest. */
  def d6SimHashPairs(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), expr("simhash64(text)").as("sh"))
    val bands = docs.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
               shiftrightunsigned(col("sh"), b * 16)
                 .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band"), col("bk.key"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("doc_a", "doc_b")
  }

  /** d7 LSH parameterization — sized so the BANDING matches the REPORT
    * THRESHOLD (the round-5 10x lesson). The original 8 bands x 3 rows
    * at a 0.1 report threshold had its S-curve midpoint at
    * (1/8)^(1/3) ≈ 0.5: borderline pairs at jac 0.10-0.14 collide with
    * probability < 3% per pair, and the first sf0.1 run duly missed 4 of
    * 260 oracle pairs (jac 0.105-0.136) after a clean sf0.01 record —
    * the corpus's true-pair population is bimodal (5th percentile jac
    * 0.91), so small-sf recall looked perfect by luck of the gap.
    * A 100% recall GUARANTEE at jac 0.1 is impossible for any pure LSH
    * (miss probability is (1-s^r)^b > 0 everywhere); the scale-honest
    * contract is a threshold the banding actually serves:
    *
    *   - REPORT threshold 0.5 ([[D7ReportJacE6]]): "near-duplicate" —
    *     exact low-threshold pair mining is d2's job (exact shingle
    *     join, no probability anywhere);
    *   - 48 bands x 2 rows (k = 96): miss probability at the threshold
    *     boundary (1 - 0.5²)^48 ≈ 1.0e-6, and ≈ 1e-34 at the jac ≥ 0.9
    *     pairs real corpora contain — deterministic in practice, and
    *     the bound is part of the operator's documented contract
    *     instead of an accident of the test distribution.
    *
    * DuckDB-oracled the d9 way: the oracle is the exact ALL-PAIRS
    * word-trigram Jaccard pair set at >= 0.5 (SparkEntry.oracleSql
    * "d7_minhash_lsh" — the d2 trigram machinery with no doc bound and
    * no df cap), so a green row proves full LSH recall on the driver
    * data. The verified output is a SUBSET of all-pairs by construction;
    * recall is additionally pinned at sf0.01 in OperatorSpec and at
    * sf0.1 by the round-5 10x Verify record (BASELINE.md). */
  val D7NumHashes = 96
  val D7Bands = 48
  val D7Rows = 2
  val D7ReportJacE6 = 500000

  /** d7: MinHash-LSH near-dup candidates: native minhash_from_shingles
    * Expression (k=[[D7NumHashes]]), [[D7Bands]] bands x [[D7Rows]] rows,
    * bucket join, exact-Jaccard verification of candidates only
    * (word-trigram FNV hash sets, TextHashes). */
  /** The one resident d7 shingle projection (see below): kept so the
    * NEXT d7 call can release it — without this, every d7 over a new
    * corpus dir would stack another session-lifetime cache entry. */
  private var d7LastCached: Option[DataFrame] = None

  def d7MinHashLsh(s: SparkSession, dir: String): DataFrame = synchronized {
    GraftFunctions.register(s)
    // ONE tokenization pass per document: the sorted shingle-hash array is
    // computed once and the MinHash signature is derived FROM it — a doc
    // sitting in k candidate buckets never re-shingles (round-3 verdict:
    // per-pair re-tokenization + shipping raw text twice was the dominant
    // cost at scale). Candidates join the (smaller, binary) hash arrays.
    // persisted: the projection feeds three plan branches (band explode +
    // both sides of the candidate verify join) whose renamed columns defeat
    // exchange reuse — without the persist each branch would re-tokenize
    // the whole corpus and "one pass" would only be true per-branch.
    // The result is LAZY, so the cache cannot be dropped inside this call;
    // it stays warm (deliberately — repeated d7s in a session reuse it)
    // until the next d7 call releases it: at most ONE corpus projection
    // resident, and MEMORY_AND_DISK keeps even that evictable.
    // defensive: the previous projection may belong to a session that has
    // since been stopped (test suites cycle sessions in one JVM);
    // unpersist on a dead SparkContext throws, and letting that escape
    // would brick every later d7 call because the var still holds the
    // dead frame. Drop the reference no matter what.
    d7LastCached.foreach { prev =>
      try prev.unpersist(blocking = false)
      catch { case _: IllegalStateException => () }
    }
    d7LastCached = None
    // r6: docsParallel — the persist materialization (tokenize + k=96
    // MinHash of every document) ran as ONE task off the single-split
    // local scan, and the candidate join then streamed the 1-partition
    // cache through a single probe task
    val docs = docsParallel(s, dir)
      .select(col("doc_id"), expr("shingles_sorted(text, 3)").as("sh"))
      .withColumn("sig", expr(s"minhash_from_shingles(sh, $D7NumHashes)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    d7LastCached = Some(docs)
    val bands = docs.select(col("doc_id"),
      explode(array((0 until D7Bands).map(b =>
        struct(lit(b).as("band"),
               hash(col("sig").getItem(D7Rows * b),
                    col("sig").getItem(D7Rows * b + 1)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify candidates with exact shingle Jaccard over the precomputed
    // sorted arrays — a native merge-walk intersection, no per-pair
    // hashing, no set materialization
    val shingles = docs.select(col("doc_id"), col("sh"))
    cand
      .join(shingles.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(shingles.withColumnRenamed("doc_id", "doc_b")
                    .withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("inter", expr("intersect_count_sorted(sh_a, sh_b)"))
      .withColumn("uni",
        size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") -
        col("inter"))
      .withColumn("jac_e6",
        // div, not `/`: Spark's `/` on longs is a double divide; the
        // oracle (and the old kernel-side map) floor-divides integers
        when(col("uni") === 0L, 0L)
          .otherwise(expr("(inter * 1000000L) div uni")))
      .filter(col("jac_e6") >= D7ReportJacE6)
      .select("doc_a", "doc_b", "jac_e6")
      .orderBy("doc_a", "doc_b")
  }

  /** d8: winnowing-style document fingerprints (rolling-hash min).
    * DuckDB-oracled via a pure-SQL re-implementation of the hash kernel
    * itself (FNV-1a over word 5-grams + SplitMix64 finalizer, HUGEINT
    * mod-2^64 arithmetic — SparkEntry.oracleSql "d8_fingerprints"): a
    * green row proves the native fingerprint64 Expression is bit-exact
    * cross-engine, not merely self-consistent. */
  def d8Fingerprints(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    table(s, dir, "documents")
      .select(col("doc_id"), expr("fingerprint64(text, 5)").as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"), min(col("doc_id")).as("canonical"))
      .orderBy("fp")
  }

  /** Quantized-integer embedding columns: floor(x*1000) per element keeps
    * all downstream arithmetic exact-integer → oracle-stable ordering. */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("qv"))

  /** Integer dot product via the native dot_i64 Expression (primitive
    * long-array loop; an interpreted aggregate(zip_with(...)) lambda chain
    * costs ~an order of magnitude more per pair). Requires
    * GraftFunctions.register on the session. */
  private def dotCol(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) =
    call_function("dot_i64", a, b)

  /** d9 LSH blocking parameters: `D9Tables` sign-projection hash tables of
    * `D9Bits` bits each. At the 0.40 threshold (collision prob per bit
    * 0.63) short 2-bit buckets x 16 tables give verified-100% recall on
    * the test embeddings at sf0.01 AND sf0.1 (pinned by OperatorSpec
    * against the all-pairs predicate). At production thresholds
    * (cos >= 0.7-0.9, per-bit prob 0.86-0.95) the same operator blocks
    * sharply with wider buckets — bits scale with the threshold, tables
    * with target recall. */
  val D9Bits = 2
  val D9Tables = 16
  /** d10 recall-audit sample TARGET SIZE (vectors): the audit's all-pairs
    * re-check runs over a hash sample of about this many vectors however
    * large the corpus is — a FIXED-COUNT sample, so the audit's pair count
    * (~target²/2) and broadcast size stay constant at any scale (a fixed
    * FRACTION would grow quadratically and re-create the all-pairs
    * problem the LSH blocking exists to avoid). Small corpora (< target)
    * get the full exact audit. */
  val D10AuditSampleTarget = 1000L
  /** Cap on d10's propagation rounds. Pointer jumping converges in about
    * log2(longest chain) rounds (~10 at sf0.1), so hitting the cap is
    * logged as a warning, not silent. */
  val D10MaxRounds = 25
  /** Longest wait for the d10 audit verdict. The audit is a fixed-size
    * sample (~target²/2 pairs) over the cached edge set, seconds at any
    * corpus size, so a wait this long means a hung job. */
  val D10AuditTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(10, "minutes")
  private def d9Seed(t: Int): Long = 1000003L * t + 42L

  /** d9: embedding-cosine near-duplicate pairs with an EXACT integer
    * predicate — cos(a,b) >= 0.40 ⟺ dot > 0 ∧ 25·dot² >= 4·‖a‖²·‖b‖²
    * (0.40² = 4/25; quantized int64 vectors, no float compare anywhere,
    * so the boundary is bit-identical in any engine → DuckDB-oracled).
    * Bounds: |dot| <= 64·10⁶ → 25·dot² <= 1.1e17, well inside int64.
    *
    * The pair space is the multi-table sign-LSH bucket join (equi-join on
    * (table, bucket) — the candidate side shuffles by bucket and stays
    * fully distributed; there is no all-pairs broadcast nested-loop
    * anywhere, pinned by a plan-shape test), and the integer predicate is
    * the exact per-candidate verifier. Same shape as e2; the only
    * difference is verifying a threshold instead of ranking top-k.
    *
    * Completeness caveat: the PREDICATE is exact but the LSH-blocked pair
    * space is probabilistic — a boundary pair escapes all 16 tables with
    * p ≈ 0.60^16 ≈ 3e-4 at cos = 0.40. Recall is verified 100% against
    * the all-pairs predicate on the driver test data (both sf dirs,
    * OperatorSpec); on other corpora/thresholds, tables (recall) and bits
    * (pruning) are the tuning dials, with the all-pairs form as the audit
    * oracle. */
  def d9EmbedDup(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    // ONE scan carries both the raw embedding (lsh_bucket input) and the
    // quantized projection: the old shape joined `quantized` back to the
    // embeddings table on vec_id just to recover the float column — an
    // Exchange + join the single projection makes redundant (guide §2.4;
    // r6: 2 scans + 1 shuffle join → 1 scan, output unchanged).
    val q = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
      .withColumn("nrm", dotCol(col("qv"), col("qv")))
    val bands = q.select(col("vec_id"), col("qv"), col("nrm"),
      explode(array((0 until D9Tables).map(t =>
        struct(lit(t).as("tbl"),
               expr(s"lsh_bucket(embedding, $D9Bits, ${d9Seed(t)})")
                 .as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("qv"), col("nrm"),
              col("tb.tbl"), col("tb.bucket"))
    val a = bands.select(col("vec_id").as("vec_a"), col("qv").as("qa"),
                         col("nrm").as("na"), col("tbl"), col("bucket"))
    val b = bands.select(col("vec_id").as("vec_b"), col("qv").as("qb"),
                         col("nrm").as("nb"), col("tbl"), col("bucket"))
    // verify BEFORE dedup: the exact predicate runs on each
    // bucket-collision instance, so only passing pairs — a tiny set —
    // ever shuffle through the duplicate removal; deduping first would
    // shuffle every candidate with its vectors.
    //  - shuffle_hash hint (r6): the single-scan sides are small enough
    //    that the planner otherwise broadcasts one side and streams the
    //    OTHER through the 1-file scan's single partition — every
    //    candidate pair evaluated in one task. The shuffled hash join
    //    spreads the ~N²/2^bits per-table pair space over the shuffle
    //    width (and skips the sort-merge sorts).
    //  - cos04_ge (r6): the fused predicate evaluates the 64-long dot
    //    once per candidate; spelled as dot_i64 conjuncts it sat in the
    //    join condition 3x. `dot` is then recomputed only for the few
    //    survivors (Project after the join), same integer either way.
    a.hint("shuffle_hash").join(b, Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b") &&
              call_function("cos04_ge",
                col("qa"), col("qb"), col("na"), col("nb")))
      .withColumn("dot", dotCol(col("qa"), col("qb")))
      .select(col("vec_a"), col("vec_b"), col("dot"), col("na"), col("nb"))
      .dropDuplicates("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }

  /** d11: BPE-ish token statistics — the subword-tokenizer-shaped count a
    * training pipeline budgets with (alpha runs, digit runs, punctuation
    * marks counted separately, GPT-2-pretokenizer style) as opposed to
    * d3's whitespace count. Pure regexp_extract_all + size: codegen'd,
    * narrow, no shuffle until the final order. The three patterns are
    * dialect-neutral (identical in Java and RE2 regex) so the DuckDB
    * oracle compares exactly. */
  def d11BpeTokens(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)"))
          .cast("long").as("n_alpha"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)"))
          .cast("long").as("n_num"),
        size(expr("regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)"))
          .cast("long").as("n_punct"))
      .withColumn("n_bpe_ish", col("n_alpha") + col("n_num") + col("n_punct"))
      .orderBy("doc_id")

  /** d10: dedup-cluster resolution — the production step AFTER pair
    * mining (d2/d6/d7/d9 emit near-dup PAIRS; a pipeline must then pick
    * one canonical doc per connected component of the pair graph).
    * Pregel-style iterative min-label propagation: every vector starts
    * labeled with its own id; each round it adopts the minimum label among
    * itself and its neighbours; converged when a round changes nothing.
    * Rounds = graph diameter (near-dup components are tiny, so 2-4 rounds
    * in practice); each round is one shuffle keyed by vec_id — the
    * standard scalable shape (GraphX CC does exactly this). The driver
    * only sees one convergence count per round, never the data.
    * Edge set: the d9 exact cosine pairs. Oracled in DuckDB with a
    * recursive transitive-closure CTE. */
  def d10DupClusters(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val nodes = table(s, dir, "embeddings").select(col("vec_id"))
    val edges = d9EmbedDup(s, dir).select(col("vec_a"), col("vec_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both edge caches are released, and a still-running audit is
    // cancelled, on every path out of the resolver (see the finally)
    var edgesBi: org.apache.spark.rdd.RDD[(Long, Long)] = null
    val auditTag = s"d10-audit-${java.util.UUID.randomUUID()}"
    var resolved = false
    try {
      // Recall audit (eager, like the loop's per-round convergence counts):
      // the edge set comes from d9's LSH-blocked pair space, and a boundary
      // pair escaping all D9Tables tables (p ≈ 0.60^16 per pair at the 0.40
      // threshold, worse at higher thresholds) would SILENTLY split a
      // cluster. Before resolving, the exact predicate is re-run ALL-PAIRS
      // over a deterministic hash sample of ~D10AuditSampleTarget vectors —
      // FIXED COUNT, not a fixed fraction, so the deliberate nested loop
      // over the sample stays ~target²/2 pairs and the broadcast ~target
      // rows at ANY corpus size — and any passing sample pair missing from
      // the edge set fails the job loudly: wrong clusters never ship. The
      // target is the audit-cost dial; the fix for a tripped audit is
      // raising D9Tables.
      val nVec = nodes.count() // metadata action (d10 is an eager resolver)
      val auditMod = math.max(1L, nVec / D10AuditSampleTarget)
      val sampled = quantized(s, dir)
        .filter(pmod(xxhash64(col("vec_id")), lit(auditMod)) === 0)
        .withColumn("nrm", dotCol(col("qv"), col("qv")))
      val missedDf = sampled
        .select(col("vec_id").as("vec_a"), col("qv").as("qa"), col("nrm").as("na"))
        // repartition the streamed side (r6): the 1-file scan is a single
        // partition, so the deliberate ~target²/2-pair nested loop ran in
        // ONE task; spreading it over the session's width divides the
        // audit wall by the core count (audit size is fixed, so the
        // partition count can be the parallelism, not a data constant)
        .repartition(s.sparkContext.defaultParallelism)
        .join(broadcast(sampled.select(col("vec_id").as("vec_b"),
                col("qv").as("qb"), col("nrm").as("nb"))),
              col("vec_a") < col("vec_b"))
        // fused predicate (see d9): one dot evaluation per sampled pair
        // instead of three in the join condition
        .filter(call_function("cos04_ge",
                  col("qa"), col("qb"), col("na"), col("nb")))
        .select(col("vec_a"), col("vec_b"))
        .join(edges, Seq("vec_a", "vec_b"), "left_anti")
      // Each round: (1) neighbour-min step, (2) pointer-jump step
      // (lbl := lbl(lbl)) — pointer doubling makes convergence logarithmic
      // in component diameter instead of linear (a chain of near-dups
      // otherwise needs diameter rounds — observed blowing the query budget
      // at sf0.1).
      //
      // The LOOP runs on pair RDDs with one fixed HashPartitioner (r6,
      // guide §2.4 "remove shuffles outright"): the DataFrame form paid
      // full Catalyst analysis + AQE planning and re-shuffled BOTH join
      // inputs every round because localCheckpoint erases partitioning
      // metadata. With edges partitioned by src ONCE and labels kept
      // partitioned by vec_id (reduceByKey/leftOuterJoin with the same
      // partitioner preserve it), the neighbour-min join is NARROW every
      // round — only the dst-keyed min shuffle and the jump lookup move
      // data, and each round is exactly ONE job (the convergence count
      // rides a LongAccumulator filled during materialization instead of a
      // second agg job; `changed` only gates on == 0, and task re-runs of
      // deterministic data can only re-count real changes, never invent
      // one). localCheckpoint(eager) still truncates lineage each round.
      // Algorithm, trajectory, round count and output are identical to the
      // DataFrame form; at sf0.1 (longest chain ~10 doubling rounds) the
      // per-round wall drops ~4x.
      import org.apache.spark.HashPartitioner
      import org.apache.spark.storage.StorageLevel
      // partition count: scale-adaptive (one partition per ~100k vectors,
      // capped below the session width; local corpora get 1 → single-task
      // rounds, a 100 TB corpus inherits the cluster's width)
      val nParts = math.max(1, math.min(s.sparkContext.defaultParallelism,
        ((nVec + 99999L) / 100000L).toInt))
      val part = new HashPartitioner(nParts)
      edgesBi = edges.select(col("vec_a").as("src"), col("vec_b").as("dst"))
        .union(edges.select(col("vec_b").as("src"), col("vec_a").as("dst")))
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
        .partitionBy(part)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // materialize the (persisted) edge set once, up front: the audit and
      // every propagation round read it from cache instead of racing to
      // compute d9 concurrently
      edgesBi.count()
      // OVERLAPPED AUDIT (r6, guide §2.6): the audit's all-pairs re-check
      // only needs to have PASSED before the result ships — it reads the
      // cached edge set and is otherwise independent of the propagation
      // loop, so its jobs run concurrently with the rounds from a helper
      // thread (job group/description copied so a driver-side cancel of
      // this query still covers it; tagged so a failed resolve cancels it)
      // and the verdict is awaited (bounded, and enforced by the same
      // require) before the labels are returned.
      val sc = s.sparkContext
      val groupId = sc.getLocalProperty("spark.jobGroup.id")
      val jobDesc = sc.getLocalProperty("spark.job.description")
      val interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
      val auditFut = scala.concurrent.Future {
        if (groupId != null)
          sc.setJobGroup(groupId,
            if (jobDesc != null) jobDesc else "d10 audit",
            interruptOnCancel = interrupt != null && interrupt.toBoolean)
        sc.addJobTag(auditTag)
        // the pool thread outlives this query: leave no group or tag on it
        try missedDf.count()
        finally { sc.removeJobTag(auditTag); sc.clearJobGroup() }
      }(scala.concurrent.ExecutionContext.global)
      // no per-round persist/localCheckpoint (r6): RDD shuffle outputs are
      // implicit checkpoints — each round's count() schedules the full
      // chain but every prior round's ShuffleMapStage is SKIPPED (its
      // shuffle files are on disk), so only the narrow tail re-executes.
      // There is no Catalyst re-analysis to truncate on the RDD side (the
      // DataFrame loop's reason for checkpointing), and dropping the
      // per-round persist+checkpoint removes one materialization pass per
      // round. The `chg` accumulator fills when the mapValues segment
      // executes (once or twice per round — the jump join reads `minned`
      // on both sides); it gates only on == 0, so double-counting and
      // retry re-counting are both harmless.
      var labels = nodes.rdd.map(r => { val v = r.getLong(0); (v, v) })
        .partitionBy(part)
      var converged = false
      var rounds = 0
      while (!converged && rounds < D10MaxRounds) {
        val chgAcc = s.sparkContext.longAccumulator(s"d10.chg.round$rounds")
        // neighbour-min: narrow join (both sides partitioned by `part`),
        // then one dst-keyed min shuffle
        val msgs = edgesBi.join(labels, part)
          .map { case (_, (dst, lbl)) => (dst, lbl) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        val minned = labels.leftOuterJoin(msgs, part) // narrow on both sides
          .mapValues { case (lbl, nbr) =>
            val nl = nbr.fold(lbl)(math.min(lbl, _))
            if (nl < lbl) chgAcc.add(1L)
            nl
          }
        // pointer jump lbl := lbl(lbl): the (lbl, vec_id) side shuffles by
        // label; the lookup side is `minned`, already partitioned by key
        val jumped = minned.map { case (v, l) => (l, v) }
          .leftOuterJoin(minned, part)
          .map { case (l, (v, pl)) => (v, pl.getOrElse(l)) }
          .partitionBy(part)
        jumped.count() // ONE action per round: materializes + fills chgAcc
        labels = jumped
        if (chgAcc.value == 0L) converged = true
        rounds += 1
      }
      // the audit verdict gates the result exactly as before — only its
      // WALL overlapped the propagation rounds
      val missed = scala.concurrent.Await.result(auditFut, D10AuditTimeout)
      require(missed == 0,
        s"d10 audit: LSH blocking missed $missed exact near-dup edge(s) in " +
        s"the 1/$auditMod vector sample — raise CorpusOps.D9Tables")
      System.err.println(
        s"[d10] ${if (converged) "converged" else "ROUND CAP HIT"} after " +
        s"$rounds round(s) (cap $D10MaxRounds, audit target $D10AuditSampleTarget)")
      resolved = true
      import s.implicits._
      // the returned frame is lazy; its job re-reads the final round's
      // shuffle output (all upstream map stages skip), so no cache needs
      // to outlive this call
      labels.toDF("vec_id", "cluster_id").orderBy("vec_id")
    } finally {
      if (!resolved) s.sparkContext.cancelJobsWithTag(auditTag)
      edges.unpersist()
      if (edgesBi != null) edgesBi.unpersist(blocking = false)
    }
  }

  /** e3: IVF-style ANN — the scale path beside e2's LSH. A coarse
    * quantizer is trained with one k-means refinement over deterministic
    * seeded init (every (N/K)-th id of the sorted sample; at production
    * scale training runs on a sample, search on everything): assignment is
    * a broadcast cross-join + argmax window (K is tiny), the per-dim
    * integer floor-mean update is a posexplode/groupBy — all distributed,
    * no driver-side math beyond collecting K×dim longs. Search probes the
    * query's top-`nprobe` centroid lists and exact-re-ranks inside them
    * only, so the corpus side never all-pairs. DuckDB-oracled the
    * d6/d8/e2 way: the WHOLE operator — including the xxhash64
    * train-sample selector, reproduced bit-exactly in HUGEINT SQL — is
    * re-implemented in the oracle (SparkEntry.oracleSql "e3_ann_ivf"),
    * so a green row proves the trained quantizer and search are
    * bit-identical cross-engine. Recall vs e1 additionally gated in
    * OperatorSpec.
    *
    * Production dials: `k` (nlist) sets cell granularity — each probe
    * scans ~N/k of the corpus, so recall-neutral speedup comes from
    * raising k AND nprobe together (probed fraction nprobe/k); `nprobe`
    * trades recall for scan cost directly; `topK` is the result size.
    * Defaults (8, 3, 3) probe ~38% of a near-orthogonal test corpus and
    * hold the OperatorSpec recall gate at >= 0.9 vs exact e1. */
  def e3AnnIvf(s: SparkSession, dir: String, k: Int = 8, nprobe: Int = 3,
               topK: Int = 3): DataFrame = {
    GraftFunctions.register(s)
    val q = quantized(s, dir).withColumn("nrm", dotCol(col("qv"), col("qv")))
    val n = q.count() // one metadata action: sets the seeded-init stride
    val step = math.max(1L, n / k)
    // centroid frames carry their own norm (`cnrm`): the old assign
    // recomputed dot(cv, cv) — an interpreted 64-long dot — once per
    // CANDIDATE ROW (N×K times); K values computed once per centroid is
    // the same number, same double math (guide §1.2 per-task work).
    val init = q
      .filter(col("vec_id") % step === 0 && col("vec_id") / step < k)
      .select((col("vec_id") / step).cast("int").as("cid"),
              col("qv").as("cv"), col("nrm").as("cnrm"))
    // assign each vector of `df` to its argmax-cosine centroid (ties →
    // lower cid). max_by + groupBy, not a window: partial aggregation
    // collapses the N×K cross-join map-side, so only ~N rows ever shuffle.
    def assign(df: DataFrame, cent: DataFrame): DataFrame =
      df.crossJoin(broadcast(cent))
        .withColumn("score",
          dotCol(col("qv"), col("cv")).cast("double") /
          sqrt(col("cnrm").cast("double")))
        .groupBy(col("vec_id"))
        .agg(first(col("qv")).as("qv"), first(col("nrm")).as("nrm"),
             max_by(col("cid"), struct(col("score"), -col("cid"))).as("cid"))
    // one k-means refinement trained on a deterministic ~25% hash sample —
    // the quantizer never scans the full corpus (at 100 TB training is a
    // sample job; only the final assignment pass touches everything).
    // Cells with no sampled member keep their init centroid (coalesce).
    val train = q.filter(pmod(xxhash64(col("vec_id")), lit(4L)) === 0)
    val means = assign(train, init)
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(floor(avg(col("v"))).cast("long").as("m"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
                     x => x.getField("m")).as("cv_trained"))
    val refined = init.join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("cv_trained"), col("cv")).as("cv"))
      .withColumn("cnrm", dotCol(col("cv"), col("cv"))) // once per centroid
    val lists = assign(q, refined) // inverted lists: vec_id → cell
    val probes = q.filter(col("vec_id") < 10)
      .crossJoin(broadcast(refined))
      .withColumn("score",
        dotCol(col("qv"), col("cv")).cast("double") /
        sqrt(col("cnrm").cast("double")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("score").desc, col("cid").asc)))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("cid"))
    val cand = lists.select(col("vec_id").as("neighbor_id"),
                            col("qv").as("qb"), col("nrm").as("nb"),
                            col("cid"))
    // broadcast the (query × probe) side; corpus lists stay distributed
    val scored = cand.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("score",
        dotCol(col("qa"), col("qb")).cast("double") /
        sqrt(col("nb").cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** e1: brute-force cosine top-3 neighbors for the first 10 vectors —
    * the exact baseline for similarity search. Rank key dot/sqrt(norm) is
    * a deterministic double over integer inputs in any engine. */
  def e1KnnBrute(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val q = quantized(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"))
    val n = quantized(s, dir)
      .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"))
    // broadcast the QUERY side — the corpus side is the 100 TB one
    val scored = n.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotCol(col("qa"), col("qb")))
      .withColumn("nb", dotCol(col("qb"), col("qb")))
      .withColumn("score", col("dot").cast("double") /
                           sqrt(col("nb").cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** e2: LSH-bucketed approximate NN — sign-random-projection buckets
    * (native Expression), `tables` hash tables for recall, candidates
    * share a (table, bucket), exact re-rank inside. The scale path:
    * bucket join instead of all-pairs.
    *
    * Production dials (defaults pinned by the DuckDB oracle, which
    * re-implements the whole operator in SQL — SparkEntry.oracleSql):
    * `bits` sets bucket selectivity (candidate volume ~ N²/2^bits per
    * table — raise for bigger corpora/cheaper verify, lower for recall);
    * `tables` multiplies recall at linear candidate cost (miss prob is
    * per-table-miss ^ tables); `topK` is the result size. The same
    * trade-off family as d9's D9Bits/D9Tables (that docstring derives the
    * collision math). Recall vs the e1 exact baseline additionally gated
    * in OperatorSpec. */
  def e2AnnLsh(s: SparkSession, dir: String, tables: Int = 2,
               bits: Int = 6, topK: Int = 3): DataFrame = {
    GraftFunctions.register(s)
    // default seeds 42/1337 are part of the oracled contract; extra
    // tables derive deterministic seeds
    val seeds = (Seq(42L, 1337L) ++ (2 until tables).map(t => 7919L * t + 13L))
      .take(tables)
    // single-scan projection (same r6 rewrite as d9: no self-join to
    // recover the float column beside the quantized one)
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
      .select(col("vec_id"), col("qv"),
        explode(array(seeds.zipWithIndex.map { case (seed, t) =>
          struct(lit(t).as("tbl"),
                 expr(s"lsh_bucket(embedding, $bits, $seed)").as("bucket"))
        }: _*)).as("tb"))
      .select(col("vec_id"), col("qv"), col("tb.tbl"), col("tb.bucket"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qa"),
              col("tbl"), col("bucket"))
    val n = emb.select(col("vec_id").as("neighbor_id"), col("qv").as("qb"),
                       col("tbl"), col("bucket"))
    // broadcast the query side; the bucketed corpus side stays distributed
    val scored = n.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("dot", dotCol(col("qa"), col("qb")))
      .withColumn("nb", dotCol(col("qb"), col("qb")))
      .withColumn("score", col("dot").cast("double") /
                           sqrt(col("nb").cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }
}
