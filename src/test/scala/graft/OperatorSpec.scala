package graft

import graft.operators.CorpusOps
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** ScalaTest oracles for the non-SQL-expressible corpus operators (the
  * DuckDB gate covers the rest): planted near-duplicates for the dedup
  * family, planted clusters for the ANN family. */
class OperatorSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-ops").toString
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    val rng = new graft.synth.Rng(7L)
    def text(n: Int): String =
      Vector.fill(n)(words(rng.nextInt(words.size))).mkString(" ")
    // docs 0..29 random; (100,101) exact dup; (102,103) near dup (one word
    // changed in 40); (104,105) unrelated marker pair
    val base = (0L until 30L).map(i => (i, text(40)))
    val t = text(40)
    val tNear = {
      val ws = t.split(" ").toVector
      ws.updated(20, "REPLACED").mkString(" ")
    }
    val docs = base ++ Seq(
      (100L, t), (101L, t), (102L, t), (103L, tNear),
      (104L, text(40)), (105L, text(40)))
    docs.map { case (id, tx) => (id, tx, "en", "src", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    // embeddings: 8 clusters x 6 members, center +- small noise
    val erng = new graft.synth.Rng(11L)
    def noise(): Float = (erng.nextInt(2001) - 1000) / 20000.0f // ±0.05
    val emb = for {
      c <- 0 until 8
      m <- 0 until 6
    } yield {
      val crng = new graft.synth.Rng(1000L + c)
      val center = Array.fill(64)((crng.nextInt(2001) - 1000) / 1000.0f)
      ((c * 6 + m).toLong, center.map(_ + noise()).toSeq, c)
    }
    emb.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("d1: exact duplicates collapse to one canonical id") {
    val r = CorpusOps.d1DedupExact(spark, dir)
      .filter("n_copies > 1").collect()
    assert(r.length == 1 && r.head.getAs[Long]("canonical") == 100L)
    assert(r.head.getAs[Long]("n_copies") == 3) // 100, 101, 102 share text
  }

  test("d2: exact n-gram Jaccard finds the planted near-dup pair") {
    val pairs = CorpusOps.d2NgramJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)) && pairs.contains((102L, 103L)))
    assert(pairs.contains((100L, 102L))) // exact text == near via transitivity
    assert(!pairs.exists(p => p._1 == 104L || p._2 == 105L && p._1 == 104L))
  }

  test("d6: simhash banding surfaces the near-dup candidates") {
    val pairs = CorpusOps.d6SimHashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"pairs=$pairs")
    assert(pairs.contains((102L, 103L)), s"pairs=$pairs")
  }

  test("d7: minhash LSH + exact verification finds the near-dup pairs") {
    val pairs = CorpusOps.d7MinHashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), s"pairs=$pairs")
    assert(pairs.contains((102L, 103L)), s"pairs=$pairs")
  }

  test("e1: brute-force KNN neighbors come from the query's cluster") {
    val rows = CorpusOps.e1KnnBrute(spark, dir).collect()
    assert(rows.length == 30) // 10 queries x top-3
    for (r <- rows) {
      val q = r.getAs[Long]("query_id")
      val n = r.getAs[Long]("neighbor_id")
      assert(q / 6 == n / 6, s"query $q got out-of-cluster neighbor $n")
    }
  }

  test("e2: LSH-bucketed ANN reaches >= 2/3 of brute-force recall") {
    val exact = CorpusOps.e1KnnBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = CorpusOps.e2AnnLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.66, s"recall $recall")
  }

  test("d9: embedding-cosine near-dup pairs stay within planted clusters") {
    val pairs = CorpusOps.d9EmbedDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty) // cluster members are ±0.05 perturbations
    for ((a, b) <- pairs)
      assert(a / 6 == b / 6, s"cross-cluster pair ($a,$b) above 0.40 cosine")
    // every same-cluster pair must be found (centers are near-orthogonal,
    // members near-identical): 8 clusters x C(6,2) = 120 pairs
    assert(pairs.length == 8 * 15, s"got ${pairs.length} pairs")
  }

  test("d9: LSH-blocked pair space equals the all-pairs predicate exactly " +
       "on the driver testdata (and the plan has no nested-loop join)") {
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val td = s"/root/testdata/$sf"
      assume(new java.io.File(s"$td/embeddings.parquet").exists)
      val df = CorpusOps.d9EmbedDup(spark, td)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop"), s"all-pairs join in $sf plan")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val q = spark.read.parquet(s"$td/embeddings.parquet")
        .selectExpr("vec_id", "embedding").collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray))
        .sortBy(_._1)
      val want = (for {
        i <- q.indices.iterator
        j <- ((i + 1) until q.length).iterator
        d = dot(q(i)._2, q(j)._2)
        if d > 0 && 25L * d * d >= 4L * dot(q(i)._2, q(i)._2) * dot(q(j)._2, q(j)._2)
      } yield (q(i)._1, q(j)._1)).toSet
      assert(got == want,
        s"$sf: missed=${(want -- got).take(5)} extra=${(got -- want).take(5)} " +
        s"(${got.size} vs ${want.size})")
    }
  }

  test("d10: pair graph resolves to connected components with min-id " +
       "canonicals (planted clusters)") {
    val labels = CorpusOps.d10DupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 48)
    // 8 planted clusters x 6 members: every member resolves to the
    // cluster's minimum vec_id (c*6)
    for (c <- 0 until 8; m <- 0 until 6)
      assert(labels((c * 6 + m).toLong) == (c * 6).toLong,
             s"vec ${c * 6 + m} labeled ${labels((c * 6 + m).toLong)}")
  }

  test("e3: IVF ANN reaches >= 0.9 of brute-force recall on clusters") {
    val exact = CorpusOps.e1KnnBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = CorpusOps.e3AnnIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("d2 unbounded path: docBound = Long.MaxValue matches a brute-force " +
       "exact Jaccard oracle over the FULL sf0.01 corpus (the shipped " +
       "doc_id < 300 bound is provably scope-only, not semantics)") {
    val td = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$td/documents.parquet").exists)
    val got = CorpusOps.d2NgramJaccard(spark, td, docBound = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver-side oracle mirroring the operator's exact semantics:
    // distinct word trigrams over non-empty tokens, df-capped hot-shingle
    // removal, integer-scaled Jaccard with floor division
    def shingleSet(text: String): Set[String] =
      text.split(" ", -1).filter(_.nonEmpty).sliding(3)
        .filter(_.length == 3).map(_.mkString(" ")).toSet
    val docs = spark.read.parquet(s"$td/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), shingleSet(r.getString(1)))).sortBy(_._1)
    val df = collection.mutable.HashMap.empty[String, Int]
    for ((_, sh) <- docs; g <- sh) df(g) = df.getOrElse(g, 0) + 1
    val surv = docs.map { case (id, sh) =>
      (id, sh.filter(g => df(g) <= CorpusOps.ShingleDfCap)) }
    val want = (for {
      i <- surv.indices.iterator
      j <- ((i + 1) until surv.length).iterator
      inter = surv(i)._2.intersect(surv(j)._2).size.toLong
      if inter > 0
      jac = inter * 1000000L / (surv(i)._2.size + surv(j)._2.size - inter)
      if jac >= 100000L
    } yield (surv(i)._1, surv(j)._1, jac)).toSet
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)} " +
      s"(${got.size} vs ${want.size})")
  }

  test("d2 plan: hot-shingle removal is a broadcast anti-join (no shuffled " +
       "pass over the corpus for the tiny hot-key table)") {
    val plan = CorpusOps.d2NgramJaccard(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
           plan.linesIterator.take(40).mkString("\n"))
  }

  test("dot_i64 native expression matches the reference dot product") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rng = new graft.synth.Rng(99L)
    val rows = Vector.tabulate(50) { i =>
      (i.toLong, Seq.fill(16)((rng.nextInt(2001) - 1000).toLong),
       Seq.fill(16)((rng.nextInt(2001) - 1000).toLong))
    }
    val got = rows.toDF("id", "a", "b")
      .selectExpr("id", "dot_i64(a, b) AS d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, a, b) <- rows)
      assert(got(id) == a.zip(b).map { case (x, y) => x * y }.sum, s"id=$id")
    // length mismatch must fail loudly, not truncate silently
    val e = intercept[Throwable] {
      Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
        .selectExpr("dot_i64(a, b)").collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("length mismatch"), msgs)
  }

  test("d7 precompute kernels: sorted-intersect = set intersect, and " +
       "minhash-from-shingles = minhash-from-text (one tokenization pass)") {
    import graft.functions.TextHashes
    val texts = Seq("a b c d e f g", "c d e f g h i j", "", "x y", "a a a b b c",
                    "the quick brown fox jumps over the lazy dog")
    for (ta <- texts; tb <- texts) {
      val sa = TextHashes.shingleHashesSorted(ta, 3)
      val sb = TextHashes.shingleHashesSorted(tb, 3)
      assert(sa.toSeq == sa.toSeq.sorted && sa.toSet.size == sa.length)
      assert(TextHashes.sortedIntersectCount(sa, sb) ==
             TextHashes.shingleHashes(ta, 3).toSet
               .intersect(TextHashes.shingleHashes(tb, 3).toSet).size.toLong,
             s"'$ta' vs '$tb'")
    }
    for (t <- texts)
      assert(TextHashes.minHashFromShingles(
               TextHashes.shingleHashesSorted(t, 3), 24).toSeq ==
             TextHashes.minHashSig(t, 24, 3).toSeq, s"'$t'")
    // the registered native expressions agree with the kernels
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val row = Seq(Tuple1("a b c d e")).toDF("t")
      .selectExpr("shingles_sorted(t, 3) AS sh")
      .selectExpr("minhash_from_shingles(sh, 4) AS sig",
                  "intersect_count_sorted(sh, sh) AS n")
      .collect().head
    assert(row.getSeq[Long](0).toSeq ==
           TextHashes.minHashSig("a b c d e", 4, 3).toSeq)
    assert(row.getAs[Long]("n") ==
           TextHashes.shingleHashes("a b c d e", 3).length.toLong)
  }

  test("d7: LSH candidate set has 100% recall vs exact all-pairs Jaccard " +
       "(the DuckDB oracle's pair set) on the driver testdata") {
    import graft.functions.TextHashes
    val td = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$td/documents.parquet").exists)
    val got = CorpusOps.d7MinHashLsh(spark, td).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val docs = spark.read.parquet(s"$td/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), TextHashes.shingleHashes(r.getString(1), 3).toSet))
      .sortBy(_._1)
    val want = (for {
      i <- docs.indices.iterator
      j <- ((i + 1) until docs.length).iterator
      inter = docs(i)._2.intersect(docs(j)._2).size.toLong
      union = docs(i)._2.size + docs(j)._2.size - inter
      jac = if (union == 0) 0L else inter * 1000000L / union
      if jac >= CorpusOps.D7ReportJacE6
    } yield (docs(i)._1, docs(j)._1, jac)).toSet
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("d10: resolves clusters under the recall audit (the sampled exact " +
       "all-pairs re-check finds no edge the LSH blocking missed)") {
    val rows = CorpusOps.d10DupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty) // completing without the audit throwing matters
    // planted 8x6 clusters resolve to their min member id
    for ((v, c) <- rows) assert(c == (v / 6) * 6, s"vec $v cluster $c")
  }

  test("d10: a resolve that fails releases its edge cache") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // one 3-dim vector among 64-dim ones: the exact predicate throws on
    // the first pass over the (already cached) edge set
    val d = Files.createTempDirectory("graft-ops-bad").toString
    (0 until 12).map { i =>
      (i.toLong, Seq.fill(if (i == 5) 3 else 64)(((i * 37) % 100) / 100.0f), 0)
    }.toDF("vec_id", "embedding", "label").write.parquet(s"$d/embeddings.parquet")
    val e = intercept[org.apache.spark.SparkException] {
      CorpusOps.d10DupClusters(spark, d).collect()
    }
    assert(e.getMessage.contains("length mismatch"), e.getMessage)
    val edges = CorpusOps.d9EmbedDup(spark, d).select(col("vec_a"), col("vec_b"))
    assert(edges.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the failed resolve left its edge set cached")
  }

  test("d8: fingerprints are stable and collide for identical docs") {
    val fp = CorpusOps.d8Fingerprints(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val multi = fp.filter(_._2 >= 3)
    assert(multi.nonEmpty) // 100/101/102 share text → same fingerprint
  }
}
