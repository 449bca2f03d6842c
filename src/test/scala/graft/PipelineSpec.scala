package graft

import graft.core.{Doc, Span}
import graft.kernel.{ExtractKernel, KernelStats, SyntheticStore}
import graft.pipeline._
import graft.synth.CorpusGen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class PipelineSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  private def asMap(docs: Seq[Doc]): Map[String, Seq[Span]] =
    docs.map(d => d.doc_id -> d.spans.sortBy(_.offset)).toMap

  /** The BASELINE invariant: exact span-sequence equality per doc. */
  private def assertSpanEquality(got: Seq[Doc], want: Seq[Doc]): Unit = {
    val g = asMap(got)
    val w = asMap(want)
    assert(g.keySet == w.keySet)
    for (id <- w.keySet) {
      val gs = g(id).map(s => (s.kind, s.text, s.media_ref, s.offset))
      val ws = w(id).map(s => (s.kind, s.text, s.media_ref, s.offset))
      assert(gs == ws, s"span sequence mismatch for $id")
    }
  }

  test("snapshot table: commit produces stable content-hash id") {
    import spark.implicits._
    val dir = tmp("snap")
    val (inputs, goldens) = CorpusGen.corpus(4)
    val id1 = SnapshotTable.write(inputs.toDS.toDF, dir, buckets = 2)
    assert(id1.matches("[0-9a-f]{16}"))
    assert(SnapshotTable.currentSnapshotId(dir) == id1)
    val (df, id2) = SnapshotTable.read(spark, dir)
    assert(id2 == id1)
    assert(df.count() == 4)
    // the same docs, rewritten with new part files, another bucket count
    // and another row order, keep the id; other docs get another one
    assert(SnapshotTable.write(inputs.reverse.toDS.toDF, dir, buckets = 4) == id1)
    assert(SnapshotTable.write(inputs.take(3).toDS.toDF, dir, buckets = 4) != id1)

    // so a resume against a same-content rewrite extracts nothing, and
    // the output holds each doc once
    val in = tmp("snap-in"); val out = tmp("snap-out"); val ck = tmp("snap-ck")
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    assert(ExtractJob.run(spark, in, out, ck).docsThisRun == 4)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 4)
    val r = ExtractJob.run(spark, in, out, ck)
    assert(r.docsThisRun == 0 && r.docsProcessed == 4, s"rewrite re-extracted: $r")
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    assert(outDocs.size == 4 && outDocs.map(_.doc_id).distinct.size == 4)
    assertSpanEquality(outDocs, goldens)
  }

  test("end-to-end: extract job output matches goldens exactly") {
    import spark.implicits._
    val in = tmp("in"); val out = tmp("out"); val ck = tmp("ck")
    val (inputs, goldens) = CorpusGen.corpus(12)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 4)
    val sum = ExtractJob.run(spark, in, out, ck)
    assert(sum.docsProcessed == 12 && sum.docsThisRun == 12)
    assertSpanEquality(ExtractJob.readOutput(spark, out).collect().toSeq, goldens)
  }

  test("fused and exploded paths produce identical results") {
    import spark.implicits._
    // docs 3 and 7 are heavy (41-81 spans), the others have 4-12: the
    // middle threshold splits only the heavy ones into span units, 0
    // splits every doc and Int.MaxValue none
    val (inputs, goldens) = CorpusGen.corpus(8, heavyEvery = 4)
    val mid = 32
    assert(inputs.exists(_.spans.size >= mid) && inputs.exists(_.spans.size < mid))
    val ds = inputs.toDS
    val statsByThreshold = Seq(Int.MaxValue, 0, mid).map { t =>
      val rows = ExtractJob.extract(spark, ds,
        ExtractJob.Config(buckets = 4, skewSpanThreshold = t)).collect().toSeq
      assertSpanEquality(rows.map(r => Doc(r.doc_id, r.spans)), goldens)
      rows.map(r => r.doc_id -> (r.span_count, r.media_span_count,
        r.text_span_count, r.conf_hist)).toMap
    }
    assert(statsByThreshold.forall(_ == statsByThreshold.head),
      s"per-doc stats depend on the unit split: $statsByThreshold")
    val stats = statsByThreshold.head
    for (g <- goldens) assert(stats(g.doc_id)._1 == g.spans.size)
    // the reassembled stats sum to the kernel's own counters over the docs
    val st = new KernelStats
    inputs.foreach(d => ExtractKernel.extractDoc(d, SyntheticStore, st))
    assert(stats.values.map(_._2).sum == st.mediaSpanCount)
    assert(stats.values.map(_._3).sum == st.textSpanCount)
    assert(stats.values.map(_._4).reduce(_.lazyZip(_).map(_ + _)) ==
      st.confHist.toSeq)
  }

  test("resume: a second run reprocesses nothing and duplicates nothing") {
    import spark.implicits._
    val in = tmp("in2"); val out = tmp("out2"); val ck = tmp("ck2")
    val (inputs, goldens) = CorpusGen.corpus(6)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    val r1 = ExtractJob.run(spark, in, out, ck)
    val r2 = ExtractJob.run(spark, in, out, ck)
    assert(r1.docsThisRun == 6)
    assert(r2.docsThisRun == 0, "second run must not reprocess")
    assert(r2.docsProcessed == 6)
    assertSpanEquality(ExtractJob.readOutput(spark, out).collect().toSeq, goldens)
  }

  test("run() summary: one prior-output scan, in the anti-join, none after " +
       "the write") {
    import spark.implicits._
    // RunSummary.docsProcessed once cost a full count() of a done table
    // per run — a real job at 100 TB. The record of done docs is the
    // committed output itself, so pin the scans:
    //  - a first run scans no prior output (there is no anti-join);
    //  - a resume scans the prior run dirs exactly once, in the read of
    //    their doc_ids before the output write (the anti-join's build
    //    side, matched as an InSet), which also counts the docs already
    //    done; the output write then scans only the snapshot;
    //  - nothing is scanned after the output write: neither the run's own
    //    dir (its lineage comes from the write) nor the lineage table.
    val in = tmp("in-noscan"); val out = tmp("out-noscan"); val ck = tmp("ck-noscan")
    val (inputs, _) = CorpusGen.corpus(4)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)

    /** Root paths of every file scan, per executed query, in order. */
    def scansOf(body: => Unit): Seq[Seq[String]] = {
      val scans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
      @volatile var sentinelSeen = false
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          if (qe.analyzed.toString.contains("424242")) sentinelSeen = true
          else scans.add(qe.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.relation.location.rootPaths.map(_.toString)
          }.flatten)
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // plain plan trees
      spark.listenerManager.register(listener)
      try {
        body
        // listener delivery is async FIFO: a sentinel query marks the drain
        spark.range(424242).count()
        val deadline = System.currentTimeMillis() + 15000
        while (!sentinelSeen && System.currentTimeMillis() < deadline)
          Thread.sleep(25)
        assert(sentinelSeen, "listener bus did not drain")
      } finally {
        spark.listenerManager.unregister(listener)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
      scans.asScala.toSeq
    }
    def isOut(p: String) = p.contains(s"$out/run=")
    def isIn(p: String) = p.contains(in)

    val first = scansOf {
      val r1 = ExtractJob.run(spark, in, out, ck)
      assert(r1.docsThisRun == 4 && r1.docsProcessed == 4)
    }
    val prior = new java.io.File(out).listFiles.map(_.getName)
      .filter(_.startsWith("run=")).toSeq
    assert(prior.size == 1)
    val write1 = first.filter(_.exists(isIn))
    assert(write1.size == 1 && !write1.head.exists(isOut),
      s"a first run must scan no prior output, got $write1")
    assert(first.filter(_.nonEmpty) == write1,
      s"a first run may scan only in its output write, got $first")

    val second = scansOf {
      val r2 = ExtractJob.run(spark, in, out, ck)
      assert(r2.docsThisRun == 0 && r2.docsProcessed == 4 &&
             r2.docsAlreadyDone == 4)
    }
    val priorScans = second.filter(_.exists(_.endsWith(s"/${prior.head}")))
    assert(priorScans.size == 1 && !priorScans.head.exists(isIn),
      s"expected exactly 1 prior-output scan (the resume anti-join's " +
      s"doc_id read), got $priorScans")
    val write2 = second.filter(_.exists(isIn))
    assert(write2.size == 1 && !write2.head.exists(isOut),
      s"the output write must scan no prior output, got $write2")
    assert(second.filter(_.nonEmpty) == priorScans ++ write2,
      s"the doc_id read, then the output write; after it nothing may be " +
      s"scanned (not the run's own dir, not the lineage table), got $second")
  }

  test("resume: killed-halfway run completes only the remainder") {
    import spark.implicits._
    val in = tmp("in3"); val out = tmp("out3"); val ck = tmp("ck3")
    val (inputs, goldens) = CorpusGen.corpus(10)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    val snapId = SnapshotTable.currentSnapshotId(in)
    // simulate a prior run that completed the first half before dying
    val half = inputs.take(5).map(_.doc_id).toSet
    val partial = ExtractJob.extract(
      spark, inputs.filter(d => half(d.doc_id)).toDS, ExtractJob.Config(buckets = 2))
    partial.write.parquet(s"$out/run=${snapId}_1")
    Checkpoint.append(spark, ck, snapId, s"${snapId}_1",
                      spark.read.parquet(s"$out/run=${snapId}_1"))
    // the resumed run must process exactly the other 5 docs
    val r = ExtractJob.run(spark, in, out, ck)
    assert(r.docsThisRun == 5, s"expected 5 remaining, got ${r.docsThisRun}")
    assert(r.docsProcessed == 10)
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    assert(outDocs.map(_.doc_id).distinct.size == 10, "no duplicates")
    assertSpanEquality(outDocs, goldens)
  }

  test("resume: a committed run of one snapshot marks no docs done for " +
       "a re-committed snapshot") {
    import spark.implicits._
    val in = tmp("in-resnap"); val out = tmp("out-resnap"); val ck = tmp("ck-resnap")
    val (inputs, goldens) = CorpusGen.corpus(6)
    val snapA = SnapshotTable.write(inputs.take(4).toDS.toDF, in, buckets = 2)
    assert(ExtractJob.run(spark, in, out, ck).docsThisRun == 4)
    // the table is rewritten and re-committed: snapshot B shares A's 4
    // docs, but done-ness is per snapshot, so B extracts all 6
    val snapB = SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    assert(snapB != snapA)
    val r = ExtractJob.run(spark, in, out, ck)
    assert(r.snapshotId == snapB)
    assert(r.docsThisRun == 6 && r.docsProcessed == 6,
      s"docs done under A must re-extract under B, got $r")
    val r2 = ExtractJob.run(spark, in, out, ck)
    assert(r2.docsThisRun == 0 && r2.docsProcessed == 6)
    val bDirs = new java.io.File(out).listFiles
      .filter(_.getName.startsWith(s"run=${snapB}_")).toSeq
    assert(bDirs.size == 1)
    assertSpanEquality(
      spark.read.parquet(bDirs.head.toString).select("doc_id", "spans")
        .as[Doc].collect().toSeq, goldens)
  }

  test("reconcile: an uncommitted run dir (no _SUCCESS) is reclaimed and " +
       "its docs re-extract exactly once") {
    import spark.implicits._
    val in = tmp("in3a"); val out = tmp("out3a"); val ck = tmp("ck3a")
    val (inputs, goldens) = CorpusGen.corpus(8)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    val snapId = SnapshotTable.currentSnapshotId(in)
    // a run that died mid-write: output files on disk, commit marker absent
    val orphan = s"$out/run=${snapId}_111"
    ExtractJob.extract(spark, inputs.take(4).toDS,
      ExtractJob.Config(buckets = 2)).write.parquet(orphan)
    assert(Files.deleteIfExists(java.nio.file.Paths.get(orphan, "_SUCCESS")))
    val r = ExtractJob.run(spark, in, out, ck)
    // the orphan was reclaimed (its docs were never checkpointed), so ALL
    // docs extract in this run and its partial parquet never leaks into
    // the output glob as duplicates
    assert(r.docsThisRun == 8 && r.docsProcessed == 8)
    assert(!Files.exists(java.nio.file.Paths.get(orphan)))
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    assert(outDocs.map(_.doc_id).distinct.size == 8)
    assertSpanEquality(outDocs, goldens)
  }

  test("reconcile: a committed-but-unrecorded run dir (crash between " +
       "output commit and checkpoint append) is recovered, not reprocessed") {
    import spark.implicits._
    val in = tmp("in3b"); val out = tmp("out3b"); val ck = tmp("ck3b")
    val (inputs, goldens) = CorpusGen.corpus(8)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    val snapId = SnapshotTable.currentSnapshotId(in)
    // committed output (has _SUCCESS) whose checkpoint append never ran
    val half = inputs.take(4)
    ExtractJob.extract(spark, half.toDS, ExtractJob.Config(buckets = 2))
      .write.parquet(s"$out/run=${snapId}_222")
    val r = ExtractJob.run(spark, in, out, ck)
    // reconcile re-ran the idempotent append from the committed files, so
    // the resume anti-join skips those 4 docs instead of duplicating them
    assert(r.docsThisRun == 4, s"expected 4 remaining, got ${r.docsThisRun}")
    assert(r.docsProcessed == 8)
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    assert(outDocs.map(_.doc_id).distinct.size == 8, "no duplicates")
    assertSpanEquality(outDocs, goldens)
  }

  test("reconcile: a foreign run dir (id this pipeline never mints) is " +
       "skipped with a warning, never deleted") {
    import spark.implicits._
    val in = tmp("in3c"); val out = tmp("out3c"); val ck = tmp("ck3c")
    val (inputs, _) = CorpusGen.corpus(4)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    // an operator-placed dir with no _SUCCESS and a non-<snapId>_<nonce>
    // name: under the old code this was deleted as a crashed run (data
    // loss); under the old RECOVERY path a committed one would brick
    // every future run() via require. It must simply survive.
    val foreign = java.nio.file.Paths.get(out, "run=backup")
    Files.createDirectories(foreign)
    Files.write(foreign.resolve("keep.parquet"), Array[Byte](1, 2, 3))
    // QUASI-foreign: trailing digits but not a 16-hex snapId prefix — the
    // loose `.+_digits` ownership shape would have claimed (and deleted)
    // this one; ownership is pinned to exactly what run() mints
    val quasi = java.nio.file.Paths.get(out, "run=backup_2024")
    Files.createDirectories(quasi)
    Files.write(quasi.resolve("keep.parquet"), Array[Byte](4, 5, 6))
    val r = ExtractJob.run(spark, in, out, ck)
    assert(r.docsThisRun == 4)
    assert(Files.exists(foreign.resolve("keep.parquet")),
      "foreign run dir must survive reconcile untouched")
    assert(Files.exists(quasi.resolve("keep.parquet")),
      "quasi-foreign <name>_<digits> dir must survive reconcile untouched")
    // and a SECOND run (resume no-op) must not trip over it either
    assert(ExtractJob.run(spark, in, out, ck).docsThisRun == 0)
    assert(Files.exists(foreign.resolve("keep.parquet")))
    assert(Files.exists(quasi.resolve("keep.parquet")))
  }

  test("no-op resume reaps its own empty run dir: re-submitting a " +
       "finished snapshot does not accumulate run= shells") {
    import spark.implicits._
    val in = tmp("in3d"); val out = tmp("out3d"); val ck = tmp("ck3d")
    val (inputs, _) = CorpusGen.corpus(4)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    assert(ExtractJob.run(spark, in, out, ck).docsThisRun == 4)
    def runDirs() = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("run=")).toSeq
    assert(runDirs().size == 1)
    // three daily re-submits of the finished snapshot: each is a clean
    // no-op AND leaves no empty run dir / checkpoint subdir behind
    (1 to 3).foreach { _ =>
      val r = ExtractJob.run(spark, in, out, ck)
      assert(r.docsThisRun == 0 && r.docsProcessed == 4)
    }
    assert(runDirs().size == 1,
      s"no-op resumes must not pile up run dirs, saw ${runDirs()}")
    def ckDirs(sub: String) =
      java.nio.file.Files.list(java.nio.file.Paths.get(ck, sub))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("run=")).toSeq
    assert(ckDirs("lineage").size == 1,
      "lineage subdirs of no-op runs must be reaped too")
    // output is intact after the reaps
    assert(ExtractJob.readOutput(spark, out).count() == 4)
  }

  test("lineage rows carry per-partition counts and confidence histograms") {
    import spark.implicits._
    val in = tmp("in4"); val out = tmp("out4"); val ck = tmp("ck4")
    val (inputs, _) = CorpusGen.corpus(6)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    ExtractJob.run(spark, in, out, ck)
    val lin = Checkpoint.lineage(spark, ck)
    val tot = lin.agg(
      sum("doc_count").as("d"), sum("span_count").as("s"),
      sum("media_span_count").as("m"), sum("text_span_count").as("t")).head
    assert(tot.getLong(0) == 6)
    assert(tot.getLong(1) == tot.getLong(2) + tot.getLong(3))
    val hist = lin.select(
      aggregate(collect_list(col("conf_histogram")), array_repeat(lit(0L), 10),
                (a, x) => zip_with(a, x, (p, q) => p + q)).as("h")
    ).head.getSeq[Long](0)
    assert(hist.sum > 0, "confidence histogram must be populated")
    assert(hist(9) == hist.sum, "exact-match kernel → all confidences 1.0")
  }

  test("lineage from the output write equals the lineage the repair " +
       "scan derives from the written files") {
    import spark.implicits._
    val in = tmp("in-acc"); val out = tmp("out-acc"); val ck = tmp("ck-acc")
    val ckScan = tmp("ck-acc-scan")
    // doc 5 is heavy; a low threshold explodes it and most others into
    // span units spread over all kernel tasks
    val (inputs, goldens) = CorpusGen.corpus(6, heavyEvery = 6)
    val cfg = ExtractJob.Config(buckets = 4, skewSpanThreshold = 6)
    assert(inputs.exists(_.spans.size >= 40))
    val snapId = SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    // keep the reassembly's 4 partitions: AQE would coalesce this tiny
    // output into one
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    val r = try ExtractJob.run(spark, in, out, ck, cfg)
      finally spark.conf.set(coalesce, prev)
    assert(r.docsThisRun == 6 && r.docsAlreadyDone == 0)
    val Seq(runDir) = new java.io.File(out).listFiles.toSeq
      .filter(_.getName.startsWith("run="))
    val runId = runDir.getName.stripPrefix("run=")
    assert(Checkpoint.append(spark, ckScan, snapId, runId,
      spark.read.parquet(runDir.toString)) == 6)
    def rows(ckDir: String) = Checkpoint.lineage(spark, ckDir)
      .drop("completed_at").as[(String, Int, Long, Long, Long, Long, Seq[Long], String)]
      .collect().toSeq.sortBy(_._2)
    val fromWrite = rows(ck)
    assert(fromWrite.map(_._2).distinct.size == fromWrite.size && fromWrite.size > 1,
      s"one row per output partition, got $fromWrite")
    assert(fromWrite.map(_._3).sum == 6)
    assert(fromWrite.map(_._4).sum == goldens.map(_.spans.size.toLong).sum)
    assert(fromWrite == rows(ckScan))
  }

  test("reconcile: a lineage part file without _SUCCESS (crash inside the " +
       "lineage commit) is re-written once and each doc counted once") {
    import spark.implicits._
    val in = tmp("in3e"); val out = tmp("out3e"); val ck = tmp("ck3e")
    val (inputs, goldens) = CorpusGen.corpus(8)
    val snapId = SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    val r1 = ExtractJob.run(spark, in, out, ck,
      worklist = Some(inputs.take(3).map(_.doc_id).toDF("doc_id")))
    assert(r1.docsThisRun == 3)
    val Seq(lin) = new java.io.File(s"$ck/lineage").listFiles.toSeq
    val runId = lin.getName.stripPrefix("run=")
    assert(new java.io.File(lin, "_SUCCESS").delete())
    assert(!Checkpoint.isRecorded(spark, ck, runId))
    val r2 = ExtractJob.run(spark, in, out, ck)
    assert(r2.docsThisRun == 5 && r2.docsAlreadyDone == 3 && r2.docsProcessed == 8,
      s"got $r2")
    assert(Checkpoint.isRecorded(spark, ck, runId))
    assert(lin.listFiles.map(_.getName).count(_.endsWith(".parquet")) == 1,
      "the re-write replaces the run's lineage file")
    assert(Checkpoint.doneTotal(spark, ck, snapId) == 8)
    assert(Checkpoint.lineage(spark, ck).agg(sum("doc_count")).head.getLong(0) == 8)
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    assert(outDocs.size == 8 && outDocs.map(_.doc_id).distinct.size == 8)
    assertSpanEquality(outDocs, goldens)
  }

  test("an empty snapshot commits one empty run; a re-run counts 0 done " +
       "and leaves no second run dir") {
    import spark.implicits._
    val in = tmp("in-empty"); val out = tmp("out-empty"); val ck = tmp("ck-empty")
    val snapId = SnapshotTable.write(Seq.empty[Doc].toDS.toDF, in, buckets = 2)
    for (_ <- 1 to 2) {
      val r = ExtractJob.run(spark, in, out, ck)
      assert(r.docsThisRun == 0 && r.docsAlreadyDone == 0 && r.docsProcessed == 0)
    }
    assert(Checkpoint.doneTotal(spark, ck, snapId) == 0)
    assert(ExtractJob.readOutput(spark, out).count() == 0)
    // the re-run reaped its empty shell: one run dir, one lineage dir
    for (dir <- Seq(out, s"$ck/lineage"))
      assert(new java.io.File(dir).list().count(_.startsWith("run=")) == 1, dir)
  }

  test("work-list selective run processes only listed docs (F2/J5)") {
    import spark.implicits._
    val in = tmp("in5"); val out = tmp("out5"); val ck = tmp("ck5")
    val (inputs, goldens) = CorpusGen.corpus(8)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    val wanted = inputs.take(3).map(_.doc_id)
    val wl = wanted.toDF("doc_id")
    val r = ExtractJob.run(spark, in, out, ck, worklist = Some(wl))
    assert(r.docsThisRun == 3)
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    assert(outDocs.map(_.doc_id).toSet == wanted.toSet)
    assertSpanEquality(outDocs, goldens.filter(g => wanted.contains(g.doc_id)))
    // a later full run completes the rest without reprocessing
    val r2 = ExtractJob.run(spark, in, out, ck)
    assert(r2.docsThisRun == 5 && r2.docsProcessed == 8)
    // a work-list that matches nothing still reports the docs done
    val r3 = ExtractJob.run(spark, in, out, ck,
      worklist = Some(Seq("F0000000").toDF("doc_id")))
    assert(r3.docsThisRun == 0 && r3.docsAlreadyDone == 8 && r3.docsProcessed == 8,
      s"got $r3")
  }

  test("many incremental runs: resume, totals and recorded status hold") {
    import spark.implicits._
    val in = tmp("cin"); val out = tmp("cout"); val ck = tmp("cck")
    val (inputs, goldens) = CorpusGen.corpus(10)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    val cfg = ExtractJob.Config(buckets = 2)
    // 10 incremental runs, one doc each, via single-doc work-lists
    for (doc <- inputs.map(_.doc_id)) {
      ExtractJob.run(spark, in, out, ck, cfg,
        worklist = Some(Seq(doc).toDF("doc_id")))
      assert(!new java.io.File(s"$ck/done").exists,
        "no done table is written: the committed output is the record")
    }
    // a final full run finds every doc done and counts each once
    val fin = ExtractJob.run(spark, in, out, ck, cfg)
    assert(fin.docsThisRun == 0, "resume must see every committed doc")
    assert(fin.docsProcessed == 10, "lineage totals must count each run once")
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    assert(outDocs.map(_.doc_id).distinct.size == 10 && outDocs.size == 10)
    assertSpanEquality(outDocs, goldens)
    // every output run dir is recorded, so reconcile never re-appends it
    for (d <- new java.io.File(out).listFiles
           if d.getName.startsWith("run="))
      assert(Checkpoint.isRecorded(spark, ck, d.getName.stripPrefix("run=")),
        s"${d.getName} is not recorded in the lineage")
  }

  test("a doc with no content span gets one row with empty spans and " +
       "counts as done") {
    import spark.implicits._
    val in = tmp("ein"); val out = tmp("eout"); val ck = tmp("eck")
    val (inputs, goldens) = CorpusGen.corpus(4)
    val cover = inputs.head.spans.sortBy(_.offset).find(_.kind == "media").get
    val empties = Seq(Doc("F1999001", Seq.empty), Doc("F1999002", Seq(cover)))
    SnapshotTable.write((inputs ++ empties).toDS.toDF, in, buckets = 2)
    // threshold 1 sends every doc with a span down the split route, so both
    // empty docs reach the fallback that keeps a doc with no non-cover
    // span whole
    val r = ExtractJob.run(spark, in, out, ck,
      ExtractJob.Config(buckets = 2, skewSpanThreshold = 1))
    assert(r.docsThisRun == 6 && r.docsProcessed == 6)
    assert(Checkpoint.lineage(spark, ck).agg(sum("doc_count")).head.getLong(0) == 6)
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    for (e <- empties) {
      val rows = outDocs.filter(_.doc_id == e.doc_id)
      assert(rows.size == 1 && rows.head.spans.isEmpty,
        s"${e.doc_id}: want one row with empty spans, got $rows")
    }
    assertSpanEquality(outDocs.filterNot(d => empties.exists(_.doc_id == d.doc_id)),
      goldens)
  }

  test("JSON export: year-partitioned sink roundtrips the span arrays (S6)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = tmp("jin"); val out = tmp("jout"); val ck = tmp("jck")
    val json = tmp("jjson")
    val (inputs, goldens) = CorpusGen.corpus(8)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    ExtractJob.run(spark, in, out, ck)
    assert(ExtractJob.exportJson(spark, out, json) == 8)
    // year=<yyyy> partition dirs, like the reference's result_json/<year>/
    val years = new java.io.File(json).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("year="))
    assert(years.nonEmpty && years.forall(_.matches("year=\\d{4}")))
    // payload parses back to the exact golden span sequences
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("kind", StringType), StructField("text", StringType),
        StructField("media_ref", StringType),
        StructField("offset", IntegerType)))))))
    val back = spark.read.text(json)
      .select(from_json(col("value"), schema).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.spans").as("spans"))
      .as[Doc].collect().toSeq
    assertSpanEquality(back, goldens)
  }

  test("selective table pass: explicit boxes + full-page fallback (§3.3)") {
    import graft.synth.PageRenderer
    import spark.implicits._
    val (inputs, _) = CorpusGen.corpus(40)
    // find a (doc, media-span ordinal) whose rendered page has a planted
    // table, upright, and is actually present in the doc
    val hit = inputs.iterator.flatMap { d =>
      val nMedia = d.spans.count(_.kind == "media")
      (1 until nMedia).collectFirst {
        case pn if PageRenderer.layoutFor(d.doc_id, pn).table.isDefined &&
                   PageRenderer.storedRotation(d.doc_id, pn) == 0 =>
          (d.doc_id, pn, PageRenderer.layoutFor(d.doc_id, pn).table.get)
      }
    }.next()
    val (docId, pn, spec) = hit
    val gt = spec.bbox2x
    val wl = Seq(
      (docId, pn, false, s"[[${gt.x1},${gt.y1},${gt.x2},${gt.y2}]]"),
      (docId, pn, true, null.asInstanceOf[String])
    ).toDF("doc_id", "page_number", "full_page", "table_boxes")
    val rows = ExtractJob.tableDataSelective(spark, inputs.toDS(), wl)
      .collect()
    assert(rows.length == 2)
    val byFull = rows.partition(r => r.getAs[Int]("x1") == 0 &&
                                     r.getAs[Int]("y1") == 0)
    val full = byFull._1.head
    val boxed = byFull._2.head
    // explicit-box row recovers the planted grid exactly
    val want = Vector.tabulate(spec.rows, spec.cols)((i, j) =>
      PageRenderer.cellValue(docId, pn, i, j).toString)
    val grid = boxed
      .getAs[scala.collection.Seq[scala.collection.Seq[String]]]("grid")
    assert(grid.map(_.toVector).toVector == want, s"grid=$grid")
    assert(boxed.getAs[Int]("n_cells") >= spec.rows * spec.cols)
    // full-page fallback covers the whole stored page and still finds cells
    assert(full.getAs[Int]("n_cells") >= 1)
    // invariant violation (both set) must fail loudly
    val bad = Seq((docId, pn, true, "[[0,0,10,10]]"))
      .toDF("doc_id", "page_number", "full_page", "table_boxes")
    assertThrows[org.apache.spark.SparkException] {
      ExtractJob.tableDataSelective(spark, inputs.toDS(), bad).collect()
    }
    // a ROTATED stored page: the pass orientation-corrects before cell
    // detection, so upright-frame GT boxes recover the planted grid
    val rotHit = inputs.iterator.flatMap { d =>
      val nMedia = d.spans.count(_.kind == "media")
      (1 until nMedia).collectFirst {
        case p if PageRenderer.layoutFor(d.doc_id, p).table.isDefined &&
                  PageRenderer.storedRotation(d.doc_id, p) != 0 =>
          (d.doc_id, p, PageRenderer.layoutFor(d.doc_id, p).table.get)
      }
    }.next()
    val (rDoc, rPn, rSpec) = rotHit
    val rgt = rSpec.bbox2x
    val rwl = Seq((rDoc, rPn, false,
                   s"[[${rgt.x1},${rgt.y1},${rgt.x2},${rgt.y2}]]"))
      .toDF("doc_id", "page_number", "full_page", "table_boxes")
    val rRows = ExtractJob.tableDataSelective(spark, inputs.toDS(), rwl)
      .collect()
    assert(rRows.length == 1)
    val rWant = Vector.tabulate(rSpec.rows, rSpec.cols)((i, j) =>
      PageRenderer.cellValue(rDoc, rPn, i, j).toString)
    val rGrid = rRows.head
      .getAs[scala.collection.Seq[scala.collection.Seq[String]]]("grid")
    assert(rGrid.map(_.toVector).toVector == rWant,
           s"rotated-page grid mismatch: $rGrid")
  }

  test("selective page re-OCR: listed pages only, invalid indices dropped") {
    import graft.synth.PageRenderer
    import spark.implicits._
    val (inputs, goldens) = CorpusGen.corpus(10)
    // pick a doc with >= 3 media spans (cover + 2 content pages)
    val doc = inputs.find(_.spans.count(_.kind == "media") >= 3).get
    val wl = Seq((doc.doc_id, 1), (doc.doc_id, 2), (doc.doc_id, 99))
      .toDF("doc_id", "page_number")
    val rows = ExtractJob.reOcrSelective(spark, inputs.toDS(), wl).collect()
    assert(rows.length == 2, s"expected 2 rows, got ${rows.length}")
    val gold = goldens.find(_.doc_id == doc.doc_id).get
    val mediaGold = gold.spans.filter(_.kind == "media").sortBy(_.offset)
    for (r <- rows) {
      val pn = r.getAs[Int]("page_number")
      // golden media span pn-1 (cover excluded from goldens)
      assert(r.getAs[String]("text") == mediaGold(pn - 1).text,
             s"re-OCR mismatch page $pn")
      assert(r.getAs[Long]("glyph_count") > 0)
    }
  }

  test("work-list hardening: null full_page decodes, bad rows identified, " +
       "unmatched rows warned (pdf_parser.py:205-209 warn-and-drop)") {
    import spark.implicits._
    val (inputs, _) = CorpusGen.corpus(6)
    val doc = inputs.find(_.spans.count(_.kind == "media") >= 2).get
    // null full_page + explicit boxes is a VALID row (box path)
    val wlOk = Seq((doc.doc_id, 1, null.asInstanceOf[String], "[[0,0,100,100]]"))
      .toDF("doc_id", "page_number", "full_page", "table_boxes")
    val ok = ExtractJob.tableDataSelective(spark, inputs.toDS(), wlOk).collect()
    assert(ok.length == 1)
    // null full_page + null boxes fails with the offending row identified,
    // not Spark's opaque null-in-non-nullable-field error
    val wlBad = Seq(
      (doc.doc_id, 1, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("doc_id", "page_number", "full_page", "table_boxes")
    val e = intercept[Throwable] {
      ExtractJob.tableDataSelective(spark, inputs.toDS(), wlBad).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains(doc.doc_id) && msgs.contains("exactly one"), msgs)
    // unmatched (doc, page) rows are reported via the warn-and-drop
    // accounting (lazy anti-join + logUnmatched, as Main tables/reocr
    // run it on the written output), never silently
    val wl99 = Seq((doc.doc_id, 99)).toDF("doc_id", "page_number")
    val res = ExtractJob.reOcrSelective(spark, inputs.toDS(), wl99)
    assert(res.collect().isEmpty)
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val n =
      try ExtractJob.logUnmatched(res, wl99, "reocr-test")
      finally System.setErr(old)
    assert(n == 1)
    assert(buf.toString.contains("matched no page"),
           s"missing warn: ${buf.toString.take(400)}")
  }

  test("parquet scan prunes columns and pushes filters (q1 plan)") {
    val plan = graft.operators.RelationalOps
      .q1Pricing(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
           s"missing pushed filter:\n$plan")
    // only the 5 needed columns are read, not all 11
    assert("l_orderkey|l_partkey|l_suppkey".r.findFirstIn(
             plan.linesIterator.filter(_.contains("ReadSchema")).mkString) == None,
           "scan reads columns the query does not need")
  }

  test("x8 lake shape: a STORED binary-column table prunes the opaque " +
       "payload away when only metadata is read") {
    import spark.implicits._
    import graft.synth.{GrayPack, PageRenderer}
    // materialize the (doc_id, page, content: binary, meta: struct) table
    // x8 demos — written to parquet, so the pruning claim is made against
    // a real stored scan, not an in-memory projection
    val dir = tmp("lake")
    spark.range(4).flatMap { i =>
      val docId = CorpusGen.docIdFor(i.toInt)
      (1 to 3).map { p =>
        val g = PageRenderer.render(docId, p)
        (docId, p, GrayPack.encode(g), g.w, g.h, "gp1")
      }
    }.toDF("doc_id", "page", "content", "w", "h", "fmt")
      .select(col("doc_id"), col("page"), col("content"),
              struct(col("w"), col("h"), col("fmt")).as("meta"))
      .write.parquet(s"$dir/pages")
    // metadata-only reader: the multi-KB content column must not be read
    val metaScan = spark.read.parquet(s"$dir/pages")
      .select("doc_id", "page", "meta.w", "meta.h")
      .queryExecution.executedPlan.toString()
    val readSchema = metaScan.linesIterator
      .filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("content"),
           s"metadata read scans the binary payload:\n$readSchema")
    // content reader roundtrips the codec from the stored bytes
    val row = spark.read.parquet(s"$dir/pages")
      .filter(col("page") === 1).select("doc_id", "content", "meta.w")
      .as[(String, Array[Byte], Int)].head()
    assert(GrayPack.decode(row._2).w == row._3)
  }

  test("one scan, round-robin exchange below kernel, hash above") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapElementsExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    // one scan of the snapshot serves whole docs and split (heavy) docs:
    // the units are spread round-robin over n kernel tasks, with n the
    // buckets but never fewer than the scan's splits, and the doc rows
    // are reassembled by a hash exchange on doc_id above the kernel
    val in = tmp("in-plan")
    val (inputs, _) = CorpusGen.corpus(6)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 3)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // plain plan trees
    try {
      val (df, _) = SnapshotTable.read(spark, in)
      val splits = df.rdd.getNumPartitions
      assert(splits > 1)
      for (buckets <- Seq(1, splits + 5)) {
        val plan = ExtractJob.extract(spark, df.as[Doc],
            ExtractJob.Config(buckets = buckets, skewSpanThreshold = 8))
          .queryExecution.executedPlan
        val scans = plan.collect { case f: FileSourceScanExec => f }
        assert(scans.size == 1 &&
               scans.head.relation.location.rootPaths.forall(_.toString.contains(in)),
          s"expected one scan of the input, got ${scans.size}:\n$plan")
        val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.size == 2, s"expected 2 exchanges:\n$plan")
        val Seq(hash, rr) = exchanges // pre-order: the upper one first
        assert(rr.outputPartitioning ==
                 RoundRobinPartitioning(math.max(buckets, splits)),
          s"kernel exchange for buckets=$buckets, splits=$splits:\n$plan")
        assert(rr.child.exists(_.isInstanceOf[FileSourceScanExec]))
        assert(!rr.child.exists(_.isInstanceOf[MapElementsExec]),
          s"the kernel must run above the round-robin exchange:\n$plan")
        hash.outputPartitioning match {
          case HashPartitioning(Seq(key), _) =>
            assert(key.dataType == org.apache.spark.sql.types.StringType)
          case other => fail(s"reassembly is not a doc_id hash exchange: $other")
        }
        assert(hash.child.exists(_.isInstanceOf[MapElementsExec]),
          s"the kernel must run below the doc_id exchange:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("job budget: Spark jobs of a first run and of a resume") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    // a returning second snapshot scan, schema-inference job or lineage
    // shuffle changes these counts
    val sentinelDesc = "job-budget-sentinel"
    def jobsOf(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val drained = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(p =>
                p.getProperty("spark.job.description") == sentinelDesc))
            drained.countDown()
          else jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        // listener delivery is async FIFO: a sentinel job marks the drain
        spark.sparkContext.setJobDescription(sentinelDesc)
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.setJobDescription(null)
        assert(drained.await(15, java.util.concurrent.TimeUnit.SECONDS),
          "listener bus did not drain")
      } finally spark.sparkContext.removeSparkListener(listener)
      jobs.get
    }
    val in = tmp("in-jobs")
    val (inputs, _) = CorpusGen.corpus(6)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)

    val first = jobsOf {
      assert(ExtractJob.run(spark, in, tmp("out-jobs"), tmp("ck-jobs"))
        .docsThisRun == 6)
    }
    // a resume: a work-list run did half of the snapshot (not counted)
    val out = tmp("out-jobs2"); val ck = tmp("ck-jobs2")
    ExtractJob.run(spark, in, out, ck, ExtractJob.Config(),
      Some(inputs.take(3).map(_.doc_id).toDF("doc_id")))
    val resume = jobsOf {
      assert(ExtractJob.run(spark, in, out, ck).docsThisRun == 3)
    }
    // first run: the output write's round-robin stage, reassembly stage
    // and write stage — its lineage comes from the write and the driver
    // writes the file; a resume adds the read of the committed output's
    // doc_ids, which also counts the docs already done
    assert((first, resume) == ((3, 4)), s"first run $first jobs, resume $resume")
  }

  test("x5 is self-verifying: every recognized grid equals the planted " +
       "cell values (golden_mismatch 0), one row per work-list page") {
    val df = SparkEntry.queries("x5_table_selective")(spark, "unused")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the work-list drives the join (left outer FROM it): a planted page
    // must appear even if table detection regresses to zero output — so
    // the row count equals the planted-table page count exactly (one
    // recognized table per planted page; a zero-table page would still
    // surface, as a '<no-table>' mismatch row)
    val (inputs, _) = CorpusGen.corpus(48)
    val planted = inputs.map { d =>
      val nMedia = d.spans.count(_.kind == "media")
      (1 until nMedia).count(pn =>
        graft.synth.PageRenderer.layoutFor(d.doc_id, pn).table.isDefined)
    }.sum
    assert(planted > 0)
    assert(df.count() == planted,
      s"expected one row per planted page ($planted), got ${df.count()}")
    val bad = df.filter(col("golden_mismatch") =!= 0).count()
    assert(bad == 0, s"$bad tables with grid/golden mismatches")
    df.unpersist()
  }

  test("x5 surfaces a work-list page the selective pass yields no rows for") {
    // the self-check must FAIL LOUDLY when a work-list page produces ZERO
    // output rows (the inner-join drop the round-3 ADVICE flagged): an
    // out-of-range page number takes the warn-and-drop path inside
    // tableDataSelective, so the wl-outward left outer is the only thing
    // keeping it visible — as a '<no-table>' golden_mismatch=1 row
    import spark.implicits._
    val (inputs, _) = CorpusGen.corpus(4)
    val ds = inputs.toDS
    val wl = Seq((inputs.head.doc_id, 999, false, "[[10,10,40,40]]",
                  "2x2:a|b|c|d")).toDF(
      "doc_id", "page_number", "full_page", "table_boxes", "golden_flat")
    val out = ExtractJob.tableDataSelective(spark, ds, wl)
      .select(col("doc_id"), col("page_number"), col("table_idx"),
              lit("x").as("grid_flat"))
    val joined = wl.select(col("doc_id"), col("page_number"), col("golden_flat"))
      .join(out, Seq("doc_id", "page_number"), "left_outer")
      .withColumn("golden_mismatch",
        (!(col("grid_flat") <=> col("golden_flat"))).cast("int"))
    val rows = joined.collect()
    assert(rows.length == 1, "the dropped work-list page must surface")
    assert(rows.head.getAs[Int]("golden_mismatch") == 1)
  }

  test("x1 is self-verifying: every row's golden-join mismatch_count is 0") {
    val df = SparkEntry.queries("x1_extract_spans")(spark, "unused")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(df.count() > 0)
    val bad = df.filter(col("mismatch_count") =!= 0L).count()
    assert(bad == 0, s"$bad rows with span-sequence mismatches vs golden")
    df.unpersist()
  }

  test("x2 is self-verifying: every detection IoU-matches its planted table, " +
       "and every scoped GT page is present (GT-outward join)") {
    val rows = SparkEntry.queries("x2_table_detect")(spark, "unused").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("golden_mismatch") == 0L),
      "a detection missed its planted table box (or a GT page had none)")
    // the GT side drives the join: a detection row exists for every scoped
    // page, so a total table-detection regression cannot pass as 0 rows
    assert(rows.map(r => (r.getAs[String]("doc_id"), r.getAs[Int]("page")))
      .distinct.length == rows.length,
      "exactly one detection per planted-table page")
  }
}
