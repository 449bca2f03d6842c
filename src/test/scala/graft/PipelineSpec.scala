package graft

import graft.core.{Doc, Span}
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
    val (inputs, _) = CorpusGen.corpus(4)
    val id1 = SnapshotTable.write(inputs.toDS.toDF, dir, buckets = 2)
    assert(SnapshotTable.currentSnapshotId(dir) == id1)
    val (df, id2) = SnapshotTable.read(spark, dir)
    assert(id2 == id1)
    assert(df.count() == 4)
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
    val (inputs, goldens) = CorpusGen.corpus(8)
    val ds = inputs.toDS
    val fusedOnly = ExtractJob.extract(spark, ds,
      ExtractJob.Config(buckets = 4, skewSpanThreshold = Int.MaxValue))
    val explodedOnly = ExtractJob.extract(spark, ds,
      ExtractJob.Config(buckets = 4, skewSpanThreshold = 0))
    val f = fusedOnly.collect().map(r => Doc(r.doc_id, r.spans)).toSeq
    val e = explodedOnly.collect().map(r => Doc(r.doc_id, r.spans)).toSeq
    assertSpanEquality(f, goldens)
    assertSpanEquality(e, goldens)
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

  test("run() summary never scans the done table (metadata counter only)") {
    import spark.implicits._
    // round-3 verdict #3: RunSummary.docsProcessed used to be a full
    // done-table count() per run — a real job at 100 TB. The record of
    // done docs is now the committed output itself, so pin the scans:
    //  - a first run scans no prior output (there is no anti-join);
    //  - a resume scans the prior run dirs exactly once, in the anti-join
    //    inside the output write;
    //  - after the output write, the only scan of a one-row-per-doc table
    //    is the lineage append over this run's own dir, and the summary
    //    total reads nothing but the per-partition lineage table.
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

    val second = scansOf {
      val r2 = ExtractJob.run(spark, in, out, ck)
      assert(r2.docsThisRun == 0 && r2.docsProcessed == 4)
    }
    val priorScans = second.filter(_.exists(_.endsWith(s"/${prior.head}")))
    assert(priorScans.size == 1 && priorScans.head.exists(isIn),
      s"expected exactly 1 prior-output scan (the resume anti-join), " +
      s"got $priorScans")
    val ownDirScans = second.filter(q => !q.exists(isIn) && q.exists(isOut))
    assert(ownDirScans.size == 1 &&
           !ownDirScans.head.exists(_.endsWith(s"/${prior.head}")),
      s"expected one scan of this run's own dir (the lineage append), " +
      s"got $ownDirScans")
    val rest = second.filterNot(q => q.exists(isIn) || q.exists(isOut))
    assert(rest.forall(_.forall(_.contains(s"$ck/lineage"))),
      s"after the write only the lineage table may be scanned, got $rest")
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
  }

  test("checkpoint compaction: many incremental runs keep the done/lineage " +
       "dir count bounded, resume semantics and totals unchanged") {
    import spark.implicits._
    val in = tmp("cin"); val out = tmp("cout"); val ck = tmp("cck")
    val (inputs, goldens) = CorpusGen.corpus(10)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    val cfg = ExtractJob.Config(buckets = 2, compactRunDirsOver = 3)
    def runDirs(sub: String): Seq[String] = {
      val d = new java.io.File(s"$ck/$sub")
      if (!d.exists) Seq.empty
      else d.listFiles.filter(f => f.isDirectory &&
        f.getName.startsWith("run=")).map(_.getName).toSeq
    }
    // 10 incremental runs, one doc each, via single-doc work-lists
    for (doc <- inputs.map(_.doc_id)) {
      ExtractJob.run(spark, in, out, ck, cfg,
        worklist = Some(Seq(doc).toDF("doc_id")))
      assert(runDirs("lineage").size <= 4, // threshold + this run's dir
        s"lineage dirs unbounded: ${runDirs("lineage")}")
      assert(!new java.io.File(s"$ck/done").exists,
        "no done table is written: the committed output is the record")
    }
    // post-compaction the totals and output are exactly the 10 docs
    val fin = ExtractJob.run(spark, in, out, ck, cfg)
    assert(fin.docsThisRun == 0, "resume must still see every compacted doc")
    assert(fin.docsProcessed == 10,
      "lineage totals must survive compaction without double-count")
    val outDocs = ExtractJob.readOutput(spark, out).collect().toSeq
    assert(outDocs.map(_.doc_id).distinct.size == 10 && outDocs.size == 10)
    assertSpanEquality(outDocs, goldens)
    // every historical run id stays recorded (via consolidated manifests),
    // so reconcile of the long-lived OUTPUT dirs never re-appends them
    for (d <- new java.io.File(out).listFiles
           if d.getName.startsWith("run="))
      assert(Checkpoint.isRecorded(spark, ck, d.getName.stripPrefix("run=")),
        s"${d.getName} lost its recorded status after compaction")
  }

  test("checkpoint compaction crash repair: an uncommitted consolidated " +
       "pair rolls back; a committed manifest finishes its deletes") {
    import spark.implicits._
    val in = tmp("rin"); val out = tmp("rout"); val ck = tmp("rck")
    val (inputs, _) = CorpusGen.corpus(4)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    for (doc <- inputs.map(_.doc_id))
      ExtractJob.run(spark, in, out, ck,
        worklist = Some(Seq(doc).toDF("doc_id")))
    val before = Checkpoint.doneTotal(spark, ck,
      SnapshotTable.currentSnapshotId(in))
    assert(before == 4)
    // simulate a crash BEFORE the manifest commit: a half-written
    // consolidated lineage dir exists, sources intact
    spark.read.parquet(s"$ck/lineage").drop("run")
      .write.parquet(s"$ck/lineage/run=compact_999") // no _manifest.txt
    Checkpoint.repairCompaction(spark, ck)
    assert(!new java.io.File(s"$ck/lineage/run=compact_999").exists)
    assert(Checkpoint.doneTotal(spark, ck,
      SnapshotTable.currentSnapshotId(in)) == 4, "rollback lost rows")
    // now a real compaction, then simulate a crash AFTER the commit
    // point: resurrect one absorbed source dir and let repair finish
    val srcs = new java.io.File(s"$ck/lineage").listFiles
      .map(_.getName).filter(_.startsWith("run=")).toSeq
    assert(Checkpoint.compact(spark, ck, 1))
    val consolidated = new java.io.File(s"$ck/lineage").listFiles
      .map(_.getName).filter(_.startsWith("run=compact_")).toSeq
    assert(consolidated.size == 1 && srcs.nonEmpty)
    val ghost = srcs.head.stripPrefix("run=")
    new java.io.File(s"$ck/lineage/run=$ghost").mkdirs()
    Checkpoint.repairCompaction(spark, ck)
    assert(!new java.io.File(s"$ck/lineage/run=$ghost").exists,
      "committed manifest must finish deleting absorbed sources")
    assert(Checkpoint.doneTotal(spark, ck,
      SnapshotTable.currentSnapshotId(in)) == 4)
  }

  test("checkpoint compaction: a crash mid-manifest-write (tmp file only) " +
       "is uncommitted and rolls back, never treated as a commit") {
    import spark.implicits._
    val in = tmp("min"); val out = tmp("mout"); val ck = tmp("mck")
    val (inputs, _) = CorpusGen.corpus(4)
    SnapshotTable.write(inputs.toDS.toDF, in, buckets = 2)
    for (doc <- inputs.map(_.doc_id))
      ExtractJob.run(spark, in, out, ck,
        worklist = Some(Seq(doc).toDF("doc_id")))
    val snap = SnapshotTable.currentSnapshotId(in)
    assert(Checkpoint.doneTotal(spark, ck, snap) == 4)
    // simulate the r6 atomic-commit crash window: consolidated lineage
    // fully written (with _SUCCESS) but the manifest only exists under
    // its TEMP name — the rename never happened. Before the tmp+rename
    // fix, an empty/partial _manifest.txt at the final name would have
    // read as committed and left the absorbed sources' rows duplicated.
    spark.read.parquet(s"$ck/lineage").drop("run")
      .write.parquet(s"$ck/lineage/run=compact_777")
    val tmpMf = new java.io.File(s"$ck/lineage/run=compact_777/_manifest.txt.tmp")
    val w = new java.io.PrintWriter(tmpMf)
    try w.println("half-written") finally w.close()
    Checkpoint.repairCompaction(spark, ck)
    assert(!new java.io.File(s"$ck/lineage/run=compact_777").exists,
      "tmp-only manifest must read as uncommitted -> rollback")
    assert(Checkpoint.doneTotal(spark, ck, snap) == 4,
      "rollback must leave source rows intact and never double-count")
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
    // and write stage, the lineage aggregation's two stages, doneTotal;
    // a resume adds the broadcast of the committed output's doc_ids
    assert((first, resume) == ((6, 7)), s"first run $first jobs, resume $resume")
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
