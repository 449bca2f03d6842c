package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One recorded span: a layer boundary with its wall interval (epoch ms),
  * the span that caused it and the op it belongs to. */
final case class TraceSpan(id: Long, parent: Long, op: Int, name: String,
                           startMs: Double, endMs: Double,
                           attrs: Seq[(String, Any)] = Nil) {
  def json: String = Json.obj(Seq("id" -> id, "parent" -> parent, "op" -> op,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs,
    "attrs" -> attrs.toMap))
}

/** Everything the listeners saw during one traced op. */
final case class Recorded(
    jobs: Vector[Tracer.Job],
    stages: Vector[Tracer.Stage],
    tasks: Map[Int, Vector[Tracer.Task]],
    execs: Map[Long, Tracer.Exec],
    queries: Vector[Tracer.Query])

object Tracer {
  final case class Job(id: Int, exec: Option[Long], startMs: Long,
                       endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submittedMs: Long, completedMs: Long)
  final case class Task(durationMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWriteNs: Long, fetchWaitMs: Long,
                        shuffleBytes: Long)
  /** A SQL execution: its id, root execution, wall interval and the id of
    * the QueryExecution it ran (which the QueryExecutionListener reports). */
  final case class Exec(id: Long, root: Long, startMs: Long, endMs: Long,
                        queryId: Option[Long])
  /** A finished query execution: its id, the path it wrote (if a file
    * write) and the duration the QueryExecutionListener reported. */
  final case class Query(queryId: Long, writePath: Option[String],
                         durationNs: Long, failed: Boolean)
}

/** Spark-level tracer: a SparkListener for jobs, stages, tasks and SQL
  * execution intervals, and a QueryExecutionListener for per-action
  * durations and write targets. Registered only around traced ops. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobStarts = mutable.Map[Int, (Option[Long], Long, Seq[Int])]()
  private val jobs = ArrayBuffer[Job]()
  private val stages = ArrayBuffer[Stage]()
  private val tasks = mutable.Map[Int, ArrayBuffer[Task]]()
  private val execStarts = mutable.Map[Long, (Long, Long)]()
  private val execs = mutable.Map[Long, Exec]()
  private val queries = ArrayBuffer[Query]()

  /** Hand over what was recorded since the last call and start afresh. */
  def take(): Recorded = synchronized {
    val r = Recorded(jobs.toVector, stages.toVector,
      tasks.map { case (k, v) => k -> v.toVector }.toMap, execs.toMap,
      queries.toVector)
    jobStarts.clear(); jobs.clear(); stages.clear(); tasks.clear()
    execStarts.clear(); execs.clear(); queries.clear()
    r
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobStarts(e.jobId) = (exec, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (exec, start, stageIds) =>
      jobs += Job(e.jobId, exec, start, e.time, stageIds)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t =
      if (m == null) Task(e.taskInfo.duration, 0L, 0L, 0L, 0L, 0L)
      else Task(e.taskInfo.duration, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten)
    tasks.getOrElseUpdate(e.stageId, ArrayBuffer[Task]()) += t
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStarts(s.executionId) =
        (s.rootExecutionId.getOrElse(s.executionId), s.time)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      execStarts.remove(x.executionId).foreach { case (root, start) =>
        execs(x.executionId) =
          Exec(x.executionId, root, start, x.time, org.apache.spark.sql.PerfbenchAccess.queryId(x))
      }
    }
    case _ =>
  }

  private def writePath(qe: QueryExecution): Option[String] = {
    val head = qe.logical.toString.linesIterator.toSeq.headOption.getOrElse("")
    if (head.contains("InsertIntoHadoopFsRelationCommand"))
      head.split("[ ,]").find(_.startsWith("file:"))
    else None
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val q = Query(qe.id, writePath(qe), durationNs, failed = false)
    synchronized { queries += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = {
    val q = Query(qe.id, writePath(qe), 0L, failed = true)
    synchronized { queries += q }
  }
}

/** Per-layer attribution of one traced `ExtractJob.run`. */
object Attribution {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Metrics plus spans for one op. `outRoot` is the output table's
    * absolute path: the output write is the one file write under it, and
    * every action after it belongs to the checkpoint commit. */
  def analyse(rec: Recorded, op: Int, opStartMs: Long, opEndMs: Long,
              wallS: Double, cores: Int, outRoot: String,
              nextId: () => Long): (Map[String, Double], Seq[TraceSpan]) = {
    val queries = rec.queries.filter(!_.failed)
    val outIdx = queries.indexWhere(_.writePath.exists(p =>
      p.contains(outRoot + "/run=")))
    val outputWrite = if (outIdx >= 0) Some(queries(outIdx)) else None
    val commit = if (outIdx >= 0) queries.drop(outIdx + 1) else Vector.empty
    val outputS = outputWrite.map(_.durationNs / 1e9).getOrElse(0.0)
    val commitS = commit.map(_.durationNs / 1e9).sum

    val intervals = rec.execs.values.map(e => (e.startMs, e.endMs)).toSeq ++
      rec.jobs.map(j => (j.startMs, j.endMs))
    val coveredS = covered(intervals, opStartMs, opEndMs) / 1e3
    val driverS = math.max(0.0, wallS - coveredS)
    val unattributedS = wallS - outputS - commitS - driverS

    // the kernel stage: the output write's stage with the most task time
    val outRoots = outputWrite.toSeq.flatMap(q =>
      rec.execs.values.filter(_.queryId.contains(q.queryId)).map(_.id)).toSet
    val outExecs = rec.execs.values
      .filter(e => outRoots(e.id) || outRoots(e.root)).map(_.id).toSet
    val outStages = rec.jobs.filter(_.exec.exists(outExecs)).flatMap(_.stageIds).toSet
    val ranked = rec.stages.filter(s => outStages(s.id))
      .map(s => s -> rec.tasks.getOrElse(s.id, Vector.empty))
      .filter(_._2.nonEmpty)
      .sortBy { case (_, ts) => -ts.map(_.durationMs).sum }
    val (kTasks, kSkew, kStageS) = ranked.headOption.map { case (s, ts) =>
      val d = ts.map(_.durationMs.toDouble)
      (ts.size.toDouble, d.max / math.max(1.0, Stats.median(d)),
       (s.completedMs - s.submittedMs) / 1e3)
    }.getOrElse((0.0, 0.0, 0.0))

    val all = rec.tasks.values.flatten.toSeq
    val busyMs = all.map(_.durationMs).sum.toDouble
    val metrics = Map(
      "pipeline.output_write_s" -> outputS,
      "pipeline.checkpoint_commit_s" -> commitS,
      "pipeline.driver_s" -> driverS,
      "pipeline.unattributed_s" -> unattributedS,
      "spark.kernel_stage_tasks" -> kTasks,
      "spark.kernel_stage_skew" -> kSkew,
      "spark.kernel_stage_s" -> kStageS,
      "spark.busy_frac" -> busyMs / (wallS * 1e3 * cores),
      "spark.jobs" -> rec.jobs.size.toDouble,
      "spark.stages" -> rec.stages.size.toDouble,
      "spark.tasks" -> all.size.toDouble,
      "spark.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_s" -> all.map(_.shuffleWriteNs).sum / 1e9,
      "spark.shuffle_fetch_wait_s" -> all.map(_.fetchWaitMs).sum / 1e3,
      "spark.shuffle_bytes" -> all.map(_.shuffleBytes).sum.toDouble)

    // spans: op → query execution → job → stage
    val opId = nextId()
    val spans = ArrayBuffer(TraceSpan(opId, 0L, op, "pipeline.op",
      opStartMs.toDouble, opEndMs.toDouble, Seq("wall_s" -> wallS)))
    val role: Map[Long, String] =
      (outputWrite.map(_.queryId -> "pipeline.output_write").toSeq ++
       commit.map(_.queryId -> "pipeline.checkpoint_commit")).toMap
    val execRole: Map[Long, String] = rec.execs.values.flatMap(e =>
      e.queryId.flatMap(role.get).map(e.id -> _)).toMap
    val execSpan = mutable.Map[Long, Long]()
    for (e <- rec.execs.values.toSeq.sortBy(_.id)) {
      val id = nextId()
      execSpan(e.id) = id
      val parent = if (e.root != e.id) execSpan.getOrElse(e.root, opId) else opId
      spans += TraceSpan(id, parent, op,
        execRole.getOrElse(e.id, execRole.getOrElse(e.root, "spark.sql_execution")),
        e.startMs.toDouble, e.endMs.toDouble, Seq("execution_id" -> e.id))
    }
    val stageById = rec.stages.map(s => s.id -> s).toMap
    val emitted = mutable.Set[Int]()
    for (j <- rec.jobs.sortBy(_.id)) {
      val id = nextId()
      spans += TraceSpan(id, j.exec.flatMap(execSpan.get).getOrElse(opId), op,
        "spark.job", j.startMs.toDouble, j.endMs.toDouble, Seq("job_id" -> j.id))
      for (sid <- j.stageIds.sorted; s <- stageById.get(sid) if emitted.add(sid)) {
        val ts = rec.tasks.getOrElse(sid, Vector.empty)
        spans += TraceSpan(nextId(), id, op, "spark.stage",
          s.submittedMs.toDouble, s.completedMs.toDouble,
          Seq("stage_id" -> sid, "tasks" -> ts.size,
              "task_ms_sum" -> ts.map(_.durationMs).sum))
      }
    }
    (metrics, spans.toSeq)
  }
}
