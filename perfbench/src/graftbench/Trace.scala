package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval of the benchmark: a call, or a layer inside it.
  * Times are epoch nanoseconds (a monotonic clock pinned to the epoch
  * once per run), so they compare with the listener's millisecond
  * job times. */
final case class Span(id: Int, parent: Int, call: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out once, when the run ends. */
final class Spans {
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = epochNs + System.nanoTime()
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  var call: Int = 0

  def apply[A](name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = nowNs
    try f
    finally {
      done += Span(id, parent, call, name, t0, nowNs)
      stack = stack.tail
    }
  }

  def all: Seq[Span] = done.toSeq

  def write(p: Path): Unit = {
    val lines = done.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"call":${s.call},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark-side record of one job, with the module its action came from. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, execId: Option[Long],
    stages: Seq[Int], siteModule: String)

final case class TaskRec(stageId: Int, durationMs: Long, cpuNs: Long,
    shuffleWrite: Long, spill: Long)

/** Listener the benchmark registers on its own session: jobs, stages,
  * tasks, and the SQL execution each job belongs to. A job's module is
  * the engine package of the first engine frame in its execution's
  * call stack: broadcast builds run on other threads and report a
  * thread-pool call site, but they carry the execution id of the
  * action that needed them. */
final class EngineListener extends SparkListener {
  private val jobStart = mutable.Map[Int, (Long, Option[Long], Seq[Int], String)]()
  val jobs = mutable.ArrayBuffer[JobRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  private val execModule = mutable.Map[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobStart(e.jobId) = (e.time, exec, e.stageIds, EngineListener.moduleOf(site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, exec, st, site) =>
      jobs += JobRec(e.jobId, t0, e.time, exec, st, site)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execModule(s.executionId) = EngineListener.moduleOf(s.details)
    }
    case _ =>
  }

  def moduleOf(j: JobRec): String = synchronized {
    j.execId.flatMap(execModule.get).getOrElse(j.siteModule)
  }
}

object EngineListener {
  /** `graft.<module>.X.method(File.scala:N)` → module; frames of the
    * benchmark itself (and of no engine code) → "harness". */
  def moduleOf(stack: String): String =
    stack.linesIterator.map(_.trim)
      .collectFirst { case l if l.startsWith("graft.") =>
        val parts = l.split("\\.")
        if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1) else "core"
      }
      .getOrElse("harness")

  val Modules: Seq[String] = Seq("osm", "tables", "spatial", "harness")
}

/** Spark activity inside one call window. */
final case class CallStats(wallS: Double, jobs: Int, stages: Int, tasks: Int,
    taskS: Double, cpuS: Double, gapS: Double, shuffleBytes: Long, spillBytes: Long,
    jobsByModule: Map[String, Int], taskSByModule: Map[String, Double],
    heaviestStageSkew: Double)

object CallStats {
  /** Jobs that started inside [t0, t1] (ms) and their tasks. */
  def of(l: EngineListener, t0Ms: Long, t1Ms: Long, cores: Int): CallStats = l.synchronized {
    val js = l.jobs.filter(j => j.startMs >= t0Ms && j.startMs <= t1Ms).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    val stageJob = js.flatMap(j => j.stages.map(_ -> j)).toMap
    val ts = l.tasks.filter(t => stageIds(t.stageId)).toSeq
    val ran = ts.map(_.stageId).toSet
    // wall with no job running: the driver-side share of the call
    val covered = union(js.map(j => (math.max(j.startMs, t0Ms), math.min(j.endMs, t1Ms))))
    val wall = (t1Ms - t0Ms) / 1e3
    val byMod = js.groupBy(l.moduleOf)
    val taskByMod = ts.groupBy(t => l.moduleOf(stageJob(t.stageId)))
      .map { case (m, v) => m -> v.map(_.durationMs).sum / 1e3 }
    // max / median task time of the stage that ran longest in total
    val heaviest = ts.groupBy(_.stageId).values.toSeq.sortBy(-_.map(_.durationMs).sum).headOption
    val skew = heaviest.map { v =>
      val d = v.map(_.durationMs.toDouble).sorted
      d.last / math.max(1.0, d(d.size / 2))
    }.getOrElse(1.0)
    CallStats(wall, js.size, ran.size, ts.size,
      ts.map(_.durationMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      math.max(0.0, wall - covered / 1e3),
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      byMod.map { case (m, v) => m -> v.size }, taskByMod, skew)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
