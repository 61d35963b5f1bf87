package servebench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-listener counters, summed over every finished stage and job.
  * Installed only in the traced run. */
final class Counters extends SparkListener {
  import Counters._

  private var s = zero
  private val jobStarts = mutable.Map.empty[Int, (Int, Long)]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val execModule = mutable.Map.empty[Long, String]
  private val stageExec = mutable.Map.empty[Int, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execModule(x.executionId) = Stats.moduleOf(x.description, x.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.RequestKey)))
      .map(_.toInt).getOrElse(-1)
    jobStarts(e.jobId) = (req, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => e.stageIds.foreach(stageExec(_) = x.toLong))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (req, t0) => jobs += Job(e.jobId, req, t0, e.time) }
    s = s.copy(jobs = s.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val ms = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
    // a stage run from Spark's own threads (a broadcast build) names no
    // caller; it takes the module of the SQL execution it serves
    val mod = Stats.moduleOf(i.name, i.details) match {
      case "other" => stageExec.get(i.stageId).flatMap(execModule.get).getOrElse("other")
      case m => m
    }
    s = s.copy(
      stages = s.stages + 1,
      tasks = s.tasks + i.numTasks,
      runMs = s.runMs + (if (m == null) 0L else m.executorRunTime),
      cpuMs = s.cpuMs + (if (m == null) 0.0 else m.executorCpuTime / 1e6),
      bytesRead = s.bytesRead + (if (m == null) 0L else m.inputMetrics.bytesRead),
      rowsRead = s.rowsRead + (if (m == null) 0L else m.inputMetrics.recordsRead),
      bytesWritten = s.bytesWritten + (if (m == null) 0L else m.outputMetrics.bytesWritten),
      shuffleRead = s.shuffleRead + (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      shuffleWrite = s.shuffleWrite + (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      stageMsByModule = s.stageMsByModule.updated(mod, s.stageMsByModule.getOrElse(mod, 0L) + ms))
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(sc: SparkContext): Snap = {
    org.apache.spark.ServebenchBus.drain(sc)
    synchronized(s)
  }

  def jobsOf(request: Int): Seq[Job] = synchronized(jobs.filter(_.request == request).toSeq)
}

object Counters {
  val RequestKey = "servebench.request"

  final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                        cpuMs: Double, bytesRead: Long, rowsRead: Long,
                        bytesWritten: Long, shuffleRead: Long,
                        shuffleWrite: Long, stageMsByModule: Map[String, Long]) {
    def -(o: Snap): Snap = this + o.scaled(-1)
    def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, runMs + o.runMs, cpuMs + o.cpuMs,
      bytesRead + o.bytesRead, rowsRead + o.rowsRead,
      bytesWritten + o.bytesWritten, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite,
      (stageMsByModule.keySet ++ o.stageMsByModule.keySet).map(k =>
        k -> (stageMsByModule.getOrElse(k, 0L) + o.stageMsByModule.getOrElse(k, 0L))).toMap)
    private def scaled(f: Long): Snap = Snap(jobs * f, stages * f, tasks * f, runMs * f,
      cpuMs * f, bytesRead * f, rowsRead * f, bytesWritten * f, shuffleRead * f,
      shuffleWrite * f, stageMsByModule.map { case (k, v) => k -> v * f })
  }

  val zero: Snap = Snap(0, 0, 0, 0, 0.0, 0, 0, 0, 0, 0, Map.empty)

  /** (job id, request tag, start ms, end ms) for jobs that ended. */
  final case class Job(id: Int, request: Int, startMs: Long, endMs: Long)
}

/** In-memory span recorder for the traced run: one thread records at a
  * time, and everything is written out once the run ends. */
final class Tracer {
  private val nextId = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Stats.Span]
  private val stack = mutable.Stack.empty[Int]
  @volatile var request: Int = -1

  def span[A](name: String)(body: => A): A = {
    val id = nextId.getAndIncrement()
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      synchronized(spans += Stats.Span(id, parent, request, name, t0, t1))
    }
  }

  /** A span measured elsewhere at millisecond grain (a Spark job, a query
    * phase), placed under the innermost recorded span of `request` that
    * holds its midpoint and clipped to that span. */
  def external(name: String, request: Int, startNs: Long, endNs: Long): Unit = synchronized {
    val parent = Stats.enclosing(spans.toSeq, request, startNs / 2 + endNs / 2)
    val (a, b) = parent.fold((startNs, endNs))(p =>
      (math.max(startNs, p.startNs), math.min(endNs, p.endNs)))
    spans += Stats.Span(nextId.getAndIncrement(), parent.map(_.id).getOrElse(-1),
      request, name, a, math.max(a, b))
  }

  def all: Seq[Stats.Span] = synchronized(spans.toSeq)

  /** Spark-listener counts per traced request (or refresh). */
  val counts: mutable.ArrayBuffer[(Int, Counters.Snap)] = mutable.ArrayBuffer.empty

  /** Spans as JSON lines (id, parent, request, name, start, end) to
    * `spans.jsonl`, and the per-request listener counts to `counts.jsonl`,
    * both under `dir`. */
  def write(dir: java.nio.file.Path): Unit = {
    def out(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    out("spans.jsonl", all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""))
    out("counts.jsonl", counts.toSeq.map { case (r, c) =>
      val mods = c.stageMsByModule.toSeq.sorted.map { case (m, ms) => s""""$m":$ms""" }
      s"""{"request":$r,"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_run_ms":${c.runMs},"task_cpu_ms":${c.cpuMs},"bytes_read":${c.bytesRead},""" +
        s""""rows_read":${c.rowsRead},"bytes_written":${c.bytesWritten},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""stage_ms":{${mods.mkString(",")}}}"""
    })
  }
}

/** Wall clock ↔ nanoTime, for placing listener times (epoch ms) among
  * spans (nanoTime). */
object Clock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def msToNano(ms: Long): Long = nano0 + (ms - wall0) * 1000000L
}
