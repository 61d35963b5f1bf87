package servebench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Shared run settings. `work` is the run's scratch directory. */
final case class Env(spark: SparkSession, seed: Long, seconds: Int,
                     work: java.nio.file.Path, cores: Int) {
  /** Seconds from JVM start to the `System.nanoTime` instant `atNs`. */
  def sinceStartS(atNs: Long): Double = {
    val atMs = System.currentTimeMillis() - (System.nanoTime() - atNs) / 1000000
    (atMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  }
}

/** Metric table of one run, printed by name and unit, then as the final
  * JSON line. */
final class Report {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  var attempted = 0
  var failed = 0
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private def num(v: Double): String =
    if (v.isNaN) "null"
    else if (v.isInfinite) "1e12" // a failed tail counts as missing any limit
    else v.toString

  def print(): Unit = {
    notes.foreach(n => println(s"# $n"))
    metrics.foreach { case (k, (v, u)) => println(f"$k%-48s ${num(v)}%s $u") }
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }
}

object Main {

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Block-manager storage (memory + disk) still held by cached RDDs. */
  def residueMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = java.nio.file.Paths.get(opts("work")).toAbsolutePath
    val cores = opts.get("cores").map(_.toInt).getOrElse(4)
    java.nio.file.Files.createDirectories(work)
    val spark = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sparkReady = (System.currentTimeMillis() - jvmStart) / 1000.0
    val env = Env(spark, seed, seconds, work, cores)
    val report = new Report
    report.notes += s"host: nproc=${Runtime.getRuntime.availableProcessors} local[$cores] " +
      s"-Xmx=${Runtime.getRuntime.maxMemory / 1048576}m workload=$workload seed=$seed " +
      s"seconds=$seconds trace=${if (trace) 1 else 0}"
    try {
      workload match {
        case "render_dashboard" => RenderRun(new RenderBench(env), env, trace, report)
        case "corpus_refresh_search" => CorpusRun(new CorpusBench(env), env, trace, report)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      if (trace) PerLayer.fill(report)
      report.notes += f"timing: JVM start to Spark ready $sparkReady%.1f s, to report ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s"
      report.print()
    } finally spark.stop()
  }
}

/** Shared per-layer arithmetic for the traced runs. */
object Layers {
  /** Per-layer self time (ms per request) from the recorded spans. */
  def selfMs(spans: Seq[Stats.Span], n: Int, layers: Seq[String], report: Report): Unit = {
    val by = Stats.selfByLayer(spans)
    layers.foreach(l => report.put(s"self.${l}_ms", by.getOrElse(l, 0L) / 1e6 / n, "ms"))
  }

  def spanMs(spans: Seq[Stats.Span], name: String): Double =
    spans.filter(_.name == name).map(_.durNs).sum / 1e6

  def selfOf(spans: Seq[Stats.Span], name: String): Double = {
    val st = Stats.selfTimes(spans)
    spans.filter(_.name == name).map(s => st(s.id)).sum / 1e6
  }
}

/** Every per-layer metric, with its unit. A traced run prints all of
  * them; a layer the workload does not reach reads 0. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "parser.parse_ms" -> "ms", "engine.prefetch_ms" -> "ms", "engine.build_ms" -> "ms",
    "engine.eager_jobs" -> "count", "spark.analysis_ms" -> "ms",
    "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "api.cache_hit_ratio" -> "ratio", "store.bytes_read" -> "bytes",
    "store.rows_read" -> "count", "store.rows_read_per_series_returned" -> "ratio",
    "exec.collect_ms" -> "ms", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.gc_ms" -> "ms", "api.consolidate_ms" -> "ms", "api.serialize_ms" -> "ms",
    "api.response_bytes" -> "bytes", "spark.block_residue_mb" -> "MiB",
    "pipeline.refresh_ms" -> "ms", "pipeline.refresh_jobs" -> "count",
    "pipeline.refresh_stages" -> "count", "pipeline.refresh_bytes_written" -> "bytes") ++
    (Stats.Modules :+ "other").map(m => s"pipeline.refresh_stage_ms.$m" -> "ms") ++
    Seq("search.mount_ms" -> "ms", "pipeline.artifact_bytes_per_corpus_byte" -> "ratio") ++
    Seq("bm25", "phrase", "complete", "hybrid", "bulk").flatMap(m => Seq(
      s"search.build_ms.$m" -> "ms", s"search.collect_ms.$m" -> "ms",
      s"search.jobs.$m" -> "count", s"search.bytes_read.$m" -> "bytes")) ++
    Seq("parser", "engine", "spark", "exec", "api", "pipeline", "search")
      .map(l => s"self.${l}_ms" -> "ms") ++
    Seq("trace.overhead_ms" -> "ms")

  def fill(r: Report): Unit = {
    val extra = r.metrics.keySet -- all.map(_._1)
    require(extra.isEmpty, s"per-layer metrics missing from the list: $extra")
    val have = r.metrics.clone()
    r.metrics.clear()
    all.foreach { case (k, u) => r.metrics(k) = have.getOrElse(k, (0.0, u)) }
  }
}
