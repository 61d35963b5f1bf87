package servebench

/** Drives one /render workload: the untraced end-to-end run, or the
  * traced per-layer run. */
object RenderRun {
  val Clients = 2
  val Warmup = 2
  /** Re-ingests per untraced run after the set-up: each writes a fresh
    * store generation, remounts and serves one panel. */
  val Reingests = 3
  /** Requests the input digest covers: a fixed prefix of the sequence, so
    * two runs of one seed print the same digest however many they send. */
  val DigestRequests = 100
  /** Requests the traced run sends at least, however short the run: the
    * sequence's first cache hit is request 6. */
  val TracedMin = 7

  def apply(b: RenderBench, env: Env, trace: Boolean, report: Report): Unit =
    try { if (trace) traced(b, env, report) else untraced(b, env, report) }
    finally b.stop()

  private def untraced(b: RenderBench, env: Env, report: Report): Unit = {
    val (cold, ready) = b.setup()
    val reingest = (1 to Reingests).map(_ => b.setup(probe = true)._1)
    val w0 = System.nanoTime()
    b.warmup(Warmup)
    val t0 = System.nanoTime()
    val recs = b.loop(Clients, 0, Int.MaxValue, t0 + env.seconds * 1000000000L)
    val elapsed = (recs.map(r => r.startNs + (r.latencyMs * 1e6).toLong).max - t0) / 1e9
    val s = Stats.summarize(recs.map(_.outcome))
    report.attempted = s.attempted
    report.failed = s.failed
    report.notes += s"inputs: ${b.digest(DigestRequests)} (${recs.size} sent)"
    report.notes += s"closed loop, $Clients clients, ${recs.size} requests in ${"%.2f".format(elapsed)} s; " +
      s"highest supported percentile: ${s.highest.map(p => s"p$p = ${s.highestValue} ms").getOrElse("none")}" +
      (if (s.p90Supported) "" else " (run too short to support p90)")
    report.notes += f"error_frac ${s.errorFrac}%.6f (failed ${s.failed} of ${s.attempted})"
    report.notes += f"set-up: write to first answer $cold%.2f s; re-ingests " +
      reingest.map(x => f"$x%.2f").mkString(" ") + f" s; warm-up ${(t0 - w0) / 1e9}%.2f s"
    report.put("latency_p50_ms", s.p50, "ms")
    report.put("latency_p90_ms", s.p90, "ms")
    report.put("throughput_rps", Stats.closedLoopRps(recs.map(_.outcome), Clients), "1/s")
    report.put("peak_rss_mb", Main.peakRssMb(), "MiB")
    report.put("setup_s", env.sinceStartS(ready), "s")
    report.put("refresh_to_serve_s", Stats.median(reingest), "s")
  }

  /** One client sends each request twice, over HTTP untraced and with
    * each layer called directly and traced, alternating which goes first.
    * Per-layer figures are means per request of the traced calls; the
    * tracing overhead is the median paired difference over requests the
    * HTTP cache did not answer. */
  private def traced(b: RenderBench, env: Env, report: Report): Unit = {
    val spark = env.spark
    val sc = spark.sparkContext
    b.setup()
    b.warmup(Warmup)
    val counters = new Counters
    sc.addSparkListener(counters)
    val tr = new Tracer
    val ph = new Phases
    val plain = scala.collection.mutable.ArrayBuffer.empty[Load.Rec]
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var d = Counters.zero
    var series, bytes, gc = 0L
    var residue = 0.0
    var failed = 0
    val deadline = System.nanoTime() + env.seconds * 1000000000L
    var i = 0
    while (i < TracedMin || System.nanoTime() < deadline) {
      def http(): Unit = plain ++= b.loop(1, i, i + 1, Long.MaxValue)
      def direct(): Unit = {
        tr.request = i
        sc.setLocalProperty(Counters.RequestKey, i.toString)
        val s0 = counters.snap(sc)
        val g0 = Main.gcMs()
        val (ms, ok, n, len) = b.traced(i, tr, ph)
        gc += Main.gcMs() - g0
        val di = counters.snap(sc) - s0
        tr.counts += i -> di
        d = d + di
        sc.setLocalProperty(Counters.RequestKey, null)
        counters.jobsOf(i).foreach(j =>
          tr.external("exec.job", i, Clock.msToNano(j.startMs), Clock.msToNano(j.endMs)))
        residue += Main.residueMb(spark)
        lat += ms; series += n; bytes += len
        if (!ok) failed += 1
      }
      if (i % 2 == 0) { http(); direct() } else { direct(); http() }
      i += 1
    }
    val n = i
    val spans = tr.all
    tr.write(env.work)
    report.attempted = plain.size + n
    report.failed = plain.count(!_.ok) + failed
    report.notes += s"inputs: ${b.digest(DigestRequests)} ($n sent)"
    report.notes += s"traced $n requests, each also sent untraced over HTTP; ${spans.size} spans written"

    val jobs = spans.filter(_.name == "exec.job")
    val (collectJobs, eagerJobs) = jobs.partition(j => Stats.ancestry(spans, j).contains("api.collect"))
    val miss = plain.filterNot(_.cached)
    val overhead =
      if (miss.isEmpty) Double.NaN else Stats.median(miss.map(r => lat(r.index) - r.latencyMs).toSeq)
    report.put("parser.parse_ms", (Layers.spanMs(spans, "parser.parse") + Layers.spanMs(spans, "parser.expand")) / n, "ms")
    report.put("engine.prefetch_ms", Layers.selfOf(spans, "engine.prefetch") / n, "ms")
    report.put("engine.build_ms", Layers.selfOf(spans, "engine.build") / n, "ms")
    report.put("engine.eager_jobs", eagerJobs.size.toDouble / n, "count")
    report.put("spark.analysis_ms", ph.ms("analysis").toDouble / n, "ms")
    report.put("spark.optimization_ms", ph.ms("optimization").toDouble / n, "ms")
    report.put("spark.planning_ms", ph.ms("planning").toDouble / n, "ms")
    report.put("api.cache_hit_ratio", plain.count(_.cached).toDouble / math.max(plain.size, 1), "ratio")
    report.put("store.bytes_read", d.bytesRead.toDouble / n, "bytes")
    report.put("store.rows_read", d.rowsRead.toDouble / n, "count")
    report.put("store.rows_read_per_series_returned", d.rowsRead.toDouble / math.max(series, 1), "ratio")
    report.put("exec.collect_ms", collectJobs.map(_.durNs).sum / 1e6 / n, "ms")
    report.put("exec.task_run_ms", d.runMs.toDouble / n, "ms")
    report.put("exec.task_cpu_ms", d.cpuMs / n, "ms")
    report.put("exec.shuffle_read_bytes", d.shuffleRead.toDouble / n, "bytes")
    report.put("exec.shuffle_write_bytes", d.shuffleWrite.toDouble / n, "bytes")
    report.put("exec.jobs", d.jobs.toDouble / n, "count")
    report.put("exec.stages", d.stages.toDouble / n, "count")
    report.put("exec.tasks", d.tasks.toDouble / n, "count")
    report.put("exec.gc_ms", gc.toDouble / n, "ms")
    report.put("api.consolidate_ms", Layers.spanMs(spans, "api.consolidate") / n, "ms")
    report.put("api.serialize_ms", Layers.spanMs(spans, "api.serialize") / n, "ms")
    report.put("api.response_bytes", bytes.toDouble / n, "bytes")
    report.put("spark.block_residue_mb", residue / n, "MiB")
    Layers.selfMs(spans, n, Seq("parser", "engine", "spark", "exec", "api"), report)
    report.put("trace.overhead_ms", overhead, "ms")
  }
}
