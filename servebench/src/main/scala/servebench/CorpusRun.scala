package servebench

/** Drives corpus_refresh_search: build, then one refresh → remount, then
  * a /search burst. */
object CorpusRun {
  val Clients = 2
  /** Warm-up requests after the refresh: ids -20 … -11, one block of the
    * mode mix (the first answer after a mount is id -1). */
  val Warmup = 10
  /** Requests the digest covers: a fixed prefix of the burst. */
  val DigestRequests = 100
  /** Requests the traced run sends twice, untraced and traced: one block. */
  val TracedBurst = 10

  def apply(b: CorpusBench, env: Env, trace: Boolean, report: Report): Unit =
    try { if (trace) traced(b, env, report) else untraced(b, env, report) }
    finally b.stop()

  /** One build (the costliest step of the run, so it is not repeated),
    * one refresh cycle, a ten-request warm-up, then a closed-loop /search
    * burst for the run's seconds. The number of refreshes does not depend
    * on the program's speed; a faster program sends more of the same
    * seeded request sequence. */
  private def untraced(b: CorpusBench, env: Env, report: Report): Unit = {
    val setup = env.sinceStartS(b.setup())
    val toServe = b.cycle()
    val w0 = System.nanoTime()
    b.burst(Clients, -10 - Warmup, -10, Long.MaxValue)
    val warm = (System.nanoTime() - w0) / 1e9
    val t0 = System.nanoTime()
    val recs = b.burst(Clients, 0, Int.MaxValue, t0 + env.seconds * 1000000000L)
    val elapsed = (recs.map(r => r.startNs + (r.latencyMs * 1e6).toLong).max - t0) / 1e9
    val s = Stats.summarize(recs.map(_.outcome))
    report.attempted = s.attempted
    report.failed = s.failed
    report.notes += s"inputs: ${b.digest(DigestRequests)} (${recs.size} sent)"
    report.notes += s"closed loop, $Clients clients, ${recs.size} /search requests " +
      f"in $elapsed%.2f s; highest supported percentile: " +
      s.highest.map(p => s"p$p = ${s.highestValue} ms").getOrElse("none") +
      (if (s.p90Supported) "" else " (run too short to support p90)")
    report.notes += f"error_frac ${s.errorFrac}%.6f (failed ${s.failed} of ${s.attempted})"
    report.notes += f"JVM start to first answer $setup%.2f s, refresh to serve $toServe%.2f s, warm-up $warm%.2f s"
    report.put("latency_p50_ms", s.p50, "ms")
    report.put("latency_p90_ms", s.p90, "ms")
    report.put("throughput_rps", Stats.closedLoopRps(recs.map(_.outcome), Clients), "1/s")
    report.put("peak_rss_mb", Main.peakRssMb(), "MiB")
    report.put("setup_s", setup, "s")
    report.put("refresh_to_serve_s", toServe, "s")
  }

  /** One traced cycle: the refresh and the remount as spans with listener
    * counts, then the cycle's first requests with one client, each sent
    * over HTTP untraced and through direct layer calls traced, alternating
    * which goes first. */
  private def traced(b: CorpusBench, env: Env, report: Report): Unit = {
    val spark = env.spark
    val sc = spark.sparkContext
    b.setup()
    val counters = new Counters
    val tr = new Tracer
    sc.addSparkListener(counters)
    val g0 = Main.gcMs()
    val c0 = counters.snap(sc)
    tr.request = 0
    tr.span("pipeline.refresh")(b.refresh())
    val c1 = counters.snap(sc)
    tr.counts += 0 -> (c1 - c0)
    tr.span("search.mount")(b.mount())
    var gc = Main.gcMs() - g0
    var residue = Main.residueMb(spark)
    b.pinTombstones()
    (0 until TracedBurst).foreach(b.request)
    // per mode: requests, build ms, collect ms, jobs, bytes read
    val per = scala.collection.mutable.Map.empty[String, Array[Double]]
    val plain = scala.collection.mutable.ArrayBuffer.empty[Load.Rec]
    val diff = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0
    (0 until TracedBurst).foreach { i =>
      def http(): Load.Rec = { val r = b.burst(1, i, i + 1, Long.MaxValue).head; plain += r; r }
      def direct(): Double = {
        val s0 = counters.snap(sc)
        val gcs = Main.gcMs()
        tr.request = i + 1
        val before = tr.all.size
        val (ms, ok) = b.traced(i, tr)
        val d = counters.snap(sc) - s0
        tr.counts += (i + 1) -> d
        gc += Main.gcMs() - gcs
        residue += Main.residueMb(spark)
        val mine = tr.all.drop(before)
        val a = per.getOrElseUpdate(b.request(i).mode, Array.fill(5)(0.0))
        a(0) += 1
        a(1) += Layers.spanMs(mine, "search.build")
        a(2) += Layers.spanMs(mine, "search.collect")
        a(3) += d.jobs
        a(4) += d.bytesRead
        if (!ok) failed += 1
        ms
      }
      diff += (if (i % 2 == 0) { val h = http(); direct() - h.latencyMs }
               else { val t = direct(); t - http().latencyMs })
    }
    b.releaseTombstones()
    val spans = tr.all
    tr.write(env.work)
    val r = c1 - c0
    report.attempted = plain.size + TracedBurst
    report.failed = plain.count(!_.ok) + failed
    report.notes += s"inputs: ${b.digest(TracedBurst)}"
    report.notes += s"traced 1 refresh and $TracedBurst requests; ${spans.size} spans written"
    report.put("pipeline.refresh_ms", Layers.spanMs(spans, "pipeline.refresh"), "ms")
    report.put("pipeline.refresh_jobs", r.jobs.toDouble, "count")
    report.put("pipeline.refresh_stages", r.stages.toDouble, "count")
    report.put("pipeline.refresh_bytes_written", r.bytesWritten.toDouble, "bytes")
    (Stats.Modules :+ "other").foreach(m =>
      report.put(s"pipeline.refresh_stage_ms.$m", r.stageMsByModule.getOrElse(m, 0L).toDouble, "ms"))
    report.put("search.mount_ms", Layers.spanMs(spans, "search.mount"), "ms")
    report.put("pipeline.artifact_bytes_per_corpus_byte", b.artifactBytes.toDouble / b.corpusBytes, "ratio")
    b.Modes.foreach { m =>
      val a = per.getOrElse(m, Array.fill(5)(0.0))
      val n = math.max(a(0), 1.0)
      report.put(s"search.build_ms.$m", a(1) / n, "ms")
      report.put(s"search.collect_ms.$m", a(2) / n, "ms")
      report.put(s"search.jobs.$m", a(3) / n, "count")
      report.put(s"search.bytes_read.$m", a(4) / n, "bytes")
    }
    val n = TracedBurst + 1 // the refresh counts as one unit of work
    report.put("exec.gc_ms", gc.toDouble / n, "ms")
    report.put("spark.block_residue_mb", residue / n, "MiB")
    Layers.selfMs(spans, 1, Seq("pipeline"), report)
    Layers.selfMs(spans, TracedBurst, Seq("search"), report)
    report.put("trace.overhead_ms", Stats.median(diff.toSeq), "ms")
  }
}
