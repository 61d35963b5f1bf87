package servebench

/** The benchmark's pure arithmetic: percentiles, failure accounting,
  * span self time and call-site attribution. No Spark, no I/O — the
  * benchmark's own tests cover every function here. */
object Stats {

  /** Percentiles the report may state, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 99.0, 99.9)

  /** Samples a percentile must have strictly beyond it to be reported. */
  val MinBeyond = 10

  /** Nearest rank of percentile `p` among `n` samples, ceil(p·n/100), in
    * integer arithmetic on tenths of a percent (0.999 · 10000 is not
    * 9990 in floating point). */
  def rank(n: Int, p: Double): Int = {
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val tenths = math.round(p * 10)
    ((tenths * n + 999) / 1000).toInt
  }

  /** Nearest-rank percentile of `xs` (unsorted is fine). A failed request
    * enters as +Infinity, so it counts as missing any latency limit. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(math.max(0, rank(xs.size, p) - 1))
  }

  /** Samples strictly above the nearest-rank position of `p` among `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * beyond it, or None when even the median is unsupported. */
  def highestSupported(n: Int): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= MinBeyond).lastOption

  /** Whether `n` samples support a p90 (the end-to-end tail metric). */
  def supportsP90(n: Int): Boolean = beyond(n, 90.0) >= MinBeyond

  /** One request's outcome: latency in ms, and whether its body passed
    * the output checks (a transport error, a non-200 or a wrong body all
    * count as failed). */
  final case class Outcome(latencyMs: Double, ok: Boolean)

  /** Aggregate over one measured phase. */
  final case class Summary(attempted: Int, failed: Int, p50: Double,
                           p90: Double, p90Supported: Boolean,
                           highest: Option[Double], highestValue: Double) {
    def errorFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  /** Latency samples for the percentiles: failures become +Infinity. */
  def latencies(os: Seq[Outcome]): Seq[Double] =
    os.map(o => if (o.ok) o.latencyMs else Double.PositiveInfinity)

  def summarize(os: Seq[Outcome]): Summary = {
    require(os.nonEmpty, "no requests completed")
    val ls = latencies(os)
    val hi = highestSupported(ls.size)
    Summary(os.size, os.count(!_.ok), percentile(ls, 50), percentile(ls, 90),
      supportsP90(ls.size), hi, hi.map(percentile(ls, _)).getOrElse(Double.NaN))
  }

  /** Closed-loop throughput: passing requests per second of client time,
    * times the number of clients. While every client is busy this is the
    * completed-request rate, without the rounding of counting whole
    * requests inside a short window. A failed request's time counts as
    * busy; the request does not count as completed. */
  def closedLoopRps(os: Seq[Outcome], clients: Int): Double =
    clients * os.count(_.ok) / (os.map(_.latencyMs).sum / 1000)

  /** A recorded span: `parent` is -1 for a request's root. */
  final case class Span(id: Int, parent: Int, request: Int, name: String,
                        startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
    def layer: String = name.takeWhile(_ != '.')
  }

  /** Total length of the union of intervals, each clipped to [lo, hi). */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(cs, s.startNs, s.endNs))
    }.toMap
  }

  /** Self time summed per layer (the span name's first dotted segment). */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val st = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => st(s.id)).sum }
  }

  /** Innermost span of `request` whose interval holds instant `t`, if
    * any — the parent for a span recorded from outside (a Spark job). */
  def enclosing(spans: Seq[Span], request: Int, t: Long): Option[Span] =
    spans.filter(s => s.request == request && s.startNs <= t && t <= s.endNs)
      .sortBy(_.durNs).headOption

  /** Names of `s` and its ancestors, innermost first. */
  def ancestry(spans: Seq[Span], s: Span): List[String] = {
    val byId = spans.map(x => x.id -> x).toMap
    Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent)))
      .takeWhile(_.isDefined).map(_.get.name).toList
  }

  /** Pipeline modules a refresh's stages are grouped by. */
  val Modules: Seq[String] =
    Seq("TextStats", "PairMaintenance", "Similarity", "Quantize", "Dedup", "Refresh")

  private val ShortSite = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r
  private val FrameFile = """\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r

  /** Module of a Spark stage from its call site: the source file named in
    * the short site ("parquet at Refresh.scala:212"), else the first
    * pipeline frame of the long form; "other" when neither names one. */
  def moduleOf(shortSite: String, details: String = ""): String = {
    def known(f: String) = Modules.contains(f)
    ShortSite.findFirstMatchIn(Option(shortSite).getOrElse("")).map(_.group(1))
      .filter(known)
      .orElse(FrameFile.findAllMatchIn(Option(details).getOrElse(""))
        .map(_.group(1)).find(known))
      .getOrElse("other")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
