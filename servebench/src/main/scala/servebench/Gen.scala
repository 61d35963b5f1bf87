package servebench

/** Seeded inputs. Every value is a pure function of (seed, index), so the
  * store can be generated inside Spark tasks and the output checks can
  * recompute any point without reading the store back. */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed ^ 0x5bd1e995L) + a) + b * 0x632be59bd9b4e019L + c)

  /** Uniform in [0, 1). */
  def u(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Double =
    (h(seed, a, b, c) >>> 11).toDouble / (1L << 53).toDouble

  def pick[A](xs: IndexedSeq[A], seed: Long, a: Long, b: Long = 0L, c: Long = 0L): A =
    xs((u(seed, a, b, c) * xs.size).toInt)

  /** A dependency-free order-independent-enough digest of strings. */
  def digest(xs: Iterator[String]): String = {
    var acc = 0x12345L
    xs.foreach(s => acc = mix(acc ^ s.hashCode.toLong) + s.length)
    f"${acc}%016x"
  }

  // ------------------------------------------------------------ series

  /** Layout of the generated series store: `dc<d>.h<hhh>.<metric>`,
    * `points` samples at `step` seconds from `t0`. */
  final case class SeriesSpec(seed: Long, dcs: Int, hosts: Int,
                              metrics: IndexedSeq[String], t0: Long,
                              step: Long, points: Int) {
    val names: IndexedSeq[String] =
      for (d <- 0 until dcs; hh <- 0 until hosts; m <- metrics)
        yield f"dc$d.h$hh%03d.$m"
    val index: Map[String, Int] = names.zipWithIndex.toMap
    def end: Long = t0 + points * step

    /** Value of series `s` at point `i`: a per-series level and daily
      * cycle plus hashed noise, rounded to 1e-3 (no NaNs: the checks fold
      * plain arrays). */
    def value(s: Int, i: Int): Double = {
      val level = 10.0 + 90.0 * u(seed, s, 1)
      val amp = 5.0 + 20.0 * u(seed, s, 2)
      val phase = 2 * math.Pi * u(seed, s, 3)
      val noise = 4.0 * (u(seed, s, 4, i) - 0.5)
      val v = level + amp * math.sin(2 * math.Pi * i * step / 86400.0 + phase) + noise
      math.rint(v * 1000) / 1000
    }

    def row(s: Int): Array[Double] = Array.tabulate(points)(value(s, _))

    def digestString: String =
      s"series=${names.size} points=${names.size.toLong * points} " +
        s"names=${digest(names.iterator)}"
  }

  // --------------------------------------------------------------- glob

  /** Graphite glob → regex, written independently of the engine's own
    * matcher: `*` and `?` stay inside one segment, `[..]` is a class,
    * `{a,b}` an alternation. */
  def globRegex(glob: String): scala.util.matching.Regex = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob(i) match {
        case '*' => sb ++= "[^.]*"
        case '?' => sb ++= "[^.]"
        case '[' =>
          val j = glob.indexOf(']', i)
          sb ++= glob.substring(i, j + 1); i = j
        case '{' =>
          val j = glob.indexOf('}', i)
          sb ++= glob.substring(i + 1, j).split(",")
            .map(java.util.regex.Pattern.quote).mkString("(?:", "|", ")")
          i = j
        case c => sb ++= java.util.regex.Pattern.quote(c.toString)
      }
      i += 1
    }
    (sb += '$').toString.r
  }

  def matching(names: IndexedSeq[String], glob: String): IndexedSeq[String] = {
    val re = globRegex(glob)
    names.filter(n => re.findFirstIn(n).isDefined)
  }

  // ------------------------------------------------------------- corpus

  /** Word list: syllable compounds, lowercase letters only, so every
    * tokenizer splitting on whitespace agrees on the terms. */
  val Vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zen",
      "pa", "shi", "dor", "gel", "bri", "qua", "fen", "mox")
    for (a <- syl; b <- syl) yield a + b
  }

  /** Zipf-like word pick: low ranks dominate. */
  def word(seed: Long, a: Long, b: Long): String = {
    val x = u(seed, a, b, 77)
    Vocab((math.pow(x, 2.2) * Vocab.size).toInt)
  }

  def docText(seed: Long, id: Long, rev: Int): String = {
    val n = 20 + (u(seed, id, rev, 5) * 60).toInt
    (0 until n).map(i => word(seed, id * 131 + rev, i)).mkString(" ")
  }

  val Dim = 64

  def embedding(seed: Long, id: Long, rev: Int): Array[Float] =
    Array.tabulate(Dim)(i => (u(seed, id * 977 + rev, i, 9) * 2 - 1).toFloat)
}
