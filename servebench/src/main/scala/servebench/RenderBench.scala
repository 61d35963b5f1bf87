package servebench

import org.apache.spark.sql.{Row, SparkSession}
import graft.api.{HttpApi, Render}
import graft.engine.Eval
import graft.store.{SeriesStore, TimePartitionedSeriesStore}

/** The render_dashboard workload over a generated, day-partitioned series
  * store. */
final class RenderBench(env: Env) {
  import env.{seed, spark}

  // 4 dcs × 25 hosts × 5 metrics = 500 series, 2 days at a 60 s step
  val spec: Gen.SeriesSpec = Gen.SeriesSpec(seed, dcs = 4, hosts = 25,
    metrics = IndexedSeq("cpu", "mem", "disk", "net", "load"),
    t0 = 1700006400L, step = 60L, points = 2 * 1440)
  private val check = new RenderCheck(spec)
  private val DayS = 86400L

  // ------------------------------------------------------------- store

  private def writeStore(dir: String): SeriesStore = {
    val sp = spec
    val rdd = spark.sparkContext.parallelize(sp.names.indices, env.cores * 2).map { s =>
      Row(sp.names(s), Map("name" -> sp.names(s)), sp.t0, sp.step, sp.row(s).toSeq)
    }
    TimePartitionedSeriesStore.write(spark.createDataFrame(rdd, graft.core.SeriesFrame.schema), dir, DayS)
    new TimePartitionedSeriesStore(dir, DayS, Some(sp.step))
  }

  // ------------------------------------------------------------ requests

  /** One series, or the ten hosts h0x0…h0x9 of one dc and metric. */
  private def globs(i: Long): (String, String) = {
    val d = (Gen.u(seed, i, 11) * spec.dcs).toInt
    val m = Gen.pick(spec.metrics, seed, i, 12)
    val hh = (Gen.u(seed, i, 14) * spec.hosts).toInt
    val x = (Gen.u(seed, i, 15) * (spec.hosts / 10)).toInt
    (f"dc$d.h$hh%03d.$m", f"dc$d.h0$x*.$m")
  }

  private def target(shape: String, glob: String, i: Long): Target = {
    val ms = Gen.matching(spec.names, glob)
    def per(f: Option[Double => Double]) = Expect.PerSeries(ms, f)
    shape match {
      case "sum" => Target(s"sumSeries($glob)", Expect.Fold(ms, "sum", glob, None))
      case "average" => Target(s"averageSeries($glob)", Expect.Fold(ms, "average", glob, None))
      case "max" => Target(s"maxSeries($glob)", Expect.Fold(ms, "max", glob, None))
      case "scale" =>
        val c = Seq(0.5, 2.0, 2.5, 10.0)((Gen.u(seed, i, 21) * 4).toInt)
        Target(s"scale($glob,$c)", per(Some(_ * c)))
      case "movingAverage" =>
        val w = Seq("10min", "30min", "1h")((Gen.u(seed, i, 22) * 3).toInt)
        Target(s"movingAverage($glob,'$w')", per(None))
      case "highestAverage" => Target(s"highestAverage($glob,3)", Expect.Top(ms, 3))
      case "alias" => Target(s"alias(sumSeries($glob),'total')", Expect.Fold(ms, "sum", glob, Some("total")))
      case "divideSeries" =>
        val div = Gen.pick(spec.names, seed, i, 23)
        Target(s"divideSeries($glob,$div)", per(None))
    }
  }

  /** Dashboard `d`'s eight narrow panels, fixed per seed: scale and
    * divideSeries over one series, the others over ten. */
  private def panels(d: Int): Seq[Target] =
    Seq("sum", "average", "max", "scale", "movingAverage", "highestAverage", "alias", "divideSeries")
      .zipWithIndex.map { case (shape, p) =>
        val i = 100000L + d * 16 + p
        val (one, ten) = globs(i)
        target(shape, if (shape == "scale" || shape == "divideSeries") one else ten, i)
      }

  private val Dashboards = 3
  private val Window = 6 * 3600L

  /** Dashboard request `i`. Requests rotate over the seeded dashboards,
    * each refresh sliding its dashboard's 6 h window one step. Every fifth
    * request from i = 6 on repeats the URL of request i−4, i−5 or i−6
    * instead: with two clients those have finished, so the repeat is a
    * cache hit on every seed (a repeat of a request still in flight would
    * miss on some seeds and not others, and move the median with it). A
    * short run sends 8 to 11 requests, so each holds exactly one hit. The first dashboard's
    * window lies in one day partition, the second's ends past a day
    * boundary, and the third's lies in the second day, so every seed reads
    * the same partitions per request. */
  private def dash(i: Int): RenderReq = {
    val src = if (i >= 6 && Math.floorMod(i, 5) == 1) i - 4 - (Gen.u(seed, i, 42) * 3).toInt else i
    val d = Math.floorMod(src, Dashboards)
    val slides = Math.floorMod(Math.floorDiv(src, Dashboards), 240).toLong // ≤ 4 h of slide
    val jitter = (Gen.u(seed, d, 44) * 60).toLong * spec.step            // ≤ 1 h
    val until = spec.t0 + (d match {
      case 0 => Window + jitter                 // [t0, t0 + 11 h]: day 0
      case 1 => DayS + 3600L + jitter           // starts in day 0, ends in day 1
      case _ => DayS + Window + 2 * 3600L + jitter // day 1
    }) + slides * spec.step
    RenderReq(panels(d), until - Window, until, mdp = 300)
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[Int, RenderReq]()
  /** Request `i` of the measured sequence; warm-up uses negative ids. */
  private def req(i: Int): RenderReq = memo.computeIfAbsent(i, dash)

  // ------------------------------------------------------------- phases

  private var gen = 0
  private var live: Option[(HttpApi, Int, SeriesStore)] = None

  /** The first panel of the first dashboard request, alone. */
  private lazy val probe: RenderReq = { val r = req(-1); r.copy(targets = r.targets.take(1)) }

  /** Write a fresh store generation, mount a server on it and serve one
    * checked request: the first dashboard request, or with `probe` only its
    * first panel. Returns (seconds from the write to the answer, the
    * answer's `System.nanoTime`). */
  def setup(probe: Boolean = false): (Double, Long) = {
    stop()
    gen += 1
    val dir = env.work.resolve(s"store-$gen").toString
    val t0 = System.nanoTime()
    val store = writeStore(dir)
    val api = new HttpApi(spark, store, port = 0)
    val port = api.start()
    live = Some((api, port, store))
    val first = if (probe) this.probe else req(-1)
    val r = Load.timed(port, -1, first.path, rep => check(first, rep.body))
    require(r.ok, s"setup: first request failed: ${first.path}")
    val end = r.startNs + (r.latencyMs * 1e6).toLong
    ((end - t0) / 1e9, end)
  }

  def stop(): Unit = { live.foreach(_._1.stop()); live = None }

  private def port = live.get._2

  /** Untraced closed loop from request `first`, `clients` at a time. */
  def loop(clients: Int, first: Int, limit: Int, deadlineNs: Long): Seq[Load.Rec] =
    Load.closedLoop(port, clients, first, limit, deadlineNs, i => req(i).path,
      (i, r) => check(req(i), r.body))

  /** Warm-up requests (negative ids: a sequence of their own). */
  def warmup(n: Int): Unit =
    Load.closedLoop(port, 2, 0, n, Long.MaxValue, i => req(-2 - i).path,
      (i, r) => check(req(-2 - i), r.body))

  def digest(n: Int): String =
    s"store ${spec.digestString} requests=$n:${Gen.digest((0 until n).iterator.map(i => req(i).path))}"

  // --------------------------------------------------------- traced path

  /** Request `i` with every layer called directly, as HttpApi.render
    * calls them, each call wrapped in a span. Returns (latency ms, ok,
    * series returned, body bytes). */
  def traced(i: Int, tr: Tracer, ph: Phases): (Double, Boolean, Int, Long) = {
    val r = req(i)
    val store = live.get._3
    val t0 = System.nanoTime()
    var body: Array[Byte] = Array.empty
    var series = 0
    tr.span("api.request") {
      def parse(t: String) = {
        val ast = tr.span("parser.parse")(graft.parser.Parser.parse(t))
        tr.span("parser.expand")(graft.parser.Defines.expand(ast))
      }
      val base = Eval.Ctx(spark, store, r.from, r.until)
      try base.tracked {
        val leaves = r.targets.flatMap(t => Eval.fetchLeaves(parse(t.expr)))
        tr.span("engine.prefetch")(base.prefetch(leaves))
        val rows = r.targets.flatMap { t =>
          val ctx = base.copy(fetchErrors = Some(scala.collection.mutable.LinkedHashMap.empty))
          val ast = parse(t.expr)
          val df = tr.span("engine.build")(Eval.eval(ast, ctx))
          val out = tr.span("api.collect")(Render.collect(df))
          ph.record(tr, df)
          out
        }
        series = rows.size
        val cons = tr.span("api.consolidate")(Render.consolidate(rows, r.mdp,
          Render.config.nudgeStartTimeOnAggregation,
          Render.config.useBucketsHighestTimestampOnAggregation))
        body = tr.span("api.serialize")(Render.formatBytes(cons, "json"))._1
      } finally tr.span("engine.release")(base.release())
    }
    val ms = (System.nanoTime() - t0) / 1e6
    (ms, check(r, body), series, body.length.toLong)
  }
}

/** Spark's own phase times for each collected frame, summed per phase
  * and recorded as spans. */
final class Phases {
  val ms: scala.collection.mutable.Map[String, Long] =
    scala.collection.mutable.Map.empty.withDefaultValue(0L)

  def record(tr: Tracer, df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.tracker.phases.foreach { case (name, p) =>
      ms(name) += p.endTimeMs - p.startTimeMs
      tr.external(s"spark.$name", tr.request, Clock.msToNano(p.startTimeMs), Clock.msToNano(p.endTimeMs))
    }
}
