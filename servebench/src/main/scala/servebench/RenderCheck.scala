package servebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** What one /render target must return, computed from the generator
  * alone (never from the engine). */
sealed trait Expect { def count: Int }
object Expect {
  /** One output series per matched input, in any order; values, when
    * `f` is given, are `f(raw)` point by point. */
  final case class PerSeries(matched: IndexedSeq[String], f: Option[Double => Double])
      extends Expect { def count: Int = matched.size }
  /** One series folding the matched inputs with `op`; its name is
    * `name` when given, else it must mention `glob`. */
  final case class Fold(matched: IndexedSeq[String], op: String, glob: String,
                        name: Option[String]) extends Expect { def count = 1 }
  /** highestAverage(…, n): the `n` matched series with the highest
    * window average (worked out at check time, off the clock). */
  final case class Top(matched: IndexedSeq[String], n: Int) extends Expect {
    def count: Int = math.min(n, matched.size)
  }
}

final case class Target(expr: String, expect: Expect)

/** One /render request: targets over [from, until), optional
  * maxDataPoints. */
final case class RenderReq(targets: Seq[Target], from: Long, until: Long, mdp: Int) {
  def path: String = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val ts = targets.map(t => "target=" + enc(t.expr)).mkString("&")
    s"/render?format=json&from=$from&until=$until" +
      (if (mdp > 0) s"&maxDataPoints=$mdp" else "") + "&" + ts
  }
}

/** Checks a /render JSON body against the requests' expectations. */
final class RenderCheck(spec: Gen.SeriesSpec) {
  private val mapper = new ObjectMapper()
  private val BaseName = """dc\d+\.h\d{3}\.[a-z]+""".r
  private val Tol = 1e-6

  private lazy val matrix: Array[Array[Double]] =
    Array.tabulate(spec.names.size)(spec.row)

  private def raw(name: String, ts: Long): Double = {
    val off = ts - spec.t0
    require(off % spec.step == 0, s"timestamp $ts off the step grid")
    val i = (off / spec.step).toInt
    require(i >= 0 && i < spec.points, s"timestamp $ts outside the store")
    matrix(spec.index(name))(i)
  }

  private def fold(op: String, xs: Seq[Double]): Double = op match {
    case "sum" => xs.sum
    case "average" => xs.sum / xs.size
    case "max" => xs.max
  }

  /** Points each output series must carry over the window. */
  private def expectedVpp(req: RenderReq): Int = {
    val n = ((req.until - req.from) / spec.step).toInt
    if (req.mdp > 0 && n > req.mdp) math.ceil(n.toDouble / req.mdp).toInt else 1
  }

  /** The consolidated value at `ts`: the average of the raw expectation
    * over the bucket starting there, clipped to the window. */
  private def pointOk(req: RenderReq, vpp: Int, ts: Long, got: JsonNode,
                      rawAt: Long => Double): Boolean = {
    val ts0 = (0 until vpp).map(j => ts + j * spec.step).filter(_ < req.until)
    val want = ts0.map(rawAt).sum / ts0.size
    !got.isNull && math.abs(got.asDouble - want) <= Tol * math.max(1.0, math.abs(want))
  }

  private def valuesOk(req: RenderReq, s: JsonNode, rawAt: Long => Double): Boolean = {
    val vpp = expectedVpp(req)
    val dps = s.get("datapoints").elements().asScala.toSeq
    val n = ((req.until - req.from) / spec.step).toInt
    dps.size == math.ceil(n.toDouble / vpp).toInt &&
      dps.forall { dp =>
        val ts = dp.get(1).asLong
        ts >= req.from && ts < req.until && pointOk(req, vpp, ts, dp.get(0), rawAt)
      }
  }

  private def windowRaw(name: String, req: RenderReq): Seq[Double] =
    (req.from until req.until by spec.step).map(raw(name, _))

  /** Names and values of one target's slice of the response. */
  private def targetOk(req: RenderReq, t: Target, ss: Seq[JsonNode]): Boolean = {
    def name(s: JsonNode) = s.get("target").asText
    def base(s: JsonNode) = BaseName.findFirstIn(name(s)).getOrElse("")
    t.expect match {
      case Expect.PerSeries(matched, f) =>
        ss.map(base).sorted == matched.sorted &&
          f.forall(g => ss.forall(s => valuesOk(req, s, ts => g(raw(base(s), ts)))))
      case Expect.Fold(matched, op, glob, nm) =>
        val s = ss.head
        nm.fold(name(s).contains(glob))(_ == name(s)) &&
          valuesOk(req, s, ts => fold(op, matched.map(raw(_, ts))))
      case Expect.Top(matched, n) =>
        ss.map(base).sorted == highestAverage(matched, req, n).sorted
    }
  }

  /** Whole-body check: series count per target, then each target. */
  def apply(req: RenderReq, body: Array[Byte]): Boolean = {
    val all = mapper.readTree(body).elements().asScala.toIndexedSeq
    req.targets.map(_.expect.count).sum == all.size && {
      var off = 0
      req.targets.forall { t =>
        val ss = all.slice(off, off + t.expect.count)
        off += t.expect.count
        targetOk(req, t, ss)
      }
    }
  }

  /** Series whose window average ranks in the top `n`. */
  def highestAverage(matched: IndexedSeq[String], req: RenderReq, n: Int): IndexedSeq[String] =
    matched.map(m => m -> { val w = windowRaw(m, req); w.sum / w.size })
      .sortBy(-_._2).take(n).map(_._1)
}
