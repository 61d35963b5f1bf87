package servebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, desc}
import org.apache.spark.sql.types._
import graft.api.SearchApi
import graft.pipeline.{Refresh, Similarity, TextStats}

/** One /search request. `queries` holds one term list per query (several
  * for bulk; a phrase is its one list); `prefix` serves completion and
  * `vec` the hybrid mode. */
final case class SearchReq(mode: String, queries: Seq[Seq[String]], prefix: String,
                           vec: Array[Float], k: Int) {
  def path: String = {
    def plus(ts: Seq[String]) = ts.mkString("+")
    mode match {
      case "bm25" => s"/search?q=${plus(queries.head)}&k=$k"
      case "phrase" => s"/search?phrase=${plus(queries.head)}&k=$k"
      case "complete" => s"/search?complete=$prefix&k=$k"
      case "hybrid" => s"/search?q=${plus(queries.head)}&mode=hybrid&k=$k&vec=" + vec.mkString(",")
      case "bulk" => s"/search?bulk=${queries.map(plus).mkString("%3B")}&k=$k"
    }
  }
}

/** A /search answer reduced to what the checks read: doc ids per query,
  * or (term, df) pairs for completion. */
final case class SearchOut(docs: Seq[Seq[Long]], terms: Seq[(String, Long)])

/** One document of the benchmark's corpus model. */
private final case class Doc(words: IndexedSeq[String], vec: Array[Float]) {
  lazy val set: Set[String] = words.toSet
  def text: String = words.mkString(" ")
  def has(phrase: Seq[String]): Boolean = words.sliding(phrase.size).exists(_ == phrase)
}

/** Corpus refresh + /search over a generated, seeded corpus. The
  * benchmark keeps its own model of the corpus (doc id → words,
  * embedding) and checks every answer against it. */
final class CorpusBench(env: Env) {
  import env.{seed, spark}

  val Docs = 300
  val Edits = 12
  val Adds = 6
  val Removes = 6
  val Modes = IndexedSeq("bm25", "phrase", "complete", "hybrid", "bulk")

  private val model = mutable.TreeMap.empty[Long, Doc]
  private var nextId = 0L
  private var cycleNo = 0
  private var gen = 0
  private var root: Refresh.CorpusArtifacts = _
  private var server: Option[(SearchApi, Int)] = None
  private val mapper = new ObjectMapper()

  private def doc(id: Long, rev: Int) =
    Doc(Gen.docText(seed, id, rev).split(' ').toIndexedSeq, Gen.embedding(seed, id, rev))

  private val embSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))

  private def frame(docs: Seq[(Long, Doc)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (id, d) => Row(id, d.text, d.vec.toSeq) }, env.cores),
      embSchema)

  def corpusBytes: Long = model.values.map(d => d.text.length.toLong + 4L * d.vec.length).sum

  def artifactBytes: Long = {
    val p = java.nio.file.Paths.get(root.root)
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }

  def digest(n: Int): String =
    s"corpus docs=${model.size} bytes=$corpusBytes " +
      s"ids=${Gen.digest(model.keysIterator.map(_.toString))} " +
      s"text=${Gen.digest(model.valuesIterator.map(_.text))} requests=$n:" +
      Gen.digest((0 until n).iterator.map(i => request(i).path))

  // ------------------------------------------------------------ lifecycle

  /** Mount a server over the current artifacts; tombstones are passed and
    * the response cache is off. */
  def mount(): Int = {
    stop()
    val api = new SearchApi(spark, root.termIndexDir, root.ivfPath, port = 0,
      termTombstonesPath = Some(root.termTombstonesPath),
      ivfTombstonesPath = Some(root.ivfTombstonesPath), cacheTtlSec = 0)
    val port = api.start()
    server = Some((api, port))
    port
  }

  def stop(): Unit = { server.foreach(_._1.stop()); server = None }

  private def port: Int = server.get._2

  /** One checked /search; returns the answer's `System.nanoTime`. */
  private def firstAnswer(): Long = {
    val r = Load.timed(port, -1, request(-1).path, rep => check(request(-1), parse(request(-1), rep.body)))
    require(r.ok, s"first /search failed: ${request(-1).path}")
    r.startNs + (r.latencyMs * 1e6).toLong
  }

  /** Generate the corpus, build every artifact, mount, answer once.
    * Returns the answer's `System.nanoTime`. */
  def setup(): Long = {
    stop()
    gen += 1
    model.clear(); nextId = 0L; cycleNo = 0
    (0 until Docs).foreach { i => model(nextId) = doc(nextId, 0); nextId += 1 }
    root = Refresh.CorpusArtifacts(env.work.resolve(s"corpus-$gen").toString)
    val all = frame(model.toSeq)
    Refresh.buildAll(spark, all.select("doc_id", "text"),
      all.select(col("doc_id").as("vec_id"), col("embedding")), root.root,
      buckets = 8, nlist = 8, m = 16, ksub = 16, trainIters = 1, sampleN = 2000)
    mount()
    firstAnswer()
  }

  /** The next seeded delta: fixed counts of edits, removals and adds. */
  private def delta(c: Int): (Seq[(Long, Doc)], Seq[(Long, Doc)], Seq[Long]) = {
    val alive = model.keys.toIndexedSeq
    val order = alive.sortBy(id => Gen.h(seed, id, c, 51))
    val edits = order.take(Edits).map(id => id -> doc(id, c))
    val removes = order.slice(Edits, Edits + Removes)
    val adds = (0 until Adds).map(j => (nextId + j) -> doc(nextId + j, c))
    (edits, adds, removes)
  }

  /** Hand the next delta to refreshCorpus and apply it to the model. */
  def refresh(): Unit = {
    cycleNo += 1
    val (edits, adds, removes) = delta(cycleNo)
    Refresh.refreshCorpus(spark, root.root, edited = frame(edits), added = frame(adds),
      removedIds = spark.createDataFrame(spark.sparkContext.parallelize(removes.map(Row(_)), 1),
        StructType(Seq(StructField("doc_id", LongType)))))
    edits.foreach { case (id, d) => model(id) = d }
    removes.foreach(model.remove)
    adds.foreach { case (id, d) => model(id) = d }
    nextId += Adds
  }

  /** One cycle: refresh, remount, first answer. Returns seconds from the
    * delta handoff to that answer. */
  def cycle(): Double = {
    val t0 = System.nanoTime()
    refresh()
    mount()
    (firstAnswer() - t0) / 1e9
  }

  // ------------------------------------------------------------- requests

  private val memo = mutable.Map.empty[(Int, Int), SearchReq]

  /** Modes of each block of ten requests: bm25, the plain /search path,
    * is four of them, so the median falls inside one mode's latencies
    * instead of on the edge between two. */
  private val Mix = IndexedSeq("bm25", "bm25", "bm25", "bm25", "phrase", "phrase",
    "complete", "hybrid", "hybrid", "bulk")

  /** Request `i` of the current cycle: each block of ten holds [[Mix]] in
    * a seeded order; terms and vectors come from the live model. */
  def request(i: Int): SearchReq = synchronized {
    memo.getOrElseUpdate((cycleNo, i), {
      val salt = cycleNo * 100000L + i
      val block = Math.floorDiv(i, Mix.size)
      val order = Mix.indices.sortBy(k => Gen.h(seed, cycleNo * 1000L + block, k, 61))
      val mode = Mix(order(Math.floorMod(i, Mix.size)))
      def words(q: Long) = Seq(Gen.word(seed, salt, q * 2), Gen.word(seed, salt, q * 2 + 1)).distinct
      val alive = model.keys.toIndexedSeq
      val some = model(Gen.pick(alive, seed, salt, 62))
      mode match {
        case "bm25" => SearchReq(mode, Seq(words(0)), "", null, 10)
        case "phrase" =>
          val at = (Gen.u(seed, salt, 63) * (some.words.size - 1)).toInt
          SearchReq(mode, Seq(some.words.slice(at, at + 2)), "", null, 10)
        case "complete" =>
          SearchReq(mode, Nil, Gen.pick(Gen.Vocab, seed, salt, 64).take(2), null, 8)
        case "hybrid" => SearchReq(mode, Seq(words(0)), "", some.vec, 10)
        case "bulk" => SearchReq(mode, (0 until 3).map(q => words(q.toLong)), "", null, 5)
      }
    })
  }

  // ---------------------------------------------------------------- checks

  def parse(r: SearchReq, body: Array[Byte]): SearchOut = {
    val j = mapper.readTree(body)
    def ids(rs: com.fasterxml.jackson.databind.JsonNode) =
      rs.elements().asScala.map(_.get("doc_id").asLong).toSeq
    r.mode match {
      case "bulk" => SearchOut(j.get("batches").elements().asScala.map(b => ids(b.get("results"))).toSeq, Nil)
      case "complete" => SearchOut(Nil, j.get("results").elements().asScala
        .map(t => (t.get("term").asText, t.get("df").asLong)).toSeq)
      case _ => SearchOut(Seq(ids(j.get("results"))), Nil)
    }
  }

  /** Every doc alive in the model, at most k rows, and for the lexical
    * modes exactly min(k, matching alive docs) rows that all match. */
  def check(r: SearchReq, out: SearchOut): Boolean = synchronized {
    def lexical(terms: Seq[String], got: Seq[Long], phrase: Boolean): Boolean = {
      def hit(d: Doc) = if (phrase) d.has(terms) else terms.exists(d.set)
      val matching = model.values.count(hit)
      got.size == math.min(r.k, matching) && got.distinct.size == got.size &&
        got.forall(id => model.get(id).exists(hit))
    }
    r.mode match {
      case "bm25" => out.docs.size == 1 && lexical(r.queries.head, out.docs.head, phrase = false)
      case "phrase" => out.docs.size == 1 && lexical(r.queries.head, out.docs.head, phrase = true)
      case "bulk" => out.docs.size == r.queries.size &&
        r.queries.zip(out.docs).forall { case (q, got) => lexical(q, got, phrase = false) }
      case "hybrid" => out.docs.size == 1 && out.docs.head.size <= r.k &&
        out.docs.head.forall(model.contains)
      case "complete" =>
        val df = model.values.flatMap(_.set).groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
        out.terms.size == math.min(r.k, df.keys.count(_.startsWith(r.prefix))) &&
          out.terms.forall { case (t, n) => t.startsWith(r.prefix) && df.get(t).contains(n) }
    }
  }

  /** Closed-loop burst of this cycle's requests [first, limit), none
    * started after `deadlineNs`. Each request is built before its clock
    * starts. */
  def burst(clients: Int, first: Int, limit: Int, deadlineNs: Long): Seq[Load.Rec] =
    Load.closedLoop(port, clients, first, limit, deadlineNs, i => request(i).path,
      (i, rep) => check(request(i), parse(request(i), rep.body)))

  // ----------------------------------------------------------- traced path

  private var tombs: (Option[DataFrame], Option[DataFrame]) = (None, None)

  /** Tombstone frames as the server pins them, for direct layer calls. */
  def pinTombstones(): Unit = {
    tombs = (Some(spark.read.parquet(root.termTombstonesPath)
      .select(col("doc_id"), col("before_seg")).localCheckpoint(true)),
      Some(spark.read.parquet(root.ivfTombstonesPath)
        .select(col("vec_id"), col("before_seg")).localCheckpoint(true)))
  }

  def releaseTombstones(): Unit = {
    Seq(tombs._1, tombs._2).flatten.foreach(_.unpersist(false))
    tombs = (None, None)
  }

  /** Request `i` through the layer calls SearchApi makes, as spans
    * search.build (plan) and search.collect (jobs). Returns (ms, ok). */
  def traced(i: Int, tr: Tracer): (Double, Boolean) = {
    val r = request(i)
    val dir = root.termIndexDir
    val (tt, it) = tombs
    val t0 = System.nanoTime()
    val out = tr.span("search.request") {
      val df = tr.span("search.build") {
        r.mode match {
          case "bm25" => TextStats.bm25TopK(spark, dir, r.queries.head, k = r.k, tombstones = tt)
          case "phrase" => TextStats.phraseSearch(spark, dir, r.queries.head, tombstones = tt)
            .orderBy(desc("n_occur"), col("doc_id")).limit(r.k)
          case "complete" => TextStats.completeTerms(spark, dir, r.prefix, k = r.k, tombstones = tt)
          case "hybrid" => Similarity.hybridServeTopK(spark, dir, r.queries.head, root.ivfPath,
            s"${root.ivfPath}/codebooks", r.vec, k = r.k, termTombstones = tt, ivfTombstones = it)
          case "bulk" => TextStats.bm25TopKBatch(spark, dir,
            r.queries.zipWithIndex.map { case (q, j) => (j.toLong, q) }, k = r.k, tombstones = tt)
        }
      }
      val rows = tr.span("search.collect")(df.collect())
      r.mode match {
        case "complete" => SearchOut(Nil, rows.map(x => (x.getString(0), x.getLong(1))).toSeq)
        case "bulk" =>
          val by = rows.groupBy(_.getLong(0))
          SearchOut(r.queries.indices.map(j => by.getOrElse(j.toLong, Array.empty[Row]).map(_.getLong(1)).toSeq), Nil)
        case _ => SearchOut(Seq(rows.map(_.getLong(0)).toSeq), Nil)
      }
    }
    ((System.nanoTime() - t0) / 1e6, check(r, out))
  }
}
