package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Collection, CollectionSchema}
import graft.functions.Metric

/** One benchmark workload: a seeded collection, a request mix and the
  * independent model its answers are checked against. `build` runs once
  * per set-up repetition; only the last build is kept and measured.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, dataDir: String) {
  /** Read kinds whose medians make up `read_ms`. */
  def readKinds: Seq[String]
  /** The distinct filter expressions the workload sends. */
  def filterExprs: Seq[String]
  def warmupSteps: Int

  protected var coll: Collection = _
  var root: String = _
  var disk: DiskTracker = _
  var userBytes = 0L
  /** createIndex time of this build, if the workload builds an index. */
  var indexMs: Option[Double] = None

  def collection: Collection = coll

  def build(rep: Int): Unit = {
    root = s"$dataDir/rep$rep"
    coll = Collection.create(spark,
      CollectionSchema(pkField = "pk", vectorFields = Map("emb" -> Data.Dim)))
    load()
    disk = new DiskTracker(root)
    disk.scan()
  }

  protected def load(): Unit

  def drop(): Unit = {
    coll.close()
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
  }

  /** Requests and expected answers, computed once before timing. */
  def prepare(): Unit

  /** One round of the request mix. */
  def step(i: Int, r: Runner): Unit

  /** Whether a run may stop after the current step. */
  def atBoundary: Boolean = true

  def finish(r: Runner): Unit = ()

  def liveBytes: Long

  def recallAt10: Option[Double] = None

  protected def queryFrame(vecs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(
      vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }.asJava,
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false))))
}

/** Exact top-k and hit checks shared by the vector workloads. */
object Exact {
  val K = 10

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** The k nearest (pk, squared L2) among `cands`, nearest first. */
  def topK(q: Array[Float], cands: Iterator[(Long, Array[Float])], k: Int = K): Array[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)] // max-heap on distance
    cands.foreach { case (pk, v) =>
      val d = Data.l2(q, v)
      if (heap.size < k) heap.enqueue((d, pk))
      else if (d < heap.head._1) { heap.dequeue(); heap.enqueue((d, pk)) }
    }
    heap.dequeueAll[(Double, Long)].reverse.map(x => (x._2, x._1)).toArray
  }

  final case class Hit(rank: Long, pk: Long, score: Double)

  def hitsByQid(rows: Array[Row]): Map[Long, Seq[Hit]] =
    rows.toSeq.map(r => r.getAs[Long]("qid") -> Hit(r.getAs[Long]("rank"),
      r.getAs[Long]("pk"), r.getAs[Any]("_score").asInstanceOf[Number].doubleValue))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.rank)).toMap

  /** Exact search: ranks 1..k, distinct eligible pks, each score equal to
    * the model's distance, and the score list equal to the exact top-k
    * distances (so a tie at the boundary may pick either pk). */
  def checkExact(hits: Seq[Hit], exact: Array[(Long, Double)],
      dist: Long => Option[Double]): Option[String] = {
    val err = checkValid(hits, dist)
    if (err.isDefined) err
    else if (hits.size != exact.length) Some(s"${hits.size} hits, want ${exact.length}")
    else hits.zip(exact).collectFirst {
      case (h, (pk, d)) if !close(h.score, d) =>
        s"rank ${h.rank}: pk ${h.pk} at ${h.score}, exact pk $pk at $d"
    }
  }

  /** Approximate search: distinct live pks, true distances, ascending. */
  def checkValid(hits: Seq[Hit], dist: Long => Option[Double]): Option[String] =
    if (hits.isEmpty) Some("no hits")
    else if (hits.map(_.rank) != (1L to hits.size)) Some(s"ranks ${hits.map(_.rank)}")
    else if (hits.map(_.pk).distinct.size != hits.size) Some("duplicate pks")
    else if (hits.zip(hits.tail).exists { case (a, b) => b.score < a.score && !close(a.score, b.score) })
      Some("scores not ascending")
    else hits.collectFirst(Function.unlift { h =>
      dist(h.pk) match {
        case None                          => Some(s"pk ${h.pk} is not eligible")
        case Some(d) if !close(h.score, d) => Some(s"pk ${h.pk} scored ${h.score}, model $d")
        case _                             => None
      }
    })
}

/** Vector top-k on a sealed, IVF-indexed collection whose vectors come
  * from a seeded mixture of clusters. Queries are perturbed copies of
  * random rows. The exact top-k of every query is computed once on the
  * driver by brute force; IVF results are checked for validity and scored
  * for recall. */
final class AnnSearch(spark: SparkSession, seed: Long, dataDir: String)
    extends Workload(spark, seed, dataDir) {
  val N = 20000
  val NList = 64
  val NProbe = 4
  val Queries = 64
  val readKinds = Seq("search", "search_nq10", "search_filter", "ivf_search")
  // latencies keep falling (JIT, code generation) for about this many steps
  val warmupSteps = 8

  private val rnd = new Random(seed * 7919 + 2)
  private var embs: Array[Array[Float]] = _
  private var cats: Array[String] = _
  private var queries: Vector[Array[Float]] = Vector.empty
  private var filters: Vector[Data.CatFilter] = Vector.empty
  private var exact, exactFiltered: Vector[Array[(Long, Double)]] = Vector.empty
  private var recallSum = 0.0
  private var recallN = 0

  def filterExprs: Seq[String] = filters.map(_.expr).distinct

  protected def load(): Unit = {
    coll.insert(Data.frame(spark, seed, 0, N))
    coll.flush(root)
    val t0 = System.nanoTime()
    coll.createIndex("emb", NList)
    indexMs = Some((System.nanoTime() - t0) / 1e6)
    userBytes = N.toLong * Data.RowBytes
  }

  def liveBytes: Long = N.toLong * Data.RowBytes

  override def recallAt10: Option[Double] =
    if (recallN == 0) None else Some(recallSum / recallN)

  def prepare(): Unit = {
    val recs = Array.tabulate(N)(pk => Data.rec(seed, pk, 0L))
    embs = recs.map(_.emb)
    cats = recs.map(_.cat)
    queries = Vector.fill(Queries) {
      val base = embs(rnd.nextInt(N))
      base.map(x => (x + (rnd.nextDouble() - 0.5) * 0.2).toFloat)
    }
    filters = Vector.fill(8)(Data.catFilter(rnd))
    val jobs = (0 until Queries).map { q =>
      scala.concurrent.Future {
        val all = Exact.topK(queries(q), embs.indices.iterator.map(i => (i.toLong, embs(i))))
        val f = filters(q % filters.size).cats
        val filtered = Exact.topK(queries(q),
          embs.indices.iterator.filter(i => f(cats(i))).map(i => (i.toLong, embs(i))))
        (all, filtered)
      }(scala.concurrent.ExecutionContext.global)
    }
    val done = jobs.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    exact = done.map(_._1).toVector
    exactFiltered = done.map(_._2).toVector
  }

  private def dist(q: Int, only: Option[Set[String]])(pk: Long): Option[Double] =
    if (pk < 0 || pk >= N || only.exists(s => !s(cats(pk.toInt)))) None
    else Some(Data.l2(queries(q), embs(pk.toInt)))

  private def checkAll(qs: Seq[Int], filtered: Boolean)(rows: Array[Row]): Option[String] = {
    val byQid = Exact.hitsByQid(rows)
    qs.zipWithIndex.iterator.map { case (q, qid) =>
      val only = if (filtered) Some(filters(q % filters.size).cats) else None
      Exact.checkExact(byQid.getOrElse(qid.toLong, Nil),
        if (filtered) exactFiltered(q) else exact(q), dist(q, only))
    }.collectFirst { case Some(e) => e }
  }

  def step(i: Int, r: Runner): Unit = {
    val q = i % Queries
    val one = queryFrame(Seq(queries(q)))
    r.frame("search", "search")(coll.search("emb", one, Exact.K, Metric.L2))(checkAll(Seq(q), filtered = false))

    val ten = (0 until 10).map(j => (i * 10 + j) % Queries)
    val tenFrame = queryFrame(ten.map(queries))
    r.frame("search_nq10", "search")(coll.search("emb", tenFrame, Exact.K, Metric.L2))(
      checkAll(ten, filtered = false))

    val f = filters(q % filters.size)
    r.frame("search_filter", "search")(coll.search("emb", one, Exact.K, Metric.L2,
      filterExpr = f.expr))(checkAll(Seq(q), filtered = true))

    r.frame("ivf_search", "ivf_search")(coll.searchIndexed("emb", one, Exact.K, NProbe,
        Metric.L2)) { rows =>
      val hits = Exact.hitsByQid(rows).getOrElse(0L, Nil)
      val err = Exact.checkValid(hits, dist(q, None))
      if (err.isEmpty && r.recording) {
        val want = exact(q).map(_._1).toSet
        recallSum += hits.count(h => want(h.pk)).toDouble / Exact.K
        recallN += 1
      }
      err
    }
  }
}

/** The write path with read-your-writes: a closed loop of small insert /
  * upsert / delete batches, each followed by a `get` of the touched pks
  * and a `search` whose query is a just-written (or just-deleted) vector,
  * checked against an in-bench pk -> version model. Fixed flush policy:
  * `flush` every [[FlushEvery]] batches, then `compact` + `retentionSweep`
  * every [[CompactEvery]] flushes; a run ends on a cycle boundary. */
final class IngestMixed(spark: SparkSession, seed: Long, dataDir: String)
    extends Workload(spark, seed, dataDir) {
  val N0 = 10000L
  val Batch = 20
  val FlushEvery = 2
  val CompactEvery = 2
  val readKinds = Seq("get", "search")
  // latencies keep falling for about this many whole flush/compact cycles
  val warmupSteps = FlushEvery * CompactEvery

  private val rnd = new Random(seed * 7919 + 3)
  private val ver = mutable.LongMap.empty[Long]
  private val emb = mutable.LongMap.empty[Array[Float]]
  private val livePks = ArrayBuffer.empty[Long]
  private val slot = mutable.LongMap.empty[Int]
  private var nextPk = N0
  private var batches = 0
  private var flushes = 0
  private var boundary = false

  def filterExprs: Seq[String] = Nil

  protected def load(): Unit = {
    coll.insert(Data.frame(spark, seed, 0, N0))
    coll.flush(root)
    userBytes = N0 * Data.RowBytes
  }

  def liveBytes: Long = livePks.size.toLong * Data.RowBytes

  override def atBoundary: Boolean = boundary

  def prepare(): Unit =
    (0L until N0).foreach(pk => put(Data.rec(seed, pk, 0L)))

  private def put(rec: Data.Rec): Unit = {
    if (!ver.contains(rec.pk)) { slot(rec.pk) = livePks.size; livePks += rec.pk }
    ver(rec.pk) = rec.ver
    emb(rec.pk) = rec.emb
  }

  private def remove(pk: Long): Unit = {
    val i = slot(pk)
    val last = livePks.last
    livePks(i) = last
    slot(last) = i
    livePks.remove(livePks.size - 1)
    slot.remove(pk)
    ver.remove(pk)
    emb.remove(pk)
  }

  private def sampleLive(n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < n) picked += livePks(rnd.nextInt(livePks.size))
    picked.toSeq
  }

  def step(i: Int, r: Runner): Unit = {
    val v = i + 1L
    val kind = Seq("insert", "upsert", "delete")(i % 3)
    val (pks, probe) = kind match {
      case "insert" =>
        val recs = (nextPk until nextPk + Batch).map(Data.rec(seed, _, v))
        nextPk += Batch
        if (r.eager("insert", "write")(coll.insert(Data.frameOf(spark, recs)))(_ => None).isDefined) {
          recs.foreach(put); userBytes += Batch * Data.RowBytes
        }
        (recs.map(_.pk), recs.head.emb)
      case "upsert" =>
        val recs = sampleLive(Batch).map(Data.rec(seed, _, v))
        if (r.eager("upsert", "write")(coll.upsert(Data.frameOf(spark, recs)))(_ => None).isDefined) {
          recs.foreach(put); userBytes += Batch * Data.RowBytes
        }
        (recs.map(_.pk), recs.head.emb)
      case _ =>
        val victims = sampleLive(Batch)
        val probe = emb(victims.head)
        if (r.eager("delete", "write")(coll.deletePks(victims))(_ => None).isDefined) {
          victims.foreach(remove); userBytes += Batch * Data.DeleteBytes
        }
        (victims, probe)
    }

    r.frame("get", "get")(coll.get(pks, Seq("pk", "ver", "qty"))) { rows =>
      val got = rows.map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      val want = pks.filter(ver.contains).map(pk => (pk, ver(pk), Data.rec(seed, pk, ver(pk)).qty)).toSet
      if (got == want) None else Some(s"got $got, want $want")
    }

    r.frame("search", "search")(coll.search("emb", queryFrame(Seq(probe)), Exact.K, Metric.L2)) { rows =>
      val exact = Exact.topK(probe, livePks.iterator.map(pk => (pk, emb(pk))))
      Exact.checkExact(Exact.hitsByQid(rows).getOrElse(0L, Nil), exact,
        pk => emb.get(pk).map(Data.l2(probe, _)))
    }

    batches += 1
    boundary = false
    if (batches % FlushEvery == 0) {
      r.eager("flush", "flush")(coll.flush(root))(_ => None)
      disk.scan()
      flushes += 1
      if (flushes % CompactEvery == 0) {
        r.eager("compact", "compact")(coll.compact(root))(_ => None)
        disk.scan()
        r.eager("sweep", "compact")(coll.retentionSweep(root, 0L))(_ => None)
        disk.scan()
        boundary = true
      }
    }
  }

  override def finish(r: Runner): Unit =
    r.eager("count", "query")(coll.count()) { n =>
      if (n == livePks.size) None else Some(s"count $n, model ${livePks.size}")
    }
}
