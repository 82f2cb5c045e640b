package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The seeded synthetic collection. Every field of a row is a pure
  * function of (seed, pk, ver), so the engine receives generated rows
  * while the benchmark can recompute any row on the driver for its
  * answer model without reading anything back from the engine.
  *
  * Vectors come from a mixture of `Clusters` centroids with per-row
  * noise, so IVF partitions are meaningful and recall is not trivially 1.
  */
object Data {
  val Dim = 64
  val Clusters = 16
  val Categories = 16
  /** Canonical user payload of one row: pk 8 + vector 4*Dim + cat 6 +
    * qty 4 + price 8 + tag 6 + flag 1 + ver 8 bytes. */
  val RowBytes: Long = 8 + 4 * Dim + 6 + 4 + 8 + 6 + 1 + 8
  /** A delete carries one pk. */
  val DeleteBytes: Long = 8

  val schema: StructType = StructType(Seq(
    StructField("pk", LongType, nullable = false),
    StructField("emb", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("cat", StringType, nullable = false),
    StructField("qty", IntegerType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("flag", BooleanType, nullable = false),
    StructField("ver", LongType, nullable = false)))

  final case class Rec(pk: Long, emb: Array[Float], cat: String, qty: Int,
      price: Double, tag: String, flag: Boolean, ver: Long) {
    def row: Row = Row(pk, emb.toSeq, cat, qty, price, tag, flag, ver)
  }

  private def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Uniform in [0, 1), a pure function of its arguments. */
  def uniform(seed: Long, a: Long, b: Long, c: Long): Double =
    (mix(mix(mix(seed) ^ a) ^ b ^ (c << 17)) >>> 11).toDouble / (1L << 53)

  def centroid(seed: Long, cluster: Int, d: Int): Double =
    uniform(seed, -1L - cluster, 2, d) * 2 - 1

  def rec(seed: Long, pk: Long, ver: Long): Rec = {
    val c = (uniform(seed, pk, 1, ver) * Clusters).toInt
    val emb = Array.tabulate(Dim)(d =>
      (centroid(seed, c, d) + (uniform(seed, pk, 3L + d, ver) - 0.5) * 2.0).toFloat)
    Rec(pk, emb,
      f"cat_${(uniform(seed, pk, 100, ver) * Categories).toInt}%02d",
      (uniform(seed, pk, 101, ver) * 1000).toInt,
      math.floor(uniform(seed, pk, 102, ver) * 10000) / 100.0,
      f"t${(uniform(seed, pk, 103, ver) * 100000).toInt}%05d",
      uniform(seed, pk, 104, ver) < 0.5,
      ver)
  }

  /** Rows [from, until) at version 0, generated on the executors. */
  def frame(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    val slices = spark.sparkContext.defaultParallelism
    spark.createDataFrame(
      spark.sparkContext.range(from, until, 1, slices).map(pk => rec(seed, pk, 0L).row),
      schema)
  }

  /** A small driver-side batch (the client's write payload). */
  def frameOf(spark: SparkSession, recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(recs.map(_.row).asJava, schema)

  /** Squared L2, the engine's `Metric.L2`. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  private def cats(rnd: scala.util.Random, n: Int): Seq[String] =
    rnd.shuffle((0 until Categories).toList).take(n).sorted.map(i => f"cat_$i%02d")

  private def quoted(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ", ", "]")

  /** A category filter for filtered vector search; the driver model
    * evaluates it through `cats`. */
  final case class CatFilter(expr: String, cats: Set[String])

  def catFilter(rnd: scala.util.Random): CatFilter = {
    val cs = cats(rnd, 4)
    CatFilter(s"cat in ${quoted(cs)}", cs.toSet)
  }
}
