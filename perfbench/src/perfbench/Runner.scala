package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}

/** The closed-loop client: runs one facade operation at a time, times it
  * from the facade call until the result is on the driver, then checks the
  * answer (outside the timed span). An exception or a wrong answer counts
  * as a failed operation. In traced steps the op is also handed to the
  * [[Tracer]].
  */
final class Runner(tracer: Option[Tracer]) {
  var traced = false
  var recording = false
  val latencyMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  private def fail(kind: String, msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$kind: $msg"
    System.err.println(s"perfbench: $kind failed: $msg")
  }

  def run[L, R](kind: String, cls: String)(call: => L)(collect: L => R)(
      rows: R => Long)(check: R => Option[String]): Option[R] = {
    attempted += 1
    val t = if (traced) tracer.map(_.begin(kind, cls)) else None
    val t0 = System.nanoTime()
    val out =
      try {
        val lazyResult = call
        t.foreach(op => tracer.get.callReturned(op))
        Right(collect(lazyResult))
      } catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    t.foreach(op => tracer.get.end(op, out.map(rows).getOrElse(0L), out.isRight))
    if (recording) latencyMs.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
    out match {
      case Left(e) => fail(kind, e.toString); None
      case Right(r) =>
        val verdict = try check(r) catch { case NonFatal(e) => Some(s"check threw $e") }
        verdict match {
          case Some(msg) => fail(kind, msg); None
          case None      => Some(r)
        }
    }
  }

  /** A read returning a lazy DataFrame, collected to the driver. */
  def frame(kind: String, cls: String)(call: => DataFrame)(
      check: Array[Row] => Option[String]): Option[Array[Row]] =
    run(kind, cls)(call)(_.collect())(_.length.toLong)(check)

  /** An operation that does its work inside the facade call. */
  def eager[A](kind: String, cls: String)(call: => A)(check: A => Option[String]): Option[A] =
    run(kind, cls)(call)(identity[A])(_ => 1L)(check)
}

/** Bytes under a collection root. Engine files are write-once, so every
  * path ever seen, at its largest size, is a byte the engine wrote. */
final class DiskTracker(root: String) {
  private val seen = mutable.HashMap.empty[String, Long]
  private var current = Map.empty[String, Long]

  def scan(): Unit = {
    val p = Paths.get(root)
    current =
      if (!Files.exists(p)) Map.empty
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map((f: Path) => f.toString -> Files.size(f)).toMap
        finally s.close()
      }
    current.foreach { case (f, n) => seen(f) = seen.getOrElse(f, 0L) max n }
  }

  def bytesWritten: Long = seen.values.sum
  def bytesOnDisk: Long = current.values.sum
  def files: Int = current.size
}
