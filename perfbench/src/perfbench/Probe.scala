package perfbench

import scala.collection.mutable.ArrayBuffer

/** Host-speed probe: `threads` threads each run a fixed 64-bit
  * multiply-xor loop that touches neither the engine, Spark, nor memory;
  * a sample is the wall time until all have finished. The loop compiles to
  * the same few instructions in every JVM, so the sample moves only with
  * the CPU time the host grants this process on as many cores as Spark
  * uses.
  *
  * The host is shared and its speed drifts by tens of percent over
  * minutes, with every phase of a run slowing together. The end-to-end
  * times are therefore reported at a reference host speed: measured time
  * x [[Probe.RefMs]] / (median probe time over the run).
  */
final class Probe(threads: Int) {
  val samplesMs = ArrayBuffer.empty[Double]
  private val sink = new Array[Long](threads)

  private def work(): Long = {
    var x = 1L
    var i = 0
    while (i < 3000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    x
  }

  private def once(): Double = {
    val ts = (0 until threads).map(j => new Thread(() => sink(j) += work()))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Compiles the probe before it is timed. */
  def warmup(): Unit = (1 to 20).foreach(_ => once())

  /** Times the probe `n` times and keeps the samples. */
  def sample(n: Int = 3): Unit = (1 to n).foreach(_ => samplesMs += once())

  def medianMs: Double = Stats.median(samplesMs.toSeq)

  /** Factor that scales a time measured on this run to the reference speed. */
  def toReference: Double = Probe.RefMs / medianMs
}

object Probe {
  /** The probe's median time at 4 threads on an idle 4-vCPU 2.0 GHz VM;
    * any fixed value would do, as both sides of a comparison use the same
    * one. */
  val RefMs = 16.0
}
