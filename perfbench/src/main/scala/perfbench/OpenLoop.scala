package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

/** Open-loop load: operation k is due at `t0 + k * periodMs` whatever the
  * system under test is doing. `send` must hand the operation over
  * without waiting for it to finish; the consumer reports completion with
  * [[done]]. Latency is counted from the due time, so a stall in the
  * consumer shows up as latency of every operation behind it and never
  * as a lower offered rate. How late the generator itself ran is kept
  * apart (`source.generator_late_ms`): it says whether the latencies can
  * be trusted. */
final class OpenLoop(periodMs: Double, nowMs: () => Double = () => System.nanoTime() / 1e6) {
  private val due = new ConcurrentHashMap[Long, java.lang.Double]()
  private val lat = mutable.ArrayBuffer[Double]()
  private var lateMax = 0.0
  @volatile private var sent = 0L

  def sentCount: Long = sent
  def generatorLateMaxMs: Double = lateMax
  def latenciesMs: Seq[Double] = lat.synchronized(lat.toSeq)

  /** Send operations on schedule until `durationMs` has passed. */
  def run(durationMs: Double)(send: Long => Unit): Unit = {
    val t0 = nowMs()
    var k = 0L
    while (k * periodMs < durationMs) {
      val d = t0 + k * periodMs
      var now = nowMs()
      while (now < d) {
        val waitMs = d - now
        if (waitMs > 2) Thread.sleep((waitMs - 1).toLong) else Thread.onSpinWait()
        now = nowMs()
      }
      lateMax = math.max(lateMax, now - d)
      due.put(k, d)
      send(k)
      sent = k + 1
      k += 1
    }
  }

  /** Operation k finished at `atMs` (same clock as `nowMs`). */
  def done(k: Long, atMs: Double): Unit =
    Option(due.remove(k)).foreach(d => lat.synchronized { lat += atMs - d })

  /** Every operation sent up to and including k finished at `atMs`. */
  def doneThrough(k: Long, atMs: Double): Unit =
    due.keySet().toArray.foreach { case x: java.lang.Long => if (x <= k) done(x, atMs) }
}
