package perfbench

import java.util.concurrent.LinkedBlockingQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** The benchmark's own checks on its JVM side (`run.py --selfcheck` runs
  * them together with the Python ones): open-loop due-time accounting and
  * the stream ≡ batch row comparison. No Spark session is needed. */
object SelfCheck {
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  def run(): Unit = {
    openLoopStall()
    streamBatchCompare()
    println("selfcheck: all JVM checks passed")
  }

  /** A consumer that stalls for 300 ms must show the stall as latency of
    * the operations queued behind it, while the generator keeps sending
    * on schedule (the offered load does not drop). */
  def openLoopStall(): Unit = {
    def nowMs = System.nanoTime() / 1e6
    val ol = new OpenLoop(10.0, () => nowMs)
    val queue = new LinkedBlockingQueue[java.lang.Long]()
    val consumer = new Thread(() => {
      var seen = 0
      while (seen < 60) {
        val k = queue.take()
        Thread.sleep(if (k == 20L) 300 else 1)
        ol.done(k, nowMs)
        seen += 1
      }
    })
    consumer.start()
    val t0 = nowMs
    ol.run(600.0)(k => queue.put(k))
    val sendMs = nowMs - t0
    consumer.join(5000)
    val lat = ol.latenciesMs
    expect(ol.sentCount == 60, s"open loop sent all 60 operations (${ol.sentCount})")
    expect(sendMs < 700, f"sending was not slowed by the stalled consumer ($sendMs%.0f ms for 600 ms of schedule)")
    expect(lat.size == 60, s"every operation has a latency sample (${lat.size})")
    expect(lat.max >= 250, f"the stall shows as latency (max ${lat.max}%.0f ms)")
    expect(lat.count(_ >= 100) >= 10,
      s"operations queued behind the stall carry it (${lat.count(_ >= 100)} of 60 over 100 ms)")
    expect(ol.generatorLateMaxMs < 50, f"generator stayed on schedule (late ${ol.generatorLateMaxMs}%.1f ms)")
  }

  def streamBatchCompare(): Unit = {
    val schema = StructType(Seq(StructField("key", StringType), StructField("n", LongType)))
    def row(k: String, n: Long): Row = new GenericRowWithSchema(Array(k, n), schema)
    val a = Seq(row("x", 1), row("y", 2), row("y", 2))
    expect(Compare.diff(a, a.reverse)._1 == 0, "same rows in another order compare equal")
    expect(Compare.diff(a, a.take(2))._1 == 1, "a missing duplicate is one wrong row")
    expect(Compare.diff(a, a :+ row("z", 3))._1 == 1, "an extra row is one wrong row")
    expect(Compare.diff(a, Seq(row("x", 1), row("y", 2), row("y", 3)))._1 == 2,
      "a changed value is one missing and one unexpected row")
    val swapped = StructType(schema.fields.reverse)
    expect(Compare.diff(a, Seq(new GenericRowWithSchema(Array(1L, "x"), swapped),
      row("y", 2), row("y", 2)))._1 == 0, "column order does not matter")
  }
}
