package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, out: File, data: String, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", new File(m("out")), m.getOrElse("data", ""),
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt)
  }
}

/** What one workload run measured, before the analysis in `run.py`. */
final class Result {
  var setupS = 0.0
  /** Warm re-setups ([[Ctx.repeatSetup]]), printed for reading. */
  val resetupS = mutable.ArrayBuffer[Double]()
  val controlS = mutable.ArrayBuffer[Double]()
  var coldS = 0.0
  var opsPerS = 0.0
  /** Open-loop (or warm per-query) latency samples, ms. */
  val latencyMs = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer[String]()
  /** Workload-specific figures printed for people (batch_warm_s, ...). */
  val extra = mutable.LinkedHashMap[String, Any]()
  /** Per-layer figures measured directly (the rest come from spans). */
  val layers = mutable.LinkedHashMap[String, Double]()
  val phases = mutable.LinkedHashMap[String, Double]()

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 20) notes += what }
  }
}

/** Everything a workload needs: arguments, recorder, session lifecycle,
  * the pinned control query and the measured result. */
final class Ctx(val args: Args) {
  val trace = new Trace(args.trace)
  val result = new Result
  val work = new File(args.out, "work")
  work.mkdirs()
  private var probes: Option[Probes] = None
  private var spark0: SparkSession = _

  def spark: SparkSession = spark0

  /** Session with the timed-entry settings of `graft.Bench`:
    * `local[cores]`, one shuffle partition per core, AQE, UTC, no UI and
    * `Bench.applyBenchConf`. Streaming workloads add the RocksDB state
    * store with changelog checkpointing, as `graft.StreamBench` does.
    * In a traced run the `measured` session is the one the listeners and
    * spans record. */
  def startSession(rocksdb: Boolean, measured: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    if (rocksdb) {
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      b.config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    }
    spark0 = b.getOrCreate()
    spark0.sparkContext.setLogLevel("WARN")
    graft.Bench.applyBenchConf(spark0)
    trace.recording(measured)
    if (trace.active) probes = Some(Probes.install(spark0, trace))
    spark0
  }

  def stopSession(): Unit = if (spark0 != null) {
    drainEvents()
    trace.recording(false)
    probes.foreach(_.detach(spark0))
    probes = None
    spark0.stop()
    spark0 = null
  }

  /** Wait until Spark has delivered every listener event posted so far. */
  def drainEvents(): Unit = if (spark0 != null)
    org.apache.spark.PerfbenchBus.drain(spark0.sparkContext)

  private def sinceJvmStartS =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Seconds from JVM start at which each phase of the run ended. */
  def mark(phase: String): Unit = result.phases(phase) = sinceJvmStartS

  /** Setup ends at the first timed operation; `setup_s` runs from JVM
    * start, so it includes JVM start and class loading. */
  def setupDone(): Unit = {
    result.setupS = sinceJvmStartS
    mark("setup")
  }

  /** Tear down what the last setup built and repeat the workload's setup
    * `n` times in the same JVM on a fresh session, so the measured phases
    * run in a warmer JVM; the last one stays up. A warm re-setup leaves
    * out JVM start and class loading, so it is timed apart from `setup_s`. */
  def repeatSetup(n: Int)(teardown: => Unit)(setup: => Unit): Unit =
    (1 to n).foreach { _ =>
      teardown
      stopSession()
      val t0 = System.nanoTime()
      setup
      result.resetupS += (System.nanoTime() - t0) / 1e9
    }

  /** Pinned control query: a fixed CPU-bound Spark job whose time tracks
    * the host, not the program (`host.control_s`). */
  def control(): Unit = {
    val expect = Ctx.ControlAnswer
    val t0 = System.nanoTime()
    val h = spark0.range(0L, 20000000L, 1L, args.cores)
      .selectExpr("sum(hash(id) % 1000) AS h").collect()(0).getLong(0)
    result.controlS += (System.nanoTime() - t0) / 1e9
    result.check(h == expect, s"control query returned $h")
  }

  /** Peak resident set of this process, MB (VmHWM, Linux). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** JVM-wide totals the traced run differences: codegen and JIT/GC time. */
  def jvmTotals: Map[String, Double] = Map(
    "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime / 1e6,
    "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble)
}

object Ctx {
  /** Median; the mean of the two middle values when the count is even. */
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** sum(hash(id) % 1000) over ids [0, 2e7): pinned by Spark's Murmur3. */
  val ControlAnswer: Long = {
    var s = 0L
    var i = 0L
    while (i < 20000000L) {
      s += org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(i, 42) % 1000
      i += 1
    }
    s
  }
}
