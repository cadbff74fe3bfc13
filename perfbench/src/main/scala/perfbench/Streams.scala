package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

final case class Ev(key: String, ts: Timestamp, value: Long)
final case class Doc(doc_id: Long, text: String, ts: Timestamp)

/** Seeded rows: row i of a stream is a pure function of (seed, i), so the
  * batch twin can regenerate exactly what the stream was fed. */
object Gen {
  /** 2024-01-01T00:00:00Z */
  val T0: Long = 1704067200000L

  /** SplitMix64 finaliser over (seed, i, salt); non-negative. */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  /** stream_reduce events: one millisecond of event time per row, a seeded
    * jitter of up to 5 s (well inside the 30 s watermark delay, so no row
    * is late) that makes the replay order differ from event-time order,
    * and seeded key and value. */
  val Keys = 500
  def ev(seed: Long, i: Long): Ev =
    Ev("u" + mix(seed, i, 1) % Keys, new Timestamp(T0 + i - mix(seed, i, 2) % 5000),
      mix(seed, i, 3) % 1000)

  /** stream_neardup documents: 16 words from a 5000-word vocabulary; one
    * document in ten copies one of the nine before it with one word
    * changed (a planted near-duplicate). 10 ms of event time per doc. */
  val DocStepMs = 10L
  def words(seed: Long, i: Long): Array[Long] =
    if (i >= 10 && mix(seed, i, 4) % 10 == 0) {
      val w = words(seed, i - 1 - mix(seed, i, 5) % 9).clone()
      w((mix(seed, i, 6) % w.length).toInt) = 5000 + mix(seed, i, 7) % 5000
      w
    } else Array.tabulate(16)(t => mix(seed, i, 100 + t) % 5000)
  def doc(seed: Long, i: Long): Doc =
    Doc(i, words(seed, i).map("w" + _).mkString(" "), new Timestamp(T0 + i * DocStepMs))
}

/** One streaming workload: its rows, its query and its correctness check. */
abstract class StreamSpec[T] {
  implicit def enc: Encoder[T]
  /** Saturated phase: rows per block. The feeder keeps two uncommitted
    * blocks, the one in flight and the next, so the engine never idles. It
    * queues the next block only `SettleMs` after the last feed or commit,
    * once the engine has taken the block before it, so every micro-batch
    * carries exactly one block and the measured rate is that of a fixed
    * batch size. */
  def satBlockRows: Int
  /** Open-loop phase: a block of `olBlockRows` is due every `olPeriodMs`. */
  def olBlockRows: Int
  def olPeriodMs: Double
  /** Share of the run spent saturated; the open loop gets the rest. */
  def saturatedShare: Double = 0.6
  def row(seed: Long, i: Long): T
  def start(ctx: Ctx, in: DataFrame, sink: (DataFrame, Long) => Unit, checkpoint: String): StreamingQuery
  /** Blocks fed after the measured phases, before the final drain. */
  def flush(seed: Long, rowsFed: Long): Seq[Seq[T]] = Nil
  def check(ctx: Ctx, rowsFed: Long, out: Seq[Row]): Unit
}

/** Drives a [[StreamSpec]]: warm-up block, a saturated phase (rows_per_s),
  * an open-loop phase at the fixed offered rate (latency from due time to
  * the commit of the micro-batch that carried the block), then the
  * stream ≡ batch check. The feeder is this one thread. */
final class StreamDriver[T](ctx: Ctx, spec: StreamSpec[T]) {
  import spec.enc
  private val r = ctx.result
  private val t = ctx.trace
  private val seed = ctx.args.seed
  private def nowMs = System.nanoTime() / 1e6

  private val progress = new ConcurrentLinkedQueue[(Double, StreamingQueryProgress)]()
  @volatile private var committedThrough = -1L
  @volatile private var committedAt = 0.0
  @volatile private var onCommit: (Long, Double) => Unit = (_, _) => ()
  private val output = new ConcurrentLinkedQueue[Row]()

  private var in: MemoryStream[T] = _
  private var query: StreamingQuery = _
  private var listener: StreamingQueryListener = _
  private var blocksFed = 0L
  private var rowsFed = 0L

  private def feed(rows: Seq[T]): Unit = {
    t.span("source.add", "source")(in.addData(rows))
    blocksFed += 1
  }
  private def nextBlock(n: Int): Seq[T] = {
    val b = (rowsFed until rowsFed + n).map(spec.row(seed, _))
    rowsFed += n
    b
  }
  private def awaitCommitted(maxS: Double = 120): Unit = {
    val deadline = nowMs + maxS * 1000
    while (committedThrough < blocksFed - 1) {
      require(nowMs < deadline, s"stream did not commit block ${blocksFed - 1}")
      query.exception.foreach(e => throw e)
      Thread.sleep(1)
    }
  }

  private def setup(n: Int, cp: String): Unit = {
    val spark = ctx.startSession(rocksdb = true, measured = n == 3)
    listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val at = nowMs
        val p = e.progress
        progress.add(at -> p)
        p.sources.headOption.flatMap(s => Option(s.endOffset))
          .flatMap(_.trim.toLongOption).foreach { end =>
            if (end > committedThrough) {
              committedThrough = end; committedAt = at; onCommit(end, at)
            }
          }
      }
    }
    spark.streams.addListener(listener)
    progress.clear(); output.clear(); committedThrough = -1L; blocksFed = 0; rowsFed = 0
    in = MemoryStream[T](spark, numPartitions = ctx.args.cores)
    val sink: (DataFrame, Long) => Unit = (df, id) =>
      t.span("sink.write", s"batch-$id")(
        graft.streaming.Sinks.withRetry((b, _) => output.addAll(b.collect().toSeq.asJava))(df, id))
    query = spec.start(ctx, in.toDF(), sink, cp)
    // warm-up: a third of a block through the freshly started query
    val w0 = nowMs
    feed(nextBlock(spec.satBlockRows / 3))
    awaitCommitted()
    if (n == 1) r.coldS = (nowMs - w0) / 1e3
  }

  private def teardown(): Unit = {
    if (query != null) { query.stop(); query = null }
    if (ctx.spark != null && listener != null) ctx.spark.streams.removeListener(listener)
  }

  def run(): Unit = {
    val cpDir = new java.io.File(ctx.work, "checkpoints")
    def checkpoint(n: Int) = new java.io.File(cpDir, s"setup$n").getAbsolutePath
    val jvm0 = ctx.jvmTotals
    // Setup 1 in the fresh JVM gives setup_s and cold_s; setups 2 and 3
    // repeat it and leave the JVM warmer for the measured phases, which run
    // on setup 3 (without them the open-loop p50 spread more than doubled).
    setup(1, checkpoint(1))
    ctx.setupDone()
    var n = 1
    ctx.repeatSetup(2)(teardown()) { n += 1; setup(n, checkpoint(n)) }
    ctx.mark("setup_repeats")
    t.span("workload", "workload") {
      ctx.control()
      val windowMs = ctx.args.seconds * 1000
      val measureFrom = nowMs

      // saturated phase: keep a bounded backlog so the engine never idles
      val satMs = windowMs * spec.saturatedShare
      val a0 = nowMs
      var fedAt = 0.0
      var backlogMax = 0L
      // committed data batches of this phase; the first may have started
      // before it, so the phase lasts until three more have committed
      def phaseBatches = progress.asScala.count { case (at, p) => at > a0 && p.numInputRows > 0 }
      while (nowMs - a0 < satMs || phaseBatches < 4) {
        val backlog = blocksFed - 1 - committedThrough
        backlogMax = math.max(backlogMax, backlog)
        if (backlog == 0 ||
            backlog == 1 && nowMs - math.max(fedAt, committedAt) >= StreamDriver.SettleMs) {
          feed(nextBlock(spec.satBlockRows))
          fedAt = nowMs
        } else Thread.sleep(1)
      }
      // median rate of the batches that ran inside the phase, each its rows
      // over its trigger time: a batch cut by the phase edges does not
      // count, and one batch stalled by the host does not move it
      val a1 = nowMs
      val sat = progress.asScala.toSeq.collect {
        case (at, p) if at > a0 && at <= a1 && p.numInputRows > 0 => p
      }.drop(1) // its trigger may have started before the phase
      r.opsPerS = Ctx.median(sat.map(p => p.numInputRows * 1e3 / Progress.dur(p, "triggerExecution")))
      r.extra("saturated_batch_rows") = sat.map(_.numInputRows)
      awaitCommitted()
      ctx.control()

      // open-loop phase at the fixed offered rate
      val ol = new OpenLoop(spec.olPeriodMs, () => nowMs)
      val b0 = blocksFed
      onCommit = (end, at) => ol.doneThrough(end - b0, at)
      ol.run(windowMs - satMs)(_ => feed(nextBlock(spec.olBlockRows)))
      awaitCommitted()
      onCommit = (_, _) => ()
      r.latencyMs ++= ol.latenciesMs
      val measureTo = nowMs
      ctx.control()
      ctx.mark("window")

      val fed = rowsFed
      spec.flush(seed, fed).foreach { b => feed(b); awaitCommitted() }
      query.processAllAvailable()
      ctx.drainEvents()
      t.span("check")(spec.check(ctx, fed, output.asScala.toSeq))
      ctx.mark("check")
      layers(measureFrom, measureTo, backlogMax, ol)
      r.extra("rows_fed") = fed
      r.extra("open_loop_rows_per_s") = spec.olBlockRows * 1000.0 / spec.olPeriodMs
    }
    r.layers ++= ctx.jvmTotals.map { case (k, v) => k -> (v - jvm0(k)) }
    teardown()
    ctx.stopSession()
  }

  private def layers(from: Double, to: Double, backlogMax: Long, ol: OpenLoop): Unit = {
    Progress.record(ctx, progress.asScala.toSeq
      .filter { case (at, _) => at > from && at <= to }.map(_._2))
    r.layers("source.backlog_max") = backlogMax.toDouble
    r.layers("source.generator_late_ms") = ol.generatorLateMaxMs
  }
}

/** Micro-batch and state figures from `StreamingQueryProgress` over the
  * measured phases; in the traced run each batch also becomes a span with
  * its phases as children. */
object Progress {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def record(ctx: Ctx, ps: Seq[StreamingQueryProgress]): Unit = {
    val t = ctx.trace
    val data = ps.filter(_.numInputRows > 0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val L = ctx.result.layers
    L("microbatch.batches") = data.size
    L("microbatch.rows_per_batch") = mean(data.map(_.numInputRows.toDouble))
    Seq("latest_offset" -> "latestOffset", "planning" -> "queryPlanning",
        "add_batch" -> "addBatch", "wal_commit" -> "walCommit",
        "commit_offsets" -> "commitOffsets", "trigger" -> "triggerExecution")
      .foreach { case (n, k) => L(s"microbatch.${n}_ms") = mean(data.map(dur(_, k))) }
    val ops = data.map(_.stateOperators.toSeq)
    def opSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      ops.map(_.map(f).sum)
    def custom(name: String) = opSum(o =>
      Option(o.customMetrics.get(name)).map(_.doubleValue).getOrElse(0.0)).sum
    val rowsIn = data.map(_.numInputRows.toDouble).sum.max(1.0)
    L("state.rows") = ps.lastOption.map(_.stateOperators.map(_.numRowsTotal.toDouble).sum).getOrElse(0.0)
    L("state.memory_bytes") = ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes.toDouble).sum).getOrElse(0.0)
    L("state.commit_ms") = mean(opSum(_.commitTimeMs.toDouble))
    L("state.update_ms") = mean(opSum(_.allUpdatesTimeMs.toDouble))
    L("state.remove_ms") = mean(opSum(_.allRemovalsTimeMs.toDouble))
    L("state.gets_per_row") = custom("rocksdbGetCount") / rowsIn
    L("state.puts_per_row") = custom("rocksdbPutCount") / rowsIn
    L("state.dropped_late") = ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark.toDouble).sum).sum
    // every custom state-store metric, per batch, for the report
    ctx.result.extra("state_custom_per_batch") = ops.flatten
      .flatMap(_.customMetrics.asScala.map { case (k, v) => k -> v.doubleValue })
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum / data.size.max(1) }
    if (t.active) data.foreach { p =>
      val g = s"batch-${p.batchId}"
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val id = t.nextId()
      t.add(Span(id, -1L, "microbatch", g, start, start + dur(p, "triggerExecution")))
      // the phases in the order MicroBatchExecution runs them
      var at = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = dur(p, k)
          if (d > 0) t.add(Span(t.nextId(), id, s"microbatch.$k", g, at, at + d))
          at += d
        }
    }
  }
}

object StreamDriver {
  val SettleMs = 200.0
}

/** stream_reduce: events → Map vertex tagging even/odd → conditional edge
  * (even) → keyed Fixed(60 s) sum/count reduce, 30 s maxDelay → sink,
  * written in the Pipeline DSL and compiled by `graft.streaming.Compiler`. */
object StreamReduce extends StreamSpec[Ev] {
  import graft.model.Pipeline._
  implicit def enc: Encoder[Ev] = Encoders.product[Ev]
  def satBlockRows = 30000
  def olBlockRows = 200
  def olPeriodMs = 20.0
  def row(seed: Long, i: Long): Ev = Gen.ev(seed, i)

  val groupBy = GroupBySpec(Fixed("60 seconds"), Seq("key"),
    Seq(sum(col("value")).as("sum_value"), count(lit(1)).as("n")))

  def pipeline(events: DataFrame): PipelineSpec = PipelineSpec(
    vertices = Seq(
      SourceV("events", events, "ts"),
      MapV("tag", _.withColumn("tags",
        array(when(col("value") % 2 === 0, lit("even")).otherwise(lit("odd"))))),
      ReduceV("sum", groupBy),
      SinkV("out")),
    edges = Seq(
      Edge("events", "tag"),
      Edge("tag", "sum", Some(graft.ops.Routing.TagCondition(Seq("even")))),
      Edge("sum", "out")),
    watermark = WatermarkSpec("30 seconds"))

  def start(ctx: Ctx, in: DataFrame, sink: (DataFrame, Long) => Unit, cp: String): StreamingQuery = {
    val t0 = System.nanoTime()
    val out = ctx.trace.span("compiler.compile", "setup")(
      graft.streaming.Compiler.compile(pipeline(in))("out"))
    ctx.result.layers.getOrElseUpdate("compiler.compile_ms", (System.nanoTime() - t0) / 1e6)
    out.writeStream.outputMode(graft.streaming.Compiler.outputMode(groupBy))
      .option("checkpointLocation", cp).foreachBatch(sink).start()
  }

  /** Two even rows of an extra key, minutes past the last event: the
    * first moves the watermark past every real window, the second's
    * batch emits them. */
  override def flush(seed: Long, rowsFed: Long): Seq[Seq[Ev]] = Seq(0L, 1000L).map { d =>
    Seq(Ev("flush", new Timestamp(Gen.T0 + rowsFed + 600000L + d), 0L))
  }

  def check(ctx: Ctx, rowsFed: Long, out: Seq[Row]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed
    val input = spark.range(rowsFed).map(i => Gen.ev(seed, i)).toDF()
    val batch = graft.streaming.Compiler.compile(pipeline(input), streaming = false)("out")
    Compare.rows(ctx.result, "stream_reduce", batch.collect().toSeq,
      out.filter(_.getAs[String]("key") != "flush"))
  }
}

/** stream_neardup: `graft.streaming.StreamingNearDup.pairs` over the seeded
  * document stream; the pairs must equal the batch twin
  * (`graft.ops.Dedup.minhashLshPairs`) restricted to the retention window. */
object StreamNearDup extends StreamSpec[Doc] {
  implicit def enc: Encoder[Doc] = Encoders.product[Doc]
  val RetentionMs = 60000L
  def satBlockRows = 4000
  def olBlockRows = 40
  def olPeriodMs = 20.0
  def row(seed: Long, i: Long): Doc = Gen.doc(seed, i)

  def start(ctx: Ctx, in: DataFrame, sink: (DataFrame, Long) => Unit, cp: String): StreamingQuery =
    graft.streaming.StreamingNearDup.pairs(in.withWatermark("ts", "30 seconds"),
        "doc_id", "text", "ts", RetentionMs)
      .select("a", "b")
      .writeStream.outputMode("append").option("checkpointLocation", cp)
      .foreachBatch(sink).start()

  def check(ctx: Ctx, rowsFed: Long, out: Seq[Row]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed
    val docs = spark.range(rowsFed).map(i => Gen.doc(seed, i)).toDF()
    val maxGap = RetentionMs / Gen.DocStepMs
    val batch = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text")
      .where(abs(col("b") - col("a")) <= maxGap).select("a", "b")
    Compare.rows(ctx.result, "stream_neardup", batch.collect().toSeq, out)
    ctx.result.extra("pairs") = out.size
  }
}

/** Multiset comparison of result rows: every expected row must appear as
  * often as expected, and nothing else may appear. Each expected or
  * unexpected row is one checked operation. */
object Compare {
  def diff(expected: Seq[Row], got: Seq[Row]): (Int, Seq[String]) = {
    def counts(rs: Seq[Row]) = rs.groupBy(canon).view.mapValues(_.size).toMap
    val e = counts(expected)
    val g = counts(got)
    val keys = e.keySet ++ g.keySet
    val bad = keys.toSeq.filter(k => e.getOrElse(k, 0) != g.getOrElse(k, 0)).sorted
    (bad.map(k => math.abs(e.getOrElse(k, 0) - g.getOrElse(k, 0))).sum, bad)
  }

  def canon(r: Row): String =
    r.schema.fieldNames.sorted.map(f => s"$f=${r.getAs[Any](f)}").mkString(",")

  def rows(res: Result, what: String, expected: Seq[Row], got: Seq[Row]): Unit = {
    val (wrong, bad) = diff(expected, got)
    val n = math.max(expected.size, got.size).toLong
    res.attempted += n
    res.failed += math.min(n, wrong.toLong)
    if (wrong > 0)
      res.notes += s"$what: $wrong of $n result rows differ from the batch twin, e.g. ${bad.take(3).mkString("; ")}"
    res.extra(s"${what}_rows_checked") = n
  }
}
