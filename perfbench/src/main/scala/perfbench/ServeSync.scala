package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** serve_sync: a `ServingEndpoint` + `UdSource` DAG (map + uppercase, the
  * `graft.ServingLatencyBench` shape) answering `POST /v1/process/sync`.
  * A closed loop of `cores` clients gives the saturated request rate; an
  * open loop at a fixed rate over at most `cores` connections gives the
  * latency, timed from each request's due time. */
object ServeSync {
  /** Offered open-loop rate: about half of the 6.5 requests/s the endpoint
    * answers under saturation on 4 cores (median of ten runs), so latency
    * is service time, not queueing near the knee. */
  val RatePerS = 3.0
  val WarmRequests = 5
  /** Share of the run spent saturated; the open loop gets the rest, since
    * at this rate it needs the longer phase for its samples. */
  val SaturatedShare = 0.3

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val t = ctx.trace
    val seed = ctx.args.seed
    def nowMs = System.nanoTime() / 1e6
    val progress = new ConcurrentLinkedQueue[(Double, StreamingQueryProgress)]()
    val batchOf = new ConcurrentHashMap[String, java.lang.Long]()
    var serving: graft.streaming.ServingEndpoint = null
    var query: StreamingQuery = null
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val inflightMax = new AtomicInteger(0)
    val shed = new AtomicLong(0)

    def payload(i: Long) = f"payload-$i-${Gen.mix(seed, i, 9)}%x"
    def post(id: String, body: String): HttpResponse[String] = {
      inflightMax.accumulateAndGet(serving.inFlightCount, math.max)
      val resp = t.span("request", id)(client.send(
        HttpRequest.newBuilder(URI.create(s"${serving.url}/v1/process/sync"))
          .header("X-Numaflow-Id", id)
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()))
      if (resp.statusCode == 429) shed.incrementAndGet()
      resp
    }
    def checked(id: String, i: Long): Boolean = {
      val body = payload(i)
      val resp = post(id, body)
      val ok = resp.statusCode == 200 && resp.body == body.toUpperCase + "!"
      r.synchronized(r.check(ok, s"$id: HTTP ${resp.statusCode} '${resp.body.take(80)}'"))
      ok
    }

    def setup(n: Int, cp: String): Unit = {
      val spark = ctx.startSession(rocksdb = false, measured = n == 3)
      spark.streams.addListener(new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.add(nowMs -> e.progress)
      })
      serving = new graft.streaming.ServingEndpoint(port = 0, syncTimeoutMs = 30000)
      val dag = graft.streaming.UdSource.readStream(spark, serving.sourceName)
        .select(col("keys")(0).as("rid"),
          concat(upper(col("value").cast("string")), lit("!")).as("resp"))
      val sink = graft.streaming.Sinks.withRetry { (b: DataFrame, id: Long) =>
        t.span("serving.batch", s"batch-$id") {
          if (t.active) b.select("rid").collect().foreach(x => batchOf.put(x.getString(0), id))
          serving.serveSink("rid", "resp")(b, id)
        }
      }
      query = dag.writeStream.option("checkpointLocation", cp).foreachBatch(sink).start()
      val w0 = nowMs
      (1 to WarmRequests).foreach(i => post(s"warm-$i", payload(-i)))
      if (n == 1) r.coldS = (nowMs - w0) / 1e3
    }
    def teardown(): Unit = {
      if (query != null) { query.stop(); query = null }
      if (serving != null) { serving.close(); serving = null }
    }

    val cpDir = new java.io.File(ctx.work, "checkpoints")
    def checkpoint(n: Int) = new java.io.File(cpDir, s"setup$n").getAbsolutePath
    val jvm0 = ctx.jvmTotals
    // setup 1 gives setup_s and cold_s; the measured phases run on setup 3
    setup(1, checkpoint(1))
    ctx.setupDone()
    var n = 1
    ctx.repeatSetup(2)(teardown()) { n += 1; setup(n, checkpoint(n)) }
    ctx.mark("setup_repeats")
    val pool = Executors.newFixedThreadPool(ctx.args.cores)
    try t.span("workload", "workload") {
      ctx.control()
      val windowMs = ctx.args.seconds * 1000
      val measureFrom = nowMs
      val next = new AtomicLong(0)

      // saturated: every client sends its next request as soon as the
      // previous one is answered
      val satMs = windowMs * SaturatedShare
      val a0 = nowMs
      val done = new AtomicLong(0)
      val clients = (1 to ctx.args.cores).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = while (nowMs - a0 < satMs) {
            val i = next.getAndIncrement()
            if (checked(s"req-$i", i)) done.incrementAndGet()
          }
        })
      }
      clients.foreach(_.get())
      r.opsPerS = done.get / ((nowMs - a0) / 1e3)
      ctx.control()

      // open loop at RatePerS over the same `cores` connections
      val ol = new OpenLoop(1000.0 / RatePerS, () => nowMs)
      val base = next.get
      ol.run(windowMs - satMs) { k =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val i = base + k
            checked(s"req-$i", i)
            ol.done(k, nowMs)
          }
        })
      }
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      r.latencyMs ++= ol.latenciesMs
      val measureTo = nowMs
      ctx.control()
      ctx.mark("window")
      ctx.drainEvents()

      val ps = progress.asScala.toSeq.filter { case (at, _) => at > measureFrom && at <= measureTo }.map(_._2)
      Progress.record(ctx, ps)
      val L = r.layers
      val carried = batchOf.asScala.collect { case (id, b) if id.startsWith("req-") => b.longValue }
      L("serving.requests_per_batch") =
        if (carried.isEmpty) 0.0 else carried.size.toDouble / carried.toSet.size
      L("serving.inflight_max") = inflightMax.get.toDouble
      L("serving.shed") = shed.get.toDouble
      L("source.generator_late_ms") = ol.generatorLateMaxMs
      if (t.active) {
        // response time minus the duration of the batch that carried it
        val trigger = ps.map(p => p.batchId -> Progress.dur(p, "triggerExecution")).toMap
        val reqs = t.allSpans.filter(s => s.name == "request" && s.group.startsWith("req-"))
        val q = reqs.flatMap(s => Option(batchOf.get(s.group)).flatMap(b => trigger.get(b.longValue))
          .map(d => (s.endMs - s.startMs) - d))
        L("serving.queue_ms") = if (q.isEmpty) 0.0 else q.sum / q.size
      }
      r.extra("offered_requests_per_s") = RatePerS
    } finally if (!pool.isTerminated) pool.shutdownNow()
    r.layers ++= ctx.jvmTotals.map { case (k, v) => k -> (v - jvm0(k)) }
    teardown()
    ctx.stopSession()
  }
}
