package perfbench

import java.nio.file.{Files, Paths}

/** One workload run in this JVM. Writes `<out>/result.json` with the raw
  * measurements; `run.py` turns them into the reported metrics.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --out <dir> [--data <table dir>] [--cores <n>]
  *   perfbench.Main --selfcheck
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "batch_mix" -> BatchMix.run,
    "stream_reduce" -> (ctx => new StreamDriver(ctx, StreamReduce).run()),
    "stream_neardup" -> (ctx => new StreamDriver(ctx, StreamNearDup).run()),
    "serve_sync" -> ServeSync.run)

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selfcheck")) {
      SelfCheck.run()
      sys.exit(0)
    }
    val args = Args.parse(argv)
    val run = Workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; one of ${Workloads.keys.mkString(", ")}"))
    val ctx = new Ctx(args)
    var code = 0
    try run(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally ctx.stopSession()
    if (code == 0) {
      val r = ctx.result
      val json = Json.obj(
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "cores" -> args.cores,
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "confs" -> Map(
          "master" -> s"local[${args.cores}]",
          "spark.sql.shuffle.partitions" -> args.cores.toString,
          "spark.sql.adaptive.enabled" -> "true",
          "spark.graft.scan.fanout" -> sys.env.getOrElse("SPARK_GRAFT_FANOUT", "true"),
          "spark.graft.scan.fanout.taskBytes" -> sys.env.getOrElse("SPARK_GRAFT_FANOUT_TASK_BYTES", "65536"),
          "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
            sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
          "state_store" -> (if (args.workload.startsWith("stream_")) "rocksdb+changelog" else "default")),
        "setup_s" -> r.setupS, "setup_warm_s" -> r.resetupS, "control_s" -> r.controlS,
        "cold_s" -> r.coldS, "ops_per_s" -> r.opsPerS, "latency_ms" -> r.latencyMs,
        "peak_rss_mb" -> ctx.peakRssMb,
        "attempted" -> r.attempted, "failed" -> r.failed, "notes" -> r.notes,
        "extra" -> (r.extra ++ Seq("phase_end_s" -> r.phases)), "layers" -> r.layers,
        "spans" -> ctx.trace.allSpans)
      Files.writeString(Paths.get(args.out.getAbsolutePath, "result.json"), json)
    }
    // stop lingering non-daemon threads (HTTP server, stream executors)
    sys.exit(code)
  }
}
