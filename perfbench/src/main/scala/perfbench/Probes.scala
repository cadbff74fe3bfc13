package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners. Jobs and stages become spans (job → stage),
  * parented on the benchmark span that started them through the
  * `perfbench.span` local property, or on their micro-batch; task end
  * events add up per stage into the stage span; each successful execution
  * contributes its Catalyst phase intervals as `catalyst.*` spans. */
final class Probes(trace: Trace) extends SparkListener with QueryExecutionListener {
  import Probes._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), StageTasks]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val parent = p.flatMap(x => Option(x.getProperty(Trace.SpanProperty)))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val group = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .map(b => s"batch-$b").getOrElse("")
    val j = Job(trace.nextId(), parent, group, e.time.toDouble)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      trace.add(Span(j.spanId, j.parent, "job", j.group, j.startMs, e.time.toDouble))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ms = e.taskInfo.duration.toDouble
    val st = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageTasks)
    st.synchronized {
      st.n += 1; st.sumMs += ms; st.maxMs = math.max(st.maxMs, ms)
      Option(e.taskMetrics).foreach { m =>
        st.shuffle += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val st = Option(stageTasks.remove((info.stageId, info.attemptNumber())))
      .getOrElse(new StageTasks)
    val job = Option(stageJob.remove(info.stageId))
    for (s <- info.submissionTime; c <- info.completionTime)
      trace.add(Span(trace.nextId(), job.map(_.spanId).getOrElse(-1L), "stage",
        job.map(_.group).getOrElse(""), s.toDouble, c.toDouble,
        Map("tasks" -> st.n.toDouble, "task_ms" -> st.sumMs, "max_task_ms" -> st.maxMs,
          "shuffle_bytes" -> st.shuffle.toDouble, "spill_bytes" -> st.spill.toDouble,
          "input_bytes" -> st.input.toDouble)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Seq("analysis" -> "catalyst.analyze", "optimization" -> "catalyst.optimize",
        "planning" -> "catalyst.physical").foreach { case (phase, name) =>
      qe.tracker.phases.get(phase).foreach { p =>
        trace.add(Span(trace.nextId(), -1L, name, "", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probes {
  private final case class Job(spanId: Long, parent: Long, group: String, startMs: Double)
  private final class StageTasks {
    var n = 0; var sumMs = 0.0; var maxMs = 0.0
    var shuffle = 0L; var spill = 0L; var input = 0L
  }

  def install(spark: SparkSession, trace: Trace): Probes = {
    val p = new Probes(trace)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
