package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of what Spark's public listeners saw. Records are
  * flat JSON objects with epoch-millisecond times, so the benchmark can
  * place jobs, stages, plans, stream queries and triggers under the op
  * whose interval contains them (ops run one at a time). Listeners only
  * record while `on` is set; the harness drains the listener bus before
  * flipping it, so an event lands in the pass that caused it. */
object Recorder {
  @volatile var on = false
  private val records = new ConcurrentLinkedQueue[String]()

  def add(kind: String, fields: (String, Any)*): Unit =
    if (on) records.add(Json.obj(("k" -> kind) +: fields: _*))

  def drainTo(out: java.io.Writer): Unit = {
    var r = records.poll()
    while (r != null) { out.write(r); out.write('\n'); r = records.poll() }
  }
}

/** Minimal JSON writer for flat records (numbers, booleans, strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    str(k) + ":" + (v match {
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case x => x.toString
    })
  }.mkString("{", ",", "}")
}

/** Jobs and stages, attached with `spark.extraListeners`. Task metrics are
  * taken from each completed stage's accumulated totals, so the record
  * count grows with stages, not tasks. */
class JobListener extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    Recorder.add("job", "t0" -> t0, "t1" -> e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val t1 = i.completionTime.getOrElse(System.currentTimeMillis())
    Recorder.add("stage",
      "t0" -> i.submissionTime.getOrElse(t1), "t1" -> t1,
      "tasks" -> i.numTasks,
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_b" -> m.inputMetrics.bytesRead,
      "input_r" -> m.inputMetrics.recordsRead,
      "output_b" -> m.outputMetrics.bytesWritten,
      "output_r" -> m.outputMetrics.recordsWritten)
  }
}

/** Catalyst phases of every action, attached with
  * `spark.sql.queryExecutionListeners` (child sessions load it too). */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val t = ph.get("planning").orElse(ph.get("analysis")).map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    Recorder.add("plan", "t" -> t,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }

  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Stream query lifecycles and micro-batches, attached with
  * `spark.sql.streaming.streamingQueryListeners`. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Recorder.add("qstart", "id" -> e.runId.toString,
      "t" -> java.time.Instant.parse(e.timestamp).toEpochMilli)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val st = p.stateOperators.toSeq
    Recorder.add("trigger", "id" -> p.runId.toString,
      "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
      "addbatch_ms" -> d.getOrElse("addBatch", 0L),
      "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
      "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
      "latest_offset_ms" -> d.getOrElse("latestOffset", 0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).sum,
      "state_rows" -> st.map(_.numRowsTotal).sum,
      "state_b" -> st.map(_.memoryUsedBytes).sum,
      "input_rows" -> p.numInputRows)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Recorder.add("qend", "id" -> e.runId.toString, "t" -> System.currentTimeMillis())
}
