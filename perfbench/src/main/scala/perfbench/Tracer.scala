package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory span recorder. Times are epoch microseconds so spans the
  * harness records (nanoTime) line up with listener events (epoch
  * milliseconds). `op` is the timed op a span belongs to, or -1 when
  * only its time window can place it (plan phases, stream progress). */
final case class Span(op: Int, name: String, startUs: Long, endUs: Long,
    attrs: Seq[(String, Any)] = Nil)

object Clock {
  private val baseUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def epochUs(nanos: Long): Long = baseUs + nanos / 1000L
  def nowUs(): Long = epochUs(System.nanoTime())
}

/** Collects the job/stage/task spans (SparkListener), the planning
  * phases (QueryExecutionListener) and streaming progress of a traced
  * run. The listeners are attached for the traced ops only, so the
  * untraced ops of a traced run measure the recorder's own overhead.
  * Listener callbacks run on Spark's listener-bus threads; every
  * mutation is under `this` lock. Only jobs whose job group is a
  * traced op are recorded. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var tracedOps: Set[Int] = Set.empty

  private final class StageAgg {
    var tasks, failures = 0L
    var durMs, runMs, cpuNs, gcMs, deserMs, waitMs = 0L
    var inBytes, inRows, shWrite, shRead, fetchWaitMs, spill = 0L
  }
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[(Int, Int), StageAgg]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.stripPrefix("op-").toInt)
      .getOrElse(-1)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = opOf(e.properties)
      if (tracedOps(op)) {
        jobOp(e.jobId) = op
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobOp.remove(e.jobId).foreach { op =>
        spans += Span(op, "job", jobStart(e.jobId) * 1000L, e.time * 1000L,
          Seq("job" -> e.jobId))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageJob.contains(e.stageId)) {
        val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId),
          new StageAgg)
        val info = e.taskInfo
        a.tasks += 1
        if (!info.successful) a.failures += 1
        a.durMs += info.finishTime - info.launchTime
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.inBytes += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
          a.waitMs += math.max(0L, info.launchTime - sub)
        }
      }
    }
    private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val si = e.stageInfo
        if (stageJob.contains(si.stageId))
          stageSubmit((si.stageId, si.attemptNumber())) =
            si.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val key = (si.stageId, si.attemptNumber())
        for (job <- stageJob.get(si.stageId); op <- jobOp.get(job)
             .orElse(Some(-1))) {
          val a = stageAgg.remove(key).getOrElse(new StageAgg)
          val sub = stageSubmit.remove(key)
            .orElse(si.submissionTime).getOrElse(0L)
          val end = si.completionTime.getOrElse(System.currentTimeMillis())
          spans += Span(op, "stage", sub * 1000L, end * 1000L, Seq(
            "job" -> job, "tasks" -> a.tasks, "task_failures" -> a.failures,
            "task_dur_ms" -> a.durMs, "task_run_ms" -> a.runMs,
            "task_cpu_ms" -> a.cpuNs / 1e6, "task_gc_ms" -> a.gcMs,
            "task_deser_ms" -> a.deserMs, "task_wait_ms" -> a.waitMs,
            "scan_bytes" -> a.inBytes, "scan_rows" -> a.inRows,
            "shuffle_write_bytes" -> a.shWrite,
            "shuffle_read_bytes" -> a.shRead,
            "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spill))
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      Tracer.this.synchronized {
        phases.foreach { case (name, p) =>
          if (name != "parsing")
            spans += Span(-1, s"plan.$name", p.startTimeMs * 1000L,
              p.endTimeMs * 1000L)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val endUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val trigger = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)
      val commit = p.stateOperators.map(_.commitTimeMs).sum
      Tracer.this.synchronized {
        spans += Span(-1, "stream.batch", endUs, endUs + trigger * 1000L,
          Seq("trigger_ms" -> trigger, "state_commit_ms" -> commit))
      }
    }
  }

  /** Starts recording op `op`. */
  def attach(op: Int): Unit = {
    tracedOps += op
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Stops recording, once every event the op queued has been
    * delivered. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans recorded by the harness itself (op and its direct steps). */
  def add(s: Span): Unit = synchronized { spans += s }

  def writeJsonl(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""","$k":${Json.num(v)}""" }
      w.write(s"""{"op":${s.op},"name":"${s.name}","s":${s.startUs},""" +
        s""""e":${s.endUs}${attrs.mkString}}""")
      w.newLine()
    } finally w.close()
  }
}

object Json {
  def num(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case null => "null"
    case other => str(other.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${raw(v)}" }.mkString("{", ",", "}")
  private def raw(v: Any): String = v match {
    case r: Raw => r.json
    case xs: Seq[_] => xs.map(raw).mkString("[", ",", "]")
    case o => num(o)
  }
  final case class Raw(json: String)
}
