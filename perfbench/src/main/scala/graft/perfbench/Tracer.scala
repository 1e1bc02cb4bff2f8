package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * comparable with the epoch-millisecond times Spark's listener events
  * carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def isoMs(ts: String): Double = java.time.Instant.parse(ts).toEpochMilli.toDouble
}

/** One traced interval: `parent` is the span that caused it (null for
  * a root), `layer` the repo module or Spark layer it belongs to. */
final case class Span(id: String, parent: String, name: String, layer: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "layer" -> layer, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** Builds spans from the benchmark's own calls and from Spark's public
  * listener APIs: a SparkListener adds job and stage spans, a
  * QueryExecutionListener the Catalyst phases and graft.plans rule
  * counts, a StreamingQueryListener one span per micro-batch and one
  * per query. Spans stay in memory until [[spans]] is called at the
  * end of the run.
  *
  * Parents: a job's parent is its job group (the benchmark runs every
  * entry and every snapshot scan under its own group; Spark runs each
  * streaming query under a group named by its run id, and the job
  * description names the batch). Spans without a known parent, such as
  * planning phases, are attached to the innermost window registered
  * with [[window]] that contains their start. */
final class Tracer(spark: SparkSession) {
  private val own = mutable.ArrayBuffer[Span]()
  private val done = mutable.ArrayBuffer[Span]()
  private val windows = mutable.ArrayBuffer[(String, Double, Double)]()
  private val jobStarts = mutable.Map[Int, (Double, String, String)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Double]]()
  private val queryStart = mutable.Map[String, (Double, String)]()
  private val lastBatchEnd = mutable.Map[String, Double]()
  private var planSeq = 0

  /** Adds a span the benchmark's own code timed; its parent is final. */
  def add(s: Span): Unit = synchronized { own += s }

  /** Registers an interval that listener spans starting inside it attach to. */
  def window(id: String, startMs: Double, endMs: Double): Unit =
    synchronized { windows += ((id, startMs, endMs)) }

  private val BatchDesc = """batch = (\d+)""".r.unanchored

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobStarts(e.jobId) = (e.time.toDouble, group, desc)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, group, desc) =>
        val parent = (group, desc) match {
          case (g, BatchDesc(b)) if g != null && queryStart.contains(g) => s"batch:$g:$b"
          case (g, _) => g
        }
        val failed = if (e.jobResult == JobSucceeded) 0 else 1
        done += Span(s"job:${e.jobId}", parent, "job", "exec", start, e.time.toDouble,
          Map("failed" -> failed))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
        .append(e.taskInfo.duration.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val tasks = taskMs.remove((si.stageId, si.attemptNumber())).map(_.toSeq).getOrElse(Nil)
      val start = si.submissionTime.getOrElse(0L).toDouble
      val end = si.completionTime.map(_.toDouble).getOrElse(start)
      val attrs: Map[String, Any] =
        if (m == null) Map("tasks" -> si.numTasks, "task_ms" -> tasks)
        else Map(
          "tasks" -> si.numTasks,
          "task_ms" -> tasks,
          "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "input_bytes" -> m.inputMetrics.bytesRead,
          "input_rows" -> m.inputMetrics.recordsRead,
          "output_bytes" -> m.outputMetrics.bytesWritten)
      val parent = stageJob.get(si.stageId).map(j => s"job:$j").orNull
      done += Span(s"stage:${si.stageId}.${si.attemptNumber()}", parent, "stage", "exec",
        start, end, attrs)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        planSeq += 1
        val graft = qe.tracker.rules.filter(_._1.startsWith("graft."))
        val ruleAttrs: Map[String, Any] = Map(
          "graft_rule_ns" -> graft.values.map(_.totalTimeNs).sum,
          "graft_rule_calls" -> graft.values.map(_.numInvocations).sum,
          "graft_rule_effective" -> graft.values.map(_.numEffectiveInvocations).sum)
        qe.tracker.phases.foreach { case (phase, p) =>
          done += Span(s"plan:$planSeq:$phase", null, phase, "plans",
            p.startTimeMs.toDouble, p.endTimeMs.toDouble,
            if (phase == "optimization") ruleAttrs else Map.empty)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Micro-batch phases in the order MicroBatchExecution runs them; the
    * progress reports only their durations, so the phase spans are laid
    * end to end from the batch start in this order. */
  private val BatchPhases =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        queryStart(e.runId.toString) = (Clock.isoMs(e.timestamp), Option(e.name).getOrElse(""))
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val run = p.runId.toString
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = Clock.isoMs(p.timestamp)
        val end = start + d.getOrElse("triggerExecution", 0L)
        val ops = p.stateOperators.toSeq
        val id = s"batch:$run:${p.batchId}"
        val attrs: Map[String, Any] = Map(
          "batch_id" -> p.batchId,
          "input_rows" -> p.numInputRows,
          "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
          "state_rows_total" -> ops.map(_.numRowsTotal).sum,
          "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
          "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum) ++
          d.map { case (k, v) => s"ms.$k" -> v }
        done += Span(id, s"query:$run", "batch", "streaming", start, end, attrs)
        windows += ((id, start, end))
        var t = start
        BatchPhases.foreach { ph =>
          d.get(ph).filter(_ > 0).foreach { ms =>
            done += Span(s"$id/$ph", id, ph, "streaming", t, t + ms)
            windows += ((s"$id/$ph", t, t + ms))
            t += ms
          }
        }
        lastBatchEnd(run) = end
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized {
        val run = e.runId.toString
        val now = Clock.nowMs
        queryStart.get(run).foreach { case (start, name) =>
          done += Span(s"query:$run", null, "query", "lifecycle", start, now,
            Map("name" -> name, "last_batch_end_ms" -> lastBatchEnd.getOrElse(run, start),
              "failed" -> (if (e.exception.isDefined) 1 else 0)))
        }
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Detaches the listeners after the listener buses have drained and
    * returns every span, orphans attached to their windows. */
  def spans(): Seq[Span] = {
    val deadline = System.nanoTime() + 5000L * 1000000L
    while (synchronized(jobStarts.nonEmpty) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300) // the planning listener has no pending count to wait on
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    synchronized {
      val ws = windows.toSeq
      def innermost(t: Double, prefix: String): Option[String] =
        ws.filter { case (id, s, e) => id.startsWith(prefix) && s <= t && t < e }
          .sortBy { case (_, s, e) => e - s }.headOption.map(_._1)
      // a listener span narrows to the innermost window of its parent
      // that it started in (an entry's construct or execute, a batch's
      // phase); one without a parent to the innermost of all windows
      own.toSeq ++ done.toSeq.map { s =>
        val prefix = if (s.parent == null) "" else s.parent + "/"
        innermost(s.startMs, prefix).filter(_ != s.id).map(p => s.copy(parent = p)).getOrElse(s)
      }
    }
  }
}
