package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op Spark counters for one traced session, gathered by listeners
  * the benchmark registers from outside the program:
  *
  *  - a `SparkListener` for jobs, stages, tasks and their metrics, and
  *    for SQL execution starts;
  *  - a `QueryExecutionListener` for Catalyst phase times, action counts
  *    and broadcast sizes;
  *  - a `StreamingQueryListener` for micro-batch progress.
  *
  * Each op's jobs carry the tag `perfbench-op-<id>` (set with
  * `SparkContext.addJobTag` around the op), so job, stage, task and SQL
  * execution events are attributed by tag. Streaming progress has no
  * tag and is attributed by its trigger time to the op running then.
  * Counters are final once the session is stopped, which drains the
  * listener bus.
  */
final class Tracer(spark: SparkSession) {
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val opWindows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val execOp = mutable.Map.empty[Long, Int]

  /** Listener callbacks arrive on the listener bus's threads (the
    * streaming queue has its own), so every access takes this lock.
    */
  private def lock[T](body: => T): T = synchronized(body)

  private def add(op: Int, k: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(op, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  private def opOfTags(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(Tracer.TagPrefix) =>
      t.stripPrefix(Tracer.TagPrefix).toInt }

  private def opAt(ms: Long): Option[Int] =
    opWindows.collectFirst { case (op, s, e) if ms >= s && ms <= e => op }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(","))
      opOfTags(tags).orElse(opAt(e.time)).foreach { op =>
        jobOp(e.jobId) = op
        jobStartMs(e.jobId) = e.time
        e.stageInfos.foreach(si => stageOp(si.stageId) = op)
        add(op, "sched.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobOp.get(e.jobId).foreach { op =>
        val s = jobStartMs(e.jobId)
        jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((s, e.time))
        add(op, "job_wall_ms", (e.time - s).toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock {
        stageOp.get(e.stageInfo.stageId).foreach(add(_, "sched.stages", 1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      stageOp.get(e.stageId).foreach { op =>
        add(op, "sched.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(op, "exec.run_ms", m.executorRunTime.toDouble)
          add(op, "exec.cpu_ms", m.executorCpuTime / 1e6)
          add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
          val sr = m.shuffleReadMetrics
          add(op, "shuffle.read_bytes", (sr.localBytesRead + sr.remoteBytesRead).toDouble)
          add(op, "shuffle.records", sr.recordsRead.toDouble)
          add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(op, "spill.bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
          add(op, "storage.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(op, "storage.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock {
        opOfTags(s.jobTags).orElse(opAt(s.time)).foreach(execOp(s.executionId) = _)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = lock {
    execOp.get(qe.id).orElse(opAt(System.currentTimeMillis())).foreach { op =>
      add(op, "catalyst.actions", 1)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(op, s"catalyst.${p}_ms", s.durationMs.toDouble))
      }
      val bytes = try Tracer.nodes(qe.executedPlan).collect {
        case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum catch { case _: Throwable => 0L }
      add(op, "broadcast.bytes", bytes.toDouble)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock {
        val p = e.progress
        val at = try java.time.Instant.parse(p.timestamp).toEpochMilli
                 catch { case _: Throwable => System.currentTimeMillis() }
        opAt(at).foreach { op =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
          add(op, "streaming.batches", 1)
          add(op, "streaming.trigger_ms", d.getOrElse("triggerExecution", 0.0))
          add(op, "streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
          add(op, "streaming.planning_ms", d.getOrElse("queryPlanning", 0.0))
          add(op, "streaming.commit_ms",
            d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        }
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Runs `body` as op `id`: its jobs are tagged and its time window
    * is open for time-attributed events.
    */
  def during[T](id: Int)(body: => T): T = {
    val sc = spark.sparkContext
    val tag = Tracer.TagPrefix + id
    lock { opWindows += ((id, System.currentTimeMillis(), Long.MaxValue)) }
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      val end = System.currentTimeMillis()
      lock {
        val i = opWindows.lastIndexWhere(_._1 == id)
        opWindows(i) = opWindows(i).copy(_3 = end)
      }
    }
  }

  /** Counters of op `id`, with `driver.self_ms`: the op's wall time not
    * covered by any of its jobs. Call after the session has stopped.
    */
  def countersOf(id: Int, startMs: Long, endMs: Long): Map[String, Double] =
    lock {
      val c = counters.getOrElse(id, mutable.Map.empty[String, Double])
      val covered = Tracer.unionLength(jobIntervals.getOrElse(id, Nil).toSeq
        .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) })
      (c.toMap + ("driver.self_ms" -> ((endMs - startMs) - covered).toDouble))
    }
}

object Tracer {
  val TagPrefix = "perfbench-op-"

  /** Every physical node under `p`, looking through adaptive plans and
    * query stages; reused exchanges are counted once, where they run.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
