package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch nanoseconds; `parent` is 0 when
  * the parent is found later by time containment (Spark executions) or by
  * an id in `attrs` (jobs, stages). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long, attrs: Map[String, Any])

/** In-memory span recorder. Driver-side spans nest on a stack (the benchmark
  * is single-threaded and closed-loop); Spark's listener threads add
  * finished spans. Everything is written out once, after the run.
  *
  * When `enabled` is false every entry point is a field read and a call of
  * the wrapped block, so untraced runs pay nothing measurable. */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val stack = mutable.Stack.empty[Long]
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()

  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  def span[A](kind: String, name: String, attrs: Map[String, Any] = Map.empty)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      val t0 = now()
      stack.push(id)
      try f
      finally {
        stack.pop()
        add(Span(id, parent, kind, name, t0, now(), attrs))
      }
    }

  /** A span that ended just now on the driver thread and lasted `seconds`. */
  def ended(kind: String, name: String, seconds: Double): Unit =
    if (enabled) {
      val t1 = now()
      add(Span(ids.incrementAndGet(), stack.headOption.getOrElse(0L), kind, name,
        t1 - (seconds * 1e9).toLong, t1, Map.empty))
    }

  def add(s: Span): Unit = synchronized { recorded += s }
  def nextId(): Long = ids.incrementAndGet()
  def spans: Seq[Span] = synchronized(recorded.toList)
}

/** Counters read at a public boundary and attributed to the phase running
  * when they moved (the listener bus is drained before each phase ends). */
final class Counters {
  private val values = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized {
    values.update(k, values.getOrElse(k, 0.0) + v)
  }
  def snapshot(): Map[String, Double] = synchronized(values.toMap)
}

/** Spark-side recording: SQL executions, jobs and stages as spans, the
  * Catalyst phase times and file-write metrics of each execution, and RDD
  * blocks stored (checkpoint/cache reuse). Only active while the tracer is. */
final class SparkRecorder(spark: SparkSession, tracer: Tracer, counters: Counters) {
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (tracer.enabled) e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, (s.time * 1000000L, s.description))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execStart.remove(s.executionId)).foreach { case (t0, desc) =>
          tracer.add(Span(tracer.nextId(), 0L, "exec", desc.take(120), t0,
            s.time * 1000000L, Map("execution_id" -> s.executionId)))
        }
      case _ =>
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = if (tracer.enabled) {
      val exec = Option(js.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobStart.put(js.jobId, (js.time * 1000000L, exec))
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = if (tracer.enabled) {
      Option(jobStart.remove(je.jobId)).foreach { case (t0, exec) =>
        tracer.add(Span(tracer.nextId(), 0L, "job", s"job ${je.jobId}", t0,
          je.time * 1000000L, Map("job_id" -> je.jobId, "execution_id" -> exec)))
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (tracer.enabled) {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val t0 = si.submissionTime.getOrElse(0L) * 1000000L
        val t1 = si.completionTime.getOrElse(0L) * 1000000L
        val attrs: Map[String, Any] =
          if (m == null) Map("job_id" -> stageJob.getOrDefault(si.stageId, -1),
            "tasks" -> si.numTasks)
          else Map(
            "job_id" -> stageJob.getOrDefault(si.stageId, -1),
            "tasks" -> si.numTasks,
            "executor_run_ms" -> m.executorRunTime,
            "executor_cpu_ns" -> m.executorCpuTime,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
            "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
        tracer.add(Span(tracer.nextId(), 0L, "stage", s"stage ${si.stageId}", t0, t1, attrs))
      }

    override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = if (tracer.enabled) {
      val info = bu.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) {
        counters.add("ops.reuse_blocks", 1)
        counters.add("ops.reuse_bytes", (info.memSize + info.diskSize).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracer.enabled) {
        val phases = qe.tracker.phases
        def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        counters.add("catalyst.executions", 1)
        counters.add("catalyst.analysis_s", ms("analysis") / 1e3)
        counters.add("catalyst.optimization_s", ms("optimization") / 1e3)
        counters.add("catalyst.planning_s", ms("planning") / 1e3)
        writeCommands(qe.executedPlan).foreach { w =>
          def metric(k: String): Double = w.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          counters.add("write.commands", 1)
          counters.add("write.files", metric("numFiles"))
          counters.add("write.bytes", metric("numOutputBytes"))
          counters.add("write.rows", metric("numOutputRows"))
          counters.add("write.partitions", metric("numParts"))
          counters.add("write.task_commit_s", metric("taskCommitTime") / 1e3)
          counters.add("write.job_commit_s", metric("jobCommitTime") / 1e3)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def writeCommands(plan: SparkPlan): Seq[DataWritingCommandExec] = {
    val out = mutable.ArrayBuffer.empty[DataWritingCommandExec]
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: DataWritingCommandExec => out += w
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
}
