package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed operation of a workload (a request, a build, an append). Wall
  * times are epoch ms (the clock Spark stamps its events with); the nano
  * pair is for spans. */
final case class Op(id: Long, kind: String, startMs: Long, endMs: Long,
    startNs: Long, endNs: Long, compiles: Long, compileNs: Long)

/** A Spark SQL execution seen from outside: its role in a search request
  * (`fts`, `vss`, `fetch`, `restrict`, `other`), planning time from the
  * query's tracker, and the size of the largest `IN` list it filtered on
  * (for the candidate fetch: the number of fused candidates). */
final case class Exec(id: Long, startMs: Long, endMs: Long, role: String,
    planMs: Double, inList: Int)

/** Per-operation Spark counters. */
final case class OpCounters(jobs: Int, tasks: Int, inputRows: Long,
    shuffleWriteBytes: Long, spillBytes: Long, maxTaskShuffleRecords: Long,
    taskFailures: Int, taskWaitMs: Seq[Double], taskRunMs: Long,
    planMs: Double, execs: Seq[Exec])

/** Outside-in Spark counters: a SparkListener (jobs, stages, tasks, and SQL
  * executions with their QueryExecution) and the codegen counters, all
  * registered or read by the benchmark itself. The program's own listeners
  * are neither used nor touched.
  *
  * Every operation sets its own job group, but jobs submitted from the
  * program's worker threads (the concurrent search legs) may not carry it,
  * so each job is attributed to the operation whose wall window holds its
  * submit time — operations run one at a time, so the windows never
  * overlap. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe.{JobRec, TaskRec}

  private val jobs = ArrayBuffer.empty[JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  private val execStart = scala.collection.mutable.Map.empty[Long, Long]
  private val execEnd = scala.collection.mutable.Map.empty[Long, Long]
  private val execInfo = scala.collection.mutable.Map.empty[Long, (String, Double, Int)]
  private var nextOp = 1L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkProbe.this.synchronized {
      jobs += JobRec(e.jobId, e.time, e.stageIds)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      SparkProbe.this.synchronized {
        e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkProbe.this.synchronized {
      val m = e.taskMetrics
      val ok = e.reason == org.apache.spark.Success
      tasks += (if (m == null) TaskRec(e.stageId, e.taskInfo.launchTime, 0, 0, 0, 0, 0, !ok)
        else TaskRec(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleReadMetrics.recordsRead, !ok))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        SparkProbe.this.synchronized { execStart(s.executionId) = s.time }
      case s: SparkListenerSQLExecutionEnd =>
        // the end event carries the execution's QueryExecution (the one
        // Spark hands to QueryExecutionListeners)
        val info = scala.util.Try {
          val qe = org.apache.spark.sql.PerfbenchSql.queryExecution(s)
          (SparkProbe.role(qe), qe.tracker.phases.values.map(_.durationMs.toDouble).sum,
            SparkProbe.largestIn(qe))
        }.getOrElse(("other", 0.0, 0))
        SparkProbe.this.synchronized {
          execEnd(s.executionId) = s.time
          execInfo(s.executionId) = info
        }
      case _ => ()
    }
  }

  spark.sparkContext.addSparkListener(listener)

  /** Run `f` as one operation of kind `kind`; returns its result and Op. */
  def op[T](kind: String, tracer: Tracer)(f: => T): (T, Op) = {
    val id = synchronized { val i = nextOp; nextOp += 1; i }
    tracer.op = id
    spark.sparkContext.setJobGroup(s"perfbench-$id", kind, interruptOnCancel = false)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try {
      val r = f
      val ns1 = System.nanoTime()
      (r, Op(id, kind, ms0, System.currentTimeMillis(), ns0, ns1,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        CodeGenerator.compileTime - n0))
    } finally {
      spark.sparkContext.clearJobGroup()
      tracer.op = 0L
    }
  }

  /** Wait until Spark has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Epoch-ms → nanoTime, for placing Spark-stamped events among spans. */
  private val clock0 = (System.currentTimeMillis(), System.nanoTime())
  def msToNs(ms: Long): Long = clock0._2 + (ms - clock0._1) * 1000000L

  /** Counters of each of `which`, after a drain. */
  def counters(which: Seq[Op]): Map[Long, OpCounters] = {
    drain()
    synchronized {
      val sorted = which.sortBy(_.startMs).toArray
      val starts = sorted.map(_.startMs)
      def opAt(ms: Long): Option[Long] = {
        var i = java.util.Arrays.binarySearch(starts, ms)
        if (i < 0) i = -i - 2
        // ties: several ops can start in the same millisecond; the last one
        while (i >= 0 && i + 1 < starts.length && starts(i + 1) == ms) i += 1
        if (i >= 0 && ms <= sorted(i).endMs) Some(sorted(i).id) else None
      }
      val jobOp = jobs.flatMap(j => opAt(j.timeMs).map(j -> _))
      val stageOp = jobOp.flatMap { case (j, o) => j.stages.map(_ -> o) }.toMap
      val tasksBy = tasks.groupBy(t => stageOp.get(t.stageId))
      val execsBy = execStart.toSeq.flatMap { case (id, s) =>
        opAt(s).map { o =>
          val (role, plan, in) = execInfo.getOrElse(id, ("other", 0.0, 0))
          o -> Exec(id, s, execEnd.getOrElse(id, s), role, plan, in)
        }
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val jobsBy = jobOp.groupBy(_._2).view.mapValues(_.size).toMap
      which.map { o =>
        val ts = tasksBy.getOrElse(Some(o.id), Nil)
        val ex = execsBy.getOrElse(o.id, Nil).sortBy(_.startMs)
        o.id -> OpCounters(
          jobs = jobsBy.getOrElse(o.id, 0),
          tasks = ts.size,
          inputRows = ts.map(_.recordsRead).sum,
          shuffleWriteBytes = ts.map(_.shuffleWriteBytes).sum,
          spillBytes = ts.map(_.spill).sum,
          maxTaskShuffleRecords = if (ts.isEmpty) 0L else ts.map(_.shuffleReadRecords).max,
          taskFailures = ts.count(_.failed),
          taskWaitMs = ts.flatMap(t =>
            stageSubmit.get(t.stageId).map(s => math.max(0L, t.launchMs - s).toDouble)).toSeq,
          taskRunMs = ts.map(_.runMs).sum,
          planMs = ex.map(_.planMs).sum,
          execs = ex)
      }.toMap
    }
  }

  /** The `spark.*` per-layer metrics over `which` (per-operation means,
    * except the window-wide maximum, wait median and busy fraction). */
  def sparkMetrics(which: Seq[Op], cores: Int): Seq[(String, Double)] = {
    val cs = counters(which)
    val n = math.max(1, which.size).toDouble
    val wallMs = which.map(o => (o.endNs - o.startNs) / 1e6).sum
    def per(f: OpCounters => Double): Double = cs.values.map(f).sum / n
    Seq(
      "spark.plan_ms" -> per(_.planMs),
      "spark.codegen_compiles" -> which.map(_.compiles.toDouble).sum / n,
      "spark.codegen_compile_ms" -> which.map(_.compileNs / 1e6).sum / n,
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.task_wait_ms" -> {
        val w = cs.values.flatMap(_.taskWaitMs).toSeq
        if (w.isEmpty) 0.0 else Stats.median(w)
      },
      "spark.busy_frac" ->
        (if (wallMs <= 0) 0.0 else cs.values.map(_.taskRunMs).sum / (wallMs * cores)),
      "spark.input_rows" -> per(_.inputRows.toDouble),
      "spark.shuffle_write_bytes" -> per(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> per(_.spillBytes.toDouble),
      "spark.max_task_shuffle_records" ->
        (if (cs.isEmpty) 0.0 else cs.values.map(_.maxTaskShuffleRecords).max.toDouble),
      "spark.task_failures" -> cs.values.map(_.taskFailures).sum.toDouble)
  }
}

object SparkProbe {
  private final case class JobRec(jobId: Int, timeMs: Long, stages: Seq[Int])
  private final case class TaskRec(stageId: Int, launchMs: Long, runMs: Long,
      recordsRead: Long, shuffleWriteBytes: Long, spill: Long,
      shuffleReadRecords: Long, failed: Boolean)

  /** Role of an execution in a search request, from the shape of its
    * analyzed plan: the BM25 leg yields (doc_id, score), the vector leg
    * (doc_id, vss_score) or, for the PQ shortlist, doc_ids over the codes;
    * the candidate fetch yields document rows; the phrase/near restriction
    * yields doc_ids over the positions sidecar. */
  def role(qe: QueryExecution): String = {
    val out = qe.analyzed.output.map(_.name)
    lazy val leaves = qe.analyzed.collectLeaves().flatMap(_.output.map(_.name)).toSet
    out match {
      case Seq("doc_id", "vss_score") => "vss"
      case Seq("doc_id", "score") => "fts"
      case o if o.contains("content") && o.contains("file_path") &&
        !o.contains("score") => "fetch"
      case Seq("doc_id") if leaves.contains("pos") => "restrict"
      case Seq("doc_id") if leaves.contains("codes") => "vss"
      case _ => "other"
    }
  }

  def largestIn(qe: QueryExecution): Int = {
    val sizes = qe.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
      case i: In => i.list.size
      case s: InSet => s.hset.size
    })
    if (sizes.isEmpty) 0 else sizes.max
  }
}
