package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Rows actually read off storage (post row-group pruning) for a block of
  * work, via task input metrics — THE way this engine pins pruning claims,
  * because the plan string cannot show them (`PushedFilters: [In(…)]`
  * prints whether or not parquet stats prune; the In→range threshold
  * degradation is equally invisible). One definition shared by the specs
  * (SessionConfSpec, DocFetchPruneSpec, SkewJoinSpec, ServeJobsSpec) so the
  * drain heuristic can't drift between them — job counts included. */
object InputMetrics {

  /** Runs `work`, folding a per-task metric across every task that ended
    * during the window, and counting the jobs that started in it. The
    * listener bus drains ASYNCHRONOUSLY and a scan may split across several
    * tasks, so the read-out waits until the accumulated value has been BOTH
    * nonzero and stable (task and job counts too) for a few polls —
    * not merely past a partial target — bounded by a deadline. A value
    * stable AT ZERO exits after a longer poll count (~1 s) instead of
    * spinning the whole deadline: a fully pruned scan or an empty relation
    * legitimately reads zero (round-14 ADVICE). Callers must not run
    * concurrent jobs on the session during the window. */
  private def folded[T](spark: SparkSession, expectNonZero: Boolean,
      fold: (Long, SparkListenerTaskEnd) => Long)(work: => T): (T, Long, Long, Long) = {
    @volatile var acc = 0L
    @volatile var tasks = 0L
    @volatile var jobs = 0L
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        acc = fold(acc, te); tasks += 1
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = work
      val deadline = System.nanoTime() + 10e9.toLong
      var last = (-1L, -1L, -1L)
      var stable = 0
      var zeroStable = 0
      while (stable < 4 && (expectNonZero || zeroStable < 20) &&
          System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = (acc, tasks, jobs)
        if (acc > 0 && now == last) stable += 1
        else if (acc == 0 && last._1 == 0 && now == last) zeroStable += 1
        else { stable = 0; zeroStable = 0 }
        last = now
      }
      (r, acc, tasks, jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** (result, total records read off storage by tasks in the window).
    *
    * `expectNonZero`: guards whose claim is "this plan reads SOMETHING and
    * the amount is bounded" must pass true — the ~1 s zero-stable early
    * exit exists for legitimately-zero windows (a fully pruned scan, an
    * empty relation), but a listener bus that drains slower than ~1 s
    * after a heavy job would hand such a guard 0 and a `read ≤ bound`
    * assertion passes VACUOUSLY (round-15 ADVICE); with the flag, a zero
    * keeps polling to the full 10 s deadline instead. */
  def rowsRead[T](spark: SparkSession, expectNonZero: Boolean = false)(
      work: => T): (T, Long) = {
    val (r, acc, _, _) = folded(spark, expectNonZero,
      (acc, te) => acc + te.taskMetrics.inputMetrics.recordsRead)(work)
    (r, acc)
  }

  /** (result, rows read off storage, tasks ended) — the per-REQUEST read
    * profile for the serving lanes (round-16 directive #4): rows say how
    * much data a request touched, the task count is the deterministic
    * proxy for files/splits opened (each scan task opens at least one
    * file split, and a cold parquet footer read is paid per file). Both
    * depend only on data + plan, so a cold-tail wall-time outlier can be
    * adjudicated against them: flat rows/tasks across requests means the
    * tail is NOT read amplification (scheduling/JIT/page-cache), while a
    * tail request with 10× the tasks is a pruning regression. */
  def readProfile[T](spark: SparkSession, expectNonZero: Boolean = false)(
      work: => T): (T, Long, Long) = {
    val (r, acc, tasks, _) = folded(spark, expectNonZero,
      (acc, te) => acc + te.taskMetrics.inputMetrics.recordsRead)(work)
    (r, acc, tasks)
  }

  /** (result, Spark jobs started in the window) — the per-request
    * scheduling cost of a serving path. Each job pays the local[n]
    * scheduling floor, so the count is the deterministic proxy for that
    * latency: it depends only on the plan, never on host load. The drain
    * keys on the task count, so a window that runs no job exits after the
    * ~1 s zero-stable wait and reads 0. */
  def jobCount[T](spark: SparkSession)(work: => T): (T, Long) = {
    val (r, _, _, jobs) = folded(spark, expectNonZero = false,
      (acc, _) => acc + 1)(work)
    (r, jobs)
  }

  /** (result, BYTES read off storage) — the currency of the PQ serving
    * story: codes rows ≈ embedding rows in COUNT (one per embedded doc),
    * so only bytes show the 1/32 ADC scan win. Bytes depend on plan +
    * data + parquet encoding (not host load), stable enough for ratio
    * pins; absolute values shift with compression settings, so pin
    * RATIOS between modes, never raw byte counts. */
  def bytesRead[T](spark: SparkSession, expectNonZero: Boolean = false)(
      work: => T): (T, Long) = {
    val (r, acc, _, _) = folded(spark, expectNonZero,
      (acc, te) => acc + te.taskMetrics.inputMetrics.bytesRead)(work)
    (r, acc)
  }

  /** (result, MAX shuffle-read records of any single task in the window) —
    * the deterministic per-reducer hot-key concentration measure. RECORD
    * counts, not bytes or wall time: they depend only on the data and the
    * plan, so a guard on them cannot be failed by host load (the round-14
    * `skew_guard` false alarm) yet still fails when a de-skew plan
    * degenerates back to piling the hot key onto one reducer.
    * `expectNonZero` as in [[rowsRead]]. */
  def maxShuffleRead[T](spark: SparkSession, expectNonZero: Boolean = false)(
      work: => T): (T, Long) = {
    val (r, acc, _, _) = folded(spark, expectNonZero, (acc, te) =>
      math.max(acc, te.taskMetrics.shuffleReadMetrics.recordsRead))(work)
    (r, acc)
  }
}
