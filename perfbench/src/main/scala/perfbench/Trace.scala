package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: an op, one phase of it, a job or a stage. Times are
  * epoch milliseconds; `parent` is the id of the enclosing span ("" for an
  * op); `site` is the engine call site that submitted a job. */
final case class Span(id: String, parent: String, name: String, start: Double, end: Double,
    site: String = "") {
  def dur: Double = end - start
}

/** Spans and counters of the traced run, gathered from outside the engine.
  *
  * The benchmark sets the job group `<op>/c` around an op's first phase
  * (DataFrame construction, or a lake call) and `<op>/a` around its action,
  * so every job and stage is tied to the op and phase that caused it. SQL
  * executions carry no job group; they are charged to the op that is
  * running, which is exact because ops run one at a time and the listener
  * bus is drained before the next op starts. Everything stays in memory
  * until the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[String, mutable.Map[String, Double]]()
  private val jobOf = mutable.Map[Int, (String, String)]() // job → (op, phase span)
  private val jobStart = mutable.Map[Int, (Long, String)]()
  private val jobWrote = mutable.Set[Int]()
  private val stageJob = mutable.Map[Int, Int]() // stage → first job that ran it
  private val rddBlockBytes = mutable.Map[String, Long]()
  private var rddBytes = 0L
  @volatile private var current: String = null

  sc.addSparkListener(this)
  register(spark)

  /** SQL-execution listeners are per session: register on each new one. */
  def register(session: SparkSession): Unit = session.listenerManager.register(this)

  private def add(op: String, k: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(op, mutable.Map())
    m(k) = m.getOrElse(k, 0.0) + v
  }
  private def raise(op: String, k: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(op, mutable.Map())
    m(k) = math.max(m.getOrElse(k, 0.0), v)
  }

  def begin(op: String): Unit = {
    Bus.drain(sc)
    synchronized {
      current = op
      raise(op, "storage.peak_bytes", rddBytes.toDouble)
    }
  }

  /** Close op `op` whose first phase ran over [t0, t1] and whose action ran
    * over [t1, t2]; `result` is the DataFrame the action consumed, if any. */
  def end(op: String, firstPhase: String, t0: Double, t1: Double, t2: Double,
      result: Option[Dataset[_]]): Unit = {
    Bus.drain(sc)
    val shape = result.map(df => PlanShape.counts(df.queryExecution.executedPlan))
    synchronized {
      spans += Span(op, "", "op", t0, t2)
      spans += Span(s"$op/c", op, firstPhase, t0, t1)
      spans += Span(s"$op/a", op, "exec.action", t1, t2)
      if (firstPhase == "operators.construct") add(op, "operators.construct_ms", t1 - t0)
      shape.getOrElse(PlanShape.zero).foreach { case (k, v) => add(op, k, v) }
      current = null
    }
  }

  /** Called after the benchmark's `clearCache()`: what is still persisted
    * (local checkpoints and pins are not SQL cache entries) stays behind. */
  def afterClear(op: String): Unit = synchronized {
    raise(op, "storage.rdds_left", sc.getPersistentRDDs.size.toDouble)
  }

  def opCounters(op: String): Map[String, Double] =
    synchronized(counters.get(op).map(_.toMap).getOrElse(Map.empty))

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(g => g.endsWith("/c") || g.endsWith("/a"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      jobOf(e.jobId) = (g.dropRight(2), g)
      jobStart(e.jobId) = (e.time, e.stageInfos.maxBy(_.stageId).name)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.get(e.jobId).foreach { case (op, phase) =>
      val (start, site) = jobStart(e.jobId)
      spans += Span(s"$op/j${e.jobId}", phase, "job", start, e.time, site)
      add(op, "sched.jobs", 1)
      if (phase.endsWith("/c")) add(op, "operators.eager_jobs", 1)
      if (jobWrote(e.jobId)) add(op, "lake.publish_ms", e.time - start)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for {
      job <- stageJob.get(si.stageId)
      (op, _) <- jobOf.get(job)
      s <- si.submissionTime
      c <- si.completionTime
    } {
      spans += Span(s"$op/s${si.stageId}.${si.attemptNumber()}", s"$op/j$job", "stage", s, c)
      add(op, "sched.stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for {
      job <- stageJob.get(e.stageId)
      (op, _) <- jobOf.get(job)
      if m != null
    } {
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      add(op, "sched.tasks", 1)
      add(op, "sched.delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult).toDouble)
      add(op, "exec.run_ms", m.executorRunTime.toDouble)
      add(op, "exec.cpu_ms", m.executorCpuTime / 1e6)
      add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
      raise(op, "exec.peak_mem_bytes", m.peakExecutionMemory.toDouble)
      add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(op, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add(op, "spill.disk_bytes", m.diskBytesSpilled.toDouble)
      add(op, "spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      val in = m.inputMetrics
      add(op, "scan.rows", in.recordsRead.toDouble)
      add(op, "scan.bytes", in.bytesRead.toDouble)
      if (in.bytesRead > 0 || in.recordsRead > 0) add(op, "sched.scan_tasks", 1)
      val out = m.outputMetrics
      add(op, "lake.bytes_written", out.bytesWritten.toDouble)
      add(op, "lake.rows_written", out.recordsWritten.toDouble)
      if (out.bytesWritten > 0) jobWrote += job
      // A block a task evicted to make room is reported with no memory copy.
      add(op, "storage.blocks_dropped", m.updatedBlockStatuses.count { case (id, st) =>
        id.isRDD && st.memSize == 0
      }.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      rddBytes += now - rddBlockBytes.getOrElse(key, 0L)
      if (now == 0) rddBlockBytes.remove(key) else rddBlockBytes(key) = now
      if (current != null) raise(current, "storage.peak_bytes", rddBytes.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val op = current
      if (op != null) {
        val phases = qe.tracker.phases
        for ((phase, metric) <- Seq("analysis" -> "catalyst.analysis_ms",
            "optimization" -> "catalyst.optimization_ms", "planning" -> "catalyst.planning_ms"))
          add(op, metric, phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Operator counts of a final (adaptive) physical plan, subqueries included. */
object PlanShape extends AdaptiveSparkPlanHelper {
  val zero: Seq[(String, Double)] = Seq("plan.exchanges", "plan.sorts", "plan.broadcasts",
    "plan.pinned_scans", "plan.cached_scans").map(_ -> 0.0)

  def counts(p: SparkPlan): Seq[(String, Double)] = {
    def n(f: PartialFunction[SparkPlan, Unit]): Double = collectWithSubqueries(p)(f).size.toDouble
    Seq(
      "plan.exchanges" -> n { case _: ShuffleExchangeExec => },
      "plan.sorts" -> n { case _: SortExec => },
      "plan.broadcasts" -> n { case _: BroadcastExchangeExec => },
      "plan.pinned_scans" -> n { case _: RDDScanExec => },
      "plan.cached_scans" -> n { case _: InMemoryTableScanExec => })
  }
}

/** Self time of each span (its duration less the part its children cover)
  * and the check that an op's spans account for its wall time. */
object Reconcile {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  private def cover(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    for ((s, e) <- clipped) {
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** For one op's spans: (self time per span name, wall − accounted time).
    * Accounted time is Σ self − Σ overlap between siblings; it equals the
    * wall time unless a child span runs outside its parent. */
  def apply(spans: Seq[Span]): (Map[String, Double], Double) = {
    val kids = spans.groupBy(_.parent)
    val self = mutable.Map[String, Double]()
    var overlap = 0.0
    for (s <- spans) {
      val ch = kids.getOrElse(s.id, Nil)
      val cov = cover(ch.map(c => (c.start, c.end)), s.start, s.end)
      self(s.name) = self.getOrElse(s.name, 0.0) + (s.dur - cov)
      overlap += ch.map(c => math.max(0.0, math.min(c.end, s.end) - math.max(c.start, s.start))).sum - cov
    }
    val wall = spans.filter(_.parent == "").map(_.dur).sum
    (self.toMap, wall - (self.values.sum - overlap))
  }
}
