package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.{V2CommandExec, V2TableWriteExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrumentation, all from outside the engine: a
  * `SparkListener` (jobs, stages, tasks, blocks), a `QueryExecutionListener`
  * (planning phases and the executed plan) and a `StreamingQueryListener`
  * (micro-batches and state).
  *
  * Spans nest member → entry.build / entry.action → job → stage and share
  * one id per member execution. They stay in memory and are written out at
  * the end. The listener bus is drained after each member, outside its
  * timed window, so every event is attributed to the member that caused it.
  */
final class Tracer(spark: SparkSession, slots: Int) {
  private val MB = 1024.0 * 1024.0
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def ms(nano: Long): Double = baseMs + (nano - baseNano) / 1e6

  final case class Span(id: Int, parent: Int, exec: Int, name: String, start: Double, end: Double)

  /** Counters for one member execution; written by the listener bus
    * thread, read by the driver thread after a drain. */
  final class Exec(val id: Int, val member: String, val start: Double) {
    var actionAt = Double.NaN
    var end = Double.NaN
    var ok = false
    val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = c(k) += v
    def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
    val jobs = mutable.LinkedHashMap.empty[Int, (Double, Double)]
    val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
    val stages = mutable.LinkedHashMap.empty[Int, (Int, Double, Double)] // stage -> (job, start, end)
    val streamRows = mutable.HashMap.empty[java.util.UUID, Long]
    def wallS: Double = (end - start) / 1e3
  }

  @volatile private var cur: Exec = _
  private val execs = ArrayBuffer.empty[Exec]
  private val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private def span(parent: Int, exec: Int, name: String, start: Double, end: Double): Int = {
    nextSpan += 1
    spans += Span(nextSpan, parent, exec, name, start, end)
    nextSpan
  }

  // live RDD blocks: staged checkpoints, memoised frames and caches
  private val blocks = mutable.HashMap.empty[String, (Long, Long)]
  private var blockMem = 0L
  private var blockDisk = 0L
  private val submitted = mutable.HashSet.empty[Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Option(cur).foreach { x =>
      x.jobs(e.jobId) = (e.time.toDouble, Double.NaN)
      x.jobStages(e.jobId) = e.stageIds
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      x.add("sched.jobs", 1)
      if (x.actionAt.isNaN || e.time < x.actionAt) x.add("entry.build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(cur).foreach { x =>
      x.jobs.get(e.jobId).foreach { case (s, _) => x.jobs(e.jobId) = (s, e.time.toDouble) }
      x.add("sched.stages_skipped", x.jobStages.getOrElse(e.jobId, Nil).count(s => !submitted(s)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted += e.stageInfo.stageId
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Option(cur).foreach { x =>
      val i = e.stageInfo
      x.add("sched.stages", 1)
      x.stages(i.stageId) = (stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(cur).foreach { x =>
      x.add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        x.add("sched.task_overhead_s", math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3)
        x.add("exec.task_run_s", m.executorRunTime / 1e3)
        x.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        x.add("exec.gc_s", m.jvmGCTime / 1e3)
        x.max("exec.peak_mem_mb", m.peakExecutionMemory / MB)
        x.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        x.add("shuffle.read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / MB)
        x.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        x.add("shuffle.spill_mb", m.diskBytesSpilled / MB)
        x.add("io.input_mb", m.inputMetrics.bytesRead / MB)
        x.add("io.output_mb", m.outputMetrics.bytesWritten / MB)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        val (om, od) = blocks.getOrElse(key, (0L, 0L))
        val (nm, nd) = if (b.storageLevel.isValid) (b.memSize, b.diskSize) else (0L, 0L)
        if (nm == 0 && nd == 0) blocks.remove(key) else blocks(key) = (nm, nd)
        blockMem += nm - om
        blockDisk += nd - od
        Option(cur).foreach { x =>
          x.max("cache.block_mb_peak", (blockMem + blockDisk) / MB)
          x.max("cache.disk_mb", blockDisk / MB)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(cur).foreach { x =>
        x.add("plan.executions", 1)
        val ph = qe.tracker.phases
        x.add("plan.analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L).toDouble)
        x.add("plan.optimization_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L).toDouble)
        x.add("plan.planning_ms", ph.get("planning").map(_.durationMs).getOrElse(0L).toDouble)
        PlanShape(qe.executedPlan).foreach { case (k, v) => x.add(k, v) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(cur).foreach { x =>
        val p = e.progress
        x.add("streaming.batches", 1)
        x.add("streaming.batch_s",
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) / 1e3)
        x.streamRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Registers the `SparkListener`; until [[attach]] it only follows
    * block updates and stage submissions. */
  def trackBlocks(): Unit = spark.sparkContext.addSparkListener(sparkListener)

  def attach(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def begin(member: String): Unit = {
    Bus.drain(spark.sparkContext)
    cur = new Exec(execs.size + 1, member, ms(System.nanoTime()))
    execs += cur
  }

  def action(nano: Long): Unit = cur.actionAt = ms(nano)

  /** Closes the current member execution: drains the bus, then derives
    * its spans and per-layer self times. */
  def end(nano: Long, ok: Boolean): Unit = {
    val x = cur
    x.end = ms(nano)
    x.ok = ok
    Bus.drain(spark.sparkContext)
    cur = null
    x.c("streaming.state_rows") = x.streamRows.values.sum.toDouble
    val act = if (x.actionAt.isNaN) x.end else x.actionAt
    val root = span(0, x.id, s"member:${x.member}", x.start, x.end)
    val build = span(root, x.id, "entry.build", x.start, act)
    val action = span(root, x.id, "entry.action", act, x.end)
    val jobSpan = x.jobs.collect { case (j, (s, e)) if !e.isNaN =>
      j -> (span(if (s < act) build else action, x.id, s"job:$j", s, e), s, e)
    }
    x.stages.foreach { case (st, (j, s, e)) =>
      span(jobSpan.get(j).map(_._1).getOrElse(root), x.id, s"stage:$st", s, e)
    }
    val jobIv = jobSpan.values.map { case (_, s, e) => (s, e) }.toSeq
    x.c("self.entry.build_s") = (act - x.start - covered(jobIv, x.start, act)) / 1e3
    x.c("self.entry.action_s") = (x.end - act - covered(jobIv, act, x.end)) / 1e3
    x.c("self.job_s") = jobSpan.map { case (j, (_, s, e)) =>
      e - s - covered(x.stages.values.collect { case (`j`, a, b) => (a, b) }.toSeq, s, e)
    }.sum / 1e3
    x.c("self.stage_s") = x.stages.values.map { case (_, s, e) => e - s }.sum / 1e3
    x.c("entry.build_s") = (act - x.start) / 1e3
    x.c("entry.action_s") = (x.end - act) / 1e3
    x.c("exec.overhead_share") =
      if (x.wallS > 0) (x.wallS - x.c("exec.task_run_s") / slots) / x.wallS else 0.0
  }

  /** Length of the part of [lo, hi] that the intervals cover. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Per-layer metrics over the traced member executions: a mean per
    * execution for counts, times and peaks; `exec.overhead_share` is the
    * median of the per-execution shares and `exec.floor_bound_frac` the
    * share of executions whose overhead share exceeds one half. */
  def layersJson(resolveS: Double): String = {
    val ok = execs.filter(_.ok).toSeq
    val keys = ok.flatMap(_.c.keys).distinct.filterNot(_ == "exec.overhead_share")
    def mean(k: String) = if (ok.isEmpty) 0.0 else ok.map(_.c(k)).sum / ok.size
    val shares = ok.map(_.c("exec.overhead_share")).sorted
    val median = if (shares.isEmpty) 0.0
      else (shares((shares.size - 1) / 2) + shares(shares.size / 2)) / 2
    val floorBound = if (ok.isEmpty) 0.0
      else ok.count(_.c("exec.overhead_share") > 0.5).toDouble / ok.size
    Json.obj(Seq("sources.resolve_s" -> Json.num(resolveS),
      "exec.overhead_share" -> Json.num(median),
      "exec.floor_bound_frac" -> Json.num(floorBound)) ++
      keys.map(k => k -> Json.num(mean(k))))
  }

  /** Per member: mean wall, mean task run time and the median overhead
    * share of its traced executions, labelled floor-bound above one half. */
  def membersJson: String = {
    val ok = execs.filter(_.ok).toSeq
    Json.arr(ok.groupBy(_.member).toSeq.sortBy(_._1).map { case (m, xs) =>
      val shares = xs.map(_.c("exec.overhead_share")).sorted
      val share = shares(shares.size / 2)
      Json.obj(Seq("member" -> Json.str(m),
        "wall_s" -> Json.num(xs.map(_.wallS).sum / xs.size),
        "task_run_s" -> Json.num(xs.map(_.c("exec.task_run_s")).sum / xs.size),
        "overhead_share" -> Json.num(share),
        "bound" -> Json.str(if (share > 0.5) "floor" else "data")))
    })
  }

  def writeSpans(path: String): Unit = {
    val member = execs.map(x => x.id -> x.member).toMap
    Files.write(Paths.get(path), spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "exec" -> s.exec.toString,
      "member" -> Json.str(member(s.exec)), "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))).mkString("", "\n", "\n")
      .getBytes(UTF_8))
  }
}

/** Counts over a final executed plan: exchanges, sorts, broadcasts,
  * operators outside whole-stage codegen, and whether the plan's root is a
  * global sort. Adaptive plans are read after execution, so the counts are
  * those of the plan that ran. */
object PlanShape {
  def apply(plan: SparkPlan): Map[String, Double] = {
    val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
      case q: QueryStageExec => walk(q.plan, inCodegen = false)
      case r: CommandResultExec => walk(r.commandPhysicalPlan, inCodegen = false)
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case _: ReusedExchangeExec => ()
      case other =>
        other match {
          case _: BroadcastExchangeLike => c("plan.broadcasts") += 1
          case _: ShuffleExchangeLike => c("plan.exchanges") += 1
          case _: SortExec => c("plan.sorts") += 1
          case _ => ()
        }
        if (!inCodegen && !structural(other)) c("plan.non_codegen_ops") += 1
        other.children.foreach(walk(_, inCodegen))
        other.subqueries.foreach(walk(_, inCodegen = false))
    }
    walk(plan, inCodegen = false)
    c("plan.root_global_sorts") = root(plan) match {
      case s: SortExec if s.global => 1.0
      case _ => 0.0
    }
    c.toMap
  }

  /** Nodes that move or wrap data rather than compute on it. */
  private def structural(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike | _: AQEShuffleReadExec |
         _: V2CommandExec | _: DataWritingCommandExec | _: ExecutedCommandExec |
         _: BaseSubqueryExec | _: ReusedSubqueryExec => true
    case _ => false
  }

  /** The first computing operator below the write and wrapper nodes. */
  @annotation.tailrec
  private def root(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => root(a.executedPlan)
    case r: CommandResultExec => root(r.commandPhysicalPlan)
    case w: V2TableWriteExec => root(w.query)
    case d: DataWritingCommandExec => root(d.child)
    case w: WholeStageCodegenExec => root(w.child)
    case i: InputAdapter => root(i.child)
    case q: QueryStageExec => root(q.plan)
    case pr: ProjectExec => root(pr.child)
    case other => other
  }
}
