package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Shim
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval of a traced run. Times are epoch milliseconds
  * (the clock Spark's listener events carry). `kind` is one of op,
  * call, sql, job, stage; `parent` links the tree
  * op → call → sql → job → stage. */
final class Span(val id: Int, val kind: String, val name: String,
    var parent: Int, var start: Double, var end: Double) {
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def dur: Double = math.max(0.0, end - start)
  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
}

/** In-memory span recorder fed from the benchmark's own calls and from
  * Spark's public instrumentation (a SparkListener and a
  * QueryExecutionListener). Events are attributed through the job
  * group each call sets: a job, SQL execution or task whose group is
  * not one of ours is ignored, so late events of an earlier phase can
  * never leak into a later one. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val callByGroup = mutable.HashMap.empty[String, Span]
  private val sqlById = mutable.HashMap.empty[Long, Span]
  /** Catalyst readings of finished executions, keyed by identity until
    * the execution-end event names their span (either may come first). */
  private val phasesByQe = new java.util.IdentityHashMap[QueryExecution, Map[String, Double]]
  private val spanByQe = new java.util.IdentityHashMap[QueryExecution, Span]
  private val jobById = mutable.HashMap.empty[Int, Span]
  private val jobOfStage = mutable.HashMap.empty[Int, Span]
  private val openJobs = mutable.HashMap.empty[Int, Int] // op id → jobs not ended
  /** Task (launch, finish) intervals per op span id, for scheduler.driver_gap_s. */
  private val taskIntervals = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
  private var currentOp: Span = _
  /** True from the start of a traced op until its events are drained. */
  @volatile private var active = false

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def newSpan(kind: String, name: String, parent: Int,
      start: Double, end: Double = Double.NaN): Span = synchronized {
    val s = new Span(spans.size, kind, name, parent, start, end)
    spans += s
    s
  }
  private def now(): Double = System.nanoTime() / 1e6 - Tracer.nanoToEpoch

  /** Open an op span; `pass` and `op` tag it for aggregation. */
  def beginOp(name: String, pass: Int): Span = {
    val s = newSpan("op", name, -1, now())
    s.attrs("pass") = pass
    currentOp = s
    active = true
    s
  }

  /** Close the current op once every job it launched has reported its
    * end: the bus is drained first, then the job ledger is checked. */
  def endOp(op: Span, endMs: Double): Unit = {
    op.end = endMs
    Shim.drain(sc)
    synchronized {
      val open = openJobs.getOrElse(op.id, 0)
      require(open == 0, s"op ${op.name}: $open jobs still open after drain")
      phasesByQe.clear()
      spanByQe.clear()
    }
    active = false
    currentOp = null
  }

  /** Time one call into a module under its own job group. */
  def call[T](kind: String, name: String)(body: => T): T = {
    val op = currentOp
    val s = newSpan("call", s"$kind:$name", if (op == null) -1 else op.id, now())
    val group = s"perfbench-${s.id}"
    synchronized { callByGroup(group) = s }
    sc.setJobGroup(group, s"$kind ${op.name} $name", interruptOnCancel = false)
    try body
    finally {
      s.end = now()
      sc.clearJobGroup()
    }
  }

  private def opOf(s: Span): Int = {
    var cur = s
    while (cur.kind != "op" && cur.parent >= 0) cur = spans(cur.parent)
    if (cur.kind == "op") cur.id else -1
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    callByGroup.get(group).foreach { call =>
      val execId = Option(e.properties.getProperty("spark.sql.execution.id"))
        .map(_.toLong)
      val parent = execId.flatMap(sqlById.get).getOrElse(call)
      val j = newSpan("job", s"job ${e.jobId}", parent.id, e.time.toDouble)
      j.attrs("call") = call.id
      jobById(e.jobId) = j
      e.stageIds.foreach(jobOfStage(_) = j)
      val op = opOf(call)
      openJobs(op) = openJobs.getOrElse(op, 0) + 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      if (e.jobResult != JobSucceeded) j.attrs("failed") = 1
      val op = opOf(j)
      openJobs(op) = openJobs.getOrElse(op, 1) - 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      val info = e.taskInfo
      taskIntervals.getOrElseUpdate(opOf(j), mutable.ArrayBuffer.empty) +=
        ((info.launchTime.toDouble, info.finishTime.toDouble))
      j.add("tasks", 1)
      if (e.reason != Success) j.add("task_failures", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    jobOfStage.get(info.stageId).foreach { j =>
      val s = newSpan("stage", s"stage ${info.stageId}.${info.attemptNumber()}",
        j.id, info.submissionTime.getOrElse(0L).toDouble,
        info.completionTime.getOrElse(0L).toDouble)
      s.attrs("tasks") = info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        s.attrs("run_ms") = m.executorRunTime
        s.attrs("cpu_ns") = m.executorCpuTime
        s.attrs("deserialize_ms") = m.executorDeserializeTime
        s.attrs("gc_ms") = m.jvmGCTime
        s.attrs("shuffle_write_bytes") = m.shuffleWriteMetrics.bytesWritten
        s.attrs("shuffle_read_bytes") = m.shuffleReadMetrics.totalBytesRead
        s.attrs("fetch_wait_ms") = m.shuffleReadMetrics.fetchWaitTime
        s.attrs("spill_bytes") = m.memoryBytesSpilled + m.diskBytesSpilled
        s.attrs("records_written") = m.outputMetrics.recordsWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.flatMap(callByGroup.get).foreach { call =>
        // a nested execution hangs under its root execution
        val parent = s.rootExecutionId.filter(_ != s.executionId)
          .flatMap(sqlById.get).getOrElse(call)
        sqlById(s.executionId) = newSpan("sql", s"sql ${s.executionId}", parent.id,
          s.time.toDouble)
      }
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlById.get(s.executionId).foreach { sp =>
        sp.end = s.time.toDouble
        Option(Shim.queryExecution(s)).foreach { qe =>
          Option(phasesByQe.remove(qe)) match {
            case Some(m) => sp.attrs ++= m
            case None => spanByQe.put(qe, sp)
          }
        }
      }
    }
    case _ =>
  }

  /** Catalyst phase times of a successful execution, and what its
    * parquet scans read. */
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (active) {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val (rows, bytes) = scanMetrics(qe.executedPlan)
    val m = Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"), "qe" -> 1.0, "scan_rows" -> rows, "scan_bytes" -> bytes)
    synchronized {
      Option(spanByQe.remove(qe)) match {
        case Some(sp) => sp.attrs ++= m
        case None => phasesByQe.put(qe, m)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Rows and file bytes read by the parquet scans of an executed plan,
    * adaptive stages and subqueries included. */
  private def scanMetrics(plan: SparkPlan): (Double, Double) = {
    val scans = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    def metric(f: FileSourceScanExec, k: String): Double =
      f.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    (scans.map(metric(_, "numOutputRows")).sum,
      scans.map(metric(_, "filesSize")).sum)
  }

  /** All spans, each with its self time: its duration minus the part
    * of its interval that its direct children cover. */
  def dump(out: java.io.File): Unit = synchronized {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    def self(s: Span): Double = s.dur - union(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
    val w = new java.io.PrintWriter(out, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      w.println(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.start)},""" +
        s""""dur_ms":${Json.num(s.dur)},"self_ms":${Json.num(self(s))}""" +
        (if (attrs.isEmpty) "" else attrs.mkString(",", ",", "")) + "}")
    } finally w.close()
  }

  /** Layer metrics of one pass, from the spans of the ops tagged with it. */
  def passMetrics(pass: Int, cores: Int): Map[String, Double] = synchronized {
    val ops = spans.filter(s => s.kind == "op" && s.attrs.get("pass").contains(pass.toDouble))
    val opIds = ops.map(_.id).toSet
    val under = spans.filter(s => s.kind != "op" && opIds.contains(opOf(s)))
    def calls(kind: String) = under.filter(s => s.kind == "call" && s.name.startsWith(kind + ":"))
    def callIds(kind: String) = calls(kind).map(_.id).toSet
    def within(ids: Set[Int], s: Span): Boolean = {
      var cur = s
      while (cur.parent >= 0 && !ids.contains(cur.id)) cur = spans(cur.parent)
      ids.contains(cur.id)
    }
    val jobs = under.filter(_.kind == "job")
    val stages = under.filter(_.kind == "stage")
    val sqls = under.filter(s => s.kind == "sql" && s.attrs.contains("qe"))
    def st(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    def sq(k: String) = sqls.map(_.attrs.getOrElse(k, 0.0)).sum
    val opWallMs = ops.map(_.dur).sum
    val busyMs = ops.map(o => union(taskIntervals.getOrElse(o.id, Nil))).sum
    val upserts = callIds("upsert")
    val stagingMs = under.filter(s => s.kind == "sql" && upserts.contains(s.parent)).map(_.dur).sum
    val upsertMs = calls("upsert").map(_.dur).sum
    Map(
      "build.wall_s" -> calls("build").map(_.dur).sum / 1e3,
      "build.jobs" -> jobs.count(j => within(callIds("build"), j)).toDouble,
      "action.wall_s" -> calls("action").map(_.dur).sum / 1e3,
      "pipeline.build_s" -> calls("pipeline").map(_.dur).sum / 1e3,
      "sheet.load_s" -> calls("sheet").map(_.dur).sum / 1e3,
      "sink.upsert_s" -> upsertMs / 1e3,
      "sink.staging_write_s" -> stagingMs / 1e3,
      "sink.merge_txn_s" -> math.max(0.0, upsertMs - stagingMs) / 1e3,
      "sink.rows_shipped" -> stages.filter(within(upserts, _))
        .map(_.attrs.getOrElse("records_written", 0.0)).sum,
      "scan.bytes" -> sq("scan_bytes"),
      "scan.rows" -> sq("scan_rows"),
      "catalyst.analysis_s" -> sq("analysis_ms") / 1e3,
      "catalyst.optimization_s" -> sq("optimization_ms") / 1e3,
      "catalyst.planning_s" -> sq("planning_ms") / 1e3,
      "catalyst.executions" -> sqls.size.toDouble,
      "task.cpu_s" -> st("cpu_ns") / 1e9,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> jobs.map(_.attrs.getOrElse("tasks", 0.0)).sum,
      "scheduler.driver_gap_s" -> math.max(0.0, opWallMs - busyMs) / 1e3,
      "task.run_s" -> st("run_ms") / 1e3,
      "task.deserialize_s" -> st("deserialize_ms") / 1e3,
      "task.gc_s" -> st("gc_ms") / 1e3,
      "task.utilization" -> (if (opWallMs > 0) st("run_ms") / (opWallMs * cores) else 0.0),
      "task.failures" -> jobs.map(_.attrs.getOrElse("task_failures", 0.0)).sum,
      "shuffle.write_bytes" -> st("shuffle_write_bytes"),
      "shuffle.read_bytes" -> st("shuffle_read_bytes"),
      "shuffle.fetch_wait_s" -> st("fetch_wait_ms") / 1e3,
      "spill.bytes" -> st("spill_bytes"))
  }

  /** Total length of the union of [start, end] intervals. */
  private def union(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    iv.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  /** Offset that maps System.nanoTime milliseconds onto the epoch clock. */
  private val nanoToEpoch: Double =
    System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble
}

/** JVM-wide counters read through public MXBeans and the codegen
  * metric source; each `Jvm.Mark` is a reading to diff against. */
object Jvm {
  final case class Mark(gcMs: Long, compiles: Long, compileMs: Long)

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Codegen compile count and total compile milliseconds. The
    * histogram keeps every sample until its reservoir (1028) fills;
    * past that the total is estimated from the snapshot mean. */
  private def codegen(): (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (n <= snap.size) snap.getValues.sum else (snap.getMean * n).toLong
    (n, sum)
  }

  def mark(): Mark = {
    val (n, ms) = codegen()
    Mark(gcMs(), n, ms)
  }

  /** Heap in use after each collection, summed over the heap pools: the
    * live data, without the garbage a young generation holds between
    * collections. `heapPeakMb` is its maximum since `resetHeapPeak`. */
  private val liveHeapPeak = new java.util.concurrent.atomic.AtomicLong(0L)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          liveHeapPeak.accumulateAndGet(live, (a: Long, b: Long) => math.max(a, b))
        }, null, null)
    case _ =>
  }

  def resetHeapPeak(): Unit = liveHeapPeak.set(0L)

  def heapPeakMb(): Double = liveHeapPeak.get / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
