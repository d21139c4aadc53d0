package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** How an op reaches a module: `call(kind, name)(body)` times nothing
  * itself but, in a traced pass, opens a span and a job group. */
trait Calls {
  def apply[T](kind: String, name: String)(body: => T): T
}

object Untraced extends Calls {
  def apply[T](kind: String, name: String)(body: => T): T = body
}

/** Result of an op's untimed output check. `counts` feed the per-layer
  * metrics that only the check can see (merge actions, output rows);
  * `record` is the digest `--record` writes out. */
final case class Check(errors: Seq[String], counts: Map[String, Double] = Map.empty,
    record: Seq[(String, String)] = Nil)

/** One timed unit of work. `body` runs inside the timed region and
  * returns the untimed check; `sample` marks the ops whose latency
  * feeds op_p50_s / op_tail_s. A check runs on the last pass and on
  * traced passes, or on every pass when `everyPass` (cheap checks). */
final case class Op(name: String, sample: Boolean, body: Calls => (() => Check),
    everyPass: Boolean = false)

trait Workload {
  /** Make this run's inputs under `dir` for a fresh session. */
  def setup(spark: SparkSession, dir: File, seed: Long): Unit
  /** Release what `setup` made once a later setup replaces it. */
  def discard(): Unit = ()
  /** Untimed preparation of pass `pass` (0 is the first pass). */
  def beforePass(pass: Int): Unit = ()
  def ops(pass: Int, seed: Long): Seq[Op]
  /** Passes after the first that fit in `seconds` at this workload's
    * nominal speed on a 4-core host; at least two. */
  def warmPasses(seconds: Int): Int
  /** One-line description of the inputs, for the context record. */
  def inputs: String
}

object Main {

  val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, traces: File, record: Option[File], genOnly: Option[File])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", new File(need("--work")),
      new File(m.getOrElse("--traces", need("--work"))),
      m.get("--record").map(new File(_)), m.get("--gen-only").map(new File(_)))
  }

  def workload(name: String): Workload = name match {
    case "catalog_iterative" => new CatalogWorkload(CatalogWorkload.Iterative)
    case "etl_upsert" => new EtlWorkload()
    case other => sys.error(s"unknown workload $other")
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: File): SparkSession = {
    val c = cores.toString
    val s = SparkSession.builder()
      .master(s"local[$c]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadavg(): String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try {
      val f = src.mkString.trim.split("\\s+")
      Json.obj(Seq("load1" -> f(0), "runnable" -> f(3).takeWhile(_ != '/')))
    } finally src.close()
  }

  /** Milliseconds one core takes for a fixed integer workload: a
    * reading of how fast this host runs right now, next to the load. */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val n0 = System.nanoTime()
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val ms = (System.nanoTime() - n0) / 1e6
    if (x == 42) System.err.println("")
    ms
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile that leaves at least ten samples beyond it,
    * with its value; with ten samples or fewer, the maximum (p100). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (100, Double.NaN)
    else if (s.size <= 10) (100, s.last)
    else ((100 * (s.size - 10)) / s.size, s(s.size - 11))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val wl = workload(a.workload)
    a.genOnly.foreach { dir =>
      val spark = session(a.work)
      wl.setup(spark, dir, a.seed)
      spark.stop()
      return
    }
    val load0 = loadavg()
    val calib0 = calibrate()

    // Set-up, several times: the first from process start, the others
    // in a fresh session with freshly made inputs at a new path, so the
    // passes below see a session and inputs nothing has touched yet.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupRepeats) {
      // the first set-up also counts the time from process start
      val sinceStartNs = if (i == 0) (System.currentTimeMillis() - jvmStartMs) * 1e6 else 0.0
      val n0 = System.nanoTime()
      if (spark != null) {
        wl.discard()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(a.work)
      val n1 = System.nanoTime()
      wl.setup(spark, new File(a.work, s"inputs-$i"), a.seed)
      System.err.println(f"[perfbench] setup $i: session ${(n1 - n0) / 1e9}%.3f s, " +
        f"inputs ${(System.nanoTime() - n1) / 1e9}%.3f s")
      setups += (sinceStartNs + (System.nanoTime() - n0)) / 1e9
    }

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val warm = wl.warmPasses(a.seconds)
    // A traced run alternates untraced and traced warm passes
    // (U, T, U, ...) so trace.overhead compares neighbours.
    val nPasses = 1 + (if (a.trace) math.max(3, warm) else warm)
    def traced(p: Int): Boolean = a.trace && (p == 0 || p % 2 == 0)

    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val passSeconds = mutable.ArrayBuffer.empty[(Int, Double)]
    val opSamples = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[(Int, Map[String, Double])]
    val recorded = mutable.LinkedHashMap.empty[String, Seq[(String, String)]]

    for (p <- 0 until nPasses) {
      wl.beforePass(p)
      val tr = if (traced(p)) tracer else None
      val calls: Calls = tr match {
        case Some(t) => new Calls {
          def apply[T](kind: String, name: String)(body: => T): T = t.call(kind, name)(body)
        }
        case None => Untraced
      }
      val checkPass = p == nPasses - 1 || tr.isDefined || a.record.isDefined
      val counts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      if (tr.isDefined) Jvm.resetHeapPeak()
      val jvm0 = Jvm.mark()
      var passNs = 0L
      for (op <- wl.ops(p, a.seed)) {
        attempted += 1
        val span = tr.map(_.beginOp(op.name, p))
        val n0 = System.nanoTime()
        val verify = try Right(op.body(calls)) catch { case e: Throwable => Left(e) }
        val dt = System.nanoTime() - n0
        span.foreach(s => tr.get.endOp(s, s.start + dt / 1e6))
        passNs += dt
        if (op.sample && p > 0 && !traced(p)) opSamples += dt / 1e9
        System.err.println(f"[perfbench] pass $p%d ${op.name} ${dt / 1e9}%.3f s")
        val errs = verify match {
          case Left(e) => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(check) if checkPass || op.everyPass =>
            val c = try check() catch { case e: Throwable =>
              Check(Seq(s"check ${e.getClass.getSimpleName}: ${e.getMessage}")) }
            c.counts.foreach { case (k, v) => counts(k) += v }
            if (a.record.isDefined && c.record.nonEmpty) {
              if (recorded.get(op.name).exists(_ != c.record))
                System.err.println(s"[perfbench] ${op.name}: digest differs between passes")
              recorded(op.name) = c.record
            }
            c.errors
          case Right(_) => Nil
        }
        if (errs.nonEmpty) {
          failed += 1
          errors ++= errs.map(e => s"pass $p ${op.name}: $e")
          errs.foreach(e => System.err.println(s"[perfbench] FAIL pass $p ${op.name}: $e"))
        }
      }
      val sec = passNs / 1e9
      passSeconds += ((p, sec))
      System.err.println(f"[perfbench] pass $p%d ${if (tr.isDefined) "traced" else "untraced"} $sec%.3f s")
      tr.foreach { t =>
        org.apache.spark.sql.perfbench.Shim.drain(spark.sparkContext)
        val jvm1 = Jvm.mark()
        // check counts named like per-layer metrics (merge.*, sheet.rows, ...)
        // join the trace's; output.rows and changed.rows are ratio bases
        val m = t.passMetrics(p, cores) ++ counts
        def ratio(a: String, b: String) = m.get(b).filter(_ > 0).fold(0.0)(m(a) / _)
        layers += ((p, m ++ Map(
          "scan.rows_per_output_row" -> ratio("scan.rows", "output.rows"),
          "sink.shipped_per_changed" -> ratio("sink.rows_shipped", "changed.rows"),
          "codegen.compile_s" -> (jvm1.compileMs - jvm0.compileMs) / 1e3,
          "codegen.classes" -> (jvm1.compiles - jvm0.compiles).toDouble,
          "jvm.gc_s" -> (jvm1.gcMs - jvm0.gcMs) / 1e3,
          "jvm.heap_peak_mb" -> Jvm.heapPeakMb())))
      }
    }
    val load1 = loadavg()
    val calib1 = calibrate()

    a.record.foreach { f =>
      val body = recorded.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ":" + Json.obj(v) }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.writeString(f.toPath, body)
    }

    val firstPass = passSeconds.head._2
    val warmUntraced = passSeconds.filter { case (p, _) => p > 0 && !traced(p) }.map(_._2)
    val (tailPct, tailVal) = tail(opSamples.toSeq)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("pass_s", median(warmUntraced.toSeq), "s"),
        ("op_p50_s", median(opSamples.toSeq), "s"),
        ("op_tail_s", tailVal, "s"),
        ("rss_peak_mb", Jvm.rssPeakMb(), "MB"))
      case Some(t) =>
        val warmTraced = passSeconds.filter { case (p, _) => p > 0 && traced(p) }.map(_._2)
        val warmLayers = layers.filter(_._1 > 0).map(_._2)
        val firstLayers = layers.find(_._1 == 0).map(_._2).getOrElse(Map.empty)
        val keys = PerLayer.metrics
        keys.map { case (k, unit) =>
          val v = k match {
            case "trace.overhead" => median(warmTraced.toSeq) / median(warmUntraced.toSeq) - 1
            case "codegen.compile_s" | "codegen.classes" => firstLayers.getOrElse(k, 0.0)
            case _ => median(warmLayers.map(_.getOrElse(k, 0.0)).toSeq)
          }
          (k, v, unit)
        }
    }
    tracer.foreach { t =>
      a.traces.mkdirs()
      val f = new File(a.traces, s"${a.workload}-seed${a.seed}.jsonl")
      t.dump(f)
      System.err.println(s"[perfbench] spans written to $f")
      t.close()
    }
    spark.stop()

    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    // Reported next to the gated metrics: first_pass_s swings too much
    // between runs on a shared host to carry a bound, and error_rate is
    // zero on a correct engine (the result line's failed/attempted).
    def reading(v: Double, unit: String) =
      Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    println(Json.obj(Seq("context" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"),
      "inputs" -> Json.str(wl.inputs),
      "nproc" -> cores.toString,
      "loadavg_start" -> load0,
      "loadavg_end" -> load1,
      "calibration_ms" -> Json.arr(Seq(Json.num(calib0), Json.num(calib1))),
      "setup_runs_s" -> Json.arr(setups.map(Json.num).toSeq),
      "passes_s" -> Json.arr(passSeconds.map { case (p, s) =>
        Json.obj(Seq("pass" -> p.toString, "traced" -> traced(p).toString, "s" -> Json.num(s))) }.toSeq),
      "first_pass_s" -> reading(firstPass, "s"),
      "error_rate" -> reading(errorRate, "ratio"),
      "op_samples" -> opSamples.size.toString,
      "op_tail_percentile" -> tailPct.toString,
      "errors" -> Json.arr(errors.take(20).map(Json.str).toSeq))))))
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    System.out.flush()
  }
}

/** The per-layer metrics a traced run reports, with their units. */
object PerLayer {
  val metrics: Seq[(String, String)] = Seq(
    "build.wall_s" -> "s", "build.jobs" -> "count", "action.wall_s" -> "s",
    "pipeline.build_s" -> "s",
    "merge.insert" -> "count", "merge.update" -> "count",
    "merge.noop" -> "count", "merge.keep" -> "count",
    "quarantine.rows" -> "count",
    "sheet.load_s" -> "s", "sheet.rows" -> "count",
    "sink.upsert_s" -> "s", "sink.staging_write_s" -> "s",
    "sink.merge_txn_s" -> "s", "sink.rows_shipped" -> "count",
    "sink.shipped_per_changed" -> "ratio",
    "scan.bytes" -> "bytes", "scan.rows" -> "count",
    "scan.rows_per_output_row" -> "ratio",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.executions" -> "count",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count",
    "task.cpu_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.driver_gap_s" -> "s",
    "task.run_s" -> "s", "task.deserialize_s" -> "s", "task.gc_s" -> "s",
    "task.utilization" -> "ratio", "task.failures" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead" -> "ratio")
}
