package graft.lakebench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NoStackTrace
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{Bench, SparkEntry}
import graft.etl.{Format, Pipeline}
import graft.serve.Sink

/** The JVM half of the lake benchmark (see lakebench/README.md).
  *
  * `run.py` generates the inputs, then starts this with
  *   --workload dashboard|daily_lake|train --data <tables dir>
  *   --raw <raw lake dir> --out <run dir> --seconds S --trace 0|1 --seed N
  *   [--smoke]
  * and reads back `<out>/result.json`. The dashboard's query outputs for the
  * correctness check land in `<out>/check/<query>` and their oracle SQL in
  * `<out>/oracle_sql.json`; spans of traced runs in `<out>/spans.json`.
  */
object Main {

  /** The Kibana read path: one query per dashboard panel, for every
    * registered query whose builder's Scaladoc maps it to a panel of the
    * reference's Kibana exports (the [Lens] rows of SURVEY.md §2). A pass
    * runs each once, as one view of those panels does. */
  val Panels: Seq[String] = Seq(
    "q_lens_dashboard",       // export (1).ndjson:4, Detail_cours drill-down, composed
    "q_date_histogram_avg",   // export (1).ndjson:4, "Tendance du cours…"
    "q_date_histogram_auto",  // export (1).ndjson:4, auto-interval date_histogram
    "q_differences_daily",    // export (1).ndjson:4, "Rendement journalier…"
    "q_pct_change_daily",     // export (1).ndjson:4, pct-change formula column
    "q_min_by_group",         // export (1).ndjson:4, "Actualité du cours"
    "q_cardinality",          // export (1).ndjson:4, "Buzz médiatique"
    "q_filter_range_project", // export (1).ndjson:4, the close table's range filter
    "q_sort_latest",          // kibana_saved_objects.ndjson:5,10, latest-news search
    "q_last_value_per_key",   // kibana_saved_objects.ndjson:6, Top/Flop last values
    "q_topk_by_metric",       // kibana_saved_objects.ndjson:6, Top/Flop ranking
    "q_count_by_label",       // kibana_saved_objects.ndjson:8, sentiment donut
    "q_terms_other_bucket",   // kibana_saved_objects.ndjson:9, treemap other bucket
    "q_nested_terms")         // kibana_saved_objects.ndjson:9, sector → symbol treemap

  /** Not panels: the two registered queries whose plans go through the
    * engine's own planner extensions (the as-of join operator and its
    * strategy; the binned range-join optimizer rule), run in the same
    * passes so that graft.operators and graft.plans are measured. */
  val OperatorBacked: Seq[String] = Seq("q_asof_native", "q_range_join_auto")

  val Dashboard: Seq[String] = Panels ++ OperatorBacked

  final case class Args(workload: String, data: String, raw: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, smoke: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m.getOrElse("data", ""), m.getOrElse("raw", ""), m("out"),
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("seed", "0").toLong, a.contains("--smoke"))
  }

  /** One timed operation. `pass` is "build" (the first pass in the
    * process), "settle" (the next ones, while the JIT still compiles),
    * "reuse" (steady) or "check" (daily_lake's re-run after the window);
    * `iter` is the index of its pass. */
  final case class Op(name: String, pass: String, iter: Int, sec: Double, ok: Boolean)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def vmHwmMb(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  private def gcSec(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Bytes of the files under `f` modified at or after `since` (ms). */
  def dirBytes(f: File, since: Long = 0L): Long =
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.lastModified() >= since) f.length() else 0L }
    else Option(f.listFiles()).map(_.map(dirBytes(_, since)).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case None | null => "null"
    case Some(x) => json(x)
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val loadPre = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()
    val out = new File(args.out).getAbsoluteFile
    out.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, args.trace)
    def workload(a: Args): Workload = a.workload match {
      case "dashboard" => new Dashboard(spark, tracer, a)
      case "daily_lake" => new DailyLake(spark, tracer, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (args.workload == "train") {
      // one smoke pass of every workload, so that a class-data-sharing
      // archive dumped at exit covers the classes all of them load
      for (n <- Seq("dashboard", "daily_lake")) {
        val w = workload(args.copy(workload = n, out = new File(out, n).getPath, smoke = true))
        spark.range(1).count(); w.warmUp(); w.measure(0L); w.finish()
      }
      spark.stop()
      return
    }
    val w = workload(args)
    // setup: JVM start until the session is up and has run a first job
    spark.range(1).count()
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    w.warmUp()

    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcSec()
    val c0 = Bench.cpuSnap()
    val t0 = System.nanoTime()
    w.measure(t0 + (args.seconds * 1e9).toLong)
    val tEnd = System.nanoTime()
    val measuredS = (tEnd - t0) / 1e9
    val extCpu = Bench.externalCpuSec(c0, Bench.cpuSnap())
    val gcS = gcSec() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    w.finish()

    val spans = tracer.finished()
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (tracer.enabled) {
      layers ++= w.layers(spans, cores)
      layers("warmup.build_pass_s") = w.passes.head.wallS
      layers("host.contended_passes") = w.passes.count(p => p.kind == "reuse" && p.contended).toDouble
      layers("jvm.gc_s") = gcS
      layers("jvm.heap_peak_mb") = heapPeakMb
      val top = spans.filter(s => s.parent < 0 && s.startNs >= t0 && s.endNs <= tEnd)
        .map(_.durS).sum
      layers("trace.span_coverage") = top / measuredS
      layers("trace.spans") = spans.size.toDouble
      val self = tracer.selfS(spans)
      Files.writeString(new File(out, "spans.json").toPath, spans.map { s =>
        json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "start_s" -> (s.startNs - t0) / 1e9, "dur_s" -> s.durS, "self_s" -> self(s.id),
          "counters" -> s.snapshot))
      }.mkString("[\n", ",\n", "\n]\n"))
    }
    layers("jvm.peak_rss_mb") = vmHwmMb()
    layers("host.loadavg_pre") = loadPre
    layers("host.external_cpu_s") = extCpu.getOrElse(-1.0)

    val ops = w.ops
    val result = Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cores" -> cores, "setup_s" -> setupS, "measured_s" -> measuredS,
      "attempted" -> (ops.size + w.checksRun),
      "failed" -> (ops.count(!_.ok) + w.checkFailed.size),
      "failures" -> (ops.filterNot(_.ok).map(o => s"${o.name}@${o.pass}") ++ w.checkFailed),
      "e2e" -> (Map("setup_s" -> setupS) ++ w.e2e),
      "layers" -> layers.toMap,
      "contention" -> Map("loadavg_pre" -> loadPre, "external_cpu_s" -> extCpu.getOrElse(-1.0)),
      "checks" -> w.checks,
      "passes" -> w.passes.map(p => Map("kind" -> p.kind, "wall_s" -> p.wallS, "ext_cpu_s" -> p.extS)),
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "iter" -> o.iter,
        "sec" -> o.sec, "ok" -> o.ok)))
    Files.writeString(new File(out, "result.json").toPath, json(result) + "\n")
    spark.stop()
  }
}

/** What every workload provides to [[Main]]: passes of timed operations.
  * A pass is one dashboard view (every query once) or one daily DAG run
  * (its four tasks). */
abstract class Workload(args: Main.Args) {
  import Main.Op
  protected val done = mutable.ArrayBuffer.empty[Op]
  val passes = mutable.ArrayBuffer.empty[Workload.Pass]
  protected val minSteady: Int = if (args.smoke) 1 else Workload.MinSteady
  /** Passes that still run while the JIT compiles, before the steady ones. */
  protected def settlePasses: Int = 1

  /** One pass of the given kind; its ops carry `iter = passes.size`. */
  protected def pass(kind: String): Unit

  /** The warm-up, after setup_s: the build pass (the first in the process:
    * JIT, codegen and every memoized artifact from scratch), then settling
    * passes while the JIT still compiles. */
  def warmUp(): Unit = {
    pass("build")
    for (_ <- 1 to (if (args.smoke) 1 else settlePasses)) pass("settle")
  }

  /** Steady passes: see [[Workload.steadyLoop]]. */
  def measure(deadlineNs: Long): Unit =
    Workload.steadyLoop(minSteady, deadlineNs, passes.filter(_.kind == "reuse").toSeq)(
      pass("reuse"))

  /** Untimed work after the window: checks, and what the checker reads. */
  def finish(): Unit
  def ops: Seq[Op] = done.toSeq
  /** Checks made inside the JVM, and the ones that failed. */
  def checksRun: Int = 0
  def checkFailed: Seq[String] = Nil
  def checks: Map[String, Any] = Map.empty

  /** Over the steady passes used, each op's median latency, so that a
    * burst of machine noise in one pass does not move a metric. Then the
    * 50th and 90th percentile over the ops, and their sum: one pass. */
  def e2e: Map[String, Double] = {
    val use = Workload.chosen(passes.toSeq, minSteady)
    val perOp = done.filter(o => o.ok && use(o.iter)).groupBy(_.name).values
      .map(os => Main.quantile(os.map(_.sec).toSeq, 0.5)).toSeq
    Map(
      "op_p50_s" -> Main.quantile(perOp, 0.5),
      "op_p90_s" -> Main.quantile(perOp, 0.9),
      "pass_s" -> perOp.sum)
  }

  def layers(spans: Seq[Span], cores: Int): Map[String, Double]
}

object Workload {
  /** Steady passes the latency metrics use, and the most a run makes
    * while too few of them ran uncontended. */
  val MinSteady = 3
  val MaxSteady = 4

  /** One pass: its kind, wall time, and the CPU seconds other processes
    * and the hypervisor took meanwhile (None: unreadable). */
  final case class Pass(kind: String, wallS: Double, extS: Option[Double]) {
    /** graft.Bench's taint rule: more than a quarter core taken. */
    def contended: Boolean = extS.forall(e => Bench.taintedWindow(e, wallS, 0.25))
    def extShare: Double = extS.map(_ / wallS).getOrElse(Double.MaxValue)
  }

  def timedPass(kind: String)(body: => Unit): Pass = {
    val c0 = Bench.cpuSnap()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    Pass(kind, wall, Bench.externalCpuSec(c0, Bench.cpuSnap()))
  }

  /** Run `next` while fewer than `min` steady passes ran, or fewer than
    * `min` ran uncontended (up to [[MaxSteady]]), or the deadline is ahead.
    * Every steady pass does the same work, so extra ones only add samples. */
  def steadyLoop(min: Int, deadlineNs: Long, steady: => Seq[Pass])(next: => Unit): Unit =
    while (steady.size < min ||
        (steady.count(!_.contended) < min && steady.size < MaxSteady) ||
        System.nanoTime() < deadlineNs) next

  /** Indexes of the steady passes the latency metrics use: the uncontended
    * ones, or the `min` least contended when too few were quiet. */
  def chosen(passes: Seq[Pass], min: Int): Set[Int] = {
    val steady = passes.zipWithIndex.filter(_._1.kind == "reuse")
    val quiet = steady.filterNot(_._1.contended)
    (if (quiet.size >= min) quiet else steady.sortBy(_._1.extShare).take(min)).map(_._2).toSet
  }

  /** 1 − task run time ÷ (wall of the spans that ran it × cores). */
  def idleFrac(runS: Double, wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else math.max(0.0, 1.0 - runS / (wallS * cores))

  /** Spark layer metrics per op, summed over `spans` (each job, task and
    * Catalyst phase sits on exactly one span) and divided by `nOps`; slot
    * idleness of the actions (task run time and wall of the spans that run
    * them). */
  def sparkLayer(spans: Seq[Span], execRunS: Double, execWallS: Double, nOps: Int,
      cores: Int): Map[String, Double] = {
    def sum(k: String) = spans.map(_.get(k)).sum
    val n = math.max(1, nOps).toDouble
    Map(
      "spark.analysis_s" -> sum("phase.analysis") / n,
      "spark.optimizer_s" -> sum("phase.optimization") / n,
      "spark.planning_s" -> sum("phase.planning") / n,
      "spark.jobs" -> sum("jobs") / n,
      "spark.stages" -> sum("stages") / n,
      "spark.tasks" -> sum("tasks") / n,
      "spark.slot_idle_frac" -> idleFrac(execRunS, execWallS, cores),
      "spark.task_cpu_s" -> sum("task_cpu_s") / n,
      "spark.gc_s" -> sum("gc_s") / n,
      "spark.shuffle_read_bytes" -> sum("shuffle_read_bytes") / n,
      "spark.shuffle_write_bytes" -> sum("shuffle_write_bytes") / n,
      "spark.spill_bytes" -> sum("spill_bytes") / n)
  }

  def phaseS(spans: Seq[Span]): Double =
    spans.map(s => s.get("phase.analysis") + s.get("phase.optimization") + s.get("phase.planning")).sum
}

/** dashboard: the panel queries and the two planner-extension queries, in
  * seeded order. Each query is built (the query function, including any
  * eager memo build), then planned, run and its rows collected by the
  * client. The last pass's rows are written out after the window, the way
  * the engine's Verify writes them, for the checker to compare with the
  * DuckDB oracle. */
final class Dashboard(spark: SparkSession, tracer: Tracer, args: Main.Args)
    extends Workload(args) {
  import Main._
  private val rnd = new scala.util.Random(args.seed)
  private val results = mutable.Map.empty[String, (StructType, Array[Row])]
  private var cachedBytes = 0.0

  private def runOne(n: String, kind: String): Op = {
    val t0 = System.nanoTime()
    val layer = if (OperatorBacked.contains(n)) "operators.query" else "serve.query"
    val ok = try {
      tracer.span(n, layer) {
        val df = tracer.span("build", s"$layer.build")(SparkEntry.queries(n)(spark, args.data))
        val rows = tracer.span("exec", s"$layer.exec")(df.collect())
        tracer.note("rows", rows.length.toDouble)
        results(n) = (df.schema, rows)
      }
      true
    } catch { case e: Throwable =>
      System.err.println(s"[lakebench] $n failed in $kind pass: $e"); false
    }
    Op(n, kind, passes.size, (System.nanoTime() - t0) / 1e9, ok)
  }

  protected def pass(kind: String): Unit = {
    passes += Workload.timedPass(kind)(rnd.shuffle(Dashboard).foreach(n => done += runOne(n, kind)))
    if (kind == "build" && tracer.enabled)
      cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
  }

  /** Untimed: each query's last rows as parquet, and the oracle SQL. */
  def finish(): Unit = {
    results.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(args.out, s"check/$n").getPath)
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(new File(args.out, "oracle_sql.json").toPath,
      json(Dashboard.map(n => n -> oracle.get(n)).toMap))
  }

  def layers(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val tops = spans.filter(_.parent < 0)
    val passOf = tops.zip(done).map { case (s, o) => s.id -> o.pass }.toMap
    val m = mutable.LinkedHashMap.empty[String, Double]
    val exec = spans.filter(_.name == "exec")
    m ++= Workload.sparkLayer(spans, exec.map(_.get("task_run_s")).sum, exec.map(_.durS).sum,
      tops.size, cores)
    def per(xs: Seq[Span], n: Int) = xs.map(_.durS).sum / math.max(1, n)
    // the serving query builders: Catalyst phases wherever they ran (the
    // analysis mostly in build), and the action's wall without them
    val sq = tops.filter(_.layer == "serve.query")
    val sqIds = sq.map(_.id).toSet
    val sqExec = spans.filter(s => sqIds(s.parent) && s.name == "exec")
    m("serve.query.build_s") = per(spans.filter(s => sqIds(s.parent) && s.name == "build"), sq.size)
    m("serve.query.plan_s") = Workload.phaseS(tracer.subtree(spans, sq)) / math.max(1, sq.size)
    m("serve.query.exec_s") = math.max(0.0,
      (sqExec.map(_.durS).sum - Workload.phaseS(tracer.subtree(spans, sqExec))) / math.max(1, sq.size))
    m("serve.query.rows") = sq.map(_.get("rows")).sum / math.max(1, sq.size)
    // the operator-backed queries, per query of the build and steady passes
    for ((p, key) <- Seq("build" -> "build_pass", "reuse" -> "reuse_pass")) {
      val oq = tops.filter(s => s.layer == "operators.query" && passOf.get(s.id).contains(p))
      val ids = oq.map(_.id).toSet
      val kids = spans.filter(s => ids(s.parent))
      m(s"operators.$key.build_s") = per(kids.filter(_.name == "build"), oq.size)
      m(s"operators.$key.exec_s") = per(kids.filter(_.name == "exec"), oq.size)
      m(s"operators.$key.task_cpu_s") = kids.map(_.get("task_cpu_s")).sum / math.max(1, oq.size)
    }
    m("operators.cached_bytes") = cachedBytes
    m.toMap
  }
}

/** daily_lake: the DAG in Pipeline.run's order over a seeded Bronze layer
  * of three partitions. The backfill is the build pass and the first day
  * the first settling pass. Every later pass runs the second day: its
  * partition is ingested once, the lake's formatted, gold and serving
  * layers are saved, and each later pass restores them (untimed) and runs
  * the day again, so every steady pass does the same work. */
final class DailyLake(spark: SparkSession, tracer: Tracer, args: Main.Args)
    extends Workload(args) {
  import Main._
  private val partitions: Seq[String] = new File(args.raw, "yahoo/stocks").list().toSeq.sorted
  require(partitions.size == 3, s"daily_lake needs backfill + 2 day partitions: $partitions")
  private val root = new File(args.out, "lake")
  private val saved = new File(args.out, "lake-pre-day")
  private val Derived = Seq("formatted", "gold", "serving")
  private val sizes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var rawBytes, dayRawBytes = 0L
  private val checkResults = mutable.LinkedHashMap.empty[String, Any]
  private var rerunFailed = Seq.empty[String]
  // a day's ~30 small jobs keep getting faster for two passes more than a
  // dashboard pass does (DAG runs of 10.4, 6.8, 6.2, 5.1, then 4.7 s)
  override protected def settlePasses: Int = 2

  private def note(k: String, v: Double): Unit =
    sizes.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private def median(k: String) = sizes.get(k).map(xs => quantile(xs.toSeq, 0.5)).getOrElse(0.0)

  /** Ingest (benchmark side, untimed): hard-link one generated partition
    * into the lake's raw layer. Returns its bytes. */
  private def ingest(part: String): Long =
    Seq("yahoo/stocks", "yahoo/company_info", "finnhub/news").map { t =>
      Option(new File(args.raw, s"$t/$part").listFiles()).toSeq.flatten.map { f =>
        val dst = new File(root, s"raw/$t/$part/${f.getName}")
        dst.getParentFile.mkdirs()
        Files.createLink(dst.toPath, f.toPath)
        f.length()
      }.sum
    }.sum

  /** index_data: the keyed serving upserts, as Pipeline.run issues them. */
  private def index(r: String): Unit = {
    val servingCombined = Sink.isoString(Sink.withDocId(Sink.nanToNull(
      spark.read.parquet(s"$r/gold/combined")), "symbol", "date"), "latest_news_date")
    Sink.upsertByKey(spark, servingCombined, s"$r/serving/combined", Seq("doc_id"))
    val servingPred = Sink.withDocId(
      spark.read.parquet(s"$r/gold/predictions"), "symbol", "date", "type")
    Sink.upsertByKey(spark, servingPred, s"$r/serving/predictions", Seq("doc_id"))
  }

  /** One DAG run, Pipeline.run's stages 2-5 over the lake's raw layer; each
    * stage is one op. A failed stage ends the run. */
  private object StageFailed extends Exception with NoStackTrace

  private def dag(name: String, kind: String): Unit = {
    val r = root.getPath
    def task(layer: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      val ok = try { tracer.span(layer, layer)(body); true } catch { case e: Throwable =>
        System.err.println(s"[lakebench] $name: $layer failed: $e"); false }
      done += Op(layer, kind, passes.size, (System.nanoTime() - t0) / 1e9, ok)
      if (!ok) throw StageFailed
    }
    try tracer.span(name, "etl.dag") {
      task("etl.format")(Format.run(spark, s"$r/raw", s"$r/formatted"))
      task("etl.combine")(Format.combine(spark, s"$r/formatted")
        .write.mode("overwrite").parquet(s"$r/gold/combined"))
      task("etl.forecast")(Pipeline.forecastFromFinance(spark,
        spark.read.parquet(s"$r/formatted/stocks"), spark.read.parquet(s"$r/formatted/news"))
        .write.mode("overwrite").parquet(s"$r/gold/predictions"))
      task("serve.sink")(index(r))
    } catch { case StageFailed => () }
  }

  protected def pass(kind: String): Unit = {
    passes.size match {
      case 0 => rawBytes += ingest(partitions(0))
      case 1 => rawBytes += ingest(partitions(1))
      case _ =>
        if (!saved.exists()) {
          dayRawBytes = ingest(partitions(2))
          rawBytes += dayRawBytes
          Derived.foreach(d => FileUtils.copyDirectory(new File(root, d), new File(saved, d)))
        } else Derived.foreach { d =>
          deleteTree(new File(root, d))
          FileUtils.copyDirectory(new File(saved, d), new File(root, d))
        }
    }
    val since = System.currentTimeMillis()
    passes += Workload.timedPass(kind)(dag(if (kind == "build") "backfill" else kind, kind))
    if (tracer.enabled && kind == "reuse") {
      // what the day wrote to formatted, gold and serving, per raw byte
      def bytes(d: String, from: Long = 0L) = dirBytes(new File(root, d), from).toDouble
      note("etl.format.output_bytes", bytes("formatted"))
      note("etl.combine.output_bytes", bytes("gold/combined"))
      note("lake.write_amp", Derived.map(bytes(_, since)).sum / math.max(1L, dayRawBytes))
      note("serve.sink.bytes_written", bytes("serving", since))
      note("serve.sink.bytes_live", bytes("serving"))
    }
  }

  /** Serving contents as an order-free checksum (rows, Σ row hash). */
  private def servingSum(): (Long, Long) =
    Seq("combined", "predictions").map { t =>
      val df = spark.read.parquet(s"${root.getPath}/serving/$t")
      val row = df.agg(count(lit(1)),
        sum(pmod(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*), lit(1000000007L)))).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }.reduce((a, b) => (a._1 + b._1, a._2 * 31 + b._2))

  /** Untimed: re-running the day's whole DAG on the lake it left must leave
    * serving unchanged; the checker reads the rest from the lake. */
  def finish(): Unit = {
    deleteTree(saved)
    if (tracer.enabled) {
      val lake = Derived.map(d => dirBytes(new File(root, d))).sum
      note("lake.space_amp", lake.toDouble / math.max(1L, rawBytes))
    }
    val before = servingSum()
    dag("rerun", "check")   // a failed stage counts as a failed op
    val same = servingSum() == before
    checkResults("rerun_unchanged") = same
    if (!same) rerunFailed = Seq("rerun_day@check")
    checkResults("lake_root") = root.getPath
  }

  override def checksRun: Int = 1
  override def checkFailed: Seq[String] = rerunFailed
  override def checks: Map[String, Any] = checkResults.toMap

  def layers(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val days = spans.filter(s => s.layer == "etl.dag" && s.name == "reuse")
    val inDay = tracer.subtree(spans, days).filter(_.layer != "etl.dag")
    val nDays = math.max(1, days.size)
    def of(l: String) = inDay.filter(_.layer == l)
    def per(xs: Seq[Span]) = xs.map(_.durS).sum / nDays
    def runS(xs: Seq[Span]) = xs.map(_.get("task_run_s")).sum
    val fmt = of("etl.format")
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= Workload.sparkLayer(inDay, runS(inDay), inDay.map(_.durS).sum, nDays, cores)
    m("etl.format.wall_s") = per(fmt)
    m("etl.format.tasks") = fmt.map(_.get("tasks")).sum / nDays
    m("etl.format.slot_idle_frac") = Workload.idleFrac(runS(fmt), fmt.map(_.durS).sum, cores)
    m("etl.format.output_bytes") = median("etl.format.output_bytes")
    m("etl.combine.wall_s") = per(of("etl.combine"))
    m("etl.combine.output_bytes") = median("etl.combine.output_bytes")
    m("etl.forecast.wall_s") = per(of("etl.forecast"))
    m("etl.forecast.task_cpu_s") = of("etl.forecast").map(_.get("task_cpu_s")).sum / nDays
    m("serve.sink.upsert_s") = per(of("serve.sink"))
    m("serve.sink.bytes_written") = median("serve.sink.bytes_written")
    m("serve.sink.bytes_live") = median("serve.sink.bytes_live")
    m("lake.write_amp") = median("lake.write_amp")
    m("lake.space_amp") = median("lake.space_amp")
    m.toMap
  }
}
