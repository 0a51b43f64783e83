package graft.lakebench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: name, layer, parent, wall interval, plus the
  * Spark work (jobs, stages, tasks and their metrics) launched while it was
  * the innermost open span. */
final class Span(val id: Int, val parent: Int, val name: String,
    val layer: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  private val counters = mutable.Map.empty[String, Double]
  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def get(key: String): Double = synchronized(counters.getOrElse(key, 0.0))
  def snapshot: Map[String, Double] = synchronized(counters.toMap)
  def durS: Double = (endNs - startNs) / 1e9
}

/** Benchmark-side spans around each call the benchmark makes into a layer.
  * The innermost open span's id rides the `lakebench.span` local property,
  * so jobs launched inside the call (including memo builds and writes)
  * carry it; a listener attributes their stages and task metrics back to
  * it. Spans stay in memory and are written out once, at the end.
  *
  * Catalyst phase times (analysis, optimization, planning) come from each
  * executed command's `QueryExecution.tracker`. Each phase goes to the
  * innermost span open when it started; phases outside every span (the
  * untimed checks) are dropped.
  *
  * With tracing off `span` only runs its body: no listener, no property. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val Prop = "lakebench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .map(id => spans.synchronized(spans(id.toInt)))

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          s.add("task_run_s", m.executorRunTime / 1e3)
          s.add("task_cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
          s.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
        }
      }
  })

  /** (phase name, start in epoch ms, seconds) of every executed command. */
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Double)]
  if (enabled) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases.synchronized(qe.tracker.phases.foreach { case (k, v) =>
        phases += ((k, v.startTimeMs, v.durationMs / 1e3)) })
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Time `body` as one call into `layer`; nests under the open span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = spans.synchronized {
        val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
          name, layer, System.nanoTime(), System.currentTimeMillis())
        spans += s
        s
      }
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add a benchmark-observed count (rows, bytes) to the innermost span. */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.add(key, v))

  /** All spans, after the listener bus has delivered every event, with
    * each span's own Catalyst phase seconds added as `phase.<name>`
    * counters. */
  def finished(): Seq[Span] = {
    if (!enabled) return Nil
    org.apache.spark.LakebenchBridge.drainListenerBus(sc)
    val all = spans.synchronized(spans.toSeq)
    phases.synchronized(phases.toSeq).foreach { case (k, t, sec) =>
      // the innermost span open at t: the latest started of those spanning it
      all.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startNs)
        .foreach(_.add(s"phase.$k", sec))
    }
    all
  }

  /** `roots` and every span nested in them. */
  def subtree(all: Seq[Span], roots: Seq[Span]): Seq[Span] = {
    val ids = mutable.Set(roots.map(_.id): _*)
    // a child is created after its parent, so ids ascend down every chain
    all.sortBy(_.id).filter { s => if (ids(s.parent)) ids += s.id; ids(s.id) }
  }

  /** A span's own time: its duration minus the time its children cover
    * (children run on the one client thread, so they never overlap). */
  def selfS(all: Seq[Span]): Map[Int, Double] = {
    val child = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    all.map(s => s.id -> math.max(0.0, s.durS - child.getOrElse(s.id, 0.0))).toMap
  }
}
