package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One interval of work. Times are epoch nanoseconds. `op` is the id
  * of the root span (one client operation, or one set-up repetition)
  * the span belongs to; 0 until it is attributed.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String, start: Long, end: Long) {
  def dur: Long = end - start
  def contains(t: Long): Boolean = start <= t && t <= end
}

/** The benchmark's tracer. Spans are recorded only when `enabled`:
  *  - by the benchmark itself, around each call into an engine layer
  *    (`span`), and around each client operation (`op`);
  *  - from Spark, outside the engine: job spans and task metrics from a
  *    SparkListener, codegen compile spans from the code generator's
  *    log lines, and Catalyst phase spans from a query's planning
  *    tracker (`phases`).
  * Everything stays in memory; `layerMetrics` attributes the Spark
  * spans to the innermost span that contains their start, derives each
  * layer's self time, and `writeSpans` dumps them.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, cores: Int) {
  private val base0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = base0 + (System.nanoTime() - nano0)

  private val ids = new AtomicLong(1)
  private val harness = mutable.ArrayBuffer[Span]()
  private val synthetic = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val phaseMs = mutable.Map[String, Double]().withDefaultValue(0.0)

  private final case class Task(end: Long, runMs: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long,
      spillBytes: Long, inBytes: Long, inRows: Long)
  private val tasks = mutable.ArrayBuffer[Task]()
  private val stagesDone = mutable.ArrayBuffer[Long]()
  private val jobStarts = mutable.Map[Int, (Long, Boolean)]()

  /** Timed window: [timedFrom, timedTo] in epoch ns. */
  private var timedFrom = Long.MaxValue
  private var timedTo = Long.MinValue
  private var lastSetup: Option[Span] = None
  private var gc0, jit0, compiles0 = 0L
  private var gcMs, jitMs, compiles = 0L

  private def ms(t: Long): Long = t * 1000000L

  // the callbacks run on the listener-bus thread and lock the tracer, as
  // every other writer of its buffers does
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val stream = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
      jobStarts(e.jobId) = (ms(e.time), stream)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (s, stream) =>
        val name = if (stream) s"job ${e.jobId} stream" else s"job ${e.jobId}"
        synthetic += Span(ids.getAndIncrement(), 0, 0, "exec", name, s, math.max(s, ms(e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      e.stageInfo.completionTime.foreach(t => stagesDone += ms(t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(
        ms(e.taskInfo.finishTime), m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
  }

  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CompileLine = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case CompileLine(d) =>
        val end = ms(e.getTimeMillis)
        val dur = (d.toDouble * 1e6).toLong
        Tracer.this.synchronized {
          synthetic += Span(ids.getAndIncrement(), 0, 0, "codegen", "compile", end - dur, end)
        }
      case _ =>
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    appender.start()
    // adding the appender gives the logger a config of its own; raise
    // only that config to INFO and keep its lines off the console
    val logger = LogManager.getLogger(codegenLogger).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    val lc = logger.getContext.getConfiguration.getLoggerConfig(codegenLogger)
    lc.setLevel(Level.INFO)
    lc.setAdditive(false)
    logger.getContext.updateLoggers()
  }

  /** Runs `f` as a span of `layer` under the innermost open span. */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = now()
      try f
      finally {
        val end = now()
        stack.set(stack.get.tail)
        synchronized { harness += Span(id, parent, 0, layer, name, start, end) }
      }
    }

  /** A root span: one client operation of the timed phase. */
  def op[A](name: String)(f: => A): A = span("op", name)(f)

  /** A root span: one set-up repetition. */
  def setup[A](rep: Int)(f: => A): A = {
    val r = span("setup", s"setup $rep")(f)
    if (enabled) synchronized { lastSetup = harness.reverseIterator.find(_.layer == "setup") }
    r
  }

  /** Adds `v` to a counter of the timed phase. */
  def add(name: String, v: Double): Unit = if (enabled) synchronized { counters(name) += v }

  /** Records the Catalyst phases of an executed query as spans. */
  def phases(df: DataFrame): Unit = if (enabled) {
    val ph = df.queryExecution.tracker.phases
    synchronized {
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach { s =>
          phaseMs(p) += s.durationMs.toDouble
          synthetic += Span(ids.getAndIncrement(), 0, 0, "catalyst", p, ms(s.startTimeMs), ms(s.endTimeMs))
        }
      }
    }
  }

  private def gcTotal = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitTotal = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def startTimed(): Unit = {
    gc0 = gcTotal; jit0 = jitTotal; compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    synchronized { counters.clear(); phaseMs.clear() }
    timedFrom = now()
  }

  def stopTimed(): Unit = {
    timedTo = now()
    gcMs = gcTotal - gc0; jitMs = jitTotal - jit0
    compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
  }

  /** Merged length of intervals, clipped to [lo, hi]. */
  private def unionLen(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Attributes every span to its root and innermost containing span. */
  private def attributed(): Seq[Span] = {
    Bus.drain(spark.sparkContext)
    val hs = synchronized(harness.toVector)
    val byId = hs.map(s => s.id -> s).toMap
    def rootOf(s: Span): Long = if (s.parent == 0) s.id else rootOf(byId(s.parent))
    val hsRooted = hs.map(s => s.copy(op = rootOf(s)))
    val roots = hsRooted.filter(_.parent == 0).sortBy(_.start)
    def innermost(t: Long, among: Seq[Span]): Option[Span] = among.filter(_.contains(t)).minByOption(_.dur)
    val synth = synchronized(synthetic.toVector)
    // jobs first, so compile spans inside a job nest under it
    val (jobs, rest) = synth.partition(_.layer == "exec")
    // a micro-batch job belongs to the op waiting on the stream; one the
    // stream thread starts while the client does something else (a
    // no-data batch during a state read) belongs to no op
    def attach(ss: Seq[Span], among: Seq[Span]): Seq[Span] = ss.flatMap { s =>
      roots.find(_.contains(s.start)).flatMap { root =>
        val inside = among.filter(_.op == root.id)
        val p = innermost(s.start, inside).getOrElse(root)
        if (s.name.endsWith(" stream") && p.layer != "streaming") None
        else Some(s.copy(parent = p.id, op = root.id))
      }
    }
    val jobsA = attach(jobs, hsRooted)
    hsRooted ++ jobsA ++ attach(rest, hsRooted ++ jobsA)
  }

  /** Self time per layer over the given roots: every instant of a root
    * is charged to the deepest span active at that instant (the latest
    * started among equals), so the layers' self times sum to the roots'
    * wall time.
    */
  private def layerSelf(all: Seq[Span], roots: Seq[Span]): Map[String, Long] = {
    val byId = all.map(s => s.id -> s).toMap
    val depth = mutable.Map[Long, Int]()
    def d(s: Span): Int =
      depth.getOrElseUpdate(s.id, if (s.parent == 0) 0 else byId.get(s.parent).map(d(_) + 1).getOrElse(0))
    val acc = mutable.Map[String, Long]().withDefaultValue(0L)
    val byOp = all.groupBy(_.op)
    roots.foreach { r =>
      val ss = byOp.getOrElse(r.id, Nil)
        .map(s => (math.max(s.start, r.start), math.min(s.end, r.end), d(s), s.layer))
        .filter(x => x._2 > x._1)
      val cuts = ss.flatMap(x => Seq(x._1, x._2)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (lo, hi) =>
        val active = ss.filter(x => x._1 <= lo && x._2 >= hi)
        if (active.nonEmpty) acc(active.maxBy(x => (x._3, x._1))._4) += hi - lo
      }
    }
    acc.toMap.withDefaultValue(0L)
  }

  private val Layers: Seq[String] = Seq("pipeline", "catalyst", "codegen", "exec", "sources", "streaming", "queries")

  /** Per-layer metrics of the timed phase (per-op means unless the
    * name says otherwise), plus `streaming` progress from the caller.
    */
  def layerMetrics(progress: Seq[StreamingQueryProgress], extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val all = attributed()
    val inTimed = (t: Long) => t >= timedFrom && t <= timedTo
    val roots = all.filter(s => s.parent == 0 && s.layer == "op" && inTimed(s.start))
    val rootIds = roots.map(_.id).toSet
    val timed = all.filter(s => rootIds(s.op))
    val nOps = math.max(1, roots.size).toDouble
    val opWallNs = roots.map(_.dur).sum.toDouble
    def sumMs(ss: Seq[Span]) = ss.map(_.dur).sum / 1e6
    def layer(l: String) = timed.filter(_.layer == l)
    val jobs = layer("exec").filter(_.name.startsWith("job "))
    val byId = all.map(s => s.id -> s).toMap
    def under(s: Span, l: String): Boolean =
      s.parent != 0 && byId.get(s.parent).exists(p => p.layer == l || under(p, l))
    val jobUnionNs = roots.map(r => unionLen(jobs.filter(_.op == r.id).map(j => (j.start, j.end)), r.start, r.end)).sum
    val gapNs = roots.map { r =>
      val covered = timed.filter(s => s.op == r.id &&
        ((s.layer == "exec" && s.name.startsWith("job ")) || (s.parent == r.id && s.layer != "exec")))
      r.dur - unionLen(covered.map(s => (s.start, s.end)), r.start, r.end)
    }.sum
    val ts = synchronized(tasks.filter(t => inTimed(t.end)).toVector)
    val stages = synchronized(stagesDone.count(inTimed)).toDouble
    val taskRunMs = ts.map(_.runMs).sum.toDouble
    val rowsRead = ts.map(_.inRows).sum.toDouble
    val buildMs = sumMs(layer("pipeline").filter(_.name == "build"))
    val qBuild = layer("queries").filter(_.name == "build")
    val setupSpans = lastSetup.toSeq.flatMap(r => all.filter(s => s.op == r.id))
    val loads = setupSpans.filter(_.layer == "sources")
    val nBatches = math.max(1, progress.size).toDouble
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val noData = progress.filter(_.numInputRows == 0)
    val trigAll = progress.map(dur(_, "triggerExecution")).sum
    def stateSum(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      p.stateOperators.map(f).sum.toDouble
    val lastProg = progress.lastOption
    val c = synchronized(counters.toMap).withDefaultValue(0.0)
    val ph = synchronized(phaseMs.toMap).withDefaultValue(0.0)
    val self = layerSelf(all, roots)
    val opSelfMs = self("op") / 1e6
    val maxMethod =
      if (CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getCount == 0) 0.0
      else CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax.toDouble
    Seq(
      ("pipeline.build_ms", buildMs / nOps, "ms/op"),
      ("pipeline.build_jobs", jobs.count(under(_, "pipeline")) / nOps, "count/op"),
      ("pipeline.blocks", c("pipeline.blocks") / nOps, "count/op"),
      ("catalyst.analysis_ms", ph("analysis") / nOps, "ms/op"),
      ("catalyst.optimization_ms", ph("optimization") / nOps, "ms/op"),
      ("catalyst.planning_ms", ph("planning") / nOps, "ms/op"),
      ("catalyst.plan_ms", sumMs(layer("catalyst").filter(_.name == "plan")) / nOps, "ms/op"),
      ("codegen.compiles", compiles / nOps, "count/op"),
      ("codegen.compile_ms", sumMs(layer("codegen")) / nOps, "ms/op"),
      ("codegen.max_method_bytes", maxMethod, "bytes"),
      ("exec.jobs", jobs.size / nOps, "count/op"),
      ("exec.stages", stages / nOps, "count/op"),
      ("exec.tasks", ts.size / nOps, "count/op"),
      ("exec.job_ms", jobUnionNs / 1e6 / nOps, "ms/op"),
      ("exec.driver_gap_ms", gapNs / 1e6 / nOps, "ms/op"),
      ("exec.task_run_ms", taskRunMs / nOps, "ms/op"),
      ("exec.task_cpu_ms", ts.map(_.cpuNs).sum / 1e6 / nOps, "ms/op"),
      ("exec.slot_util", if (opWallNs > 0) taskRunMs / (opWallNs / 1e6 * cores) else 0.0, "ratio"),
      ("exec.shuffle_bytes", ts.map(_.shuffleBytes).sum / nOps, "bytes/op"),
      ("exec.spill_bytes", ts.map(_.spillBytes).sum / nOps, "bytes/op"),
      ("exec.gc_ms", ts.map(_.gcMs).sum / nOps, "ms/op"),
      ("sources.rows_read", rowsRead / nOps, "count/op"),
      ("sources.bytes_read", ts.map(_.inBytes).sum / nOps, "bytes/op"),
      ("sources.rows_read_per_row_out", if (c("rows_out") > 0) rowsRead / c("rows_out") else 0.0, "ratio"),
      ("sources.load_ms", sumMs(loads), "ms"),
      ("sources.load_jobs", setupSpans.count(s => s.name.startsWith("job ") && under(s, "sources")).toDouble, "count"),
      ("sources.parse_keep_ratio", extra.getOrElse("sources.parse_keep_ratio", 0.0), "ratio"),
      ("streaming.batches", progress.size.toDouble, "count"),
      ("streaming.nodata_batches", noData.size.toDouble, "count"),
      ("streaming.nodata_ms_share", if (trigAll > 0) noData.map(dur(_, "triggerExecution")).sum / trigAll else 0.0, "ratio"),
      ("streaming.add_batch_ms", progress.map(dur(_, "addBatch")).sum / nBatches, "ms/batch"),
      ("streaming.query_planning_ms", progress.map(dur(_, "queryPlanning")).sum / nBatches, "ms/batch"),
      ("streaming.wal_commit_ms", progress.map(dur(_, "walCommit")).sum / nBatches, "ms/batch"),
      ("streaming.commit_offsets_ms", progress.map(dur(_, "commitOffsets")).sum / nBatches, "ms/batch"),
      ("streaming.state_commit_ms", progress.map(stateSum(_, _.commitTimeMs)).sum / nBatches, "ms/batch"),
      ("streaming.state_update_ms", progress.map(stateSum(_, _.allUpdatesTimeMs)).sum / nBatches, "ms/batch"),
      ("streaming.state_rows", lastProg.map(stateSum(_, _.numRowsTotal)).getOrElse(0.0), "count"),
      ("streaming.state_bytes", lastProg.map(stateSum(_, _.memoryUsedBytes)).getOrElse(0.0), "bytes"),
      ("streaming.rows_dropped_late", progress.map(stateSum(_, _.numRowsDroppedByWatermark)).sum, "count"),
      ("queries.build_ms", sumMs(qBuild) / nOps, "ms/op"),
      ("queries.build_jobs", jobs.count(under(_, "queries")) / nOps, "count/op"),
      ("queries.build_share", if (opWallNs > 0) qBuild.map(_.dur).sum / opWallNs else 0.0, "ratio"),
      ("queries.exec_ms", if (qBuild.isEmpty) 0.0 else (opWallNs - qBuild.map(_.dur).sum) / 1e6 / nOps, "ms/op"),
      ("jvm.gc_ms", gcMs.toDouble, "ms"),
      ("jvm.jit_ms", jitMs.toDouble, "ms")) ++
      Layers.map(l => (s"$l.self_ms", self(l) / 1e6 / nOps, "ms/op")) ++
      Seq(
        ("harness.self_ms", opSelfMs / nOps, "ms/op"),
        ("trace.coverage", if (opWallNs > 0) 1.0 - opSelfMs * 1e6 / opWallNs else 0.0, "ratio"),
        ("trace.spans", timed.size.toDouble, "count"))
  }

  /** Writes every span as one JSON line, times in µs from the first. */
  def writeSpans(path: String): Unit = if (enabled) {
    val all = attributed().sortBy(_.start)
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${s.name}",""" +
          s""""start_us":${(s.start - t0) / 1000},"dur_us":${s.dur / 1000}}""")
    } finally w.close()
  }
}
