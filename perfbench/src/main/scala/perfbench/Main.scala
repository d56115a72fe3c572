package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.GraftSession

/** One benchmark run in one JVM: generate the inputs, time the engine's
  * set-up (several times), warm up, run the closed-loop timed phase for
  * the given seconds, check, and write the result as JSON.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <work dir> --out <result.json>
  *   [--sf <scale>] [--max-ops <n>]
  */
object Main {
  private val DefaultSf = Map("feed_requests" -> 0.1, "ingest_serve" -> 0.1, "catalog_sample" -> 0.01)
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val sf = a.get("sf").map(_.toDouble).getOrElse(DefaultSf(workload))
    val maxOps = a.get("max-ops").map(_.toInt).getOrElse(Int.MaxValue)
    val cores = Runtime.getRuntime.availableProcessors

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(cores, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, trace, cores)
    val wl: Workload = workload match {
      case "feed_requests" => new FeedRequests(spark, tracer, seed, sf)
      case "ingest_serve" => new IngestServe(spark, tracer, seed, sf)
      case "catalog_sample" => new CatalogSample(spark, tracer, seed, sf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val tg = System.nanoTime()
      wl.generate(s"$work/data")
      val generateS = (System.nanoTime() - tg) / 1e9
      // the engine's set-up, repeated over the same inputs; the last
      // repetition's stores are the ones measured
      val setupS = (1 to SetupReps).map { r =>
        val t0 = System.nanoTime()
        tracer.setup(r)(wl.load())
        (System.nanoTime() - t0) / 1e9
      }
      val tw = System.nanoTime()
      wl.warmup()
      val warmupS = (System.nanoTime() - tw) / 1e9

      tracer.startTimed()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var steps = 0
      while (steps < maxOps && !wl.done && (elapsed < seconds || !wl.canStop(steps)) && elapsed < 3 * seconds) {
        wl.step(steps)
        steps += 1
      }
      val timedS = elapsed
      tracer.stopTimed()

      // live heap: the least of three full GCs, each after a pause that
      // lets the context cleaner drop what the previous one released
      val heapMb = (1 to 3).map { _ =>
        System.gc(); Thread.sleep(200)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      wl.check()
      val (gated, named) = wl.metrics(timedS)
      val setup = Metric("setup_s", Stats.median(setupS), "s", setupS.size)
      val heap = Metric("live_heap_mb", heapMb, "MB", 1)

      val m = new ObjectMapper
      val root = m.createObjectNode()
      root.put("workload", workload).put("seed", seed).put("trace", trace)
      root.put("attempted", wl.ops.attempted).put("failed", wl.ops.failed)
      val series = root.putArray("op_ms")
      wl.ops.latMs.foreach(x => series.add(if (x.isInfinite) -1.0 else x))
      val fails = root.putArray("failures")
      wl.ops.failures.foreach(fails.add)
      val prov = root.putObject("provenance")
      prov.put("sf", sf).put("cores", cores).put("spark", spark.version)
        .put("java", System.getProperty("java.version"))
        .put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576)
        .put("seconds", seconds).put("steps", steps).put("timed_s", timedS)
        .put("session_s", sessionS).put("generate_s", generateS).put("warmup_s", warmupS)
      val repsNode = prov.putArray("setup_reps_s")
      setupS.foreach(s => repsNode.add(s))
      def put(node: ObjectNode, x: Metric): Unit =
        node.putObject(x.name).put("value", x.value).put("unit", x.unit).put("n", x.n)
      val metrics = root.putObject("metrics")
      (setup +: heap +: gated).foreach(put(metrics, _))
      val report = root.putObject("report")
      (setup +: heap +: named).foreach(put(report, _))
      if (trace) {
        val layers = root.putObject("layers")
        tracer.layerMetrics(wl.progress, wl.layerExtras).foreach { case (n, v, u) =>
          layers.putObject(n).put("value", v).put("unit", u)
        }
        tracer.writeSpans(s"$work/spans.jsonl")
      }
      val oc = root.putArray("oracle_checks")
      wl.oracleChecks.foreach { case (k, sql, dir) => oc.addObject().put("key", k).put("sql", sql).put("dir", dir) }
      wl.dataDir.foreach(root.put("data_dir", _))
      m.writerWithDefaultPrettyPrinter().writeValue(new File(a("out")), root)
    } finally {
      wl.close()
      spark.stop()
    }
  }
}
