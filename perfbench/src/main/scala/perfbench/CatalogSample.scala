package perfbench

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `catalog_sample`: analytics batch time. A fixed set of catalog keys
  * runs pass after pass, in a fixed order, over tables generated from
  * the seed. (The order decides which generated classes are still in
  * Spark's 100-entry codegen cache when a key runs, so a seeded order
  * made the same key's cost vary from seed to seed.) Each op builds one
  * key's DataFrame (the catalog function, including the eager
  * `Lineage.cut` jobs it runs) and executes it to the noop sink. The warm-up pass runs every key once over the same
  * tables and writes its result, which is what the correctness checks
  * read: the catalog keys' per-key cost barely depends on scale, so a
  * separate check pass would double the run for little.
  */
final class CatalogSample(spark: SparkSession, tracer: Tracer, seed: Long, sf: Double) extends Workload {
  val ops = new Ops
  /** Heavy rows named in the roadmap, plus one rows-only (no oracle) key. */
  val Keys: Vector[String] = Vector(
    "markov_attribution", "graph_modularity", "absorption_probability", "vocab_budget_coverage",
    "table_profile_sketch")
  private val perKey = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val warmupErrors = mutable.Map[String, String]()
  private var dir: String = _
  private var resultsDir: String = _
  private var checks: Seq[(String, String, String)] = Nil

  def generate(d: String): Unit = {
    dir = s"$d/tables"
    resultsDir = s"$d/results"
    Gen.write(spark, dir, seed, sf, Gen.AllTables)
  }

  /** Loads every table through the engine's loaders and plans the
    * cheapest key (the heavy keys' builds run eager jobs, which are the
    * ops' work, not set-up).
    */
  def load(): Unit = {
    tracer.span("sources", "load") {
      Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation, Tables.customer, Tables.supplier,
        Tables.part, Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
        .foreach(t => t(spark, dir).schema)
    }
    val df = tracer.span("queries", "build")(SparkEntry.queries("table_profile_sketch")(spark, dir))
    tracer.span("catalyst", "plan")(df.queryExecution.executedPlan)
  }

  private def runKey(key: String): Unit = tracer.op(key) {
    val df: DataFrame = tracer.span("queries", "build")(SparkEntry.queries(key)(spark, dir))
    tracer.span("catalyst", "plan")(df.queryExecution.executedPlan)
    tracer.span("exec", "execute")(df.write.format("noop").mode("overwrite").save())
    tracer.phases(df)
  }

  /** Writes each key's result, as the engine's Verify dump does. */
  def warmup(): Unit = Keys.foreach { key =>
    try SparkEntry.queries(key)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$key")
    catch { case e: Exception => warmupErrors(key) = s"$key: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
  }

  def step(i: Int): Unit = {
    val key = Keys(i % Keys.size)
    val t0 = System.nanoTime()
    ops.timed(key)(runKey(key))(_ => None)
    perKey.getOrElseUpdate(key, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
  }

  /** Only whole passes, so every key weighs the same in every run. */
  override def canStop(steps: Int): Boolean = steps % Keys.size == 0

  /** Keys with an oracle are compared outside the JVM; the others must
    * return rows.
    */
  def check(): Unit = {
    val oracles = SparkEntry.oracleSql
    checks = Keys.flatMap { key =>
      val out = s"$resultsDir/$key"
      (warmupErrors.get(key), oracles.get(key)) match {
        case (Some(e), _) => ops.check(Some(e)); None
        case (None, Some(sql)) => Some((key, sql, out))
        case (None, None) =>
          val n = spark.read.parquet(out).count()
          ops.check(if (n > 0) None else Some(s"$key: 0 rows"))
          None
      }
    }
  }

  override def oracleChecks: Seq[(String, String, String)] = checks
  override def dataDir: Option[String] = Some(dir)

  def metrics(timedS: Double): (Seq[Metric], Seq[Metric]) = {
    val lat = ops.latMs.toSeq
    val medians = perKey.values.map(xs => Stats.median(xs.toSeq)).toSeq
    val passes = perKey.values.map(_.size).minOption.getOrElse(0)
    // the gated latency is the geomean over every op, so that each key
    // moves it (a pass holds each key once)
    (Seq(
      Metric("op_p50_ms", Stats.geomean(lat), "ms", lat.size),
      Metric("work_per_s", (ops.attempted - ops.failed) / timedS, "1/s", lat.size)),
      Seq(
        Metric("catalog_geomean_s", Stats.geomean(medians), "s", passes),
        Metric("catalog_total_s", medians.sum, "s", passes)) ++
        perKey.toSeq.sortBy(_._1).map { case (k, xs) => Metric(s"key.$k", Stats.median(xs.toSeq), "s", xs.size) })
  }
}
