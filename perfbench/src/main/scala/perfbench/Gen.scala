package perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic tables in the shape of the engine's table catalog
  * (the TPC-H-like star schema plus `events`, `documents` and
  * `embeddings`), at the row counts of the engine's test scale factors.
  *
  * Every cell is a hash of (seed, column salt, row id), so one seed
  * gives the same rows on any core count. Each table is written as a
  * single parquet file, the layout the engine's loaders are tuned for.
  * Timestamps are UTC instants; the session time zone is UTC. They are
  * stored as the engine's data stores them: `events.ts` as INT64
  * TIMESTAMP(NANOS), which `Tables.events` reads as long nanos and
  * converts, the others as INT64 TIMESTAMP(MICROS) without a zone.
  */
object Gen {
  val AllTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class Sizes(sf: Double) {
    private def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val customer: Long = n(150000)
    val supplier: Long = n(10000)
    val part: Long = n(200000)
    val orders: Long = n(1500000)
    val lineitem: Long = n(6000000)
    val events: Long = n(1000000)
    val users: Long = math.max(1L, customer / 10)
    val documents: Long = math.max(500L, n(50000))
    val embeddings: Long = math.max(500L, n(20000))
  }

  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")
  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  /** 2024-01-01T00:00:00Z; events span the 30 days after it. */
  val EventsStartMicros: Long = 1704067200000000L
  private val EventsSpanMicros: Long = 30L * 86400 * 1000000
  private val Epoch1995: Long = 788918400L

  /** Uniform [0, 1) from a hash of the seed, a salt and the given columns. */
  def u(seed: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  private def below(n: Long, x: Column): Column = floor(x * lit(n.toDouble)).cast("long")

  private def pick(xs: Seq[String], x: Column): Column =
    element_at(array(xs.map(lit): _*), (floor(x * lit(xs.size.toDouble)) + 1).cast("int"))

  def table(spark: SparkSession, name: String, seed: Long, sz: Sizes): DataFrame = {
    def rows(n: Long) = spark.range(0, n, 1, math.max(1, spark.sparkContext.defaultParallelism))
    val id = col("id")
    def r(salt: Int) = u(seed, salt, id)
    name match {
      case "region" =>
        spark.createDataFrame(Seq(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST"))
          .toDF("r_regionkey", "r_name")
      case "nation" =>
        rows(25).select(
          id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          pmod(id, lit(5)).cast("int").as("n_regionkey"))
      case "customer" =>
        rows(sz.customer).select(
          id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          below(25, r(1)).cast("int").as("c_nationkey"),
          round(r(2) * 10990 - 995, 2).as("c_acctbal"),
          pick(Segments, r(3)).as("c_mktsegment"))
      case "supplier" =>
        rows(sz.supplier).select(
          id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          below(25, r(11)).cast("int").as("s_nationkey"),
          round(r(12) * 10780 - 822, 2).as("s_acctbal"))
      case "part" =>
        val adj = Seq("small", "large", "red", "blue", "cold", "hot", "old", "new")
        val noun = Seq("ring", "widget", "bolt", "anvil", "gizmo", "gear", "valve", "spring")
        rows(sz.part).select(
          id.as("p_partkey"),
          concat(pick(adj, r(21)), lit(" "), pick(noun, r(22))).as("p_name"),
          concat(lit("Brand#"), (below(25, r(23)) + 1).cast("string")).as("p_brand"),
          pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), r(24)).as("p_type"),
          (below(50, r(25)) + 1).cast("int").as("p_size"),
          round(lit(900.0) + r(26) * 99.9, 1).as("p_retailprice"))
      case "orders" =>
        rows(sz.orders).select(
          id.as("o_orderkey"),
          below(sz.customer, r(31)).as("o_custkey"),
          pick(Seq("F", "O", "P"), r(32)).as("o_orderstatus"),
          round(r(33) * 500000 + 1000, 2).as("o_totalprice"),
          timestamp_seconds(lit(Epoch1995) + below(2404, r(34)) * 86400).cast("timestamp_ntz").as("o_orderdate"),
          pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), r(35)).as("o_orderpriority"))
      case "lineitem" =>
        rows(sz.lineitem).select(
          below(sz.orders, r(41)).as("l_orderkey"),
          below(sz.part, r(42)).as("l_partkey"),
          below(sz.supplier, r(43)).as("l_suppkey"),
          (below(7, r(44)) + 1).cast("int").as("l_linenumber"),
          (below(50, r(45)) + 1).cast("double").as("l_quantity"),
          round(r(46) * 104100 + 900, 2).as("l_extendedprice"),
          round(below(11, r(47)).cast("double") / 100, 2).as("l_discount"),
          round(below(9, r(48)).cast("double") / 100, 2).as("l_tax"),
          pick(Seq("A", "N", "R"), r(49)).as("l_returnflag"),
          pick(Seq("F", "O"), r(50)).as("l_linestatus"),
          timestamp_seconds(lit(Epoch1995 + 86400) + below(2498, r(51)) * 86400).cast("timestamp_ntz").as("l_shipdate"))
      case "events" =>
        rows(sz.events).select(
          id.as("event_id"),
          ((lit(EventsStartMicros) + below(EventsSpanMicros, r(61))) * 1000L).as("ts"),
          below(sz.users, r(62)).as("user_id"),
          pick(EventTypes, r(63)).as("event_type"),
          // exponential with mean 50, the engagement-count shape
          round(least(lit(490.0), greatest(lit(0.01), -log(lit(1.0) - r(64)) * 50)), 2).as("value"),
          concat(lit("{\"k\": "), below(100, r(65)).cast("string"), lit("}")).as("props"))
      case "documents" =>
        // every 625th document repeats its predecessor exactly and every
        // 20th is a near-duplicate (an earlier text plus one word), so
        // the dedup and similarity queries have pairs to find
        def text(doc: Column): Column = {
          val nWords = below(91, u(seed, 71, doc)) + 10
          array_join(
            transform(sequence(lit(1L), nWords), i => element_at(array(Vocab.map(lit): _*),
              (floor(u(seed, 72, doc, i) * lit(Vocab.size.toDouble)) + 1).cast("int"))),
            " ")
        }
        val src = when(pmod(id, lit(625)) === 1, id - 1).otherwise(id)
        rows(sz.documents)
          .select(
            id.as("doc_id"),
            when(pmod(id, lit(20)) === 3, concat(text(id - 3), lit(" dup"))).otherwise(text(src)).as("text"),
            when(r(73) < 0.44, lit("en")).otherwise(pick(Seq("de", "es", "fr", "zh"), r(74))).as("lang"),
            concat(lit("src"), pmod(id, lit(20)).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        rows(sz.embeddings).select(
          id.as("vec_id"),
          transform(sequence(lit(1L), lit(64L)), i => (u(seed, 81, id, i) - 0.5).cast("float")).as("embedding"),
          below(10, r(82)).cast("int").as("label"))
      case other => throw new IllegalArgumentException(s"unknown table $other")
    }
  }

  /** Writes the named tables under `dir` as `<name>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double, names: Seq[String]): Unit = {
    val sz = Sizes(sf)
    names.foreach {
      case "events" => writeEvents(spark, dir, table(spark, "events", seed, sz))
      case n => write(spark, dir, n, table(spark, n, seed, sz))
    }
  }

  private val EventsSchema = MessageTypeParser.parseMessageType(
    """message events {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(NANOS,false));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Spark cannot write TIMESTAMP(NANOS), so the events (ts as long
    * nanos) go through parquet's own writer, row by row on the driver.
    */
  private def writeEvents(spark: SparkSession, dir: String, df: DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet/part-00000.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withType(EventsSchema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(EventsSchema)
    try df.toLocalIterator().asScala.foreach { r =>
      w.write(groups.newGroup()
        .append("event_id", r.getLong(0)).append("ts", r.getLong(1)).append("user_id", r.getLong(2))
        .append("event_type", r.getString(3)).append("value", r.getDouble(4)).append("props", r.getString(5)))
    }
    finally w.close()
  }

  def write(spark: SparkSession, dir: String, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
