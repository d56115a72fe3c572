package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.Tables
import graft.pipeline.{Binding, PipelineJson}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** `feed_requests`: the reference's feed endpoint, one wire payload per
  * request, recomputed over the events store by `PipelineJson.run`.
  *
  * The seed draws two feeds from each of six reference-shaped payload
  * families (twelve feeds); one closed-loop client cycles through them
  * in a seeded order. A simulated clock moves `nowEpochMs` forward on
  * every request, as live serving does, so window literals change from
  * one request to the next.
  */
final class FeedRequests(spark: SparkSession, tracer: Tracer, seed: Long, sf: Double) extends Workload {
  val ops = new Ops
  private val sz = Gen.Sizes(sf)

  /** 2024-01-31T00:00:00Z, the end of the generated events. Windows are
    * drawn from narrow ranges, so every seed's feeds cost about the same.
    */
  private val ClockStartMs = 1706659200000L
  private val ClockStepMs = 1000L

  private sealed trait Order
  private final case class ByScore(desc: Boolean) extends Order
  private final case class ByHn(gravity: Double) extends Order
  private final case class ByTime(desc: Boolean) extends Order
  private final case class Feed(name: String, blocks: Seq[String], limit: Int, order: Order, perUser: Option[Int]) {
    val payload: String = blocks.mkString("{\"blocks\":[", ",", "]}")
  }

  private val feeds: Vector[Feed] = {
    val rng = new Random(seed)
    def one[A](xs: A*): A = xs(rng.nextInt(xs.size))
    def days(lo: Int, hi: Int): Long = (lo + rng.nextInt(hi - lo + 1)) * 86400L
    def list: String = s"at://lists/${one(Gen.Segments: _*).toLowerCase}"
    def family(f: Int, v: Int): Feed = f match {
      case 1 =>
        val k = one(2, 3, 5)
        val g = one("1.5", "1.8", "2.0")
        Feed(s"window_hn_$v", Seq(
          s"""{"type":"input","inputType":"firehose","firehoseSeconds":${days(6, 8)}}""",
          s"""{"type":"remove","subject":"event_type","operator":"==","value":"${one(Gen.EventTypes: _*)}"}""",
          s"""{"type":"keep","subject":"where","value":"value > ${one(5, 10, 20, 40)}"}""",
          s"""{"type":"score","scoreType":"add","from":"hn","gravity":"$g","normalize":false}""",
          s"""{"type":"limit","limitType":"posts_per_user","count":$k}""",
          """{"type":"sort","sortType":"score","sortDirection":"desc"}""",
          """{"type":"limit","count":100}"""), 100, ByScore(desc = true), Some(k))
      case 2 =>
        Feed(s"list_hn_$v", Seq(
          s"""{"type":"input","inputType":"list","listUri":"$list","historySeconds":${days(13, 15)}}""",
          s"""{"type":"remove","subject":"like_count","operator":"<","value":${one(10, 30, 60)}}""",
          """{"type":"sort","sortType":"hn","gravity":"1.8","sortDirection":"desc"}""",
          """{"type":"limit","count":100}"""), 100, ByHn(1.8), None)
      case 3 =>
        val desc = rng.nextBoolean()
        val n = one(50, 100)
        Feed(s"regex_time_$v", Seq(
          s"""{"type":"input","inputType":"firehose","firehoseSeconds":${days(6, 8)}}""",
          s"""{"type":"regex","value":"${one("purchase|signup", "^(view|click)$", "err")}","target":"text","invert":${rng.nextBoolean()}}""",
          s"""{"type":"sort","sortType":"created_at","sortDirection":"${if (desc) "desc" else "asc"}"}""",
          s"""{"type":"limit","count":$n}"""), n, ByTime(desc), None)
      case 4 =>
        val posts = Seq.fill(3)(rng.nextInt(sz.events.toInt)).mkString(",")
        Feed(s"wire_replace_$v", Seq(
          s"""{"type":"input","inputType":"firehose","firehoseSeconds":${days(6, 8)}}""",
          s"""{"type":"input","inputType":"list","listUri":"$list","historySeconds":${days(13, 15)}}""",
          s"""{"type":"input","inputType":"post","postUri":[$posts]}""",
          """{"type":"remove","subject":"duplicates"}""",
          s"""{"type":"remove","subject":"like_count","operator":"<","value":${one(10, 30, 60)}}""",
          s"""{"type":"replace","with":"parent","keepItemsWithMissingTarget":${rng.nextBoolean()}}""",
          """{"type":"remove","subject":"duplicates"}""",
          """{"type":"sort","sortType":"hn","gravity":"1.8","sortDirection":"desc"}""",
          """{"type":"limit","count":100}"""), 100, ByHn(1.8), None)
      case 5 =>
        Feed(s"liked_weighted_$v", Seq(
          s"""{"type":"input","inputType":"custom_likedweighted","listUri":"$list","baseLikeCount":${one(1, 5, 20)},"historySeconds":999999999}""",
          """{"type":"sort","sortType":"score","sortDirection":"desc"}""",
          """{"type":"limit","count":100}"""), 100, ByScore(desc = true), None)
      case _ =>
        val Seq(t1, t2) = rng.shuffle(Gen.EventTypes).take(2)
        Feed(s"stash_program_$v", Seq(
          s"""{"type":"input","inputType":"firehose","firehoseSeconds":${days(6, 8)}}""",
          s"""{"type":"keep","subject":"event_type","operator":"==","value":"$t1"}""",
          """{"type":"stash","action":"stash","key":"p"}""",
          s"""{"type":"input","inputType":"firehose","firehoseSeconds":${days(13, 15)}}""",
          s"""{"type":"keep","subject":"event_type","operator":"==","value":"$t2"}""",
          """{"type":"stash","action":"pop","key":"p"}""",
          """{"type":"score","scoreType":"add","value":"value * 2 + userId","normalize":false}""",
          """{"type":"sort","sortType":"score","sortDirection":"desc"}""",
          """{"type":"limit","count":100}"""), 100, ByScore(desc = true), None)
    }
    val drawn = for (f <- 1 to 6; v <- 1 to 2) yield family(f, v)
    rng.shuffle(drawn).toVector
  }

  private var base: Binding = _
  private var store: DataFrame = _
  private var clock = ClockStartMs
  private val perFeed = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  /** The events store with the derived thread/quote refs the catalog's
    * wire payloads bind (deterministic functions of the id).
    */
  private def withRefs(events: DataFrame): DataFrame =
    events
      .withColumn("parent_ref",
        when(col("event_id") % 3 === 1, floor(col("event_id") / 2).cast("long"))
          .when(col("event_id") % 3 === 2, col("event_id") + 7919))
      .withColumn("record_ref", when(col("event_id") % 4 === 2 && col("event_id") >= 7, col("event_id") - 7))

  private var dir: String = _

  def generate(d: String): Unit = {
    dir = d
    Gen.write(spark, dir, seed, sf, Seq("events", "customer"))
    // the likes graph reads two lineitem columns; generating the other
    // nine would only lengthen the run
    Gen.write(spark, dir, "lineitem", Gen.table(spark, "lineitem", seed, sz).select("l_suppkey", "l_partkey"))
  }

  /** Loads the stores, binds them, and plans the first feed. */
  def load(): Unit = {
    tracer.span("sources", "load") {
      store = withRefs(Tables.events(spark, dir))
      val customer = Tables.customer(spark, dir)
      base = Binding(
        idCol = "event_id",
        authorCol = "user_id",
        tsCol = "ts",
        valueCol = "value",
        nowEpochMs = ClockStartMs,
        regexTargets = Map("text" -> Seq("event_type")),
        whereFields = Map("value" -> col("value"), "eventType" -> col("event_type"), "userId" -> col("user_id")),
        lists = Gen.Segments.map { s =>
          s"at://lists/${s.toLowerCase}" -> customer.filter(col("c_mktsegment") === s).select(col("c_custkey"))
        }.toMap,
        refCols = Map("parent" -> "parent_ref", "record" -> "record_ref"),
        store = Some(store),
        likes = Some(Tables.lineitem(spark, dir).select(col("l_suppkey").as("liker"), col("l_partkey").as("post"))))
    }
    val first = tracer.span("pipeline", "build")(PipelineJson.run(store, feeds.head.payload, base))
    tracer.span("catalyst", "plan")(first.queryExecution.executedPlan)
  }

  private def request(f: Feed, b: Binding): Array[Row] = tracer.op(f.name) {
    val df = tracer.span("pipeline", "build") {
      val out = PipelineJson.run(store, f.payload, b)
      out.select((Seq("event_id", "user_id", "ts", "value") ++ out.columns.find(_ == "score")).map(col): _*)
    }
    tracer.span("catalyst", "plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("exec", "collect")(df.collect())
    tracer.phases(df)
    tracer.add("pipeline.blocks", f.blocks.size)
    tracer.add("rows_out", rows.length)
    rows
  }

  /** ≤ limit rows, ids in the store, the per-user cap, the declared order. */
  private def verify(f: Feed, rows: Array[Row], nowMs: Long): Option[String] = {
    def hn(r: Row, g: Double): Double = {
      val ageH = (nowMs - r.getAs[java.sql.Timestamp]("ts").getTime).toDouble / 3600000.0
      BigDecimal(r.getAs[Double]("value") / StrictMath.pow(ageH + 2.0, g)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (key, desc, tol): (Row => Double, Boolean, Double) = f.order match {
      case ByScore(d) => (r => r.getAs[Double]("score"), d, 1e-9)
      case ByHn(g) => (r => hn(r, g), true, 1.5e-6)
      case ByTime(d) => (r => r.getAs[java.sql.Timestamp]("ts").getTime.toDouble, d, 0.0)
    }
    val ids = rows.map(_.getAs[Long]("event_id"))
    if (rows.length > f.limit) Some(s"${rows.length} rows > limit ${f.limit}")
    else if (ids.exists(id => id < 0 || id >= sz.events)) Some("id not in the store")
    else if (f.order.isInstanceOf[ByScore] &&
        rows.exists(r => !r.schema.fieldNames.contains("score") || r.isNullAt(r.fieldIndex("score"))))
      Some("null score")
    else if (f.perUser.exists(k => rows.groupBy(_.getAs[Long]("user_id")).values.exists(_.length > k)))
      Some("posts_per_user cap exceeded")
    else {
      val ks = rows.map(key)
      val bad = ks.indices.drop(1).find { i =>
        if (desc) ks(i) > ks(i - 1) + tol * math.max(1.0, math.abs(ks(i - 1)))
        else ks(i) < ks(i - 1) - tol * math.max(1.0, math.abs(ks(i - 1)))
      }
      bad.map(i => s"row $i out of declared order (${ks(i - 1)} then ${ks(i)})")
    }
  }

  private def tick(): Binding = { clock += ClockStepMs; base.copy(nowEpochMs = clock) }

  /** Two cycles: per-request latency falls while the JIT compiles
    * Catalyst and the codegen compiler.
    */
  def warmup(): Unit = (1 to 2).foreach(_ => feeds.foreach(f => request(f, tick())))

  def step(i: Int): Unit = {
    val f = feeds(i % feeds.size)
    val b = tick()
    val t0 = System.nanoTime()
    ops.timed(f.name)(request(f, b))(verify(f, _, b.nowEpochMs))
    perFeed.getOrElseUpdate(f.name, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
  }

  /** Only whole cycles, so every feed weighs the same in every run. */
  override def canStop(steps: Int): Boolean = steps % feeds.size == 0

  def check(): Unit = ()

  def metrics(timedS: Double): (Seq[Metric], Seq[Metric]) = {
    val n = ops.latMs.size
    val p50 = Stats.pct(ops.latMs.toSeq, 0.5)
    val p90 = Stats.pct(ops.latMs.toSeq, 0.9)
    val rps = (ops.attempted - ops.failed) / timedS
    (Seq(Metric("op_p50_ms", p50, "ms", n), Metric("work_per_s", rps, "1/s", n)),
      Seq(Metric("feed_p50_ms", p50, "ms", n), Metric("feed_p90_ms", p90, "ms", n), Metric("feed_rps", rps, "1/s", n)) ++
        perFeed.toSeq.sortBy(_._1).map { case (f, xs) => Metric(s"feed.$f", Stats.median(xs.toSeq), "ms", xs.size) })
  }
}
