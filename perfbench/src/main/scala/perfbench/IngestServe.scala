package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Tables
import graft.pipeline.{Binding, PipelineJson}
import graft.sources.Firehose
import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** `ingest_serve`: the reference's production loop, poll → parse →
  * pipeline → serve, with writes running beside reads.
  *
  * Set-up renders the events as raw firehose JSON lines
  * (`Firehose.synthPostRecords`) in a seeded arrival order (out of
  * order by less than the lateness, with a small share redelivered);
  * warm-up stages the first of them as fixed-size files (1,000 lines at
  * sf 0.1). One continuous `runServingFeed` query folds landed files
  * into per-user top-k state. Each step of the
  * closed-loop client lands one file atomically, waits until the query
  * has consumed it, then reads seed-drawn users' feeds with
  * `readFeedState`.
  */
final class IngestServe(spark: SparkSession, tracer: Tracer, seed: Long, sf: Double) extends Workload {
  val ops = new Ops
  private val sz = Gen.Sizes(sf)
  private val FileLines = math.max(50, math.round(10000 * sf).toInt)
  private val ReadsPerStep = 5
  private val WarmFiles = 2
  /** More files than any run consumes; only these are rendered. */
  private val StagedFiles = 40
  private val JitterMicros = 30L * 60 * 1000000
  private val Redelivered = 0.01
  /** 2024-01-31T00:00:00Z, the end of the generated events. */
  private val AnchorMs = 1706659200000L
  private val RetentionMs = Streams.RetentionMs
  private val LatenessMs = 3600L * 1000

  private val rng = new Random(seed)
  private val types = rng.shuffle(Gen.EventTypes).take(3)
  private val pattern = s"about (${types.mkString("|")}) "
  private val minLikes = 10
  private val k = 20
  private val payload =
    s"""{"blocks":[
       |{"type":"input","inputType":"firehose"},
       |{"type":"remove","subject":"duplicates"},
       |{"type":"regex","value":"$pattern","target":"text"},
       |{"type":"keep","subject":"where","value":"value > $minLikes"},
       |{"type":"sort","sortType":"hn","gravity":"1.8","sortDirection":"desc"},
       |{"type":"limit","count":$k}]}""".stripMargin

  private var dir: Path = _
  private var lines: Array[String] = Array.empty
  private var staged: Vector[(Path, Int)] = Vector.empty
  private var next = 0
  private var query: StreamingQuery = _
  private val landed = mutable.ArrayBuffer[(Path, Long, Boolean)]() // file, epoch ms of its move, timed
  private val progressBuf = mutable.ArrayBuffer[StreamingQueryProgress]()
  private var timedFrom = Long.MaxValue
  private var timedLines = 0L
  private var firstLandNs = 0L
  private var lastDoneNs = 0L
  private var keepRatio = 0.0

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progressBuf.synchronized { progressBuf += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  def generate(d: String): Unit = {
    dir = Paths.get(d)
    Gen.write(spark, d, seed, sf, Seq("events"))
  }

  /** Loads the events and renders them as firehose lines in arrival order. */
  def load(): Unit = {
    lines = tracer.span("sources", "load") {
      val ev = Tables.events(spark, dir.toString)
      val id = col("event_id")
      val arrive = unix_micros(col("ts"))
      val keyed = Firehose.synthPostRecords(ev).join(ev.select(id, arrive.as("t")), "event_id")
        .select(col("raw"), id, (col("t") + floor(Gen.u(seed, 1, id) * JitterMicros)).as("arrive"))
      val again = keyed.filter(Gen.u(seed, 2, id) < Redelivered)
        .select(col("raw"), id, (col("arrive") + floor(Gen.u(seed, 3, id) * JitterMicros)).as("arrive"))
      keyed.unionByName(again).orderBy("arrive", "event_id").limit(StagedFiles * FileLines)
        .select("raw").collect().map(_.getString(0))
    }
  }

  /** Stages the rendered lines as files (the harness's part, untimed). */
  private def stage(): Unit = {
    val stage = Files.createDirectories(dir.resolve("staged"))
    staged = lines.grouped(FileLines).zipWithIndex.map { case (chunk, i) =>
      (Files.write(stage.resolve(f"part-$i%05d.json"), chunk.toSeq.asJava, StandardCharsets.UTF_8), chunk.length)
    }.toVector
    Files.createDirectories(dir.resolve("landing"))
  }

  private def ckpt = dir.resolve("checkpoint").toString

  private def startQuery(): Unit = {
    val raw = spark.readStream.text(dir.resolve("landing").toString).select(col("value").as("raw"))
    val posts = Streams.firehoseIntakeStream(raw).select(
      regexp_extract(col("id"), "^rk(\\d+)_", 1).cast("long").as("event_id"),
      regexp_extract(col("author"), "u(\\d+)$", 1).cast("long").as("user_id"),
      timestamp_micros(expr("substring(created_at, 2)").cast("long")).as("ts"),
      col("text"),
      col("like_count").cast("double").as("value"))
    val b = Binding("event_id", "user_id", "ts", "value", AnchorMs, Map("text" -> Seq("text")), Map("value" -> col("value")))
    query = PipelineJson.runServingFeed(posts, payload, b, anchorMs = AnchorMs)
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .format("noop")
      .start()
  }

  /** Lands the next staged file and waits until the query consumed it. */
  private def ingest(timed: Boolean): Unit = {
    val (f, n) = staged(next)
    next += 1
    val to = dir.resolve("landing").resolve(f.getFileName)
    if (timed && firstLandNs == 0L) firstLandNs = System.nanoTime()
    Files.move(f, to, StandardCopyOption.ATOMIC_MOVE)
    landed += ((to, System.currentTimeMillis(), timed))
    tracer.op("ingest")(tracer.span("streaming", "process")(query.processAllAvailable()))
    if (timed) { timedLines += n; lastDoneNs = System.nanoTime() }
  }

  private def readUser(u: Long): Array[Streams.FeedRow] = tracer.op("read") {
    val df = tracer.span("streaming", "read_state")(Streams.readFeedState(spark, ckpt).filter(col("user_id") === u))
    tracer.span("catalyst", "plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("exec", "collect")(df.collect())
    tracer.phases(df.toDF())
    tracer.add("rows_out", rows.length)
    rows
  }

  private def verifyRead(u: Long)(rows: Array[Streams.FeedRow]): Option[String] = {
    val sorted = rows.sortBy(_.rank)
    if (rows.length > k) Some(s"${rows.length} rows > k=$k")
    else if (rows.exists(_.user_id != u)) Some("row of another user")
    else if (sorted.map(_.rank).toSeq != (1 to rows.length)) Some("ranks not 1..n")
    else if (sorted.sliding(2).exists { case Array(a, b) => b.score > a.score; case _ => false }) Some("ranks out of score order")
    else None
  }

  private def reads(timed: Boolean): Unit = (1 to ReadsPerStep).foreach { _ =>
    val u = rng.nextInt(sz.users.toInt).toLong
    if (timed) ops.timed(s"read user $u")(readUser(u))(verifyRead(u)) else readUser(u)
  }

  def warmup(): Unit = {
    stage()
    startQuery()
    (1 to WarmFiles).foreach { _ => ingest(timed = false); reads(timed = false) }
    timedFrom = System.currentTimeMillis()
  }

  override def done: Boolean = next >= staged.size

  def step(i: Int): Unit = {
    ingest(timed = true)
    reads(timed = true)
  }

  /** Stops the query and compares the served state, for every user
    * active within the retention horizon, with a per-user top-k computed
    * here from the landed raw lines by an independent parse.
    */
  def check(): Unit = {
    query.stop()
    val mapper = new ObjectMapper
    val lines = landed.toSeq.flatMap { case (p, _, _) => Files.readAllLines(p, StandardCharsets.UTF_8).asScala }
    final case class Post(id: Long, user: Long, tsMs: Long, text: String, likes: Double)
    val valid = lines.flatMap { l =>
      val j = mapper.readTree(l)
      def s(f: String) = Option(j.get(f)).filter(_.isTextual).map(_.asText)
      for {
        id <- s("id") if id.length >= 6
        author <- s("author") if author.length >= 5
        text <- s("text")
        created <- s("createdAt")
      } yield Post(
        "^post:rk(\\d+)_".r.findFirstMatchIn(id).get.group(1).toLong,
        "u(\\d+)$".r.findFirstMatchIn(author).get.group(1).toLong,
        Math.floorDiv(created.drop(1).toLong, 1000L),
        text,
        Option(j.get("likeCount")).map(_.asDouble).getOrElse(0.0))
    }
    val posts = valid.groupBy(_.id).values.map(_.head).toSeq
    val re = java.util.regex.Pattern.compile(s"(?i)$pattern")
    val kept = posts.filter(p => re.matcher(p.text).find() && p.likes > minLikes)
    def hn(p: Post) = p.likes / math.pow(math.max(0.0, (AnchorMs - p.tsMs).toDouble / 3600000.0) + 2.0, 1.8)
    val horizon = posts.map(_.tsMs).max - LatenessMs - RetentionMs + 86400L * 1000
    val expected = kept.groupBy(_.user).filter(_._2.map(_.tsMs).max > horizon).map { case (u, ps) =>
      u -> ps.map(p => (hn(p), p.id)).sortBy { case (s, id) => (-s, id) }.take(k)
    }
    val served = Streams.readFeedState(spark, ckpt).collect().groupBy(_.user_id)
    val wrong = expected.toSeq.sortBy(_._1).flatMap { case (u, exp) =>
      val got = served.getOrElse(u, Array.empty).sortBy(_.rank).map(r => (r.score, r.event_id)).toSeq
      val same = got.size == exp.size && got.zip(exp).forall { case ((gs, gi), (es, ei)) =>
        gi == ei && math.abs(gs - es) <= 1e-9 * math.max(1.0, math.abs(es))
      }
      if (same) None else Some(s"user $u served ${got.map(_._2)} expected ${exp.map(_._2)}")
    }
    ops.check(
      if (expected.isEmpty) Some("ingest: no active user to check")
      else wrong.headOption.map(w => s"ingest: ${wrong.size} of ${expected.size} users differ, e.g. $w"))
    val parsed = Firehose.parsePostRecords(
      spark.read.text(landed.map(_._1.toString).toSeq: _*).select(col("value").as("raw"))).count()
    keepRatio = parsed.toDouble / lines.size
    ops.check(if (parsed == valid.size) None
      else Some(s"ingest: engine parsed $parsed of ${lines.size} lines, independent parse kept ${valid.size}"))
  }

  override def progress: Seq[StreamingQueryProgress] = progressBuf.synchronized(progressBuf.toVector)
    .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= timedFrom)

  override def layerExtras: Map[String, Double] = Map("sources.parse_keep_ratio" -> keepRatio)

  /** Time from each file's move to the end of the micro-batch that
    * consumed it. The client lands one file only once the previous one
    * is consumed, so data batches and landed files pair up in order.
    */
  private def freshnessMs: Seq[Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val dataBatches = progressBuf.synchronized(progressBuf.toVector).filter(_.numInputRows > 0)
      .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)
    landed.toSeq.zip(dataBatches).collect { case ((_, movedMs, true), end) => (end - movedMs).toDouble }
  }

  def metrics(timedS: Double): (Seq[Metric], Seq[Metric]) = {
    val reads = ops.latMs.toSeq
    val fresh = freshnessMs
    val rowsPerS = if (lastDoneNs > firstLandNs) timedLines / ((lastDoneNs - firstLandNs) / 1e9) else 0.0
    val files = landed.count(_._3)
    (Seq(
      Metric("op_p50_ms", Stats.pct(reads, 0.5), "ms", reads.size),
      Metric("work_per_s", rowsPerS, "1/s", files)),
      Seq(
        Metric("ingest_rows_per_s", rowsPerS, "1/s", files),
        Metric("ingest_fresh_p50_ms", Stats.pct(fresh, 0.5), "ms", fresh.size),
        Metric("ingest_fresh_p90_ms", Stats.pct(fresh, 0.9), "ms", fresh.size),
        Metric("state_read_p50_ms", Stats.pct(reads, 0.5), "ms", reads.size),
        Metric("state_read_p90_ms", Stats.pct(reads, 0.9), "ms", reads.size)))
  }

  override def close(): Unit = {
    if (query != null && query.isActive) query.stop()
    spark.streams.removeListener(listener)
  }
}
