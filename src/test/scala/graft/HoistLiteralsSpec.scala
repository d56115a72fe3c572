package graft

import graft.pipeline.{Binding, PipelineJson}
import graft.plans.HoistedLiteral
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Per-request literals reach generated code through the class's
  * references, not its source: a feed rerun under a later clock reuses
  * every compiled class, returns the rows the reference semantics give
  * for that clock, and still pushes its window into the parquet scan.
  */
class HoistLiteralsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 4)
  import WireSurfaceSpec.{NowMs, Posts}

  /** The wire store as a parquet table, so the window reaches a real
    * scan (an in-memory relation would be folded away before codegen).
    */
  lazy val store: DataFrame = {
    val s = spark
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_hoist").resolve("posts").toString
    Posts.toDF().write.parquet(out)
    spark.read.parquet(out)
  }

  private val WindowSecs = 2400L
  private val Gravity = 1.8
  private val payload =
    s"""{"blocks":[
       |  {"type":"input","inputType":"firehose","firehoseSeconds":$WindowSecs},
       |  {"type":"sort","sortType":"hn","gravity":"$Gravity","sortDirection":"desc"},
       |  {"type":"limit","count":4}
       |]}""".stripMargin

  private def binding(nowMs: Long) = Binding(
    idCol = "id", authorCol = "author", tsCol = "ts", valueCol = "likes",
    nowEpochMs = nowMs, regexTargets = Map.empty, whereFields = Map.empty)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs the payload at `nowMs`; returns the ids, the classes compiled
    * meanwhile and the executed plan.
    */
  private def serve(nowMs: Long): (Seq[Long], Long, SparkPlan) = {
    val c0 = compiles
    val df = PipelineJson.run(store, payload, binding(nowMs)).select(col("id"))
    val ids = df.collect().map(_.getLong(0)).toSeq
    (ids, compiles - c0, df.queryExecution.executedPlan)
  }

  test("a feed rerun one second later compiles no new class and returns that clock's rows") {
    // the window's lower edge sits exactly on post 4 (40 min old) at
    // NowMs, so the row set differs between the two clocks: a class
    // that had kept the first clock's value would show it
    val t0 = NowMs - 1000L
    val t1 = NowMs
    val (first, _, _) = serve(t0)
    val (second, compiled, plan) = serve(t1)
    assert(first == WireSurfaceSpec.windowHnOracle(t0, WindowSecs, Gravity, 4))
    assert(second == WireSurfaceSpec.windowHnOracle(t1, WindowSecs, Gravity, 4))
    assert(first != second, "the fixture must move a row across the window edge")
    assert(compiled == 0, s"the rerun compiled $compiled new classes")

    // the scan keeps real literals: the window bound is still a pushed
    // filter, and nothing hoisted reached the leaf
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, plan.toString)
    val lowerMicros = (t1 - WindowSecs * 1000L + 1) * 1000L
    val bounds = scans.flatMap(_.dataFilters).flatMap(_.collect { case Literal(v, TimestampType) => v })
    assert(bounds.contains(lowerMicros), s"window bound missing from the scan filters: $bounds")
    assert(scans.forall(s => s.metadata("PushedFilters").contains("GreaterThanOrEqual(ts,")),
      scans.map(_.metadata("PushedFilters")).mkString("; "))
    assert(scans.forall(_.expressions.forall(_.find(_.isInstanceOf[HoistedLiteral]).isEmpty)),
      "a hoisted literal reached the scan")
    // and the operators above the scan do carry the hoisted bound
    val hoisted = collect(plan) { case p => p.expressions.flatMap(_.collect { case h: HoistedLiteral => h }) }
      .flatten
    assert(hoisted.exists(h => h.value == lowerMicros && h.dataType == TimestampType), hoisted)
  }

  test("a hoisted literal evaluates and generates the same value at each type's boundaries") {
    val boundaries: Seq[(DataType, Seq[Any])] = Seq(
      LongType -> Seq(Long.MinValue, Long.MaxValue, 0L),
      IntegerType -> Seq(Int.MinValue, Int.MaxValue, 0),
      DoubleType -> Seq(-0.0, 0.0, Double.NaN, Double.MinValue, Double.MaxValue,
        Double.NegativeInfinity),
      TimestampType -> Seq(0L, Long.MinValue, Long.MaxValue),
      DateType -> Seq(0, Int.MinValue, Int.MaxValue))
    // doubles compare by bits, so -0.0 and NaN are told apart exactly
    def norm(t: DataType, v: Any): Any = (t, v) match {
      case (DoubleType, d: Double) => java.lang.Double.doubleToRawLongBits(d)
      case _ => v
    }
    for ((t, values) <- boundaries; v <- values) {
      val h = HoistedLiteral(v, t)
      assert(h.toString == Literal(v, t).toString && h.sql == Literal(v, t).sql)
      assert(!h.foldable)
      // the same value arrives as a row column: every expression form
      // the rule hoists into, evaluated against it
      val in = BoundReference(0, t, nullable = false)
      val arith = t match {
        case LongType => Seq(Subtract(in, h), Multiply(h, Literal(1L)))
        case IntegerType => Seq(Subtract(in, h), Multiply(h, Literal(1)))
        case DoubleType => Seq(Subtract(in, h), Add(h, Literal(0.0)), Multiply(h, Literal(1.0)),
          Divide(h, Literal(1.0)))
        case _ => Nil
      }
      val exprs = Seq(h, EqualTo(in, h), EqualNullSafe(h, in), LessThan(in, h), GreaterThanOrEqual(h, in)) ++
        arith
      val row = InternalRow(v)
      val generated = GenerateUnsafeProjection.generate(exprs).apply(row)
      exprs.zipWithIndex.foreach { case (e, i) =>
        val evaluated = e.eval(row)
        assert(norm(e.dataType, generated.get(i, e.dataType)) == norm(e.dataType, evaluated),
          s"$e at $t $v: codegen ${generated.get(i, e.dataType)} vs eval $evaluated")
      }
      assert(norm(t, generated.get(0, t)) == norm(t, v), s"$t $v came back as ${generated.get(0, t)}")
      assert(generated.getBoolean(1) && generated.getBoolean(2) && !generated.getBoolean(3) &&
        generated.getBoolean(4), s"$t $v compares wrong to itself")
    }
  }
}
