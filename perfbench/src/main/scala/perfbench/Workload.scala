package perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** A measured value with its unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** One workload of the benchmark: its inputs generated (once, untimed),
  * the engine's set-up timed (repeated), warmed up, stepped in a closed
  * loop for the timed phase, then checked.
  */
trait Workload {
  /** Writes the seed's inputs under `dir`. Not timed: it is the
    * benchmark's own generator, not the engine.
    */
  def generate(dir: String): Unit
  /** The engine's set-up over the generated inputs (loads, store
    * binding, first plan); timed, and repeatable in one JVM.
    */
  def load(): Unit
  def warmup(): Unit
  /** One closed-loop step of the timed phase: one or more client ops. */
  def step(i: Int): Unit
  /** Whether the timed loop may stop after `steps` steps. */
  def canStop(steps: Int): Boolean = true
  /** Whether the workload has no input left for another step. */
  def done: Boolean = false
  /** Correctness checks that need the whole timed phase to be over. */
  def check(): Unit
  /** The gated metrics and the workload's own named metrics. */
  def metrics(timedS: Double): (Seq[Metric], Seq[Metric])
  def ops: Ops
  def progress: Seq[StreamingQueryProgress] = Nil
  def layerExtras: Map[String, Double] = Map.empty
  /** (key, oracle SQL, result directory) for checks made outside the JVM. */
  def oracleChecks: Seq[(String, String, String)] = Nil
  /** Directory of the tables the outside checks read. */
  def dataDir: Option[String] = None
  def close(): Unit = ()
}

/** Ops attempted and failed, with per-op latencies. A failed op counts
  * as slower than every successful one.
  */
final class Ops {
  val latMs = mutable.ArrayBuffer[Double]()
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  def record(ms: Double, error: Option[String]): Unit = {
    attempted += 1
    error match {
      case None => latMs += ms
      case Some(e) =>
        failed += 1
        latMs += Double.PositiveInfinity
        if (failures.size < 20) failures += e
    }
  }

  /** A check that is not a timed op (counted as attempted, no latency). */
  def check(error: Option[String]): Unit = {
    attempted += 1
    error.foreach { e => failed += 1; if (failures.size < 20) failures += e }
  }

  /** Times `f`; `verify` inspects its result. Exceptions count as failures. */
  def timed[A](what: String)(f: => A)(verify: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val a = f
      val ms = (System.nanoTime() - t0) / 1e6
      record(ms, verify(a).map(e => s"$what: $e"))
      Some(a)
    } catch {
      case e: Exception =>
        record((System.nanoTime() - t0) / 1e6, Some(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)))
        None
    }
  }
}

object Stats {
  /** Nearest-rank percentile; +Inf samples (failed ops) rank last. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s((math.ceil(q * s.length).toInt - 1).max(0).min(s.length - 1))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
