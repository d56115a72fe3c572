package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference engine's block chain (skyfeed main.rs:1229-2594)
  * re-expressed as a *declarative* pipeline compiler.
  *
  * The Rust engine executes blocks imperatively, materializing a
  * `Vec<&Post>` between every block. Here each block is a DataFrame →
  * DataFrame transform and the whole chain compiles into ONE logical
  * plan: Catalyst merges adjacent filters, pushes predicates across
  * block boundaries into the parquet scan, prunes columns end-to-end,
  * and picks broadcast joins for the set-membership blocks. That is the
  * scale story: a 20-block pipeline is still a handful of stages.
  *
  * Conventions: the working set carries an `id` column (unique row key),
  * a `ts` timestamp, a key column per-author ops use, and a running
  * `score` column (the reference's global score map, main.rs:1243).
  */
sealed trait Block {
  def apply(df: DataFrame): DataFrame
}

/** firehose input window (main.rs:1410): keep rows with ts in
  * (now - seconds, now]. `now` is the request's clock and moves with
  * every request. The bounds stay plain literals in the logical plan,
  * so they reach the scan as pushed filters (and prune partitions on a
  * time-partitioned table); above the scan, `plans.HoistLiterals` passes
  * them to generated code as references, so a request at a later clock
  * reuses the classes compiled for an earlier one.
  */
case class InputWindow(tsCol: String, nowEpochMs: Long, seconds: Long) extends Block {
  def apply(df: DataFrame): DataFrame = {
    // direct timestamp comparisons (no unix_millis wrapper) so the
    // predicate reaches PushedFilters / partition pruning. The bounds
    // are shifted to stay exactly equivalent to the ms-floor semantics
    // `floor_ms(ts) in (now-s, now]` that the oracles express:
    //   floor_ms(ts) >  A  ⟺  ts >= A+1 ms
    //   floor_ms(ts) <= B  ⟺  ts <  B+1 ms
    df.filter(
      col(tsCol) >= timestamp_millis(lit(nowEpochMs - seconds * 1000L + 1)) &&
        col(tsCol) < timestamp_millis(lit(nowEpochMs + 1)))
  }
}

/** keep/remove comparison filter (main.rs:1831-1884). `keep` semantics:
  * KeepCmp("value", ">=", 10) keeps rows where value >= 10 (the
  * reference's `remove op v` retains the complement, same thing).
  */
case class KeepCmp(c: Column, op: String, value: Column) extends Block {
  def apply(df: DataFrame): DataFrame = {
    val pred = op match {
      case "<" => c < value
      case "<=" => c <= value
      case ">" => c > value
      case ">=" => c >= value
      case "==" => c === value
      case "!=" => c =!= value
      case other => throw new IllegalArgumentException(s"bad op $other")
    }
    df.filter(pred)
  }
}

object KeepCmp {
  def apply(column: String, op: String, value: Column): KeepCmp =
    KeepCmp(col(column), op, value)
}

/** keep/remove by set membership (list filter, main.rs:1903): semi/anti
  * join against the member set (the RoaringBitmap replacement). No
  * forced broadcast: reference lists are small curated sets and AQE
  * broadcasts them when they actually are — a pathological list then
  * degrades to a shuffle join instead of an executor OOM.
  */
case class KeepInSet(column: String, members: DataFrame, memberCol: String, keep: Boolean)
    extends Block {
  def apply(df: DataFrame): DataFrame = {
    val joinType = if (keep) "left_semi" else "left_anti"
    // re-alias the member key: a fresh exprId keeps the join predicate
    // unambiguous even when the member set derives from the SAME base
    // relation under the same column name (e.g. a feed skeleton carved
    // out of the store, where bare col("event_id") would be ambiguous)
    val m = members.select(col(memberCol).as("__member_key"))
    df.join(m, col(column) === col("__member_key"), joinType)
  }
}

/** regex block (main.rs:1982): case-insensitive by default, invertible,
  * multi-target = OR over targets (text|alt_text|link unions).
  */
case class KeepRegex(targets: Seq[String], pattern: String, caseSensitive: Boolean, invert: Boolean)
    extends Block {
  def apply(df: DataFrame): DataFrame = {
    val pat = if (caseSensitive) pattern else s"(?i)$pattern"
    // the reference matches absent text as the empty string, so coalesce
    // the COLUMN (not the match result): patterns that match "" (a*, ^$)
    // then keep null-text rows exactly like the reference, and inverted
    // filters still see a non-null boolean
    val hit = targets.map(t => coalesce(col(t), lit("")).rlike(pat)).reduce(_ || _)
    df.filter(if (invert) !hit else hit)
  }
}

/** duplicates filter (main.rs:1916): first row per key wins, in `order`
  * order — a per-key top-1, not dropDuplicates, so the survivor is
  * deterministic on both engines.
  */
case class DedupByKey(keys: Seq[String], order: Seq[Column]) extends Block {
  def apply(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
}

/** score add (main.rs:2151): score += expr, optionally max-normalized
  * (main.rs:2626). Normalization divides by the global max — computed
  * with an aggregate + broadcast cross join (a single reduced row), not
  * a driver collect, so it scales.
  */
case class ScoreAdd(value: Column, normalize: Boolean, multiplier: Double = 1.0) extends Block {
  def apply(df: DataFrame): DataFrame = {
    val base = if (!df.columns.contains("score")) df.withColumn("score", lit(0.0)) else df
    val scored = base.withColumn("__s", value)
    if (normalize) {
      val mx = scored.agg(max(col("__s")).as("__mx"))
      scored
        .crossJoin(broadcast(mx))
        // zero/absent max ⇒ contribution 0, not null-poisoned scores
        .withColumn(
          "score",
          col("score") + when(col("__mx") =!= 0, col("__s") / col("__mx") * lit(multiplier))
            .otherwise(lit(0.0)))
        .drop("__s", "__mx")
    } else {
      scored.withColumn("score", col("score") + col("__s")).drop("__s")
    }
  }
}

/** `where` script filter (main.rs:1952): predicate pre-compiled (see
  * WhereDsl) to a Catalyst Column — codegen'd, pushdown-eligible.
  */
case class WhereFilter(pred: Column) extends Block {
  def apply(df: DataFrame): DataFrame = df.filter(pred)
}

/** Round a column in place (determinism guard before ranking on
  * floating-point scores).
  */
case class RoundCol(column: String, scale: Int) extends Block {
  def apply(df: DataFrame): DataFrame =
    df.withColumn(column, round(col(column), scale))
}

/** sort block (main.rs:2229). Callers append a unique key for
  * determinism.
  */
case class SortBy(order: Seq[Column]) extends Block {
  def apply(df: DataFrame): DataFrame = df.orderBy(order: _*)
}

/** limit head-N (main.rs:2374): with a preceding SortBy this plans as
  * TakeOrderedAndProject — per-partition heaps + single merge, no global
  * sort even at 100 TB.
  */
case class LimitN(n: Int) extends Block {
  def apply(df: DataFrame): DataFrame = df.limit(n)
}

/** posts_per_user limit (main.rs:2349): per-key top-N via row_number —
  * one shuffle on the key, skew handled by AQE.
  */
case class LimitPerKey(key: String, n: Int, order: Seq[Column]) extends Block {
  def apply(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }
}

/** stash subtract (main.rs:2327): anti join on the row key. */
case class SubtractSet(other: DataFrame, key: String) extends Block {
  def apply(df: DataFrame): DataFrame =
    df.join(other.select(col(key)), Seq(key), "left_anti")
}

/** stash pop (main.rs:2319): union the stashed set back in. */
case class UnionSet(other: DataFrame) extends Block {
  def apply(df: DataFrame): DataFrame = df.unionByName(other)
}

/** Swap the working relation wholesale (the `archived` input,
  * main.rs:1792: posts pulled from the archive store, not the live
  * window — in PipelineJson.run the result is unioned with the other
  * input branches).
  */
case class UseRelation(relation: DataFrame) extends Block {
  def apply(df: DataFrame): DataFrame = relation
}

/** Escape hatch for whole-relation transforms that need more than a
  * per-row predicate/projection (the custom_liked* like-graph inputs):
  * still a lazy DataFrame → DataFrame function, so the composed plan
  * stays one Catalyst tree.
  */
case class Compute(f: DataFrame => DataFrame, streamSafe: Boolean = false) extends Block {
  def apply(df: DataFrame): DataFrame = f(df)
}

object Compute {
  /** A Compute that is a pure per-row map/filter (no aggregates, joins
    * or ordering) and therefore runs unchanged on an unbounded stream —
    * the flag PipelineJson.runStreaming trusts.
    */
  def streamSafe(f: DataFrame => DataFrame): Compute = Compute(f, streamSafe = true)
}

/** The reference's user-score function family f0..f5 (main.rs:1548):
  * how much one like from a post's liker is worth, as a function of
  * that post's total liker count.
  */
object UserScore {
  def fn(name: String, exponent: Double = 1.3): Column => Column = {
    val n = (c: Column) => c.cast("double")
    name match {
      case "f0" => c => lit(1.0) / pow(n(c), lit(exponent))
      case "f1" => c => lit(1.0) / n(c)
      case "f2" => c => lit(100.0) - sqrt(n(c))
      case "f3" => c => lit(10.0) - log(n(c))
      case "f4" => c => lit(1.0) / sqrt(n(c))
      case "f5" => c => lit(1.0) / log(n(c))
      case _ => _ => lit(1.0)
    }
  }
}

/** non_duplicates filter (main.rs:1919): retain ONLY rows whose key
  * already appeared in `order` — the exact complement of DedupByKey.
  */
case class KeepDupes(keys: Seq[String], order: Seq[Column]) extends Block {
  def apply(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") > 1).drop("__rn")
  }
}

/** replace with parent/root/record (main.rs:2386-2437): each working row
  * is swapped for the store row its ref column points at. Reference
  * semantics, exactly: a null/absent ref keeps the original row iff
  * keepItemsWithMissingTarget; a dangling ref (target not in the store)
  * always drops the row; several rows resolving to the same target all
  * yield that target (duplicates survive until a duplicates filter).
  * ONE left join on the store's key — broadcast or shuffle-hash at the
  * planner's discretion, never a driver lookup, and never a second
  * scan of the upstream working plan (a split-and-union form would
  * re-execute the whole upstream subtree for the kept branch).
  * Score semantics are a KNOWN APPROXIMATION of the reference's global
  * score map (post_score_global): kept originals RETAIN their earned
  * running score (their key is unchanged); replaced rows restart at 0.
  * In the reference a replacement target that itself earned score
  * earlier in the pipeline (e.g. a parent that was also in the working
  * set during a score block) keeps that map entry and ranks by it;
  * reconstructing that here would mean a second join against (a
  * re-scan of) the scored working set for a rarely-exercised nuance —
  * documented instead, next to the same trade the 500-cap makes.
  */
case class ReplaceWith(store: DataFrame, storeIdCol: String, refCol: String, keepMissing: Boolean)
    extends Block {
  def apply(df: DataFrame): DataFrame = {
    val hasScore = df.columns.contains("score")
    // alias every store column: the working frame carries the same
    // column names (it IS store-shaped), so the join output would
    // otherwise be ambiguous
    val s2 = store.select(store.columns.map(c => col(c).as(s"__s_$c")): _*)
    val sid = col(s"__s_$storeIdCol")
    val joined = df.join(s2, col(refCol) === sid, "left")
    val kept =
      if (keepMissing) col(refCol).isNull || sid.isNotNull
      else col(refCol).isNotNull && sid.isNotNull
    val outCols = store.columns.toSeq.map(c =>
      when(col(refCol).isNull, col(c)).otherwise(col(s"__s_$c")).as(c))
    val withScore =
      if (hasScore)
        outCols :+ when(col(refCol).isNull, col("score")).otherwise(lit(0.0)).as("score")
      else outCols
    joined.filter(kept).select(withScore: _*)
  }
}

/** replace inversions direct_replies / all_replies / quote_posts
  * (main.rs:2440-2487): the working set becomes a TARGET set; the
  * result is every store row whose ref column (parent / root / record)
  * points at a target — a semi join against the full store, the
  * RoaringBitmap membership walk distributed.
  *
  * DELIBERATE DIVERGENCE (documented like the run() 500-cap): the
  * reference code as written always returns an EMPTY set for these
  * targets — its inversion branch repopulates `posts`, then the
  * unconditional `posts = new_posts;` at main.rs:2490 clobbers it with
  * the never-filled `new_posts` vec. That is an evident bug (the walk
  * it carefully builds is thrown away), so this implements the
  * evidently intended semantics above rather than bug-compatible
  * emptiness. Parity audits must NOT treat the reference's empty
  * result as the target.
  */
case class ReplaceInversion(store: DataFrame, refCol: String, idCol: String) extends Block {
  def apply(df: DataFrame): DataFrame = {
    val targets = df.select(col(idCol).as("__target")).distinct()
    store.join(targets, col(refCol) === col("__target"), "left_semi")
  }
}

object FeedPipeline {

  /** Compile a block chain onto an input relation. Pure composition —
    * the result is one lazy logical plan for Catalyst to optimize
    * across all block boundaries.
    */
  def compile(input: DataFrame, blocks: Seq[Block]): DataFrame =
    blocks.foldLeft(input)((df, b) => b(df))

  /** Debug-mode compile: per-block row counters via the Observation API
    * (the reference's per-block debug counts, main.rs:2496, without a
    * second pass — metrics ride along with the single job). Each
    * CollectMetrics node is an optimizer barrier, so this mode trades
    * cross-block pushdown for observability — use `compile` in
    * production paths.
    */
  def compileObserved(
      input: DataFrame,
      blocks: Seq[Block]): (DataFrame, Seq[(String, org.apache.spark.sql.Observation)]) = {
    blocks.zipWithIndex.foldLeft((input, Seq.empty[(String, org.apache.spark.sql.Observation)])) {
      case ((df, obs), (block, i)) =>
        val name = s"block_${i}_${block.getClass.getSimpleName}"
        val o = org.apache.spark.sql.Observation(name)
        (block(df).observe(o, count(lit(1)).as("rows")), obs :+ (name -> o))
    }
  }
}
