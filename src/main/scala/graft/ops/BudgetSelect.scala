package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus selection under a cost budget: keep the prefix of the ranked
  * corpus whose running cost fits the budget — the standard "pick the best
  * documents until the token budget is spent" step in front of LLM
  * training (quality-ranked selection, not knapsack packing: the first row
  * that overflows the budget blocks the tail, so the result is exactly a
  * prefix of the global order).
  *
  * The naive formulation is a running sum over one global window — a
  * single-partition `WindowExec`, a non-starter at 100 TB (the same trap
  * [[IdAssign]] documents for `row_number`). This implementation confines
  * the sequential work to ONE partition:
  *
  *   1. range-partition by the ranking key (partitions come out in global
  *      rank order), sort within partitions; the snapshot is cached so
  *      every consumer sees one set of partition boundaries (AQE may
  *      otherwise re-plan the exchange per consumer — the IdAssign
  *      lesson from round 1);
  *   2. per-partition cost totals are METADATA (≤ one row per partition):
  *      collect, prefix-sum on the driver. Every partition is then
  *      decidable wholesale — fully inside the budget (its prefix offset +
  *      total ≤ budget: keep every row, a codegen'd filter, NO window) or
  *      fully outside (offset already past the budget: drop) — except at
  *      most ONE boundary partition;
  *   3. only the boundary partition runs a running-cost window, and it is
  *      keyed by the partition id, so the window state is bounded by one
  *      partition's rows no matter how large the corpus.
  *
  * At 100 TB the full-data path is therefore a range exchange plus a
  * partition-id filter; the window touches 1/Nth of the data. Rows whose
  * running cost (inclusive, in `orderCols` order) is ≤ `budget` survive.
  * Costs must be integral (summed as long): a float cumulative sum is
  * order-of-addition dependent and would not reproduce across engines or
  * partitionings. Null costs add nothing (SQL sum semantics) and survive
  * whenever the running sum at their position fits. `orderCols` must
  * contain a unique tie-break key (same precondition as [[IdAssign]]).
  */
object BudgetSelect {

  def selectByBudget(df: DataFrame, costCol: String, budget: Long,
                     orderCols: Column*): DataFrame =
    selectByBudget(df, costCol, budget, CacheScope.noop, orderCols: _*)

  def selectByBudget(df: DataFrame, costCol: String, budget: Long, scope: CacheScope,
                     orderCols: Column*): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    selectByBudgetCore(df, costCol, _ => budget, scope, orderCols)
  }

  /** [[selectByBudget]] with the budget stated as a FRACTION of the
    * corpus's total cost (`total · num / den`, exact long arithmetic) —
    * round 15 (r14 verdict #6): callers previously ran a SEPARATE
    * full-corpus aggregation just for the total, but the per-partition
    * totals this operator collects anyway sum to exactly that value
    * (long sums are partitioning-independent), so the fraction form folds
    * the budget pass away. */
  def selectByBudgetFrac(df: DataFrame, costCol: String, num: Long, den: Long,
                         scope: CacheScope, orderCols: Column*): DataFrame = {
    require(num >= 0 && den > 0, s"budget fraction must be >= 0 / > 0, got $num/$den")
    selectByBudgetCore(df, costCol, tot => tot * num / den, scope, orderCols)
  }

  private def selectByBudgetCore(df: DataFrame, costCol: String,
                                 budgetOf: Long => Long, scope: CacheScope,
                                 orderCols: Seq[Column]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must rank the corpus")
    val cost = col(costCol).cast("long")
    // _bs_pid decoded from monotonically_increasing_id's high bits — the
    // physical partition index, no extra exchange (IdAssign step 2 rationale)
    val ranged = df
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("_bs_pid", shiftright(monotonically_increasing_id(), 33))
      .cache()
    scope.track(ranged)

    // one job: materializes the cache AND returns per-partition cost totals
    val totals = ranged.groupBy(col("_bs_pid")).agg(sum(cost).as("_bs_tot"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy(_._1)
    val budget = budgetOf(totals.map(_._2).sum)
    require(budget >= 0, s"budget must be non-negative, got $budget")
    var acc = 0L
    val pref = totals.map { case (pid, tot) => val o = acc; acc += tot; (pid, o, tot) }

    // o + t is the cumulative cost after each partition — nondecreasing in
    // pid — so the fully-admitted partitions are always a PREFIX of the pid
    // sequence: one <= comparison filters them, not an InSet that grows
    // with partition count (100k partitions at cluster scale)
    val wholePids = pref.collect { case (pid, o, t) if o + t <= budget => pid }
    // o == budget still admits leading zero-cost rows (cum stays == budget),
    // hence <=, not < — at most one partition matches because offsets are
    // nondecreasing and the first overflow pushes every later offset past
    // the budget
    val boundary = pref.find { case (_, o, t) => o <= budget && o + t > budget }

    val whole = wholePids.lastOption match {
      case Some(last) => ranged.filter(col("_bs_pid") <= last)
      case None       => ranged.filter(lit(false))
    }
    val out = boundary match {
      case Some((pid, off, _)) =>
        // partitionBy(_bs_pid) on a one-pid frame: a single bounded window
        // partition without the unpartitioned-window global collapse
        val w = Window.partitionBy(col("_bs_pid")).orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val edge = ranged.filter(col("_bs_pid") === pid)
          .withColumn("_bs_cum", sum(cost).over(w) + lit(off))
          .filter(col("_bs_cum") <= budget)
          .drop("_bs_cum")
        whole.unionByName(edge)
      case None => whole
    }
    out.drop("_bs_pid")
  }

  /** Per-group budget selection — each group keeps its own ranked prefix
    * under its own budget (the corpus-mixing shape: "30% of each
    * language's tokens", "cap every source at N"). Groups absent from
    * `budgets` are dropped entirely (budget 0); a null group value is the
    * key `None` would have — give it no budget and it is dropped.
    *
    * Same confinement argument as [[selectByBudget]], per group: ranking
    * range-partitions by (group, rank), so every group occupies a
    * CONTIGUOUS run of partitions and the per-(partition, group) cost
    * cells number ≈ partitions + groups — still driver metadata. Each
    * cell is then wholesale in (cell offset + total fits the group
    * budget), wholesale out, or one of ≤ one boundary cell PER GROUP; the
    * classification ships back as a broadcast-joined table (no literal
    * grows with partition count), whole cells pass with no window, and
    * only boundary-cell rows run the running-cost window, keyed by
    * (partition id, group) — bounded by one partition's share of one
    * group no matter the corpus size. */
  def selectByBudgetPerGroup(df: DataFrame, groupCol: String, costCol: String,
                             budgets: Map[String, Long],
                             orderCols: Column*): DataFrame =
    selectByBudgetPerGroup(df, groupCol, costCol, budgets, CacheScope.noop, orderCols: _*)

  def selectByBudgetPerGroup(df: DataFrame, groupCol: String, costCol: String,
                             budgets: Map[String, Long], scope: CacheScope,
                             orderCols: Column*): DataFrame = {
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    selectByBudgetPerGroupWith(df, groupCol, costCol, _ => budgets, scope,
      orderCols: _*)
  }

  /** [[selectByBudgetPerGroup]] with the budgets DERIVED from the
    * per-group supplies this operator aggregates anyway — round 15
    * (r14 verdict #6): the mixing entry points (temperature/waterfill
    * draws) previously ran a separate full-corpus supply aggregation +
    * collect before the draw; the draw's own per-cell collect carries
    * the identical exact long sums, so `budgetsOf` receives them and
    * the extra pass (and its cache) folds away.
    *
    * `budgetsOf` gets one row per group — (Spark cast-to-string key,
    * raw key, supply) — in NO particular order (sort inside if order
    * matters; the waterfill/temperature closed forms do); `supply` is
    * None only when every cost in the group is SQL-null. The returned
    * map is keyed by the cast-string key; groups absent from it (and
    * the null group, which has no string key) are dropped — the
    * [[selectByBudgetPerGroup]] contract. */
  def selectByBudgetPerGroupWith(df: DataFrame, groupCol: String, costCol: String,
                                 budgetsOf: Seq[(Option[String], Any, Option[Long])] => Map[String, Long],
                                 scope: CacheScope,
                                 orderCols: Column*): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must rank within each group")
    val cost = col(costCol).cast("long")
    val gKey = col(groupCol).cast("string")
    val ranged = df
      .repartitionByRange(gKey +: orderCols: _*)
      .sortWithinPartitions(gKey +: orderCols: _*)
      .withColumn("_bs_pid", shiftright(monotonically_increasing_id(), 33))
      .cache()
    scope.track(ranged)

    // one job: materializes the cache AND returns the per-cell totals;
    // within a group, ascending pid IS the group's rank order (range
    // partitioning on (group, rank) keeps each group's rows contiguous
    // and ordered across partitions). The raw group key rides along for
    // budgetsOf implementations that order by it. Any one value serves
    // (injective-cast assumption: one raw key per cast key, already
    // load-bearing in the budgets-map join), and any_value, unlike min,
    // accepts non-orderable group columns such as maps.
    val cells = ranged.groupBy(col("_bs_pid"), gKey.as("_bs_g"))
      .agg(sum(cost).as("_bs_tot"), any_value(col(groupCol)).as("_bs_graw"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.get(3)))

    // per-group supplies under SQL sum semantics: None only when every
    // cell's sum is null
    val supplies = cells.groupBy(_._2).toSeq.map { case (g, cs) =>
      val vals = cs.flatMap(_._3)
      (g, cs.head._4, if (vals.isEmpty) None else Some(vals.sum))
    }
    val budgets = budgetsOf(supplies)
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")

    val classified = cells.groupBy(_._2).toSeq.flatMap { case (g, cs) =>
      val budget = g.flatMap(budgets.get).getOrElse(0L)
      var acc = 0L
      cs.sortBy(_._1).flatMap { case (pid, _, tot0, _) =>
        val tot = tot0.getOrElse(0L)
        val off = acc; acc += tot
        // same boundary rule as the single-budget path (off == budget
        // still admits leading zero-cost rows); cells past the budget are
        // simply not emitted — the inner join below drops their rows
        if (off + tot <= budget) Some((pid, g, 1, 0L, budget))
        else if (off <= budget) Some((pid, g, 0, off, budget))
        else None
      }
    }

    val sess = df.sparkSession
    import sess.implicits._
    val cls = broadcast(classified
      .toDF("_bs_cpid", "_bs_cg", "_bs_cls", "_bs_off", "_bs_bud"))
    val joined = ranged.join(cls,
      col("_bs_pid") === col("_bs_cpid") && (gKey <=> col("_bs_cg")))

    val whole = joined.filter(col("_bs_cls") === 1)
    val w = Window.partitionBy(col("_bs_pid"), col("_bs_cg")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val edge = joined.filter(col("_bs_cls") === 0)
      .withColumn("_bs_cum", sum(cost).over(w) + col("_bs_off"))
      .filter(col("_bs_cum") <= col("_bs_bud"))
      .drop("_bs_cum")
    whole.unionByName(edge)
      .drop("_bs_pid", "_bs_cpid", "_bs_cg", "_bs_cls", "_bs_off", "_bs_bud")
  }
}
