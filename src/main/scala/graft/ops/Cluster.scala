package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster resolution for dedup pipelines: near-dup PAIR lists (from
  * [[Dedup.minhashLshPairsOf]], [[Similarity.lshNearDupPairs]], …) don't
  * dedup a corpus by themselves — transitive chains (A≈B, B≈C) must
  * collapse into one cluster with one canonical survivor. That's connected
  * components over the pair graph.
  *
  * Implementation is min-label propagation on DataFrames:
  * every node starts labeled with its own id; each round, every node takes
  * the minimum label among itself and its neighbors; fixpoint = components
  * labeled by their minimum member id. Each round is ONE shuffle join
  * (edges ⋈ labels) + ONE aggregation — no driver-side graph, no
  * quadratic closure. Rounds needed ≈ the graph diameter; near-dup graphs
  * are overwhelmingly tiny cliques/chains (diameter ≤ 3), so the loop
  * typically converges in 2–4 rounds. The convergence check is one count
  * per round (an aggregate scalar, not a data collect); each round's
  * labels are cached and the previous round's unpersisted, so lineage
  * stays one round deep (the DataFrame analogue of checkpointing the
  * iteration).
  *
  * At 100 TB scale this is the standard open-source shape (Spark GraphX /
  * GraphFrames connected components do the same label propagation over a
  * shuffled edge list); a giant-diameter graph would want the large-star/
  * small-star variant, but dedup graphs are diameter-bounded by
  * similarity transitivity.
  *
  * LINEAGE BARRIER: each round references the previous round's frame
  * TWICE (union + join), so building rounds as plain DataFrame plans
  * doubles the logical tree per round — Catalyst re-analyzes an
  * exponentially growing tree and the loop dies in the optimizer long
  * before the data is the problem (measured: a 13-round chain hung the
  * analyzer). Every round therefore snapshots through an RDD-backed
  * frame (`createDataFrame(df.rdd, schema)`): a constant-size plan per
  * round — the DataFrame equivalent of the checkpointing every iterative
  * graph library does.
  */
object Cluster {

  /** Cache + cut lineage: the returned frame's plan is a leaf (RDD scan),
    * not the round's full expression tree. */
  private def snapshot(df: DataFrame, scope: CacheScope): DataFrame =
    scope.track(df.sparkSession.createDataFrame(df.rdd, df.schema).cache())

  /** Connected components of the undirected graph given by `edges`
    * (`srcCol`, `dstCol`) over the node universe `nodes` (`idCol`) —
    * isolated nodes form singleton components. Returns (`idCol`,
    * `component`) where `component` = the minimum node id in the
    * component.
    *
    * @param maxIter hard bound on propagation rounds (diameter cap);
    *                the loop exits earlier at fixpoint. */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20,
                          scope: CacheScope = CacheScope.noop): DataFrame = {
    val (labels, converged) =
      labelPropagate(nodes, idCol, edges, srcCol, dstCol, maxIter, scope)
    // a maxIter exit without fixpoint would return partially-propagated
    // labels — silently split components (under-merged dedup clusters)
    // on any graph whose diameter exceeds maxIter. Fail loudly instead:
    // the caller chose the cap and can raise it (or use
    // [[connectedComponentsAuto]], which falls back to the logarithmic
    // star rounds instead of throwing).
    if (!converged) {
      labels.unpersist()
      throw new IllegalArgumentException(
        s"requirement failed: connectedComponents did not reach fixpoint " +
          s"in $maxIter rounds; raise maxIter (graph diameter exceeds the cap)")
    }
    labels.select(col("_node").as(idCol), col("_label").as("component"))
  }

  /** Min-label propagation for up to `maxIter` rounds; returns the label
    * frame (still cached — callers own the final unpersist) plus whether
    * a fixpoint was reached. */
  private def labelPropagate(nodes: DataFrame, idCol: String,
                             edges: DataFrame, srcCol: String, dstCol: String,
                             maxIter: Int,
                             scope: CacheScope): (DataFrame, Boolean) = {
    // undirected: propagate along both directions of every edge
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .unionByName(edges.select(col(dstCol).as("_src"), col(srcCol).as("_dst")))
      .distinct()
    val eCached = scope.track(e.cache())

    var labels = snapshot(
      nodes.select(col(idCol).as("_node")).distinct()
        .withColumn("_label", col("_node")), scope)

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighbor messages: each edge offers src's label to dst
      val msgs = eCached.join(labels, col("_src") === col("_node"))
        .select(col("_dst").as("_node"), col("_label"))
      // round 14 (guide §2.4 — one fewer join per round): fold the offers
      // to one min per node FIRST (the agg shuffles only the message
      // stream, and its output is already hash-partitioned by _node for
      // the join), then attach with a FULL-OUTER join carrying the
      // previous label beside the new one — least() ignores nulls, so
      // nodes with no offer keep their label and edge-endpoint nodes
      // outside the label table enter with their best offer, exactly the
      // previous union+groupBy semantics. The change probe is then a
      // FILTER over the already-cached round frame instead of the
      // previous next⋈labels join (an entire extra shuffle per round);
      // a node entering this round has _prev null and null < x is null —
      // not counted, matching the old inner-join probe.
      val offers = msgs.groupBy(col("_node")).agg(min(col("_label")).as("_off"))
      val next = snapshot(
        labels.select(col("_node"), col("_label"))
          .join(offers, Seq("_node"), "full_outer")
          .select(col("_node"),
            least(col("_label"), col("_off")).as("_label"),
            col("_label").as("_prev")), scope)
      val changed = next.filter(col("_label") < col("_prev")).limit(1).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    // the returned frame is the round's CACHED snapshot (carrying the
    // harmless _prev column on post-round-1 frames) — callers select the
    // (_node, _label) pair and own the final unpersist
    (labels, converged)
  }

  /** [[connectedComponents]] with the 100-TB escape hatch WIRED IN:
    * min-label propagation first (the constant-factor winner on the
    * diameter-≤3 clique graphs near-dup pairing actually produces), and
    * when the graph turns out NOT to be that shape — a boilerplate
    * megacluster chained past `lpRounds` of diameter — fall back to the
    * large-star/small-star rounds ([[connectedComponentsStar]],
    * O(log²·n) rounds) instead of throwing. The operator a pipeline
    * schedules unattended should degrade to the logarithmic algorithm,
    * not page an operator to re-run with a flag (round-10 verdict;
    * StarScaleMain measured the star path 5.3× faster on a diameter-64
    * chain, with label parity asserted at 50 k nodes).
    *
    * `lpRounds` caps the money burned probing the cheap path: each
    * wasted round is one shuffle join + one agg on the (sparse) pair
    * table, so a handful of rounds is noise next to the pairing pass
    * that produced the edges. Label parity between both engines is
    * pinned by ClusterSpec and StarScaleMain, so the fallback changes
    * the round count, never the answer. */
  def connectedComponentsAuto(nodes: DataFrame, idCol: String,
                              edges: DataFrame, srcCol: String, dstCol: String,
                              lpRounds: Int = 8, maxIter: Int = 30,
                              scope: CacheScope = CacheScope.noop): DataFrame = {
    val (labels, converged) =
      labelPropagate(nodes, idCol, edges, srcCol, dstCol, lpRounds, scope)
    if (converged)
      labels.select(col("_node").as(idCol), col("_label").as("component"))
    else {
      labels.unpersist()
      connectedComponentsStar(nodes, idCol, edges, srcCol, dstCol, maxIter, scope)
    }
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the O(log²·n)-round alternative to
    * [[connectedComponents]]'s min-label propagation, whose round count
    * is the graph DIAMETER. Near-dup graphs are normally tiny cliques
    * (diameter ≤ 3, label propagation wins on constant factors), but the
    * one pathological shape a 100-TB dedup run actually meets — a
    * megacluster chained through shared boilerplate shingles, the q45
    * census's "single giant component" symptom — can have diameter in
    * the hundreds, where label propagation runs hundreds of shuffle
    * rounds and this variant stays logarithmic. Same output contract as
    * [[connectedComponents]]: (idCol, component = min member id).
    *
    * Both star operations are pure relational shapes — ONE per-node min
    * aggregation plus ONE equi-join on the node id per phase; neighbor
    * lists are never collected into arrays (a `collect_list` of a hot
    * node's neighborhood would be the skew bomb at scale — the min-table
    * join distributes a megahub across its edge partitions instead).
    * Every round snapshots through an RDD-backed frame (the [[snapshot]]
    * lineage barrier label propagation already needs).
    *
    * Round semantics (edges kept symmetric + self-loop-free between
    * phases; m(u) = min over Γ(u) ∪ {u}):
    *  - large-star: for every edge (u,v) with v > u, emit (v, m(u)) —
    *    strictly-larger neighbors attach to u's local minimum.
    *  - small-star: for every edge (u,v) with v < u, emit (v, m⁻(u))
    *    plus (u, m⁻(u)), where m⁻ ranges over the SMALLER neighbors only.
    * Fixpoint = a forest of stars, every node directly adjacent to its
    * component minimum; labels then read off as min-over-smaller-
    * neighbors with isolated nodes as singletons. */
  def connectedComponentsStar(nodes: DataFrame, idCol: String,
                              edges: DataFrame, srcCol: String, dstCol: String,
                              maxIter: Int = 30,
                              scope: CacheScope = CacheScope.noop): DataFrame = {
    def sym(df: DataFrame): DataFrame =
      df.unionByName(df.select(col("_v").as("_u"), col("_u").as("_v")))
        .filter(col("_u") =!= col("_v")).distinct()

    var e = snapshot(sym(
      edges.select(col(srcCol).as("_u"), col(dstCol).as("_v"))), scope)

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: m(u) = min(Γ(u) ∪ {u}) via one agg + least(); attach
      // every larger neighbor v to m(u)
      val mAll = e.groupBy(col("_u")).agg(min(col("_v")).as("_mn"))
        .select(col("_u"), least(col("_mn"), col("_u")).as("_m"))
      val ls = snapshot(sym(
        e.join(mAll, "_u").filter(col("_v") > col("_u"))
          .select(col("_v").as("_u"), col("_m").as("_v"))), scope)
      // small-star over the large-star output: m⁻(u) = min over smaller
      // neighbors (< u by construction, so no least() needed); rewire the
      // smaller neighborhood and u itself onto m⁻(u)
      val smaller = ls.filter(col("_v") < col("_u"))
      val mSm = smaller.groupBy(col("_u")).agg(min(col("_v")).as("_m"))
      val next = snapshot(sym(
        smaller.join(mSm, "_u")
          .select(col("_v").as("_u"), col("_m").as("_v"))
          .unionByName(mSm.select(col("_u"), col("_m").as("_v")))), scope)
      // fixpoint: the symmetric distinct edge sets are equal — count
      // equality plus an empty one-sided difference (both aggregate
      // scalars; edges never leave the cluster)
      converged = next.count() == e.count() &&
        next.except(e).limit(1).count() == 0
      ls.unpersist()
      e.unpersist()
      e = next
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not reach fixpoint in $maxIter rounds; " +
        "raise maxIter")
    // star fixpoint: every non-root node is directly adjacent to its
    // component min; roots and isolated nodes label themselves
    val labels = e.filter(col("_v") < col("_u"))
      .groupBy(col("_u").as("_node")).agg(min(col("_v")).as("_label"))
    nodes.select(col(idCol)).distinct()
      .join(labels, col(idCol) === col("_node"), "left")
      .select(col(idCol),
        coalesce(col("_label"), col(idCol)).as("component"))
  }

  /** Strategy dispatch for component resolution — the CLI's
    * `--cc-strategy` knob and the library's one-stop entry:
    * `labelprop` (diameter-bounded rounds, the clique-graph default),
    * `star` (logarithmic rounds, the megacluster path), `auto`
    * (labelprop with the star fallback wired in). */
  def resolveComponents(strategy: String, nodes: DataFrame, idCol: String,
                        edges: DataFrame, srcCol: String, dstCol: String,
                        scope: CacheScope = CacheScope.noop): DataFrame =
    strategy match {
      case "labelprop" =>
        connectedComponents(nodes, idCol, edges, srcCol, dstCol, scope = scope)
      case "star" =>
        connectedComponentsStar(nodes, idCol, edges, srcCol, dstCol, scope = scope)
      case "auto" =>
        connectedComponentsAuto(nodes, idCol, edges, srcCol, dstCol, scope = scope)
      case other => throw new IllegalArgumentException(
        s"unknown cc strategy '$other' (expected labelprop | star | auto)")
    }

  /** Leakage-safe train/val/test assignment: hash-split on the resolved
    * CLUSTER id, not the document id. The q46 per-document hash split is
    * reproducible but leaks — near-duplicate pairs straddle the
    * train/eval boundary whenever the two copies hash differently, which
    * is exactly what the q109 split-leakage audit measures (train
    * n-grams inflating eval scores). Routing every member of a resolved
    * component ([[connectedComponents]]) through the SAME md5 draw makes
    * within-cluster leakage structurally zero: a cluster lands on one
    * side whole. Deterministic across runs, partitionings and engines
    * (pure function of the component id); split sizes stay proportional
    * in EXPECTATION over clusters — a megacluster moves its whole mass
    * to one split, which is the correct trade (the alternative IS the
    * leak).
    *
    * Row-local projection over the (id, component) table — zero extra
    * shuffles on top of the component resolution the dedup pass already
    * paid for. Returns (idCol, componentCol, split). */
  def leakageSafeSplit(components: DataFrame, idCol: String,
                       componentCol: String,
                       splits: Seq[(String, Double)]): DataFrame =
    components.select(col(idCol), col(componentCol),
      TextAnalysis.hashSplit(col(componentCol), splits).as("split"))

  /** Quality-based survivor election over resolved components: per
    * cluster keep the HIGHEST-scoring member (ties → lowest id) — the
    * production dedup rule ([[connectedComponents]]'s min-id canonical is
    * the arbitrary-but-stable default; real pipelines keep the best
    * extraction of a duplicated page, the longest of two truncations).
    * `scores` is any (id, score) frame — token count, a quality model,
    * a [[graft.ops.Stats]] calibrated rank.
    *
    * Scale shape: ONE equi-join on the id and ONE component-key
    * aggregation; `max_by` combines map-side, so reduce-side state is one
    * (id, score) pair per cluster regardless of cluster size. Returns
    * (componentCol, survivor_id, survivor_score, n_members). */
  def electSurvivors(components: DataFrame, idCol: String, componentCol: String,
                     scores: DataFrame, scoreIdCol: String,
                     scoreCol: String): DataFrame = {
    components.select(col(idCol).as("_id"), col(componentCol).as("_comp"))
      .join(scores.select(col(scoreIdCol).as("_id"), col(scoreCol).as("_score")),
        Seq("_id"))
      .groupBy(col("_comp"))
      .agg(count(lit(1)).as("n_members"),
        // min over (-score, id): highest score, ties to the lowest id —
        // id stays un-negated, so string doc ids order fine (the generic
        // contract the minhash/connectedComponents siblings already honor)
        min_by(struct(col("_id"), col("_score")),
          struct(negate(col("_score")), col("_id"))).as("_best"))
      .select(col("_comp").as(componentCol), col("_best._id").as("survivor_id"),
        col("_best._score").as("survivor_score"), col("n_members"))
  }

  /** Dedup dividend: per group (source/domain/lang), what a dedup pass
    * would actually BUY — the doc count and token mass sitting on
    * non-canonical cluster members (id ≠ component minimum, the q45
    * survivor rule). This is the decision table read BEFORE running a
    * 100-TB dedup: a source with a 0.1% dividend isn't worth a pass, a
    * source at 30% is where the budget goes; summed over groups it's
    * the exact shrink the pass delivers. Complements
    * [[componentSizeHistogram]] (which sizes clusters; this prices
    * them, per source).
    *
    * One id equi-join (components onto the doc metadata) + one narrow
    * group aggregation, all sums map-side combinable; token counts ride
    * as longs, text never moves. Returns (groupCol, n_docs, n_dup_docs,
    * total_tokens, dup_tokens, dividend = dup/total rounded to 6). */
  def dedupDividend(components: DataFrame, idCol: String, componentCol: String,
                    docs: DataFrame, docIdCol: String, groupCol: String,
                    sizeCol: String): DataFrame = {
    val dup = when(col("_cid") =!= col("_did"), 1L).otherwise(0L)
    components.select(col(idCol).as("_did"), col(componentCol).as("_cid"))
      .join(docs.select(col(docIdCol).as("_did"), col(groupCol).as("_g"),
        col(sizeCol).cast("long").as("_sz")), Seq("_did"))
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(dup).as("n_dup_docs"),
        sum(col("_sz")).as("total_tokens"),
        sum(dup * col("_sz")).as("dup_tokens"))
      .withColumn("dividend",
        when(col("total_tokens") > 0,
          round(col("dup_tokens") / col("total_tokens"), 6)))
  }

  /** Dividend curve: [[dedupDividend]] swept across similarity
    * thresholds from ONE pairing pass — the `minJaccard` decision table
    * PRICED in removable mass after transitive closure. q147's
    * dupRateCurve counts pairs per cutoff; pairs under-state what a
    * pass removes (a 50-doc clique is 1,225 pairs but 49 removable
    * docs) and clusters change shape as the cutoff moves (chains break
    * apart), so the operator a threshold choice actually needs is this
    * one: per cutoff, how many docs and tokens a dedup at that
    * threshold deletes, and across how many clusters.
    *
    * The pair list (with exact Jaccard) is built once by the caller;
    * each threshold filters it and runs its own component resolution —
    * near-dup pair graphs are corpus-sparse, so the loop cost is
    * thresholds × (a few narrow shuffle rounds on the pair table),
    * never another corpus pass. Returns one row per threshold:
    * (threshold, n_dup_docs, dup_tokens, n_clusters).
    *
    * `maxWaitSec` is a TOTAL budget for the whole sweep, not a per-
    * threshold one; past it the call throws a TimeoutException. The
    * 3600 s default replaced an unbounded wait, so a caller whose
    * large-graph sweep legitimately runs longer must now pass a larger
    * value. */
  def dividendCurve(nodes: DataFrame, idCol: String,
                    pairs: DataFrame, srcCol: String, dstCol: String,
                    jaccardCol: String,
                    sizes: DataFrame, sizeIdCol: String, sizeCol: String,
                    thresholds: Seq[Double],
                    scope: CacheScope = CacheScope.noop,
                    strategy: String = "labelprop",
                    maxWaitSec: Long = 3600): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold required")
    require(maxWaitSec > 0, s"maxWaitSec must be positive, got $maxWaitSec")
    // round 14: the size table is CACHED — it is consumed once per
    // threshold, and deriving it usually re-runs a corpus scan +
    // tokenization per cutoff (q184 measured 3× the same tokenize pass)
    val sz = scope.track(sizes.select(col(sizeIdCol).as("_did"),
      col(sizeCol).cast("long").as("_sz")).cache())
    // round 14 (guide §2.6 — overlap independent jobs): each threshold's
    // component resolution is an EAGER loop of small convergence-count
    // jobs over the (sparse, cached) pair table; the thresholds are
    // independent, so they run concurrently from a small thread pool and
    // the scheduler back-fills each loop's straggler tail with the next
    // loop's tasks. Result identity is untouched: each threshold builds
    // its own frame and the union keeps the caller's threshold order.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thresholds.size, 4))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val futs = thresholds.map { t =>
        scala.concurrent.Future {
          val comps = resolveComponents(strategy, nodes, idCol,
            pairs.filter(col(jaccardCol) >= t), srcCol, dstCol, scope = scope)
          val dup = when(col("component") =!= col("_did"), 1L).otherwise(0L)
          comps.select(col(idCol).as("_did"), col("component"))
            .join(sz, Seq("_did"))
            .agg(sum(dup).as("n_dup_docs"),
              sum(dup * col("_sz")).as("dup_tokens"),
              count_distinct(when(dup === 1L, col("component"))).as("n_clusters"))
            .select(lit(t).as("threshold"), col("n_dup_docs"),
              col("dup_tokens"), col("n_clusters"))
        }
      }
      // BOUNDED await (round-14 verdict #3): a wedged threshold loop (a
      // stuck external scan, a scheduler deadlock) must fail loudly with
      // a TimeoutException, not hang the caller forever. One deadline
      // serves all futures: each await gets only what the earlier ones
      // left, so `maxWaitSec` bounds the whole sweep (see the scaladoc).
      val deadline = System.nanoTime() + maxWaitSec * 1000000000L
      futs.map { f =>
        val left = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
        scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration(left,
            java.util.concurrent.TimeUnit.MILLISECONDS))
      }.reduce(_ unionByName _)
    } finally pool.shutdown()
  }

  /** Duplicate-cluster census: the size distribution of resolved
    * components — "how many 2-doc clusters, how many 50-doc clusters,
    * is there a megacluster" — the one-table answer to how duplicated a
    * corpus actually is and what a dedup pass will buy. Read it before
    * electing survivors: total removable mass = Σ (size−1)·n_clusters,
    * and a single giant component (size ≈ corpus) is the classic
    * boilerplate-shingle symptom that says FIX THE PAIR THRESHOLD, not
    * run the dedup.
    *
    * Two narrow aggregations (component → size, size → count), both
    * map-side combinable; input is [[connectedComponents]]' (id, label)
    * table — ids and longs only. Returns (cluster_size, n_clusters,
    * n_docs = size × count), one row per distinct size. */
  def componentSizeHistogram(components: DataFrame,
                             componentCol: String): DataFrame =
    components.groupBy(col(componentCol))
      .agg(count(lit(1)).as("_sz"))
      .groupBy(col("_sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
}
