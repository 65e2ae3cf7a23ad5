package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank by synchronous power iteration — the canonical
  * iterative-graph workload a training-data pipeline runs over link /
  * co-occurrence / interaction graphs (page importance for crawl
  * prioritization, node weights for sampling curricula).
  *
  * Shape per iteration (the textbook distributed formulation): join
  * the degree-annotated edge list with the current rank vector on
  * `src`, then one `groupBy(dst)` sum. The edge list is degree-
  * annotated ONCE and `localCheckpoint`ed so the iteration loop
  * re-reads a materialized narrow table instead of re-running the
  * distinct+groupBy lineage every pass (the Lloyd-iteration lesson:
  * without truncation every iteration replays the whole history);
  * rank vectors are checkpointed per iteration for the same reason.
  * The edge⋈rank join runs in one of two regimes picked ONCE from the
  * exact node count (see inline comment): broadcast rank (small V —
  * edges never exchanged at all) or edge-side pre-partitioning (large
  * V — only the O(V) rank side reshuffles per iteration). Either way
  * the O(E) side moves at most once for the whole run.
  *
  * Dangling nodes (out-degree 0) have their rank mass redistributed
  * uniformly, the standard correction; on symmetric (undirected)
  * graphs the dangling set is empty and the correction term is an
  * exact IEEE no-op (`c + 0.0 == c`), which keeps results bit-aligned
  * with oracle engines that skip the term.
  *
  * Determinism: per-node contribution sums are order-dependent in the
  * last ulp (as with every distributed double sum) — callers that
  * hash-compare results across engines must round through
  * [[graft.functions.CrossEngine.roundHalfUp]]; 5 iterations keep the
  * drift ≥7 orders of magnitude below a 1e-6 rounding step on scaled
  * (×V) ranks.
  */
object PageRank {
  /** @param edges directed edge list with `src`/`dst` columns (any
    *              integral type; duplicates collapse). For an
    *              undirected graph, pass both directions.
    * @return one row per node: (node: Long, r: Double) after `iters`
    *         iterations of r' = (1-d)/V + d·(Σ_in r/deg + dangling/V).
    */
  def run(edges: DataFrame, iters: Int, damping: Double = 0.85,
          maxBroadcastNodes: Long = 500000): DataFrame =
    runWithStats(edges, iters, damping, maxBroadcastNodes, None)._1

  /** [[run]] with optional convergence-based early exit and the
    * executed-iteration count. When `tol` is set, every `checkEvery`-th
    * iteration computes the L∞ delta between consecutive rank vectors
    * — ONE aggregate over the two checkpointed O(V) tables, cheap next
    * to the O(E) contribution pass — and stops once `delta <= tol`.
    * At 100 TB a converged graph then skips full passes it no longer
    * needs, while an unconverged one keeps iterating to `maxIters`
    * instead of silently under-iterating; callers needing bit-parity
    * with a fixed-iteration oracle replay pass `tol = None` (the
    * default `run`), which leaves the plan untouched. Power iteration
    * contracts deltas by the damping factor per pass, so `tol` maps to
    * iterations ≈ log(tol)/log(damping) on any graph.
    *
    * `tol` is an ABSOLUTE raw-rank threshold — it presumes the caller
    * knows |V|. `tolScaled` is the graph-size-free form: the threshold
    * on ×V-scaled ranks (≈1.0 at the uniform start), divided by the
    * internally-computed node count — so the same setting means the
    * same convergence quality at sf0.001 and at 100 TB. When both are
    * given, `tol` wins. */
  def runWithStats(edges: DataFrame, maxIters: Int, damping: Double = 0.85,
                   maxBroadcastNodes: Long = 500000,
                   tol: Option[Double] = None,
                   checkEvery: Int = 1,
                   tolScaled: Option[Double] = None): (DataFrame, Int) = {
    val iters = maxIters
    require(iters >= 1, "iters must be >= 1")
    require(checkEvery >= 1, "checkEvery must be >= 1")
    // ONE exchange materializes the degree-annotated edge list: the
    // explicit src repartition clusters the edges once, and every
    // later keyed operator in the derivation is satisfied by that
    // subset clustering — dropDuplicates groups on (src, dst), the
    // degree groupBy on src, and the e⋈deg join on src all run
    // partition-local (the r13 shape paid three O(E) exchanges here:
    // distinct on (src,dst), then re-exchanges for the degree groupBy
    // and the join — measured ~1.6 s of task time each at sf0.1).
    // Everything downstream (nodes, dangling set, iterations) reads
    // the materialized narrow table, never the caller's
    // edge-construction lineage.
    val e = edges
      .select(col("src").cast("long").as("src"),
              col("dst").cast("long").as("dst"))
      .repartition(col("src"))
      .dropDuplicates(Seq("src", "dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // Two-phase materialization: the DERIVATION (join + distinct +
    // degree join) runs under AQE — runtime join re-planning and
    // coalescing matter there — into a plain checkpoint; then relayout
    // re-keys it by dst in a pure-exchange pass with AQE scoped OFF so
    // the hash layout is CAPTURED into the LogicalRDD (plain
    // localCheckpoint records Unknown partitioning under AQE and every
    // iteration re-exchanges O(E) for the contribution aggregate —
    // exactly the shuffle this layout exists to eliminate; see
    // Checkpoints.checkpointKeepingLayout). Every run pays this second
    // pure-exchange pass: it is what captures the dst hash layout the
    // (common) broadcast regime iterates on exchange-free, and it
    // doubles as the block-size bound (fat blocks get read-locked all
    // at once when partitions == cores — the 2 GB sf1 rehearsal's
    // AGGREGATE_OUT_OF_MEMORY; see Checkpoints.relayout) while
    // releasing the superseded derivation copy.
    val withDegRaw = Checkpoints.relayout(
      e.join(deg, "src").localCheckpoint(), Seq(col("dst")))
    // one explode+groupBy pass enumerates the nodes AND classifies
    // each: has_out=0 → dangling (needs mass redistribution), has_in=0
    // → unreachable (needs the left-outer completion join). Folding the
    // classification in here means no separate distinct / anti-join
    // jobs over the O(E) table — and the explode (vs a two-branch
    // union) reads the cached O(E) checkpoint ONCE, not once per
    // branch (guide §2.3: the union scanned 2 × 134 MB of cached edge
    // blocks at sf0.1 where one 134 MB pass carries both endpoints).
    // two-phase like the edges: the aggregate materializes under AQE
    // (partial map-side aggregation + a coalesced exchange), then
    // relayout captures a bytes-proportional node-hash layout — the
    // r13 shape materialized this under the AQE-off checkpoint and got
    // a 32-partition layout whose every downstream pass (count, flags,
    // per-iteration broadcast builds) ran 32 near-empty tasks
    // (~1.5 s of task time for 3 500 nodes in the r14 profile)
    val nodeTab = Checkpoints.relayout(
      withDegRaw
        .select(explode(array(
            struct(col("src").as("node"), lit(1L).as("o"), lit(0L).as("i")),
            struct(col("dst").as("node"), lit(0L).as("o"), lit(1L).as("i"))))
          .as("__e"))
        .select(col("__e.node").as("node"), col("__e.o").as("o"),
                col("__e.i").as("i"))
        .groupBy("node")
        .agg(max("o").as("has_out"), max("i").as("has_in"))
        .localCheckpoint(),
      Seq(col("node")))
    // ONE job answers |V| and both structural flags (the r13 shape
    // paid a count job plus a separate min/min aggregate job)
    val nf = nodeTab
      .agg(count(lit(1)).as("n"), min("has_out").as("mo"),
           min("has_in").as("mi"))
      .collect()(0)
    val n = nf.getLong(0)
    // fail here, not three lines down: an empty edge set would compute
    // base = (1-d)/0 = Infinity without complaint — and the mo/mi
    // reads below would NPE on the all-NULL aggregate row — a
    // confusing crash far from the cause
    require(n > 0, "PageRank needs a non-empty edge list")
    val nodes = nodeTab.select("node")
    // Join-strategy choice, made ONCE on an exact driver-side statistic
    // (checkpointed rank vectors are LogicalRDDs — AQE never sees their
    // size, so compile-time stats would force a sort-merge join even
    // for a 35k-row rank table). Small V: broadcast the rank vector
    // each iteration AND pre-partition the edges by the AGGREGATION key
    // `dst` — the broadcast join preserves that layout, so an iteration
    // has no exchange at all (partial aggregation is useless here: each
    // edge partition sees nearly every dst, so the per-iteration
    // shuffle this removes is O(E), not O(V)). Large V: pre-partition
    // and sort by the JOIN key `src` instead; iterations then reshuffle
    // only the O(V) rank side plus the unavoidable dst aggregation.
    // checkpointKeepingLayout carries partitioning + ordering through
    // LogicalRDD (plain localCheckpoint LOSES them under AQE), so the
    // layout survives into every iteration.
    val broadcastRanks = n <= maxBroadcastNodes
    val withDeg =
      if (broadcastRanks) withDegRaw
      else
        // block-bounded src layout; relayout releases the superseded
        // dst copy AFTER the new checkpoint materializes — nodeTab
        // (the only other consumer) is already checkpointed and
        // counted above, so nothing reads withDegRaw again. Without
        // the release the run pins TWO O(E) edge checkpoints for its
        // whole duration: at sf1 on a 2 GB heap that second pinned
        // copy starved the contribution hash-aggregate (same
        // AGGREGATE_OUT_OF_MEMORY family as the rank-vector leak
        // fixed alongside Checkpoints.release).
        Checkpoints.relayout(withDegRaw, Seq(col("src")), Seq("src"))
    val base = (1.0 - damping) / n
    // Both structural facts are STATIC (graph shape, not rank state),
    // resolved in the fused aggregate above. When there are no
    // dangling nodes — every undirected graph — the per-iteration
    // dangling-mass job disappears and the retained formula is
    // bit-identical (c + 0.0 == c in IEEE); when every node has an
    // in-edge, the contribution table already covers all nodes and
    // the left-outer completion join disappears too.
    val hasDangling = nf.getLong(1) == 0
    val allHaveIn   = nf.getLong(2) == 1
    val danglingNodes = nodeTab.filter(col("has_out") === 0).select("node")

    val effTol: Option[Double] = tol.orElse(tolScaled.map(_ / n))
    // Convergence check FUSED into the iteration's materialization job
    // (guide §1.2/§2: the binding cost at bench scale is per-query JOB
    // COUNT, and the old shape paid one extra join+collect job per
    // checked iteration). The L∞ delta is a MAX — order-independent
    // and idempotent under task retries — so it rides an accumulator
    // updated by a pass-through UDF on the new rank column while the
    // checkpoint job computes the rows it had to compute anyway: the
    // prev-rank join moves INSIDE the checkpointed plan (both sides
    // node-hashed, exchange-free) and the separate delta job
    // disappears. The value read is the exact same max(|r_new −
    // r_old|) the join-aggregate produced — bit-identical stopping
    // rule (q_pagerank_converged's oracle pins K).
    val deltaAcc = new MaxDoubleAccumulator
    edges.sparkSession.sparkContext.register(deltaAcc, "pagerank_delta")
    val trackDelta = udf((rn: Double, ro: Double) => {
      deltaAcc.add(math.abs(rn - ro)); rn
    }).asNondeterministic() // exactly-once per row: no reorder/duplication
    var rank = nodes.withColumn("r", lit(1.0 / n))
    // superseded rank vectors must be RELEASED, not just replaced: a
    // 10-iteration run would otherwise pin 10 O(V) checkpoint vectors
    // in the block manager — on a memory-tight executor that squeezes
    // execution below the hash-aggregate minimum (surfaced as
    // AGGREGATE_OUT_OF_MEMORY by the 2 GB heap rehearsal at sf1). See
    // [[Checkpoints.release]] for why plain DataFrame.unpersist can't
    // do it and why .rdd-persist would cost 20-30 % here.
    var prevCheckpoint: Option[org.apache.spark.sql.DataFrame] = None
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val rankBySrc = rank.withColumnRenamed("node", "src")
      val contrib = withDeg
        .join(if (broadcastRanks) broadcast(rankBySrc) else rankBySrc, "src")
        .groupBy("dst")
        .agg(sum(col("r") / col("deg")).as("c"))
        .withColumnRenamed("dst", "node")
      val withAll = if (allHaveIn) contrib
                    else nodes.join(contrib, Seq("node"), "left_outer")
      val cexpr   = if (allHaveIn) col("c")
                    else coalesce(col("c"), lit(0.0))
      val next =
        if (hasDangling) {
          // rank mass parked on out-degree-0 nodes, redistributed
          // uniformly; the semi join leaves the strategy to AQE (the
          // dangling set can be arbitrarily large on crawl graphs)
          val dangling = rank
            .join(danglingNodes, Seq("node"), "left_semi")
            .agg(coalesce(sum("r"), lit(0.0)).as("dang"))
          withAll.crossJoin(broadcast(dangling))
            .select(col("node"),
              (lit(base) + lit(damping) *
                (cexpr + col("dang") / n)).as("r"))
        } else {
          withAll.select(col("node"),
            (lit(base) + lit(damping) * cexpr).as("r"))
        }
      // On iterations whose delta will be read, the prev-rank join +
      // delta tracking are folded into the plan materialized below
      // (see deltaAcc above); both vectors are complete node sets, so
      // the inner join preserves the row set and r passes through the
      // tracking UDF unchanged.
      val willCheck =
        effTol.isDefined && it + 1 < iters && (it + 1) % checkEvery == 0
      val tracked =
        if (willCheck) {
          deltaAcc.reset()
          next.join(rank.select(col("node"), col("r").as("__ro")),
                    Seq("node"))
            .select(col("node"),
                    trackDelta(col("r"), col("__ro")).as("r"))
        } else next
      // eager localCheckpoint: materialized HERE (before the previous
      // vector is released — this plan reads it, and its own lineage
      // is truncated, so a later recompute would be impossible)
      // keepingLayout: consecutive node-hashed vectors keep the fused
      // delta join and the next contribution pass exchange-free
      val checkpointed = Checkpoints.checkpointKeepingLayout(tracked)
      it += 1
      if (willCheck) {
        // n > 0 rows flowed through the tracking UDF; an untouched
        // accumulator reads -Infinity and would stop the loop early
        require(!deltaAcc.isZero, "PageRank: convergence delta was never tracked")
        converged = deltaAcc.value <= effTol.get
      }
      prevCheckpoint.foreach(Checkpoints.release)
      prevCheckpoint = Some(checkpointed)
      rank = checkpointed
    }
    // the final vector stays persisted — it IS the result the caller
    // reads (a self-contained checkpoint); everything else the run
    // pinned is released HERE, not left to GC/ContextCleaner: the
    // loop ran ≥1 iteration so rank no longer reads nodeTab or the
    // edge table, and on a memory-tight executor an O(E) checkpoint
    // that lingers past the return starves the NEXT query's
    // aggregates (the same locked-storage class the 2 GB rehearsal
    // surfaced inside the loop).
    Checkpoints.release(withDeg)
    Checkpoints.release(nodeTab)
    (rank, it)
  }
}

/** Max-of-doubles accumulator: the L∞ convergence delta is a MAX, so
  * it is order-independent AND idempotent under task retries (a
  * re-applied update can never raise the max past the true value) —
  * the one aggregate shape that is safe to read off an accumulator
  * from a transformation. */
private[operators] final class MaxDoubleAccumulator
    extends org.apache.spark.util.AccumulatorV2[Double, Double] {
  private var m = Double.NegativeInfinity
  override def isZero: Boolean = m == Double.NegativeInfinity
  override def copy(): MaxDoubleAccumulator = {
    val c = new MaxDoubleAccumulator; c.m = m; c
  }
  override def reset(): Unit = m = Double.NegativeInfinity
  override def add(v: Double): Unit = if (v > m) m = v
  override def merge(
      other: org.apache.spark.util.AccumulatorV2[Double, Double]): Unit =
    add(other.value)
  override def value: Double = m
}
