package graft.text

import graft.operators.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph → dedup
  * clusters (beyond-reference; the step after MinHash/SimHash pair
  * generation in a real training-data dedup pipeline: each cluster
  * keeps one representative).
  *
  * Algorithm: synchronous min-label propagation, BATCHED — K gather
  * rounds (label(v) ← min over v's in-neighbors ∪ v of their labels)
  * are composed into ONE lazy Catalyst plan per materialization, then
  * a single fixpoint check (every edge's endpoints share a label)
  * decides whether another batch is needed. Each round references the
  * previous labels exactly once (no self-join), so the batched plan
  * grows LINEARLY in K and the whole batch runs as one job; near-dup
  * graphs are dense with tiny diameter, so the first batch almost
  * always converges and a full run is pairs-materialize + one batch
  * job + one check job — versus one-job-per-Pregel-round shapes whose
  * per-query job count dominates at bench scale (guide §1.2). The
  * result (min vertex id per component) is the unique fixpoint —
  * deterministic regardless of execution order, and the explicit
  * fixpoint check makes the batching exact on ANY diameter (a
  * 30-node chain just takes more batches).
  *
  * Scale shape: the edge checkpoint is laid out ONCE by the gather
  * join key `src` (PageRank's two-phase materialization); each round
  * then reshuffles only the O(V) label vector to the join plus the
  * unavoidable O(E) gather aggregation — the same per-iteration
  * exchange budget as the PageRank large-V regime.
  */
object DedupClusters {
  /** Gather rounds composed per lazy plan before each materialization
    * + fixpoint check. Near-dup components converge in 1-3 rounds
    * (min-propagation needs the min node's eccentricity); 4 keeps the
    * common case one-batch without paying unbounded passes on the
    * rare deep-chain graph. */
  private val batchRounds = 4

  /** pairs: (id_a, id_b) undirected near-dup edges. Returns
    * (id, cluster_id) for every node that appears in a pair, where
    * cluster_id = min node id of its component. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // fail fast on the id contract: a non-numeric string id casts to
    // NULL and silently drops from the label joins with no hint the id
    // type was the problem; ids past 2^53 would later mis-compare
    // through a double cast in survivorsBy. Map string ids to longs
    // (xxhash64, a dictionary) before clustering.
    Seq("id_a", "id_b").foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.LongType,
                  org.apache.spark.sql.types.IntegerType,
                  org.apache.spark.sql.types.ShortType,
                  org.apache.spark.sql.types.ByteType).contains(dt),
        s"DedupClusters needs integral pair ids; '$c' is $dt")
    }
    // a NULL id fails the edge-explode pass itself (no extra job):
    // left through, it would drop out of the label joins and the final
    // coalesce would fabricate an id-0 row
    def id(c: String) = when(col(c).isNull, raise_error(lit(
      s"DedupClusters needs non-NULL pair ids; found a NULL '$c'")))
      .otherwise(col(c).cast("long"))
    val a = id("id_a")
    val b = id("id_b")
    // ONE pass over the (expensive, derived) pair pipeline emits the
    // gather edge list: both directions PLUS a self-loop per endpoint
    // — the self-loop is what lets a round be a plain join+min with no
    // "keep your own label" second branch, and min-aggregation
    // tolerates the duplicate self-loops, so no distinct pass either.
    // Two-phase materialization (PageRank's shape): derivation under
    // AQE into a plain checkpoint, then relayout captures the src hash
    // layout so every round's gather join leaves the O(E) side put.
    val edges = pairs.select(explode(array(
        struct(a.as("src"), b.as("dst")),
        struct(b.as("src"), a.as("dst")),
        struct(a.as("src"), a.as("dst")),
        struct(b.as("src"), b.as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
    val edgesM = Checkpoints.relayout(edges.localCheckpoint(),
                                      Seq(col("src")))

    // one gather round; references `lbl` exactly once → linear plans
    def round(lbl: DataFrame): DataFrame =
      edgesM.join(lbl.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("cluster_id").as("cluster_id"))
    // round 1 fused: with label(u) = u the gather is a plain groupBy
    val round1 = edgesM.groupBy(col("dst").as("id"))
      .agg(min("src").as("cluster_id"))
    // fixpoint ⟺ labels constant per component ⟺ per-edge label
    // equality (self-loops compare trivially equal); each call is two
    // O(E) joins over the edge checkpoint (the dst-side one re-exchanges
    // edgesM, which is laid out by src), paid once per batch
    def atFixpoint(lbl: DataFrame): Boolean =
      edgesM
        .join(lbl.select(col("id").as("src"), col("cluster_id").as("la")),
              Seq("src"))
        .join(lbl.select(col("id").as("dst"), col("cluster_id").as("lb")),
              Seq("dst"))
        .filter(col("la") =!= col("lb"))
        .isEmpty

    var labels = Checkpoints.checkpointKeepingLayout(
      (2 to batchRounds).foldLeft(round1)((l, _) => round(l)))
    while (!atFixpoint(labels)) {
      val next = Checkpoints.checkpointKeepingLayout(
        (1 to batchRounds).foldLeft(labels)((l, _) => round(l)))
      Checkpoints.release(labels)
      labels = next
    }
    // the coalesces are identities (labels are never null) that mark
    // both columns non-nullable — the schema the downstream parquet
    // dumps have always carried for this operator
    val out = labels.select(
      coalesce(col("id"), lit(0L)).as("id"),
      coalesce(col("cluster_id"), lit(0L)).as("cluster_id"))
    Checkpoints.release(edgesM)
    out
  }

  /** Full dedup: near-dup pairs → components → survivors = one
    * representative (min id) per cluster + all unpaired docs. */
  def survivors(allIds: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val dropped = comps.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    allIds.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** Policy-driven survivor selection: keep the highest-`scoreCol` doc
    * per cluster (ties → min id) instead of the arbitrary min-id
    * representative — the production dedup policy (keep the longest /
    * highest-quality copy, drop the rest). Unpaired docs form
    * singleton clusters and always survive. Returns
    * (idCol, cluster_id, scoreCol) — one row per cluster. */
  def survivorsBy(docs: DataFrame, idCol: String, scoreCol: String,
                  pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = connectedComponents(pairs)
    val scored = docs.select(col(idCol), col(scoreCol))
      .join(comps.withColumnRenamed("id", "__cc_id"),
            col(idCol) === col("__cc_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .drop("__cc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("cluster_id"), col(scoreCol))
  }
}
