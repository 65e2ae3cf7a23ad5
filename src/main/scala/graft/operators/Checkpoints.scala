package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Lifecycle helpers for the blocks a `DataFrame.localCheckpoint()`
  * pins in the block manager.
  *
  * localCheckpoint persists its RDD[InternalRow] directly in the block
  * manager; `DataFrame.unpersist()` only releases frames registered
  * through `persist()`, so an iterative loop that re-checkpoints every
  * round leaks one O(V) vector per iteration — on a memory-tight
  * executor the pinned storage squeezes execution below the
  * hash-aggregate minimum (surfaced as AGGREGATE_OUT_OF_MEMORY by the
  * 2 GB heap rehearsal at sf1). The alternative — `.rdd.persist` +
  * `createDataFrame` (DedupClusters' shape) — releases cleanly but
  * pays an InternalRow↔Row conversion on both sides of the cache and
  * drops LogicalRDD's partitioning metadata; measured ~20-30 % on the
  * PageRank/LabelPropagation loops. This keeps localCheckpoint's
  * compact UnsafeRow blocks and layout, and frees them by unpersisting
  * the RDD the checkpointed plan's LogicalRDD node carries.
  */
object Checkpoints {
  /** Release a superseded checkpoint's blocks. Only call on frames
    * that are truly superseded: a released checkpoint cannot be
    * recomputed (its lineage was truncated), so any later read of the
    * released frame fails. */
  def release(checkpointed: DataFrame): Unit =
    rddOf(checkpointed).foreach(_.unpersist(blocking = false))

  /** localCheckpoint that actually RETAINS the physical hash layout.
    *
    * Under AQE — this engine's production config — `Dataset
    * .localCheckpoint` captures the adaptive plan's partitioning as
    * UNKNOWN, so the resulting LogicalRDD forces a re-exchange in
    * every downstream consumer: a pre-partitioned iteration layout
    * (PageRank / LabelPropagation's whole design) silently degrades
    * to one O(E) shuffle per iteration. Probe-measured on this Spark:
    * a clustered groupBy over a checkpoint plans 1 exchange with AQE
    * on and 0 with it off, and a checkpoint taken with AQE scoped OFF
    * serves AQE-ON consumers exchange-free (the layout survives
    * through alias-aware projections into multi-level aggregates).
    *
    * Scoping: only THIS materialization runs without AQE — no
    * runtime coalescing / skew-split inside the checkpointed query
    * (its exchanges are explicit keyed repartitions anyway, which AQE
    * leaves alone; the Zipf rehearsal pins the skew behavior of the
    * operators built on this). The session flag is restored in a
    * finally block, and the set/materialize/restore window is
    * SERIALIZED on this object: the flag lives in the session's shared
    * RuntimeConfig, so two concurrent callers on one session could
    * otherwise interleave (A sets off, B reads prev="false", A
    * restores, B "restores" to false) and leave AQE disabled
    * session-wide — a library engine can't assume driver-synchronous
    * callers. Concurrent checkpoints serialize their materialization
    * jobs behind the lock; that is the price of a shared-session conf
    * toggle, and iterative-graph materializations are the rare path. */
  def checkpointKeepingLayout(df: DataFrame): DataFrame = synchronized {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.get(key, "true")
    conf.set(key, "false")
    try df.localCheckpoint()
    finally conf.set(key, prev)
  }

  /** Total cached footprint (memory + disk) of a materialized
    * checkpoint, from the block manager's live stats; 0 if unknown. */
  def cachedBytes(checkpointed: DataFrame): Long =
    rddOf(checkpointed).flatMap { rdd =>
      checkpointed.sparkSession.sparkContext.getRDDStorageInfo
        .find(_.id == rdd.id).map(i => i.memSize + i.diskSize)
    }.getOrElse(0L)

  /** Re-layout a just-materialized checkpoint whose cached blocks
    * average fatter than `targetBytes`, preserving the hash layout on
    * `keys`; the superseded fat copy is released. No-op (returns the
    * input frame, no job) when blocks are already bounded — so the
    * extra O(rows) exchange is paid ONLY in the pathological case.
    *
    * Why block size matters and partition COUNT alone doesn't: a task
    * reading a cached block read-LOCKS it for the task's lifetime
    * (locked blocks are unevictable), so a stage with partitions ==
    * cores pins the ENTIRE checkpoint in storage memory at once while
    * its own aggregation is trying to grow — the 2 GB sf1 rehearsal
    * died exactly there (8 × ~105 MB edge blocks all locked,
    * AGGREGATE_OUT_OF_MEMORY in the reader's partial aggregate).
    * Bounding block size restores the partitions ≫ concurrent-tasks
    * shape a real cluster always has: the locked set is at most
    * cores × targetBytes, independent of data scale, and everything
    * else stays evictable to disk under execution pressure. On ample
    * heaps the stat check is driver-side and free.
    *
    * KNOWN LIMIT: the check is on the AVERAGE block (the block
    * manager exposes no per-block sizes), and a keyed re-layout
    * cannot split ONE key whose rows alone exceed the target — hash
    * clustering is exactly what the callers' exchange-free aggregates
    * require, so a single mega-key is a regime problem, not a layout
    * problem (an unclustered layout + partial/final aggregation
    * flattens it). In practice the graph callers dedup their edge
    * lists, which bounds any key's mass to its distinct-neighbor
    * count — the Zipf rehearsal (SkewScaleSpec) measured the hot key
    * at ~6-8 % of E post-distinct and the clustered plans FASTER
    * under skew, so the adaptive-regime escape hatch stays
    * unimplemented until a measurement demands it. */
  def boundBlocks(checkpointed: DataFrame, keys: Seq[Column],
                  targetBytes: Long = 32L << 20): DataFrame = {
    val bytes = cachedBytes(checkpointed)
    val parts = rddOf(checkpointed).map(_.getNumPartitions).getOrElse(1)
    if (bytes <= targetBytes * math.max(parts, 1)) checkpointed
    else {
      val wider = (bytes / targetBytes + 1).toInt
      val re = checkpointKeepingLayout(
        checkpointed.repartition(wider, keys: _*))
      release(checkpointed)
      // the escape hatch the KNOWN LIMIT above defers: a keyed
      // re-layout can't split one mega-key, so if the AVERAGE block is
      // still fat after widening, the data — not the layout — is the
      // problem and the caller should fall back to an unclustered
      // layout + partial/final aggregation. Surface that regime by
      // measurement (a log the operator's perf rehearsals would see)
      // instead of letting it reappear as an executor OOM.
      val reBytes = cachedBytes(re)
      val reParts = rddOf(re).map(_.getNumPartitions).getOrElse(1)
      if (reBytes > targetBytes * math.max(reParts, 1))
        log.warn(s"boundBlocks: post-relayout blocks still average " +
          s"${reBytes / math.max(reParts, 1) >> 20} MB > " +
          s"${targetBytes >> 20} MB target across $reParts partitions " +
          s"— a single key likely exceeds the target; consider an " +
          s"unclustered layout + partial aggregation for this input")
      re
    }
  }

  /** Second block-bounded layout of an already-measured checkpoint:
    * repartition `checkpointed` by `keys` into enough partitions to
    * keep blocks at `targetBytes`, optionally sort within partitions,
    * eagerly checkpoint the copy, and ONLY THEN release the superseded
    * original — the materialize-before-release ordering is the
    * invariant this helper exists to keep in one place (a released
    * checkpoint cannot be recomputed). Sized from the original's
    * measured footprint (same rows, same bytes), avoiding a
    * materialize-then-widen double pass.
    *
    * Width: bytes/targetBytes, PERIOD — proportional to the measured
    * bytes, never to a core-count constant (guide §2: scale-adaptive
    * partitioning). At real scale the term is the same whatever the
    * session parallelism. At bench scale the round-13 variant
    * additionally widened mid-size checkpoints up to session
    * parallelism (134 MB → 32 partitions on local[32]); the driver's
    * round-13 runs regressed the whole PageRank family at BOTH core
    * counts on that change, and the round-14 same-window interleaved
    * A/B (wide vs input-partition floor vs this formula, 2 reps × 2
    * core counts, min-of-3 each) measured this formula fastest at 32
    * cores and tied-or-better at 8 (q_pagerank min 3.92 vs 4.73/4.43
    * at 32c) — per-iteration stage TIME shrank with the wide layout
    * but per-task scheduling overhead ate the win, exactly the
    * "32-task stages of sub-KB work" regime the round-13 verdict
    * called out. Target-sized blocks also keep the read-locked set
    * minimal on memory-tight executors. */
  def relayout(checkpointed: DataFrame, keys: Seq[Column],
               sortCols: Seq[String] = Nil,
               targetBytes: Long = 32L << 20): DataFrame = {
    val parts = (cachedBytes(checkpointed) / targetBytes + 1).toInt
    val keyed = checkpointed.repartition(parts, keys: _*)
    val sorted = if (sortCols.isEmpty) keyed
                 else keyed.sortWithinPartitions(sortCols.head,
                                                 sortCols.tail: _*)
    val re = checkpointKeepingLayout(sorted)
    release(checkpointed)
    re
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def rddOf(df: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
}
