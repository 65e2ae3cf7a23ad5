package graft.etl

import graft.functions.NativeFunctions
import graft.text.{DedupClusters, MinHashLSH, TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data corpus curation — the composition the
  * individual operators exist for (prompt §"training-data pipeline"):
  *
  *   quality score → repetition filter → language filter → exact dedup
  *   → MinHash-LSH near-dup clusters → best-copy survivors → stratified
  *   per-language cap
  *
  * Every stage is a pure DataFrame → DataFrame function; at 100 TB the
  * same plan runs partitioned end-to-end: per-row scoring is
  * whole-stage-codegen'd scan work, exact dedup shuffles once on the
  * fingerprint, LSH bounds the pair join by construction, and the
  * stratified cap is one window over the (already tiny) survivor set.
  * Stage counts are returned for observability (the quality-funnel
  * numbers every curation run reports).
  */
object CorpusPipeline {
  final case class Funnel(input: Long, qualityPass: Long,
                          repetitionPass: Long, langPass: Long,
                          exactUnique: Long, nearDupSurvivors: Long,
                          sampled: Long)

  /** The ONE definition of the stage-1 text metrics — lowercased
    * word array `__w` (and `__lc`), `n_words`, and `punct_ratio` over
    * the caller's character denominator — shared by [[curate]]'s
    * scored stage and [[graft.streaming.CorpusIngestStream]]'s gate.
    * Shared on purpose (the MisraGries offer/merge pattern): the two
    * surfaces once drifted — the stream counted every CAPITAL as
    * punctuation and silently dropped title-case docs the batch
    * funnel admits. */
  private[graft] def textMetrics(docs: DataFrame,
                                 nChars: org.apache.spark.sql.Column): DataFrame =
    docs
      .withColumn("__lc", lower(col("text")))
      .withColumn("__w", TF.words(col("__lc")))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("punct_ratio",
        regexp_count(col("__lc"), lit("[^a-z0-9\\s]")).cast("double") /
          nChars)

  /** Score + filter + dedup + sample. `docs` needs (doc_id, text,
    * lang, source, n_chars). Deterministic end to end.
    *
    * All text-derived stages work on the LOWERCASED text: the exact-
    * dedup fingerprint already normalizes case, and a case-sensitive
    * quality/lang/near-dup side would silently diverge on real
    * mixed-case input — `[^a-z0-9\s]` counts every capital as
    * punctuation (title-case English exceeds maxPunctRatio on casing
    * alone), lowercase language markers never match capitalized
    * occurrences, and 'The'/'the' dilute the near-dup Jaccard for
    * pairs the fingerprint calls identical. `k`/`bands` parameterize
    * the in-batch LSH exactly as [[curateIncremental]]'s cross-batch
    * stage — one near-dup policy, not two. */
  def curate(docs: DataFrame, minWords: Int = 30, maxPunctRatio: Double = 0.2,
             maxTopBigramShare: Double = 0.1,
             jaccardThreshold: Double = 0.9, perLangCap: Int = 1000,
             k: Int = 64, bands: Int = 8)
      : (DataFrame, Funnel) = {
    NativeFunctions.register(docs.sparkSession)

    // stage 1: per-row quality metrics (one codegen'd pass)
    val scored = textMetrics(docs, col("n_chars"))
      .withColumn("en_score", TF.markerScore(col("__w"), TF.LangMarkers(0)._2))
      .withColumn("de_score", TF.markerScore(col("__w"), TF.LangMarkers(1)._2))
      .withColumn("es_score", TF.markerScore(col("__w"), TF.LangMarkers(2)._2))
      .withColumn("fr_score", TF.markerScore(col("__w"), TF.LangMarkers(3)._2))
      .withColumn("pred_lang", TF.predictLang(
        col("en_score"), col("de_score"), col("es_score"), col("fr_score")))
    // persisted: the funnel's observability counts plus every later
    // stage re-traverse this frame ~6 times; without the persist each
    // count re-runs the scoring scan (and the repetition stage's bigram
    // explode) from the raw input. MEMORY_AND_DISK: spills, never OOMs.
    val qualityPass = scored
      .filter(col("n_words") >= minWords && col("punct_ratio") <= maxPunctRatio)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 1b: Gopher repetition rule — drop docs dominated by one
    // bigram. The failing-id set is aggregation output (tiny for any
    // sane corpus), so the anti-join broadcasts; survivors' text never
    // re-shuffles.
    val repetitive = qualityPass
      .withColumn("__bg", TF.shingles(col("__w"), 2))
      .select(col("doc_id"), explode_outer(col("__bg")).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg((max("n") / sum("n")).as("top_share"))
      .filter(col("top_share") > maxTopBigramShare)
      .select("doc_id")
    val repetitionPass = qualityPass
      .join(broadcast(repetitive), Seq("doc_id"), "left_anti")

    // stage 2: language-ID agreement (drop mislabeled / unidentifiable)
    val langPass = repetitionPass.filter(col("pred_lang") === col("lang"))

    // stage 3: exact dedup — keep the lowest doc_id per fingerprint
    // (persisted: feeds the LSH signature build, the survivor join, and
    // its own funnel count)
    val exactUnique = graft.operators.Dedup.keepFirst(
      langPass.withColumn("__fp", TF.fingerprint(col("text"))),
      Seq("__fp"), Seq(col("doc_id").asc)).drop("__fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 4: near-dup clusters via MinHash LSH (the scale path — the
    // blocked exact self-join is the small-corpus alternative), then
    // best-copy survivors (highest n_chars, ties → min id)
    val pairs = MinHashLSH.nearDuplicates(
      exactUnique.select(col("doc_id"), col("source"),
                         TF.wordSet(lower(col("text"))).as("ws")),
      "doc_id", "ws", k = k, bands = bands, threshold = jaccardThreshold,
      blockCol = Some("source"))
      .select("id_a", "id_b")
    val survivorIds = DedupClusters
      .survivorsBy(exactUnique, "doc_id", "n_chars", pairs)
      .select("doc_id")
    val survivors = exactUnique.join(survivorIds, "doc_id")

    // stage 5: deterministic stratified cap per language (md5 order)
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    val sampled = survivors
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= perLangCap)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
              col("n_words"), col("pred_lang"))

    // materialize the OUTPUT before unpersisting its lineage: sampled's
    // count is the last funnel field anyway, and persisting it first
    // means the caller's action (e.g. CorpusMain's write) reads the
    // capped survivor set from cache instead of re-running the whole
    // funnel cold. sampled is perLangCap-bounded — small by contract.
    // The finally releases the corpus-scale intermediates even when a
    // mid-funnel count throws — a driver loop that catches per-source
    // failures and continues must not accumulate two corpus-scale
    // cached frames per failed source (CacheManager entries are never
    // GC-reclaimed).
    try {
      sampled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val funnel = Funnel(docs.count(), qualityPass.count(),
                          repetitionPass.count(), langPass.count(),
                          exactUnique.count(), survivors.count(), sampled.count())
      (sampled, funnel)
    } finally {
      qualityPass.unpersist()
      exactUnique.unpersist()
      ()
    }
  }

  final case class IncrementalFunnel(batch: Funnel, crossExactDropped: Long,
                                     crossNearDropped: Long, admitted: Long)

  /** Incremental curation — the production shape: each new crawl batch
    * runs the standard funnel, then admits only docs that duplicate
    * NOTHING already curated, and lands atomically via appendBatch.
    *
    * The curated table persists, per admitted doc, its exact
    * fingerprint and k-minhash signature next to the metadata — enough
    * to dedup every future batch WITHOUT retaining corpus text (the
    * standard trade at 100 TB: signatures are ~0.5 KB/doc; the text
    * is not re-read). Cross-batch admission:
    *   1. exact: batch fingerprints anti-join stored fingerprints;
    *   2. near: LSH band collisions between batch and stored
    *      signatures, verified by the signature-estimated Jaccard
    *      (fraction of agreeing planes — unbiased estimator of J, the
    *      text-free verification);
    *   3. survivors append atomically with their fp + sig.
    *
    * Contract: doc_ids are unique corpus-wide (they are the curated
    * table's pk).
    * First-batch-wins: an existing curated doc is never replaced by a
    * later near-duplicate, even a "better" one — append-only tables
    * don't re-adjudicate survivors. Near-dups are adjudicated WITHIN a
    * source (the same blocking policy as the batch funnel's LSH stage),
    * in-batch and cross-batch alike — so admission does not depend on
    * how the stream happens to chunk into batches. `perLangCap` caps
    * each BATCH's admission, not the corpus: the corpus-global budget
    * is the stream of caps, by design (a table-global cap would mean
    * re-reading and re-capping history per batch).
    */
  def curateIncremental(newDocs: DataFrame, curated: graft.tables.LakehouseTable,
                        minWords: Int = 30, maxPunctRatio: Double = 0.2,
                        maxTopBigramShare: Double = 0.1,
                        jaccardThreshold: Double = 0.9, perLangCap: Int = 1000,
                        k: Int = 64, bands: Int = 8): IncrementalFunnel = {
    val (sampled, funnel) = curate(newDocs, minWords, maxPunctRatio,
                                   maxTopBigramShare, jaccardThreshold,
                                   perLangCap, k, bands)
    NativeFunctions.register(newDocs.sparkSession)
    // re-attach the dedup artifacts for the batch's admitted candidates.
    // dropDuplicates first: an at-least-once source can deliver one
    // doc_id twice IN ONE BATCH (identical rows) — curate() collapses
    // them via the fingerprint dedup, but a join against the raw frame
    // would fan the admitted doc back out and append it twice,
    // breaking the table's pk contract. Identical rows make the
    // arbitrary winner value-irrelevant.
    val art = sampled
      .join(newDocs.select(col("doc_id"), col("text"))
              .dropDuplicates("doc_id"), "doc_id")
      .withColumn("fp", TF.fingerprint(col("text")))
      .withColumn("__toks",
        NativeFunctions.hashedTokenSet(TF.wordSet(lower(col("text")))))
    val sigs = MinHashLSH.signatures(
      art.select(col("doc_id"), col("__toks")), "doc_id", "__toks", k)
    val cand = art.join(sigs, "doc_id").drop("__toks", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCand = cand.count()

    // a fully-filtered batch must not touch the table at all (an empty
    // bootstrap append would leave a data-less dir)
    if (nCand == 0) {
      cand.unpersist(); sampled.unpersist()
      return IncrementalFunnel(funnel, 0L, 0L, 0L)
    }
    if (!curated.exists) {
      curated.appendBatch(cand)
      cand.unpersist(); sampled.unpersist()
      return IncrementalFunnel(funnel, 0L, 0L, nCand)
    }
    val existing = curated.read
    // stored signatures must match this run's k: zip_with against a
    // different-length stored sig pads with nulls and the /k estimate
    // silently dilutes — a 60/64-plane near-dup scored against k=128
    // reads 0.47 and slips into the corpus. Fail loud instead.
    val storedK = existing.select(size(col("sig"))).head().getInt(0)
    if (storedK != k) {
      // release the cached batch frames before failing: a driver loop
      // that catches this and moves to the next source must not
      // accumulate orphaned cached partitions for the session lifetime
      cand.unpersist(); sampled.unpersist()
      throw new IllegalArgumentException(
        s"curated table stores k=$storedK minhash planes but this run " +
        s"uses k=$k — signature estimates would silently dilute; rerun " +
        s"with k=$storedK or rebuild the table")
    }

    // 1. exact cross-batch dedup on the stored fingerprints
    val exactNew = cand.join(existing.select("fp"), Seq("fp"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExact = exactNew.count()

    // 2. near-dup vs the curated corpus: band the batch and the stored
    // signatures SEPARATELY and join across ([[MinHashLSH
    // .crossCandidatePairs]]) — the tagged-union-through-candidatePairs
    // formulation this replaces generated (and distinct'ed) every pair
    // of STORED docs sharing a bucket each batch, a cost growing with
    // Σ(corpus bucket sizes)² instead of the batch. Cross pairs only,
    // verified by plane agreement. SOURCE-BLOCKED like curate()'s own
    // near-dup stage — one dedup policy ("near-dups are adjudicated
    // within a source") whether two docs arrive in the same batch or
    // different ones; an unblocked cross stage would make the admitted
    // set depend on microbatch chunking.
    val newSigs = exactNew.select(col("doc_id"), col("source"), col("sig"))
    val oldSigs = existing.select(col("doc_id"), col("source"), col("sig"))
    val nearIds = MinHashLSH.crossCandidatePairs(newSigs, oldSigs,
        "doc_id", bands, k / bands, blockCol = Some("source"))
      .join(newSigs.select(col("doc_id").as("id_a"), col("sig").as("sa")),
            "id_a")
      .join(oldSigs.select(col("doc_id").as("id_b"), col("sig").as("sb")),
            "id_b")
      .withColumn("__est",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
                    b => b)).cast("double") / k)
      .filter(col("__est") >= jaccardThreshold)
      .select(col("id_a").as("doc_id"))
      .distinct()
    val admitted = exactNew.join(nearIds, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAdm = admitted.count()

    if (nAdm > 0) curated.appendBatch(admitted)
    cand.unpersist(); exactNew.unpersist(); admitted.unpersist()
    sampled.unpersist()
    IncrementalFunnel(funnel, nCand - nExact, nExact - nAdm, nAdm)
  }
}

/** CLI: curate the documents table of a testdata dir and print the
  * funnel — `runMain graft.etl.CorpusMain <sfDir> <outDir>`. */
object CorpusMain {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 ||
            (args.length == 3 && args(2) == "--incremental"),
      "usage: CorpusMain <sfDir> <outDir> [--incremental]")
    // an unrecognized third arg must fail fast: falling through to the
    // batch path would overwrite an existing incremental table layout
    val spark = graft.GraftSession("graft-corpus")
    val docs = graft.Tables.load(spark, args(0), "documents")
    if (args.length == 3 && args(2) == "--incremental") {
      // outDir is a LakehouseTable: repeated runs dedup against what
      // earlier runs admitted (replaying the same input admits 0)
      val t = graft.tables.LakehouseTable(spark, args(1), Seq("doc_id"))
      val r = CorpusPipeline.curateIncremental(docs, t)
      val f = r.batch
      println(s"[corpus] input=${f.input} quality=${f.qualityPass} " +
        s"repetition=${f.repetitionPass} lang=${f.langPass} " +
        s"exact=${f.exactUnique} neardup=${f.nearDupSurvivors} " +
        s"sampled=${f.sampled} crossExact=${r.crossExactDropped} " +
        s"crossNear=${r.crossNearDropped} admitted=${r.admitted}" +
        // the corpus total is a full-table scan — opt-in diagnostic,
        // the incremental path stays O(batch) by default
        (if (sys.env.get("GRAFT_ETL_TOTALS").contains("1"))
           s" corpus=${t.read.count()}" else ""))
    } else {
      val (curated, f) = CorpusPipeline.curate(docs)
      curated.write.mode("overwrite").parquet(args(1))
      println(s"[corpus] input=${f.input} quality=${f.qualityPass} " +
        s"repetition=${f.repetitionPass} lang=${f.langPass} " +
        s"exact=${f.exactUnique} neardup=${f.nearDupSurvivors} " +
        s"sampled=${f.sampled}")
    }
    spark.stop()
  }
}
