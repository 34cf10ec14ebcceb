package graft

import org.apache.spark.sql.SparkSession

/** Dump `explain("formatted")` for the headline queries to PLANS.md — the
  * committed plan-audit artifact (scan pushdown, broadcast dims, partial
  * aggregates, custom nodes are all visible without running anything).
  * Usage: `sbt "runMain graft.Plans [sfDir] [outFile]"`.
  */
object Plans {

  private val Headline = Seq(
    "q09_balance",            // the reference topology's aggregate
    "q20_pricing_summary",    // scan-heavy grouped aggregate + pushdown
    "q22_nation_revenue",     // broadcast dimension chain
    "q41_minhash_sig",        // narrow signature generation (no exchange)
    "q42_minhash_lsh",        // memoized candidate table read (build plan below)
    "q49_dedup_components_stars", // large-star/small-star CC off the shared edges
    "q50_cosine_topk",        // partial top-k + codegen'd vector_cosine
    "q51_ann_ivf",            // per-dimension centroid aggregation
    "q83_blamed_suppliers",   // semi/anti self-joins
    "q88_asof_custom",        // the custom merge plan node
    "q95_volume_shipping",    // fact-fact shuffle join after broadcast-dim reduction
    "q98_disjunctive_join",   // equi key extracted from an OR-of-ANDs join predicate
    "q99_canonical_docs",     // components table + distributive per-component argmax
    "q108_countmin_topk",     // bounded-cell sketch via map-side combined aggregate
    "q114_asof_nearest_tolerance", // custom node: two-sided nearest within tolerance
    "q115_resize_pixels",     // real PNG/BMP decode + NN resample via mapPartitions
    "q67_media_resize",       // unified resize: real-pixel dispatch + value-gated stub fallback
    "q119_substring_overlap", // content-defined anchors: narrow filter before the gram join
    "q127_ivf_recall",        // recall@k audit: exact vs probe top-k set intersection
    "q128_video_pixels",      // real AVI container walk + per-frame decode via mapPartitions
    "q129_semantic_dedup_adaptive", // k ∝ n blocking: memoized assignment + equi-join prune
    "q130_interval_overlap_join",   // bucket-blocked overlap join (equi join, no nested loop)
    "q131_dedup_pagerank",    // 3 unrolled exact-integer PR rounds over the memo edges
    "q132_profile",           // melt + one two-phase aggregation tree (exact distincts)
    "q133_quantile_sketch",   // bottom-k-by-hash sample + rank picks (window group limits)
    "q136_bm25_topk",         // one-tokenize BM25: quantized summands, broadcast stats frame
    "q139_kmv_setops",        // sketch merge: K-row frames, broadcast joins, keyed windows
    "q140_prefix_filter_join", // full PPJoin blocking: prefix + length + positional filters
    "q142_interval_transit_revenue", // partial agg BELOW the pair exchange (the scale claim, gated)
    "q144_bloom_decontaminate", // bloom might_contain prune below the exact-verify semi join
    "q145_incremental_neardup", // increment-only recompute: one documents scan, memo corpus side
    "q146_interval_sweep_revenue", // pair-free sweep: day-series prefix sums + broadcast lookups
    "q147_interval_sweep_days",    // second-order sweep: q130's count+days report, no pair stream
    "q148_seq_packing",       // two-phase running sums: _pid windows + broadcast offsets
    "q149_dsir_weights",      // 256-row log-ratio dim broadcast onto the narrow bigram stream
    "q150_adaptive_quality",  // histogram threshold: lang-partitioned dimension windows only
    "q152_bpe_fertility",     // trained piece map broadcast onto the per-lang vocabulary
    "q153_split_by_cluster",  // pure memo-table function: one scan, no recompute
    "q154_pca_power",         // d² scatter cells map-side combined; dimension-table rounds
    "q155_pca_project",       // 64-row eigenvector broadcast onto the narrow quantized stream
    "q156_epoch_shuffle",     // two-phase global rank per epoch: _pid windows + offsets
    "q157_token_budget_mix",  // per-source prefix sums + 1-row broadcast budget
    "q158_vocab_drift",       // (source×bucket) log-ratio dim broadcast, integer KL sums
    "q159_rrf_fusion",        // two top-K rank lists fused by integer RRF (outer join on K rows/query)
    "q160_perceptron_lid",    // narrow margin maps over cached doc-feature arrays, broadcast weight map
    "q161_auc_quality",       // histogram-only Mann-Whitney: windows above the aggregate, never the corpus
    "q162_source_overlap",    // inverted-index exact Jaccard + per-pair KMV sketches
    "q164_curriculum_interleave", // per-lang windows + _pid two-phase global rank
    "q165_key_skew",          // two-level count-of-counts, both map-side combined
    "q166_bucket_diff",       // 256-bucket additive summaries, full-outer summary join
    "q168_length_batching",   // per-bucket strata windows (log2-many), integer bit-length buckets
    "q169_ndcg",              // both rank chains + hardcoded-weight dims + histogram ideal
    "q170_mad_outliers",      // group-local median/MAD percentile aggs, map-side combined
    "q185_gopher_repetition", // in-row argmax-n-gram signals: zero hash exchanges, no explode
    "q190_temperature_mix",   // dim-sized Hamilton allocation broadcast onto partial-top-k ranks
    "q191_funnel",            // dependent-aggregation cascade: per-stage equi joins + partial mins
    "q192_scd2_history",      // one key exchange + one sort shared by lag/lead/row_number windows
    "q195_pit_enrich",        // as-of merge node over the SCD build; dim rides the build's exchange
    "q122_fuzzy_names",       // FastSS blocking: interval-filtered signature self-join, bare-int distinct
    "q209_exact_quantiles",   // value-frequency collapse: every sort above the aggregate, per-lang CDF
    "q210_ks_drift",          // domain-grid ECDFs: equi pair join on the value, source-keyed windows
    "q212_psi_drift",         // grid-quantized PSI: one corpus aggregate, no window anywhere
    "q215_mi_association"     // melted contingency memo (keep) + broadcast marginals, window-free
  )

  /** Plans dumped from builders outside the driver registry: the dedup
    * memo BUILD pipeline and the k-means refinement BUILD (the registered
    * queries read their materialized memo tables, so their own plans no
    * longer show the real machinery).
    */
  private val Extra: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "dedup_memo_build" -> ((s, d) => graft.queries.DedupQueries.memoBuildPlan(s, d)),
    "kmeans_refine_build" -> ((s, d) => graft.queries.SimilarityQueries.refineBuildPlan(s, d)),
    "kmeans_adaptive_build" -> ((s, d) => graft.queries.SimilarityQueries.adaptiveBuildPlan(s, d)),
    "pca_scatter_build" -> ((s, d) => graft.queries.SimilarityQueries.pcaScatterPlan(s, d)),
    // q193's per-batch MERGE machinery (the registered query is the two-run
    // harness; the plan that matters is one change batch applied against a
    // non-empty store): epoch 1 seeds the store, the dump is epoch 2's
    // mergeRows — tie-collapse window, open-version join, lag-dedup and
    // numbering windows, all on one batch-side key exchange.
    "scd_merge_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
      val tmpDir = java.nio.file.Files.createTempDirectory("graft-scd-plan")
      graft.sources.SessionMemo.deleteOnExit(tmpDir)
      val tmp = tmpDir.toString
      val store = new graft.streaming.ScdStore(s, s"$tmp/store", graft.queries.EventQueries.ScdOpenEnd)
      val feed = graft.sources.Tables.events(s, d).select(
        col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      // split at the data's own median so both epochs are non-empty on ANY
      // corpus (a wall-clock literal would silently dump a degenerate
      // merge-against-empty-store plan on a shifted date range). Guard the
      // degenerate median: when >=50% of rows share the minimum ts the
      // approx median can EQUAL the min, emptying the early epoch — fall
      // back to min+1µs (early = the min-ts rows, late = everything
      // after), and fail loudly if the corpus has only one distinct ts
      // (no two-epoch plan exists to dump).
      val stats = feed.agg(
        expr("min(unix_micros(ts))").as("mn"),
        expr("max(unix_micros(ts))").as("mx"),
        expr("percentile_approx(unix_micros(ts), 0.5)").as("med"))
        .head()
      val (mnUs, mxUs, medUs) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      require(mxUs > mnUs,
        "scd_merge_apply: all events share one timestamp — a two-epoch merge plan cannot be dumped")
      val splitUs = if (medUs > mnUs) medUs else mnUs + 1L
      val split   = timestamp_micros(lit(splitUs))
      store.merge(feed.filter(col("ts") < split), 0L)
      store.mergeRows(feed.filter(col("ts") >= split), 1L)
    }),
    // The interactive as-of point read (`ScdStore.lookup`): the dump
    // must show the bucket predicate CONSTANT-FOLDED into a one-directory
    // partition filter and the user_id equality in PushedFilters — a true
    // point lookup over the bucket-partitioned changelog, never a store
    // pass.
    "scd_asof_lookup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      val tmpDir = java.nio.file.Files.createTempDirectory("graft-scd-lookup-plan")
      graft.sources.SessionMemo.deleteOnExit(tmpDir)
      val store = new graft.streaming.ScdStore(
        s, s"$tmpDir/store", graft.queries.EventQueries.ScdOpenEnd)
      val feed = graft.sources.Tables.events(s, d).select(
        col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      store.merge(feed, 0L)
      val uid = feed.select(expr("min(user_id)")).head().getLong(0)
      store.lookupDf(uid, java.sql.Timestamp.valueOf("2100-01-01 00:00:00"))
        .getOrElse(sys.error("scd_asof_lookup: store is empty — no lookup plan to dump"))
    }),
    // The drift-monitor foreachBatch reduction plans (q216–q219): the
    // per-micro-batch plans the sinks run on CLOSED summaries — dumped off
    // summary frames shaped exactly as the stream's state output (event
    // time synthesized from doc_id, the oracle's window assignment), so
    // the per-(window, source) PSI grid build, the broadcast MI marginals,
    // and the five-axis joined alarm frame are reviewable without running
    // a stream.
    "drift_psi_reduction" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = graft.sources.Tables.documents(s, d)
      val counts = docs.groupBy(
        timestamp_seconds(expr("doc_id % 600 div 60 * 60")).as("window_start"),
        col("source"), col("lang")).agg(count(lit(1)).as("cs"))
      graft.streaming.CurationStream.psiOf(
        counts, graft.streaming.CurationStream.langBaseline(docs))
    }),
    "drift_mi_reduction" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs   = graft.sources.Tables.documents(s, d)
      val lenMag = length(char_length(col("text")).cast("string")).cast("string")
      val cells = docs.select(
        timestamp_seconds(expr("doc_id % 600 div 60 * 60")).as("window_start"),
        explode(array(
          struct(lit("lang_lenmag").as("pair"), col("lang").as("x"), lenMag.as("y")),
          struct(lit("lang_source").as("pair"), col("lang").as("x"), col("source").as("y")),
          struct(lit("source_lenmag").as("pair"), col("source").as("x"), lenMag.as("y")))).as("t"))
        .select(col("window_start"), col("t.pair").as("pair"),
          col("t.x").as("x"), col("t.y").as("y"))
        .groupBy("window_start", "pair", "x", "y").agg(count(lit(1)).as("c"))
      graft.streaming.CurationStream.miOf(cells)
    }),
    // q219's full machinery: the union-keyed five-axis aggregate feeding
    // the joined alarm frame — the same allDriftSummaries/allDriftReduce
    // pair the registered streaming query runs, here over the batch twin.
    "drift_alarm_frame" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cs   = graft.streaming.CurationStream
      val full = graft.sources.Tables.documents(s, d)
      val docs = full.select(
        timestamp_seconds(pmod(col("doc_id"), lit(600L))).as("ts"),
        col("source"), col("lang"), col("text"))
      cs.allDriftReduce(
        cs.allDriftSummaries(docs, "60 seconds"),
        cs.vocabBaseline(full), cs.lengthBaseline(full), cs.langBaseline(full))
    })
  )

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out   = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sb = new StringBuilder
    sb.append("# PLANS — headline query plans (`explain formatted`, " + sfDir + ")\n\n")
    sb.append("Generated by `graft.Plans`; regenerate after plan-affecting changes.\n")
    val all = Headline.map(n => n -> SparkEntry.queries(n)) ++ Extra
    all.foreach { case (name, build) =>
      val df = build(spark, sfDir)
      val formatted =
        org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted") match {
          case m => df.queryExecution.explainString(m)
        }
      sb.append(s"\n## $name\n\n```\n$formatted```\n")
      spark.catalog.clearCache()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[plans] wrote ${all.size} plans to $out")
    spark.stop()
  }
}
