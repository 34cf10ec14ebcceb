package graft.streaming

import graft.functions.TextFunctions.{minhashFromPairs, minhashPairs, qualityScore, shinglesOf, tokens}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the batch curation pipeline (q40/q46 family): a
  * continuous document stream is quality-gated and exactly-deduplicated on
  * its content fingerprint — the ingest shape of a training-data pipeline
  * that curates as data arrives instead of in nightly batches.
  *
  * Dedup state is BOUNDED by the watermark (`dropDuplicatesWithinWatermark`):
  * a duplicate arriving within `lateness` of the original is dropped; state
  * for fingerprints older than the watermark horizon is evicted, so live
  * state is proportional to the ingest window, not corpus history — the only
  * stance that survives an unbounded 100 TB stream. (Exact forever-dedup is
  * the batch q40 / [[StatefulBalances.streamingDedup]] contract; this
  * operator trades horizon for bounded state, the standard production
  * compromise.)
  *
  * The fingerprint is md5 over the NORMALIZED text (lower/trim — the same
  * normalization as batch q40), computed as a narrow column expression; the
  * quality gate runs BEFORE dedup so junk never occupies state. md5's 128
  * bits matter here: dedup treats equal fingerprints as equal CONTENT, and a
  * short hash (e.g. the 31-bit Karp–Rabin fingerprint of q33) would silently
  * drop distinct documents on collision — by the birthday bound a 31-bit
  * space reaches ~50% collision odds at only ~54k live fingerprints, whereas
  * 128 bits stay collision-free at any realistic ingest volume.
  */
object CurationStream {

  /** @param docs     streaming frame with (doc_id LONG, ts TIMESTAMP,
    *                 text STRING) columns
    * @param lateness watermark delay = the dedup horizon
    */
  /** The content fingerprint — ONE definition shared by the within-stream
    * dedup, the incremental anti join, and (by contract) the producers of
    * any historical `seen` table: the anti join only works if every party
    * normalizes identically.
    */
  def fingerprint(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(lower(trim(text)))

  def curate(
      docs: DataFrame,
      lateness: java.time.Duration,
      minQuality: Double = 0.5
  ): DataFrame =
    docs
      .filter(qualityScore(col("text")) >= minQuality)
      .withColumn("fp", fingerprint(col("text")))
      .withWatermark("ts", s"${lateness.toMillis} milliseconds")
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")

  /** INCREMENTAL corpus building — dedup the incoming stream against the
    * EXISTING corpus, not just against itself: a stream-static LEFT ANTI
    * join on content fingerprints drops any document whose normalized text
    * already exists in the historical fingerprint table, then [[curate]]'s
    * within-stream machinery (quality gate + watermarked first-wins)
    * handles duplicates that arrive twice inside the same run. This is the
    * nightly-crawl shape: yesterday's corpus is a static parquet of
    * fingerprints (broadcast when it fits; a shuffled stream-static join
    * otherwise — Spark re-plans per micro-batch, so the static side can be
    * swapped between runs without touching the stream), today's crawl is
    * the stream, and the output appends only genuinely new content.
    *
    * @param docs  streaming frame with (doc_id LONG, ts TIMESTAMP,
    *              text STRING) columns
    * @param seen  STATIC frame with an `fp` column (md5 of the normalized
    *              text) — the historical fingerprint table
    */
  def curateIncremental(
      docs: DataFrame,
      seen: DataFrame,
      lateness: java.time.Duration,
      minQuality: Double = 0.5
  ): DataFrame =
    curate(
      docs
        .withColumn("fp", fingerprint(col("text")))
        .join(seen.select(col("fp")), Seq("fp"), "left_anti")
        .drop("fp"),
      lateness,
      minQuality)

  /** NEAR-dup streaming curation — the ingest-time twin of the batch
    * MinHash-LSH pipeline (q42): a document is dropped when ANY of its LSH
    * band signatures was already seen within the watermark horizon
    * (exactly q42's candidate rule, first-wins; the exact-Jaccard
    * verification step is the documented precision trade of ingest-time
    * blocking — a colliding band flags the pair, and at banding
    * P(band collision | J) = J^rowsPerBand, false flags are rare and
    * recoverable by a batch audit).
    *
    * Execution shape — all narrow until the stateful operators:
    *   1. quality gate, then per-row MinHash band signatures as COLUMN
    *      folds (no explode/shuffle — the q41 signature shape);
    *   2. explode to (doc, band, sig) rows and
    *      `dropDuplicatesWithinWatermark(band, sig)`: per-BUCKET first-wins
    *      keyed state, bounded by the watermark exactly like [[curate]];
    *   3. a windowed per-doc count of SURVIVING band rows: a doc is emitted
    *      iff all `bands` of its rows were bucket-firsts — i.e. no band
    *      collided with an earlier doc. (Chained stateful operators in
    *      append mode; the result becomes final — and is emitted — when
    *      the watermark passes its window.)
    *
    * State is ∝ distinct band signatures in the ingest window + open
    * windows — both watermark-bounded; nothing grows with corpus history.
    *
    * Docs with fewer than 3 tokens have no shingles (no near-dup identity);
    * they pass the quality gate unexamined via a union.
    *
    * @param docs     streaming frame with (doc_id LONG, ts TIMESTAMP,
    *                 text STRING) columns
    * @param lateness watermark delay = the near-dup horizon
    * @param window   tumbling finalization window for the per-doc verdict;
    *                 output latency is `lateness` + up to one `window`
    */
  def curateNearDup(
      docs: DataFrame,
      lateness: java.time.Duration,
      minQuality: Double = 0.5,
      window: String = "1 minute"
  ): DataFrame = {
    val numHashes   = 8
    val rowsPerBand = 2
    val nBands      = numHashes / rowsPerBand

    val gated = docs
      .filter(qualityScore(col("text")) >= minQuality)
      .withWatermark("ts", s"${lateness.toMillis} milliseconds")
      .withColumn("w", tokens(col("text")))

    val shingled = gated
      .filter(size(col("w")) >= 3)
      .withColumn("sh", shinglesOf(col("w")))
      .withColumn("hp", minhashPairs(col("sh"))) // ONE md5 per shingle
    val withSigs = (0 until numHashes)
      .foldLeft(shingled)((df, i) => df.withColumn(s"mh$i", minhashFromPairs(i, col("hp"))))
    val bandCols = (0 until nBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("|", cols: _*).as("sig"))
    }
    // Group on a DEMOTED copy of ts (unix_micros — a computed long, so the
    // event-time watermark metadata does not propagate to it): grouping on
    // window(ts) AND the watermarked ts itself would leave two event-time
    // columns in the aggregate output, which Spark rejects
    // ("More than one event time columns are available"). The exact
    // timestamp is rebuilt losslessly after the aggregate.
    val deduped = withSigs
      .select(col("doc_id"), col("ts"), col("text"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("ts"), col("text"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .dropDuplicatesWithinWatermark("band", "sig")
      .withColumn("ts_us", unix_micros(col("ts")))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("doc_id"), col("ts_us"), col("text"))
      .agg(count(lit(1)).as("nb"))
      .filter(col("nb") === nBands) // every band was first in its bucket
      .select(col("doc_id"), timestamp_micros(col("ts_us")).as("ts"), col("text"))

    // shingle-less short docs: no near-dup identity — pass through (their
    // verdict needs no window, but unioned branches share the output mode)
    val short = gated
      .filter(size(col("w")) < 3)
      .withColumn("ts_us", unix_micros(col("ts")))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("doc_id"), col("ts_us"), col("text"))
      .agg(count(lit(1)).as("nb"))
      .select(col("doc_id"), timestamp_micros(col("ts_us")).as("ts"), col("text"))

    deduped.unionByName(short)
  }

  /** q158's INGEST-TIME twin — the vocabulary-drift alarm running on the
    * live stream: per finalized event-time window and source, the smoothed
    * KL divergence of that window's hashed-token distribution against a
    * STATIC baseline corpus distribution. A feed that silently switches
    * language, starts emitting boilerplate, or degrades to spam shifts its
    * bucket distribution and the KL spikes — caught at ingest, not at the
    * next nightly batch audit.
    *
    * Shape: the streaming side is ONE watermarked windowed aggregate over
    * (window, source, bucket) — 256-bounded per (window, source), append
    * mode so counts emit exactly once when the watermark closes the
    * window; the KL reduction runs per micro-batch on those closed
    * summaries ([[driftOf]] — the trendingTerms foreachBatch shape)
    * against the broadcast baseline dimension. State is windows ×
    * sources × 256 cells — corpus-size-independent.
    */
  val VocabBuckets = 256L

  /** The q158 md5 bucket fold — one definition for the baseline builder
    * and the stream side, so the two distributions can never hash apart.
    */
  def vocabBucket(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long") % VocabBuckets

  /** STATIC baseline for the KS drift monitor: the reference corpus's
    * quantized ECDF of document LENGTH over its own distinct values —
    * (v, qb = ⌊c·2^20/n⌋), the q210 grid computed corpus-global. The
    * window runs over the value-FREQUENCY table (bounded by the length
    * domain, never corpus rows), so the single-partition ordering is a
    * few-thousand-row sort however large the corpus.
    */
  def lengthBaseline(docs: DataFrame): DataFrame = {
    val freq = docs
      .groupBy(char_length(col("text")).as("v"))
      .agg(count(lit(1)).as("f"))
    freq
      .withColumn(
        "c",
        sum(col("f")).over(org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
      .crossJoin(broadcast(freq.agg(sum(col("f")).as("n"))))
      .select(col("v"), expr("c * 1048576 div n").as("qb"))
  }

  /** Pin and FULLY materialize a micro-batch before a reduction fans out
    * over it, returning whether the batch has any rows.
    *
    * Why (r17, measured on q217's job timeline): a foreachBatch reduction
    * whose plan contains broadcast joins launches every broadcast subtree
    * as a concurrent job. With the batch only lazily persist()-ed, those
    * jobs race the cache before any of them has materialized it, and EACH
    * re-executes the batch's full incremental plan — stateful aggregate,
    * state-store read and commit included (6-7 duplicate 3-4 s jobs per
    * micro-batch in the profile; ~17 s per q217 rep). One count() here
    * materializes the cache exactly once; every fan-out job then reads
    * memory. The returned row count doubles as the empty-batch
    * short-circuit: batch 0 of every monitor run closes no windows (the
    * watermark has not advanced yet), so its reduction would be pure
    * plan-execution overhead (~1.3 s measured) — the caller sinks
    * `reduce.limit(0)` instead, which the optimizer folds to an empty
    * relation (schema preserved, so the sink's path/schema contract — an
    * empty append keeps the output readable even if nothing ever emits —
    * is unchanged at ~zero cost).
    */
  private def pinBatch(batch: DataFrame): Boolean = {
    batch.persist()
    batch.count() > 0L
  }

  /** Run a monitor's per-batch REDUCTION (and only it) at ONE shuffle
    * partition, restoring the session conf before the callback returns.
    *
    * Why (r18, measured): the reduction input is dimension-bounded BY
    * DESIGN (closed-window summaries — windows × sources × value domains,
    * a few hundred rows at ANY corpus size), yet it inherits the stream
    * scope's state-partition count (8), so every one of the reduction's
    * ~10-30 exchanges runs 8 one-row-ish tasks: 8× the task launches, and
    * 7 waiter threads per whole-stage-codegen compile (the KeyLock waits
    * dominating the r18 JFR profile of q217's finalization batch). One
    * partition is the GUIDE §2.2 sizing for kilobyte frames — this is
    * scale-independent for the same reason the AQE-off scope is: the
    * reduction never grows with the corpus, only with the value domains.
    * The conf change is scoped INSIDE the foreachBatch callback (the
    * callback runs synchronously on the micro-batch thread), so the
    * stream's own stateful plan — pinned at [[graft.queries.StreamQueries]]
    * withStatePartitions' count via the checkpoint — never sees it: the
    * batch cache is materialized by [[pinBatch]] BEFORE the scope opens,
    * and the conf is restored in `finally` before the next batch plans.
    */
  private def sinkReduced(batch: DataFrame)(body: => Unit): Unit = {
    val s     = batch.sparkSession
    val key   = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(key)
    s.conf.set(key, "1")
    try body
    finally s.conf.set(key, saved)
  }

  /** Batch KS reduction over closed window summaries: `counts` is
    * (window_start, source, v, cs); returns per (window_start, source) the
    * doc total and the two-sample Kolmogorov–Smirnov distance of the
    * window's length distribution vs [[lengthBaseline]], on the 2^20
    * integer grid (q210's quantization — deterministic on any engine):
    * [[ksQuantilesOf]]'s first four columns.
    */
  def ksOf(counts: DataFrame, baseline: DataFrame): DataFrame =
    ksQuantilesOf(counts, baseline)
      .select(col("window_start"), col("source"), col("n_docs"), col("ks_q20"))

  /** [[ksOf]] and [[quantilesOf]] FUSED over one union-grid pass — the
    * multi-axis monitors (q216/q217/q219) consume both off the same `len`
    * summaries, and the two reductions share the identical cumulative
    * spine (c = running count over v per (window, source), n = the pair
    * total): running them separately pays the grid build, the counts
    * join, the cumulative window and the final aggregate TWICE (r18
    * measured: the finalization batch is stage-count-bound, ~30 tiny
    * stages at 8 tasks each — see [[sinkReduced]]).
    *
    * KS: both ECDFs are right-continuous steps, so evaluating at every
    * value of the UNION grid (baseline values ∪ the batch's values) attains
    * the supremum exactly: a window value absent from the baseline is still
    * a step of the window ECDF, so it joins the grid carrying the baseline
    * step function's value there — the last baseline quantile at or below
    * it (0 before the first). The grid stays domain-bounded (both value
    * sets are distinct lengths), and when the batch's values are a subset
    * of the baseline's the union adds nothing.
    *
    * Quantiles evaluated on the same grid are EXACT: c jumps only at the
    * window's own values, so for any p the minimal grid v with 100·c ≥ p·n
    * is the minimal WINDOW value with that property — a baseline-only grid
    * point below it carries c below the threshold, and one above it is not
    * minimal (q209's integer rule is over a right-continuous step function,
    * the same argument that makes the grid attain the KS sup).
    * Column-for-column identical output to the unfused join:
    * (window_start, source, n_docs, ks_q20, p50, p90, p99).
    */
  def ksQuantilesOf(counts: DataFrame, baseline: DataFrame): DataFrame = {
    val pairs = counts.select(col("window_start"), col("source")).distinct()
    val nW = counts
      .groupBy(col("window_start"), col("source"))
      .agg(sum(col("cs")).as("nw"))
    val byPair = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"), col("source"))
    val grid = baseline
      .select(col("v"), col("qb"))
      .unionByName(
        counts.select(col("v")).distinct()
          .join(baseline.select(col("v")), Seq("v"), "left_anti")
          .select(col("v"), lit(null).cast("long").as("qb")))
      .withColumn(
        "qb",
        coalesce(
          last(col("qb"), ignoreNulls = true).over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("v"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)),
          lit(0L)))
    def q(p: Int) = min(when(col("c") * 100 >= col("nw") * p, col("v"))).as(s"p$p")
    pairs
      .crossJoin(broadcast(grid))
      .join(counts, Seq("window_start", "source", "v"), "left")
      .na.fill(0L, Seq("cs"))
      .withColumn("c", sum(col("cs")).over(byPair.orderBy(col("v"))))
      .join(broadcast(nW), Seq("window_start", "source"))
      .withColumn("qw", expr("c * 1048576 div nw"))
      .groupBy(col("window_start"), col("source"))
      .agg(
        min(col("nw")).as("n_docs"),
        max(abs(col("qw") - col("qb"))).as("ks_q20"),
        q(50), q(90), q(99))
  }

  /** The live DISTRIBUTION-SHAPE monitor (q171's sibling — KL watches the
    * vocabulary, this watches the length distribution): watermarked
    * windowed (length, count) summaries → per-closed-window two-sample KS
    * vs the static baseline ECDF, delivered to `sink` per micro-batch.
    * Streaming state per (window, source) is the window's distinct-length
    * histogram — domain-bounded, never doc-bounded.
    *
    * @param docs streaming frame with (ts TIMESTAMP, source STRING,
    *             text STRING) columns
    */
  def lengthDrift(
      docs: DataFrame,
      baseline: DataFrame,
      windowLength: String,
      watermark: String,
      checkpointDir: String
  )(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs
      .withWatermark("ts", watermark)
      .select(
        window(col("ts"), windowLength).as("w"),
        col("source"),
        char_length(col("text")).as("v"))
      .groupBy(col("w"), col("source"), col("v"))
      .agg(count(lit(1)).as("cs"))
      .writeStream
      .outputMode("append") // a (window, source, length) row emits once, on window close
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val reduce = ksOf(
          batch.select(col("w.start").as("window_start"), col("source"), col("v"), col("cs")),
          baseline)
        val any = pinBatch(batch)
        try sinkReduced(batch)(sink(if (any) reduce else reduce.limit(0)))
        finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** Batch quantile reduction over closed window summaries: `counts` is
    * (window_start, source, v, cs); returns per (window_start, source) the
    * doc total and the EXACT p50/p90/p99 of the window's length
    * distribution — q209's integer quantile rule (smallest v whose
    * cumulative count c satisfies 100·c ≥ p·n, no ceil, no floats) applied
    * to the per-window value-frequency state the stream already maintains.
    * The cumulative window runs over distinct values per (window, source)
    * — domain-bounded, never doc-bounded.
    */
  def quantilesOf(counts: DataFrame): DataFrame = {
    val byPair = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"), col("source"))
    val cum = counts
      .withColumn("c", sum(col("cs")).over(byPair.orderBy(col("v"))))
      .withColumn("n", sum(col("cs")).over(byPair))
    def q(p: Int) = min(when(col("c") * 100 >= col("n") * p, col("v"))).as(s"p$p")
    cum
      .groupBy(col("window_start"), col("source"))
      .agg(min(col("n")).as("n_docs"), q(50), q(90), q(99))
  }

  /** The live PERCENTILE monitor (q209's streaming twin, the q210↔q211
    * pairing applied to the quantile family): watermarked windowed
    * (length, count) summaries → per-closed-window exact p50/p90/p99,
    * delivered to `sink` per micro-batch. State per (window, source) is
    * the distinct-length histogram — identical to [[lengthDrift]]'s, so
    * the marginal cost of monitoring percentiles alongside KS is zero
    * state and one more domain-bounded reduction.
    *
    * @param docs streaming frame with (ts TIMESTAMP, source STRING,
    *             text STRING) columns
    */
  def lengthQuantiles(
      docs: DataFrame,
      windowLength: String,
      watermark: String,
      checkpointDir: String
  )(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs
      .withWatermark("ts", watermark)
      .select(
        window(col("ts"), windowLength).as("w"),
        col("source"),
        char_length(col("text")).cast("long").as("v")) // long: the oracle's BIGINT quantiles
      .groupBy(col("w"), col("source"), col("v"))
      .agg(count(lit(1)).as("cs"))
      .writeStream
      .outputMode("append") // a (window, source, length) row emits once, on window close
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val reduce = quantilesOf(
          batch.select(col("w.start").as("window_start"), col("source"), col("v"), col("cs")))
        val any = pinBatch(batch)
        try sinkReduced(batch)(sink(if (any) reduce else reduce.limit(0)))
        finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** STATIC baseline for the PSI categorical drift monitor (q212's corpus
    * side): per-category counts of the reference corpus over `lang`, each
    * row carrying the corpus total and the category-domain size —
    * (lang, ct, t, k). The smoothing constant k is PINNED at baseline
    * definition time (production PSI practice: the category domain is
    * fixed when the baseline ships; a category the baseline never saw
    * enters the evaluation grid with ct = 0 and the smoothed corpus mass
    * 1/(t+k), it does not retroactively change the denominators).
    */
  def langBaseline(docs: DataFrame): DataFrame = {
    val ct = docs.groupBy(col("lang")).agg(count(lit(1)).as("ct"))
    ct.crossJoin(broadcast(ct.agg(sum(col("ct")).as("t"), count(lit(1)).as("k"))))
  }

  /** Batch PSI reduction over closed window summaries: `counts` is
    * (window_start, source, lang, cs); returns per (window_start, source)
    * the doc total and the Population Stability Index of the window's
    * category distribution vs [[langBaseline]] — q212's exact integer
    * treatment (proportions quantized FIRST onto the 2^20 grid and
    * clamped ≥ 1, per-cell log-ratio floored once at 2^20, pure integer
    * Σ(psq−pcq)·lr with both factors grid-bounded, one display division
    * by 2^40). The evaluation grid is PER (window, source): the baseline
    * domain ∪ that pair's OWN categories — an out-of-baseline category
    * with window mass joins with ct = 0. The pair's own categories, not
    * the batch's union (ksOf's rule is safe globally — extra evaluation
    * points never move a step-function sup — but PSI's zero-cell
    * smoothing CREATES mass, so a category from a sibling window closed
    * in the same micro-batch would shift this window's score; per-pair
    * grids make the score batch-composition-independent).
    */
  def psiOf(counts: DataFrame, baseline: DataFrame): DataFrame = {
    val nW = counts
      .groupBy(col("window_start"), col("source"))
      .agg(sum(col("cs")).as("nw"))
    val grid = counts.select(col("window_start"), col("source")).distinct()
      .crossJoin(broadcast(baseline.select(col("lang"), col("ct"))))
      .unionByName(
        counts.select(col("window_start"), col("source"), col("lang"))
          .join(baseline.select(col("lang")), Seq("lang"), "left_anti")
          .select(col("window_start"), col("source"), col("lang"), lit(0L).as("ct")))
    val tk = baseline.select(col("t"), col("k")).limit(1)
    grid
      .join(counts, Seq("window_start", "source", "lang"), "left")
      .na.fill(0L, Seq("cs"))
      .join(broadcast(nW), Seq("window_start", "source"))
      .crossJoin(broadcast(tk))
      .select(
        col("window_start"),
        col("source"),
        col("nw"),
        expr("greatest((cs + 1) * 1048576 div (nw + k), 1)").as("psq"),
        expr("greatest((ct + 1) * 1048576 div (t + k), 1)").as("pcq"))
      .withColumn(
        "term",
        (col("psq") - col("pcq")) *
          floor(log(col("psq").cast("double") / col("pcq")) * lit(1048576.0)).cast("long"))
      .groupBy(col("window_start"), col("source"))
      .agg(
        min(col("nw")).as("n_docs"),
        round(sum(col("term")).cast("double") / lit(1099511627776.0), 6).as("psi"))
  }

  /** The live CATEGORICAL drift monitor (the family's third axis: q171
    * watches the vocabulary via KL, [[lengthDrift]] the numeric shape via
    * KS — this watches the category MIX): watermarked windowed
    * (lang, count) summaries → per-closed-window PSI vs the static corpus
    * baseline, delivered to `sink` per micro-batch. Streaming state per
    * (window, source) is the window's per-category histogram — bounded by
    * the category domain, never by doc count.
    *
    * @param docs streaming frame with (ts TIMESTAMP, source STRING,
    *             lang STRING) columns
    */
  def langDrift(
      docs: DataFrame,
      baseline: DataFrame,
      windowLength: String,
      watermark: String,
      checkpointDir: String
  )(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLength).as("w"), col("source"), col("lang"))
      .groupBy(col("w"), col("source"), col("lang"))
      .agg(count(lit(1)).as("cs"))
      .writeStream
      .outputMode("append") // a (window, source, lang) row emits once, on window close
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val reduce = psiOf(
          batch.select(col("w.start").as("window_start"), col("source"), col("lang"), col("cs")),
          baseline)
        val any = pinBatch(batch)
        try sinkReduced(batch)(sink(if (any) reduce else reduce.limit(0)))
        finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** The UNIFIED multi-metric distribution monitor — KS + exact quantiles
    * + PSI per closed (window, source) from ONE stateful pass (the r15
    * verdict's directive #3): a production deployment watches all three
    * axes of a feed, and running [[lengthDrift]], [[lengthQuantiles]] and
    * [[langDrift]] as three queries would scan the stream three times and
    * keep the length histogram twice. Here each document contributes two
    * rows — (axis = len, its length) and (axis = cat, its lang) — to a
    * SINGLE watermarked windowed aggregate, so the query holds exactly one
    * stateful operator whose state per (window, source) is the length
    * histogram ∪ the category histogram: the union of what q211/q213 keep
    * and strictly less than the three singles combined (q214 re-uses
    * q211's histogram; nothing is stored twice). On window close the three
    * reductions ([[ksOf]], [[quantilesOf]], [[psiOf]]) run per micro-batch
    * off the SAME closed summaries — domain-bounded batch work, no
    * recomputation from raw rows — and join into one wide alarm row:
    * (window_start, source, n_docs, ks_q20, p50, p90, p99, psi).
    *
    * The axis tag is part of the grouping key, never a filter on state:
    * adding a fourth axis (e.g. a vocab-bucket axis) is one more struct in
    * the explode, with state growing only by that axis's domain.
    *
    * @param docs        streaming frame with (ts TIMESTAMP, source STRING,
    *                    lang STRING, text STRING) columns
    * @param lenBaseline [[lengthBaseline]]'s static (v, qb) ECDF
    * @param catBaseline [[langBaseline]]'s static (lang, ct, t, k) counts
    */
  def multiDrift(
      docs: DataFrame,
      lenBaseline: DataFrame,
      catBaseline: DataFrame,
      windowLength: String,
      watermark: String,
      checkpointDir: String
  )(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs
      .withWatermark("ts", watermark)
      .select(
        window(col("ts"), windowLength).as("w"),
        col("source"),
        explode(array(
          struct(
            lit("len").as("axis"),
            char_length(col("text")).cast("long").as("vl"),
            lit(null).cast("string").as("vs")),
          struct(
            lit("cat").as("axis"),
            lit(null).cast("long").as("vl"),
            col("lang").as("vs")))).as("m"))
      .select(col("w"), col("source"), col("m.axis").as("axis"),
        col("m.vl").as("vl"), col("m.vs").as("vs"))
      .groupBy(col("w"), col("source"), col("axis"), col("vl"), col("vs"))
      .agg(count(lit(1)).as("cs"))
      .writeStream
      .outputMode("append") // a (window, source, axis, value) row emits once, on close
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the closed summaries feed three reductions — pin so the state
        // output is computed once, not once per axis consumer / broadcast
        val any = pinBatch(batch)
        try {
          val len = batch.filter(col("axis") === "len")
            .select(col("w.start").as("window_start"), col("source"),
              col("vl").as("v"), col("cs"))
          val cat = batch.filter(col("axis") === "cat")
            .select(col("w.start").as("window_start"), col("source"),
              col("vs").as("lang"), col("cs"))
          val reduce = ksQuantilesOf(len, lenBaseline)
            .join(psiOf(cat, catBaseline).drop("n_docs"), Seq("window_start", "source"))
            .select(col("window_start"), col("source"), col("n_docs"),
              col("ks_q20"), col("p50"), col("p90"), col("p99"), col("psi"))
          sinkReduced(batch)(sink(if (any) reduce else reduce.limit(0)))
        } finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** Batch MI reduction over closed window summaries: `cells` is
    * (window_start, pair, x, y, c); returns per (window_start, pair) the
    * cell count and the plug-in mutual information — q215's exact integer
    * treatment (joint and both marginal proportions floored onto the 2^20
    * grid and clamped ≥ 1 BEFORE any product, per-cell log-ratio floored
    * once at 2^20, pure integer Σ a·lr, one display division by 2^40) —
    * computed within each window: the marginals group by (window, pair),
    * so a sibling window closed in the same micro-batch can never leak
    * into this window's score (the [[psiOf]] per-pair-grid rule, which MI
    * gets for free because its grid IS the window's own observed cells).
    */
  def miOf(cells: DataFrame): DataFrame = {
    val cx = cells.groupBy(col("window_start"), col("pair"), col("x")).agg(sum(col("c")).as("cx"))
    val cy = cells.groupBy(col("window_start"), col("pair"), col("y")).agg(sum(col("c")).as("cy"))
    val nn = cells.groupBy(col("window_start"), col("pair")).agg(sum(col("c")).as("n"))
    cells
      .join(broadcast(cx), Seq("window_start", "pair", "x"))
      .join(broadcast(cy), Seq("window_start", "pair", "y"))
      .join(broadcast(nn), Seq("window_start", "pair"))
      .select(
        col("window_start"),
        col("pair"),
        expr("greatest(c * 1048576 div n, 1)").as("a"),
        (expr("greatest(cx * 1048576 div n, 1)") *
          expr("greatest(cy * 1048576 div n, 1)")).as("b"))
      .withColumn(
        "term",
        col("a") *
          floor(log(col("a") * lit(1048576.0) / col("b")) * lit(1048576.0)).cast("long"))
      .groupBy(col("window_start"), col("pair"))
      .agg(
        count(lit(1)).as("n_cells"),
        round(sum(col("term")).cast("double") / lit(1099511627776.0), 6).as("mi"))
  }

  /** The live ASSOCIATION monitor — q215's streaming sibling (the
    * q212↔q213 pairing applied to the MI family): per finalized event-time
    * window, the plug-in mutual information of the window's three
    * categorical axis pairs (lang×size-magnitude, lang×source,
    * source×size-magnitude; size bucket = the value's decimal digit
    * count), delivered to `sink` per micro-batch. A feed whose language
    * mix starts depending on the source — a scraper gone regional, a
    * router misconfigured — shows up as an MI spike at ingest, not at the
    * next nightly bias audit. Streaming state per window is the
    * three pairs' joint histograms — bounded by the category domains
    * (langs × digit-counts, langs × sources, sources × digit-counts),
    * never by doc count; the per-batch reduction runs on closed windows
    * only, and the marginals are computed inside [[miOf]] off the same
    * closed cells (no second state, no recomputation from raw rows).
    *
    * @param docs streaming frame with (ts TIMESTAMP, source STRING,
    *             lang STRING, text STRING) columns
    */
  def miDrift(
      docs: DataFrame,
      windowLength: String,
      watermark: String,
      checkpointDir: String
  )(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val lenMag = length(char_length(col("text")).cast("string"))
    docs
      .withWatermark("ts", watermark)
      .select(
        window(col("ts"), windowLength).as("w"),
        explode(array(
          struct(lit("lang_lenmag").as("pair"), col("lang").as("x"), lenMag.cast("string").as("y")),
          struct(lit("lang_source").as("pair"), col("lang").as("x"), col("source").as("y")),
          struct(lit("source_lenmag").as("pair"), col("source").as("x"), lenMag.cast("string").as("y")))).as("t"))
      .select(col("w"), col("t.pair").as("pair"), col("t.x").as("x"), col("t.y").as("y"))
      .groupBy(col("w"), col("pair"), col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
      .writeStream
      .outputMode("append") // a (window, pair, x, y) cell emits once, on close
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val reduce = miOf(batch.select(
          col("w.start").as("window_start"), col("pair"), col("x"), col("y"), col("c")))
        val any = pinBatch(batch)
        try sinkReduced(batch)(sink(if (any) reduce else reduce.limit(0)))
        finally { batch.unpersist(); () }
        ()
      }
      .start()
  }

  /** [[multiDrift]] with the VOCABULARY axis joined in — the COMPLETE
    * drift family (q171 KL + q211 KS + q214 quantiles + q213 PSI) as one
    * stateful pass: the len/cat axes contribute one row per document, the
    * voc axis one row per token (`transform` over the token array inside
    * the same explode — the per-token fan-out happens BEFORE the one key
    * shuffle, exactly like q171's own explode), and all three land in the
    * single windowed aggregate. State per (window, source) = distinct
    * lengths ∪ langs ∪ ≤[[VocabBuckets]] vocabulary cells — every axis
    * domain-bounded, so the four-axis monitor holds the same
    * corpus-size-independent state contract as each single.
    *
    * Wide alarm row: (window_start, source, n_docs, n_tokens, kl, ks_q20,
    * p50, p90, p99, psi).
    *
    * @param docs        streaming frame with (ts TIMESTAMP, source STRING,
    *                    lang STRING, text STRING) columns
    * @param vocBaseline [[vocabBaseline]]'s static (b, ct) bucket counts
    * @param lenBaseline [[lengthBaseline]]'s static (v, qb) ECDF
    * @param catBaseline [[langBaseline]]'s static (lang, ct, t, k) counts
    */
  def fullDrift(
      docs: DataFrame,
      vocBaseline: DataFrame,
      lenBaseline: DataFrame,
      catBaseline: DataFrame,
      windowLength: String,
      watermark: String,
      checkpointDir: String
  )(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs
      .withWatermark("ts", watermark)
      .select(
        window(col("ts"), windowLength).as("w"),
        col("source"),
        explode(concat(
          array(
            struct(
              lit("len").as("axis"),
              char_length(col("text")).cast("long").as("vl"),
              lit(null).cast("string").as("vs")),
            struct(
              lit("cat").as("axis"),
              lit(null).cast("long").as("vl"),
              col("lang").as("vs"))),
          transform(
            // coalesce: a NULL text yields a NULL token array, and
            // concat(array, NULL) is NULL — the explode would drop the
            // doc's len/cat structs too, silently disagreeing with
            // multiDrift's n_docs on a null-text corpus. Empty-string
            // fallback → the filter empties it → concat keeps the pair.
            filter(coalesce(tokens(lower(col("text"))), array(lit(""))), t => t =!= ""),
            t => struct(
              lit("voc").as("axis"),
              vocabBucket(t).as("vl"),
              lit(null).cast("string").as("vs"))))).as("m"))
      .select(col("w"), col("source"), col("m.axis").as("axis"),
        col("m.vl").as("vl"), col("m.vs").as("vs"))
      .groupBy(col("w"), col("source"), col("axis"), col("vl"), col("vs"))
      .agg(count(lit(1)).as("cs"))
      .writeStream
      .outputMode("append") // a (window, source, axis, value) row emits once, on close
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val any = pinBatch(batch) // four axis consumers — one state read
        try {
          val len = batch.filter(col("axis") === "len")
            .select(col("w.start").as("window_start"), col("source"),
              col("vl").as("v"), col("cs"))
          val cat = batch.filter(col("axis") === "cat")
            .select(col("w.start").as("window_start"), col("source"),
              col("vs").as("lang"), col("cs"))
          val voc = batch.filter(col("axis") === "voc")
            .select(col("w.start").as("window_start"), col("source"),
              col("vl").as("b"), col("cs"))
          val reduce = ksQuantilesOf(len, lenBaseline)
            .join(psiOf(cat, catBaseline).drop("n_docs"), Seq("window_start", "source"))
            .join(driftOf(voc, vocBaseline), Seq("window_start", "source"))
            .select(col("window_start"), col("source"), col("n_docs"),
              col("n_tokens"), col("kl"), col("ks_q20"),
              col("p50"), col("p90"), col("p99"), col("psi"))
          sinkReduced(batch)(sink(if (any) reduce else reduce.limit(0)))
        } finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** STATIC baseline: bucket counts of the reference corpus (b, ct). */
  def vocabBaseline(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(vocabBucket(col("tok")).as("b"))
      .agg(count(lit(1)).as("ct"))

  /** Batch KL reduction over closed window summaries: `counts` is
    * (window_start, source, b, cs); returns per (window_start, source)
    * token totals and the add-one-smoothed KL vs `baseline` — the exact
    * q158 formula with the window distribution as P and the baseline as Q
    * (the 2^20-quantized-log treatment keeps the summand an integer).
    */
  def driftOf(counts: DataFrame, baseline: DataFrame): DataFrame = {
    val tot  = baseline.agg(sum(col("ct")).as("t"))
    val tsum = counts.groupBy(col("window_start"), col("source")).agg(sum(col("cs")).as("tsum"))
    counts
      .join(broadcast(baseline), Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(tot))
      .join(broadcast(tsum), Seq("window_start", "source"))
      .withColumn(
        "lr",
        floor(
          log(
            ((col("cs") + lit(1.0)) / (col("tsum") + lit(VocabBuckets.toDouble))) /
              ((col("ct") + lit(1.0)) / (col("t") + lit(VocabBuckets.toDouble)))
          ) * lit(1048576.0)
        ).cast("long"))
      .groupBy(col("window_start"), col("source"))
      .agg(min(col("tsum")).as("n_tokens"), sum(col("cs") * col("lr")).as("klq"))
      .select(
        col("window_start"),
        col("source"),
        col("n_tokens"),
        round(col("klq").cast("double") / lit(1048576.0) / col("n_tokens"), 6).as("kl"))
  }

  /** The live monitor: watermarked windowed bucket counts → per-closed-
    * window KL vs the static baseline, delivered to `sink` per micro-batch.
    *
    * @param docs streaming frame with (ts TIMESTAMP, source STRING,
    *             text STRING) columns
    */
  def vocabDrift(
      docs: DataFrame,
      baseline: DataFrame,
      windowLength: String,
      watermark: String,
      checkpointDir: String
  )(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs
      .withWatermark("ts", watermark)
      .select(
        window(col("ts"), windowLength).as("w"),
        col("source"),
        explode(tokens(lower(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("w"), col("source"), vocabBucket(col("tok")).as("b"))
      .agg(count(lit(1)).as("cs"))
      .writeStream
      .outputMode("append") // a (window, source, bucket) row emits once, on window close
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val reduce = driftOf(
          batch.select(col("w.start").as("window_start"), col("source"), col("b"), col("cs")),
          baseline)
        val any = pinBatch(batch)
        try sinkReduced(batch)(sink(if (any) reduce else reduce.limit(0)))
        finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** The GRAND monitor — ALL FIVE drift axes (q171 vocabulary KL + q211
    * KS + q214 quantiles + q213 PSI + q218 MI) from ONE stateful pass
    * (the r16 verdict's directive #4). [[fullDrift]] proved the
    * per-source axes compose under the key (window, source, axis, value);
    * the obstruction to adding MI was its key shape — q218's joint
    * histograms live per (window, pair, x, y) WITHOUT source, so sibling
    * sources must land in ONE cell. The union key here is
    * (window, src, axis, vl, vs, vs2):
    *
    *  - len / cat / voc structs carry src = the document's source and use
    *    (vl | vs) exactly as [[fullDrift]] (vs2 stays NULL);
    *  - each MI pair contributes one struct with src = NULL (all sources
    *    share the window's joint histogram, q218's state), the pair name
    *    folded into the axis tag ("mi:lang_lenmag" …), and the cell
    *    coordinates in (vs, vs2).
    *
    * All 5 + per-token structs land in the SINGLE watermarked windowed
    * aggregate — one stateful operator whose per-window state is the
    * union of every axis's domain-bounded histogram (the per-source
    * histograms ∪ the three pair histograms; nothing stored twice, and
    * each MI cell is one row however many sources feed it). On window
    * close the five reductions ([[ksOf]], [[quantilesOf]], [[psiOf]],
    * [[driftOf]], [[miOf]]) run per micro-batch off the same closed
    * summaries and emit ONE long-format alarm frame:
    * kind='source' rows carry [[fullDrift]]'s wide columns per
    * (window, source); kind='pair' rows carry [[miDrift]]'s (n_cells, mi)
    * per (window, pair); `series` holds the source or the pair name.
    *
    * State cost vs running q217 + q218 side by side: strictly smaller
    * (one watermark, one store lifecycle, the per-token fan-out and the
    * input scan paid once instead of twice); the per-batch reduction work
    * is identical. The axis tag remains part of the grouping key, never a
    * filter on state — a sixth axis is one more struct in the explode.
    *
    * @param docs        streaming frame with (ts TIMESTAMP, source STRING,
    *                    lang STRING, text STRING) columns
    * @param vocBaseline [[vocabBaseline]]'s static (b, ct) bucket counts
    * @param lenBaseline [[lengthBaseline]]'s static (v, qb) ECDF
    * @param catBaseline [[langBaseline]]'s static (lang, ct, t, k) counts
    */
  def allDrift(
      docs: DataFrame,
      vocBaseline: DataFrame,
      lenBaseline: DataFrame,
      catBaseline: DataFrame,
      windowLength: String,
      watermark: String,
      checkpointDir: String
  )(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    allDriftSummaries(docs.withWatermark("ts", watermark), windowLength)
      .writeStream
      .outputMode("append") // a (window, src, axis, value) row emits once, on close
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val any = pinBatch(batch) // five axis consumers — one state read
        try {
          val reduce = allDriftReduce(batch, vocBaseline, lenBaseline, catBaseline)
          sinkReduced(batch)(sink(if (any) reduce else reduce.limit(0)))
        } finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** [[allDrift]]'s single explode → ONE windowed aggregate producing the
    * union summaries (w, src, axis, vl, vs, vs2, cs). Batch/stream
    * agnostic (the watermark, if any, is the caller's), so Plans can dump
    * the aggregation + reduction plan the registered query actually runs.
    */
  private[graft] def allDriftSummaries(docs: DataFrame, windowLength: String): DataFrame = {
    val lenMag = length(char_length(col("text")).cast("string")).cast("string")
    val nullL  = lit(null).cast("long")
    val nullS  = lit(null).cast("string")
    docs
      .select(
        window(col("ts"), windowLength).as("w"),
        explode(concat(
          array(
            struct(col("source").as("src"), lit("len").as("axis"),
              char_length(col("text")).cast("long").as("vl"),
              nullS.as("vs"), nullS.as("vs2")),
            struct(col("source").as("src"), lit("cat").as("axis"),
              nullL.as("vl"), col("lang").as("vs"), nullS.as("vs2")),
            struct(nullS.as("src"), lit("mi:lang_lenmag").as("axis"),
              nullL.as("vl"), col("lang").as("vs"), lenMag.as("vs2")),
            struct(nullS.as("src"), lit("mi:lang_source").as("axis"),
              nullL.as("vl"), col("lang").as("vs"), col("source").as("vs2")),
            struct(nullS.as("src"), lit("mi:source_lenmag").as("axis"),
              nullL.as("vl"), col("source").as("vs"), lenMag.as("vs2"))),
          transform(
            // the fullDrift null-text rule: coalesce so a NULL token array
            // cannot null the concat and drop the document's other axes
            filter(coalesce(tokens(lower(col("text"))), array(lit(""))), t => t =!= ""),
            t => struct(col("source").as("src"), lit("voc").as("axis"),
              vocabBucket(t).as("vl"), nullS.as("vs"), nullS.as("vs2"))))).as("m"))
      .select(col("w"), col("m.src").as("src"), col("m.axis").as("axis"),
        col("m.vl").as("vl"), col("m.vs").as("vs"), col("m.vs2").as("vs2"))
      .groupBy(col("w"), col("src"), col("axis"), col("vl"), col("vs"), col("vs2"))
      .agg(count(lit(1)).as("cs"))
  }

  /** The five-axis per-batch reduction [[allDrift]] runs on CLOSED
    * summaries: route each axis family to its reduction ([[ksOf]],
    * [[quantilesOf]], [[psiOf]], [[driftOf]], [[miOf]]) and union into
    * the long-format alarm frame.
    */
  private[graft] def allDriftReduce(
      batch: DataFrame,
      vocBaseline: DataFrame,
      lenBaseline: DataFrame,
      catBaseline: DataFrame): DataFrame = {
    val len = batch.filter(col("axis") === "len")
      .select(col("w.start").as("window_start"), col("src").as("source"),
        col("vl").as("v"), col("cs"))
    val cat = batch.filter(col("axis") === "cat")
      .select(col("w.start").as("window_start"), col("src").as("source"),
        col("vs").as("lang"), col("cs"))
    val voc = batch.filter(col("axis") === "voc")
      .select(col("w.start").as("window_start"), col("src").as("source"),
        col("vl").as("b"), col("cs"))
    val mi = batch.filter(col("axis").startsWith("mi:"))
      .select(col("w.start").as("window_start"),
        expr("substring(axis, 4)").as("pair"),
        col("vs").as("x"), col("vs2").as("y"), col("cs").as("c"))
    val wide = ksQuantilesOf(len, lenBaseline)
      .join(psiOf(cat, catBaseline).drop("n_docs"), Seq("window_start", "source"))
      .join(driftOf(voc, vocBaseline), Seq("window_start", "source"))
      .select(col("window_start"), lit("source").as("kind"),
        col("source").as("series"), col("n_docs"), col("n_tokens"),
        col("kl"), col("ks_q20"), col("p50"), col("p90"), col("p99"),
        col("psi"),
        lit(null).cast("long").as("n_cells"), lit(null).cast("double").as("mi"))
    val pairRows = miOf(mi)
      .select(col("window_start"), lit("pair").as("kind"),
        col("pair").as("series"), lit(null).cast("long").as("n_docs"),
        lit(null).cast("long").as("n_tokens"), lit(null).cast("double").as("kl"),
        lit(null).cast("long").as("ks_q20"), lit(null).cast("long").as("p50"),
        lit(null).cast("long").as("p90"), lit(null).cast("long").as("p99"),
        lit(null).cast("double").as("psi"), col("n_cells"), col("mi"))
    wide.unionByName(pairRows)
  }
}
