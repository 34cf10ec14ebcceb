package graft.queries

import graft.sources.Tables
import graft.streaming.{CurationStream, PaymentPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming queries whose SINK OUTPUT is registered on the correctness
  * board — the streaming operators are spec-proven with batch twins
  * (CurationStreamSpec etc.), but a spec pins semantics, not bytes: these
  * entries run a REAL StreamingQuery end to end (file source → watermarked
  * windowed state → append-mode emission → foreachBatch sink → parquet)
  * and hand the driver the sink's materialized rows to hash against a
  * DuckDB oracle. One green row here proves the streaming path's bytes,
  * not just its algebra.
  *
  * Event time: q172 uses the REAL `events.ts` column; q171 synthesizes it
  * deterministically from doc_id (documents carry no timestamp):
  * ts = epoch + (doc_id mod [[SpanSec]]) seconds, so the corpus spreads
  * over [[SpanSec]]/[[WindowSec]] tumbling windows and the oracle
  * recomputes the same window assignment with integer arithmetic. In both
  * queries a single future-dated sentinel row pushes the watermark past
  * every real window after the data batch, so append mode finalizes them
  * all before the query stops (the sentinel's own window never closes and
  * therefore never emits — no filtering needed).
  */
object StreamQueries {

  private val WindowSec = 60L  // q171/q173 tumbling window length
  private val SpanSec   = 600L // q171/q173 synthesized event-time span → 10 windows
  private[graft] val TrendK = 5 // q173 leaderboard depth per window (spec reads it)

  /** q172's windowed aggregate transform — hourly tumbling windows per
    * event_type with the exact integer-cents value sum. Batch/stream
    * agnostic (the watermark, if any, is the caller's), so the
    * checkpoint-recovery spec runs the IDENTICAL transform the registered
    * query runs instead of a hand-maintained copy.
    */
  private[graft] def eventWindowCents(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("cents"))

  /** Core of the bounded-stream scaffold: a session-memoized INPUT build
    * plus a fresh per-invocation checkpoint/output temp pair.
    *
    * The parquet input (data + sentinel — the full-corpus artifact) is
    * session-memoized per (session, `tag`, `dir`): a bench's five
    * invocations of the same query write it once and stream from the same
    * files, instead of accumulating five corpus copies under /tmp at deep
    * scale. `build` writes whatever the query streams from under the memo
    * root (by convention `/in`, plus any static side tables). The
    * CHECKPOINT must be fresh per invocation — append mode re-running on a
    * used checkpoint would treat every batch as already committed and emit
    * nothing — and the sink dir rides with it; both hold only bounded
    * summaries and die with the JVM.
    *
    * `start` receives the memo root, the checkpoint path, and the
    * append-to-parquet sink; every foreachBatch output row lands in the
    * returned frame exactly once (close-once emission; a no-output batch
    * appends an empty file, which also guarantees the path exists even if
    * NOTHING ever emits).
    */
  private def runSinked(s: SparkSession, tag: String)(
      start: (String, DataFrame => Unit) => StreamingQuery): DataFrame = {
    val tmp  = freshTmp(tag)
    val outP = s"$tmp/out"
    val q = start(s"$tmp/ckpt", batch => batch.write.mode("append").parquet(outP))
    try {
      q.processAllAvailable() // data batch(es) + watermark-advance finalization batch
    } finally q.stop()
    s.read.parquet(outP)
  }

  /** A bounded streaming source over a memoized input directory. */
  private def streamFrom(s: SparkSession, in: String): DataFrame =
    s.readStream.schema(s.read.parquet(in).schema).parquet(in)

  /** State-partition count for the bounded streaming runs. Every stateful
    * streaming operator materializes its state store(s) on EVERY shuffle
    * partition on EVERY micro-batch (a stream-stream outer join: four
    * stores per partition), so on a bounded local run the store lifecycle
    * — not data — dominates at the batch default of 32 partitions
    * (measured on q177: 8.4 s at 32 partitions → 2.6 s at 8). This is the
    * standard state-store capacity plan a production deployment makes:
    * size state partitions to live-state volume per store, independent of
    * the batch shuffle width. Scoped per run via [[withStatePartitions]] —
    * the fresh checkpoint pins the count at query start, and the session
    * conf is restored before the registered query returns. The same scope
    * sets the payment path's checkpoint file settings
    * (`PaymentPipeline.withCheckpointSettings`), measured on these rows in
    * r17: about half the forked processes of a bench run, and turns off
    * Spark's checksum file beside each state-store file
    * (`spark.sql.streaming.checkpoint.fileChecksum.enabled`, Spark 4.0's
    * behaviour): a corrupted state file is read as it is instead of
    * failing its checksum.
    * `GRAFT_STATE_PARTITIONS` overrides the count — the second measured
    * knob of SCALE.md §v2-premium.
    */
  private val StreamStatePartitions =
    sys.env.get("GRAFT_STATE_PARTITIONS").map(_.toInt).getOrElse(8)

  private def withStatePartitions[T](s: SparkSession)(body: => T): T =
    PaymentPipeline.withCheckpointSettings(s) {
      val saved         = s.conf.get("spark.sql.shuffle.partitions")
      val savedAqe      = s.conf.get("spark.sql.adaptive.enabled")
      val savedChecksum = s.conf.get(StateFileChecksum)
      try {
        s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
        s.conf.set(StateFileChecksum, "false")
        // AQE OFF for the scope by default (r17, measured; GRAFT_STREAM_AQE=1
        // restores it): the stream itself already runs AQE-disabled
        // (stateful workloads), so the conf only affects the foreachBatch
        // reduction frames — which are domain-bounded by design
        // (closed-window summaries, dimension-sized at ANY corpus size, so
        // the reasoning is scale-independent). On that many-tiny-stages
        // shape AQE's per-stage materialize-replan-submit cycle dominates
        // wall clock: two interleaved A/B rounds on the q171/q216/q217/q219
        // rows read 56.1 vs 26.7 s and 30.3 vs 16.8 s (on vs off) — ~2x.
        // The isolated four-axis reduction alone reproduces it (3.4 s
        // AQE-off vs 4.6-7.5 s AQE-on, identical inputs).
        s.conf.set("spark.sql.adaptive.enabled",
          (sys.env.get("GRAFT_STREAM_AQE") match {
            case Some(v) => v == "1"
            case None    => false
          }).toString)
        body
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", saved)
        s.conf.set("spark.sql.adaptive.enabled", savedAqe)
        s.conf.set(StateFileChecksum, savedChecksum)
      }
    }

  private val StateFileChecksum = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  /** Pin the RocksDB state-store provider (required by the state API v2
    * rows) for the scope of `body`, restoring the session conf after.
    * CHANGELOG checkpointing is ON by default for the scope (r18,
    * measured — `GRAFT_ROCKSDB_CHANGELOG=0` restores the snapshot-per-
    * commit form): with the r17/r18 fixed costs removed (per-file fork
    * tails, per-run codegen recompiles) the per-commit full-snapshot
    * upload became visible — every commit created and `rm -rf`-ed a local
    * checkpoint dir per store (~360 forked deletes per two-row run traced
    * via PATH wrappers) — and the changelog form now wins ~8-15% on the
    * v2 rows in interleaved A/B (4.52/4.68 s vs 4.90/5.53 s on
    * q181+q203+q204+q207) where the r14 measurement (SCALE.md
    * §v2-premium) found it wall-neutral under the old fixed costs. The
    * r14 100× tail already showed changelog neutral-to-better at depth
    * (72.1 vs 72.6 s), so the flip carries no known deep-scale inversion;
    * at cloud scale per-batch delta upload instead of full snapshot
    * shipping is the documented reason the option exists.
    */
  private def withRocksDb[T](s: SparkSession)(body: => T): T = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val clogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevP = s.conf.getOption(providerKey)
    val prevC = s.conf.getOption(clogKey)
    def restore(k: String, prev: Option[String]): Unit = prev match {
      case Some(v) => s.conf.set(k, v)
      case None    => s.conf.unset(k)
    }
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set(clogKey,
      (sys.env.get("GRAFT_ROCKSDB_CHANGELOG") match {
        case Some(v) => v == "1"
        case None    => true
      }).toString)
    try body
    finally { restore(providerKey, prevP); restore(clogKey, prevC) }
  }

  // ---- Named session-memoized input builders — one per streaming family.
  // Each returns the memo root; [[prebuildMemos]] runs them all so the
  // Bench steady-state protocol can materialize every stream input for the
  // timed dir BEFORE any timed rep (builds are timed by ScaleBuilds, never
  // inside a row — the same treatment as the dedup/k-means/PCA memos).

  /** q171/q173's shared documents-as-a-stream copy. */
  private def driftInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-drift", dir)(driftInputBuild(s, dir, _))

  /** Width of the drift-family input memo. The r17 blanket-widening
    * experiment (32 files for EVERY stream memo) measured a loss — the
    * events-family rows have near-zero per-row CPU and paid 32 footer
    * opens + task launches for nothing. This is the TARGETED form: only
    * the drift memo (the input of the 9 token-heavy monitor rows, whose
    * data batch burns >1 s of tokenize+explode CPU serialized on the
    * natural 2-file scan — r18 JFR profile) widens, and only to 8 files,
    * so the micro-batch engages 8 cores for real CPU while the fixed
    * per-file cost stays bounded. Row content/aggregation is
    * order-independent, so the hash is unchanged.
    */
  private val DriftInFiles = 8

  private def driftInputBuild(s: SparkSession, dir: String, b: String): Unit =
    docsStreamInput(s, dir).repartition(DriftInFiles).write.parquet(s"$b/in")

  /** q171's 256-row static baseline — built once per (session, dir): an
    * unpinned plan would re-tokenize the whole corpus per micro-batch, and
    * a per-invocation pin would still re-tokenize it once per invocation
    * (the production monitor loads a materialized baseline table, it never
    * re-derives it per run).
    */
  private def driftBaseline(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "drift-baseline", dir)(driftBaselineBuild(s, dir, _))

  private def driftBaselineBuild(s: SparkSession, dir: String, b: String): Unit =
    CurationStream.vocabBaseline(Tables.documents(s, dir)).write.parquet(s"$b/bl")

  /** q211's static length-ECDF baseline — materialized once per (session,
    * dir) for the same reason as [[driftBaseline]]: the production monitor
    * loads a baseline table, it never re-derives the corpus ECDF per run.
    */
  private def lenBaseline(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "lenks-baseline", dir)(b =>
      CurationStream.lengthBaseline(Tables.documents(s, dir)).write.parquet(s"$b/bl"))

  /** q213's static per-category (lang) baseline — materialized once per
    * (session, dir), same rationale as [[lenBaseline]].
    */
  private def psiBaseline(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "psi-baseline", dir)(b =>
      CurationStream.langBaseline(Tables.documents(s, dir)).write.parquet(s"$b/bl"))

  /** q172's events-as-a-stream copy: ONE corpus scan — max(ts) rides the
    * data write as an observed metric (CollectMetrics, the O2
    * `Dataset.observe` machinery), so the sentinel needs no second pass.
    * The sentinel must postdate the LAST real window's end so
    * watermark(max ts − 0 s) closes every real window; an EMPTY events
    * table anchors it at the epoch (only the never-closing sentinel window
    * exists → empty output, matching the oracle's empty result instead of
    * an NPE).
    */
  private def eventwinInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-eventwin", dir)(eventwinBuild(s, dir, _))

  private def eventwinBuild(s: SparkSession, dir: String, b: String): Unit = {
    val (observed, obs) = observedEventsInput(s, dir)
    observed.write.parquet(s"$b/in")
    s.range(1).select(
      timestamp_micros(lit(observedMaxUs(obs) + SentinelMarginUs)).as("ts"),
      lit("__sentinel__").as("event_type"),
      lit(0.0).as("value"))
      .write.mode("append").parquet(s"$b/in")
  }

  /** q176's crawl-slice stream (`/in` — one documents scan, the duplicate
    * copies ride an explode over a per-row copy count, not a second scan)
    * plus the historical fingerprint table (`/seen` — in production a
    * maintained artifact of yesterday's corpus, here built once per
    * session).
    */
  private def curateInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-curate", dir)(curateBuild(s, dir, _))

  private def curateBuild(s: SparkSession, dir: String, b: String): Unit = {
    Tables.documents(s, dir)
      .filter(col("doc_id") % 10 >= 7)
      .select(
        col("doc_id"),
        col("text"),
        explode(expr("sequence(0, CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)")).as("copy"))
      .select(
        col("doc_id"),
        timestamp_seconds(pmod(col("doc_id"), lit(SpanSec)) + col("copy") * lit(30L)).as("ts"),
        col("text"))
      .write.parquet(s"$b/in")
    Tables.documents(s, dir)
      .filter(col("doc_id") % 10 < 7 || col("doc_id") % 5 === 0)
      .select(CurationStream.fingerprint(col("text")).as("fp"))
      .distinct()
      .write.parquet(s"$b/seen")
  }

  /** q178/q179/q181's shared events projection (`/in`: ts, user_id, exact
    * integer cents) — ONE scan, max(ts) as an observed metric (the q172
    * sentinel treatment). The sentinel (unmatchable user −1) is dated past
    * max + gap + 2 h so the final watermark closes every real session;
    * its own session/key never closes and never emits.
    */
  private def sessInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-sess", dir)(sessBuild(s, dir, _))

  private def sessBuild(s: SparkSession, dir: String, b: String): Unit = {
    val (observed, obs) = observedSessEvents(s, dir)
    observed.write.parquet(s"$b/in")
    s.range(1)
      .select(
        timestamp_micros(lit(observedMaxUs(obs) + SessionGapUs + SentinelMarginUs)).as("ts"),
        lit(-1L).as("user_id"),
        lit(0L).as("cents"))
      .write.mode("append").parquet(s"$b/in")
  }

  /** The session-stream memo-build frame — observed-metric single scan,
    * `private[graft]` for the plan gate (one events scan, one
    * CollectMetrics node, the q172 pattern).
    */
  private[graft] def observedSessEvents(
      s: SparkSession, dir: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = Tables
      .events(s, dir)
      .select(col("ts"), col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .observe(obs, max(unix_micros(col("ts"))).as("max_us"))
    (observed, obs)
  }

  /** q177's two join sides in one partitioned write (`/in/side=L|R`) — ONE
    * events scan with max(ts) as an observed metric (the q172 sentinel
    * treatment); per-side unmatchable sentinels dated past
    * max + delay + within (+2 h margin), so the final watermark
    * (sentinel − delay) clears every real interval.
    */
  private def joinInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-join", dir)(joinBuild(s, dir, _))

  private def joinBuild(s: SparkSession, dir: String, b: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("ts"),
        col("user_id"),
        col("event_id"),
        when(col("event_type") === "click", "L").otherwise("R").as("side"))
      .observe(obs, max(unix_micros(col("ts"))).as("max_us"))
      .write.partitionBy("side").parquet(s"$b/in")
    val sentUs = observedMaxUs(obs) + (JoinDelayDays + 1L) * 86400L * 1000000L + SentinelMarginUs
    s.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(-1L, -1L, "L"), org.apache.spark.sql.Row(-2L, -2L, "R")),
        org.apache.spark.sql.types.StructType.fromDDL("user_id BIGINT, event_id BIGINT, side STRING"))
      .select(timestamp_micros(lit(sentUs)).as("ts"), col("user_id"), col("event_id"), col("side"))
      .write.mode("append").partitionBy("side").parquet(s"$b/in")
  }

  /** q187's two-epoch arrival layout: the on-time slice
    * (`event_id % 10 != 0`, partition `arrival=0`) plus the watermark
    * sentinel, and the held-out slice (`arrival=1`) that the registered
    * query delivers only AFTER the sentinel has pushed the watermark past
    * every real window — by then the stream must DROP every held-out row.
    * ONE events scan: both arrival epochs ride a single
    * `partitionBy("arrival")` write (the joinBuild pattern) with the
    * full-corpus `max(ts)` as an observed metric. Arrival ORDER is not
    * encoded here (file-source listing order is an implementation detail,
    * not a contract): the query hardlinks each epoch's files into a fresh
    * watched directory between two `processAllAvailable()` calls — a real
    * late delivery against a live query, deterministic by construction.
    */
  private def lateInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-late", dir)(lateBuild(s, dir, _))

  private def lateBuild(s: SparkSession, dir: String, b: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    Tables.events(s, dir)
      .select(
        col("ts"),
        col("event_type"),
        col("value"),
        when(col("event_id") % 10 === 0, 1).otherwise(0).as("arrival"))
      .observe(obs, max(unix_micros(col("ts"))).as("max_us"))
      .write.partitionBy("arrival").parquet(s"$b/in")
    s.range(1).select(
      timestamp_micros(lit(observedMaxUs(obs) + SentinelMarginUs)).as("ts"),
      lit("__sentinel__").as("event_type"),
      lit(0.0).as("value"),
      lit(0).as("arrival"))
      .write.mode("append").partitionBy("arrival").parquet(s"$b/in")
  }

  /** The observed-metric unwrap every memo build shares: the `max_us`
    * value from a completed [[org.apache.spark.sql.Observation]], 0 when
    * the corpus was empty (the metric is NULL — the sentinel then anchors
    * at the epoch and only its never-closing window exists).
    */
  private def observedMaxUs(obs: org.apache.spark.sql.Observation): Long =
    obs.get.get("max_us").flatMap(Option(_)) match {
      case Some(l: java.lang.Long) => l.longValue()
      case _                       => 0L
    }

  /** Sentinel dating margin past the observed corpus max — comfortably
    * beyond any window/session close so the final watermark shuts every
    * real window (families with their own horizons add to it, e.g.
    * sessBuild's gap and joinBuild's delay).
    */
  private val SentinelMarginUs = 2L * 3600L * 1000000L

  /** q188's two-epoch INGEST layout: the corpus range-partitioned on `ts`
    * into [[IncrFiles]] files — the first (early) half stays in `/in` as
    * "yesterday's" ingest; the second half moves to `/in2` as "today's".
    * Range partitioning guarantees every `/in2` row is at-or-after every
    * `/in` row, so a 0-second watermark carried across the two
    * AvailableNow runs never drops anything; the future-dated sentinel
    * (`/sent`, its own one-row file) rides with run 2 to close every real
    * window. ONE events scan (the range exchange's internal bounds
    * sampling is Spark shuffle machinery, not a second scan of this plan);
    * max(ts) rides the write as an observed metric (the q172 pattern).
    * The file moves are a bounded driver-side rename of [[IncrFiles]]/2
    * names — file-name order IS partition order IS ts order under a range
    * exchange.
    */
  private def incrInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-incr", dir)(incrBuild(s, dir, _))

  /** Files per epoch ride the range split: enough that an epoch's
    * micro-batch parallelizes at scale, few enough that the rename pass
    * stays trivially bounded.
    */
  private val IncrFiles = 16

  private def incrBuild(s: SparkSession, dir: String, b: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    Tables.events(s, dir)
      .select(col("ts"), col("event_type"), col("value"))
      .repartitionByRange(IncrFiles, col("ts"))
      .observe(obs, max(unix_micros(col("ts"))).as("max_us"))
      .write.parquet(s"$b/in")
    s.range(1).select(
      timestamp_micros(lit(observedMaxUs(obs) + SentinelMarginUs)).as("ts"),
      lit("__sentinel__").as("event_type"),
      lit(0.0).as("value"))
      .write.parquet(s"$b/sent")
    splitEpochs(b)
  }

  /** Move the LATE half of `b/in`'s range-partitioned files to `b/in2` —
    * the ONE definition of the two-epoch split (file-name order IS
    * partition order IS ts order under a range exchange) that incrBuild,
    * scdBuild and funnelBuild share: ScdStore's batch-ordering contract
    * and the 0-second cross-run watermark carry both rest on this exact
    * invariant, so it must not fork.
    */
  private def splitEpochs(b: String): Unit = {
    val in2   = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$b/in2"))
    val parts = listDataFiles(s"$b/in")
    parts.drop((parts.size + 1) / 2).foreach { p =>
      java.nio.file.Files.move(p, in2.resolve(p.getFileName))
    }
    ()
  }

  /** q193's CDC change-feed layout — the incrBuild two-epoch range split
    * over the SCD build's exact input projection (`user_id, ts, event_id,
    * cents`). The range exchange guarantees every `/in2` event is
    * at-or-after every `/in` event, which is [[graft.streaming.ScdStore]]'s
    * batch-ordering contract (and means equal-ts ties never straddle the
    * epoch boundary — equal keys land in one range partition). No sentinel:
    * the apply stream has no watermarked state, its state lives in the
    * store.
    */
  private def scdInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-scd", dir)(scdBuild(s, dir, _))

  private def scdBuild(s: SparkSession, dir: String, b: String): Unit = {
    Tables.events(s, dir)
      .select(
        col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .repartitionByRange(IncrFiles, col("ts"))
      .write.parquet(s"$b/in")
    splitEpochs(b)
  }

  /** q194's funnel stream input: the events projection the funnel needs
    * (`ts, user_id, event_type`), range-partitioned on `ts` into the
    * incrBuild two-epoch layout (`/in` = the early half, `/in2` = the
    * late half — every `/in2` row at-or-after every `/in` row, so a
    * 0-second watermark carried across two AvailableNow runs never drops
    * anything), plus a future-dated watermark sentinel in its own `/sent`
    * file. The sentinel sits `2·step` PAST the corpus max so the final
    * watermark strictly clears every entrant's close deadline
    * (`t1 + 2·step`) — FunnelTracker emits only on watermark proof.
    */
  private def funnelInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-funnel2", dir)(funnelBuild(s, dir, _))

  private def funnelBuild(s: SparkSession, dir: String, b: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .repartitionByRange(IncrFiles, col("ts"))
      .observe(obs, max(unix_micros(col("ts"))).as("max_us"))
      .write.parquet(s"$b/in")
    s.range(1)
      .select(
        timestamp_micros(lit(
          observedMaxUs(obs) + 2L * EventQueries.FunnelStepUs + SentinelMarginUs)).as("ts"),
        lit(-1L).as("user_id"),
        lit("__sentinel__").as("event_type"))
      .write.parquet(s"$b/sent")
    splitEpochs(b)
  }

  /** q198's as-of join input: quotes (views, carrying cents) and trades
    * (purchases) as ONE union-tagged projection (`ts, user_id, side,
    * event_id, cents`), range-partitioned on `ts` into the incrBuild
    * two-epoch layout, plus TWO future-dated watermark sentinels: `/sent`
    * (max + margin — the BACKWARD runs q198/q200 need only wm strictly
    * past the last trade) and `/sentf` (max + tolerance + margin — the
    * FORWARD run q201 must prove every trade's look-AHEAD window closed).
    * Non-participating event types are dropped at the BUILD — before the
    * stream's key shuffle ever sees them.
    */
  private def asofInput(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-asof", dir)(asofBuild(s, dir, _))

  private def asofBuild(s: SparkSession, dir: String, b: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(
        col("ts"),
        col("user_id"),
        when(col("event_type") === "view", "q").otherwise("t").as("side"),
        col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .repartitionByRange(IncrFiles, col("ts"))
      .observe(obs, max(unix_micros(col("ts"))).as("max_us"))
      .write.parquet(s"$b/in")
    val maxUs = observedMaxUs(obs)
    for ((sub, sentUs) <- Seq(
        "sent"  -> (maxUs + SentinelMarginUs),
        "sentf" -> (maxUs + AsofToleranceHours * 3600L * 1000000L + SentinelMarginUs))) {
      s.range(1)
        .select(
          timestamp_micros(lit(sentUs)).as("ts"),
          lit(-1L).as("user_id"),
          lit("__sentinel__").as("side"),
          lit(-1L).as("event_id"),
          lit(0L).as("cents"))
        .write.parquet(s"$b/$sub")
    }
    splitEpochs(b)
  }

  /** The non-hidden data files under a stream-input root, name-sorted —
    * `graft.sources.DataFiles.list`, the ONE definition the trigger sizing
    * (q186/q182), the epoch move (incrBuild/scdBuild), the arrival
    * delivery (linkDataFiles) and the changelog stores' compaction all
    * share. Empty when `root` is absent (an empty corpus writes no
    * `arrival=1` partition).
    */
  private def listDataFiles(root: String): Seq[java.nio.file.Path] =
    graft.sources.DataFiles.list(root)

  /** Hardlink every data file under `src` into `dst` under a
    * `prefix`-tagged name — the arrival-epoch delivery (q187/q188): making
    * a file visible to a running file-source query without copying a byte
    * (links fall back to a copy only on filesystems that refuse them).
    * A no-op when `src` is absent.
    */
  private def linkDataFiles(src: String, dst: String, prefix: String): Unit =
    listDataFiles(src).foreach { f =>
      val t = java.nio.file.Paths.get(dst, s"$prefix-${f.getFileName}")
      try java.nio.file.Files.createLink(t, f)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(f, t); ()
      }
    }

  /** Pre-materialize every streaming family's session-memoized input for
    * `dir` — the Bench steady-state protocol's `stream` family: without
    * this, a single-rep deep-scale probe folds the one-time input copy
    * into the first streaming row it times.
    */
  def prebuildMemos(s: SparkSession, dir: String): Unit = {
    driftInput(s, dir)
    driftBaseline(s, dir)
    lenBaseline(s, dir)
    psiBaseline(s, dir)
    eventwinInput(s, dir)
    paymentsMemo(s, dir)
    curateInput(s, dir)
    joinInput(s, dir)
    sessInput(s, dir)
    lateInput(s, dir)
    incrInput(s, dir)
    scdInput(s, dir)
    funnelInput(s, dir)
    asofInput(s, dir)
    ()
  }

  /** Every stream-input build against a FRESH root, un-memoized — the
    * ScaleBuilds growth-timing surface. The work is IDENTICAL to what
    * [[prebuildMemos]] memoizes (same build functions), so the timed
    * number is exactly the one-time cost a session pays.
    */
  private[graft] def buildInputsAt(s: SparkSession, dir: String, root: String): Unit = {
    driftInputBuild(s, dir, s"$root/drift")
    driftBaselineBuild(s, dir, s"$root/bl")
    eventwinBuild(s, dir, s"$root/eventwin")
    paymentsBuild(s, dir, s"$root/pay")
    curateBuild(s, dir, s"$root/curate")
    joinBuild(s, dir, s"$root/join")
    sessBuild(s, dir, s"$root/sess")
    lateBuild(s, dir, s"$root/late")
    incrBuild(s, dir, s"$root/incr")
    scdBuild(s, dir, s"$root/scd")
    funnelBuild(s, dir, s"$root/funnel")
    asofBuild(s, dir, s"$root/asof")
  }

  /** q172's memo-build frame: the events projection with `max(ts)` attached
    * as an OBSERVED metric, so the sentinel-dating pass and the data write
    * are the same single scan (plan-gated in PlanQualitySpec: one
    * events.parquet scan, one CollectMetrics node). `private[graft]` so the
    * gate reads the exact frame the build writes.
    */
  private[graft] def observedEventsInput(
      s: SparkSession, dir: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = Tables
      .events(s, dir)
      .select(col("ts"), col("event_type"), col("value"))
      .observe(obs, max(unix_micros(col("ts"))).as("max_us"))
    (observed, obs)
  }

  /** The shared documents-as-a-stream input (ts synthesized from doc_id,
    * plus the watermark sentinel) — q171 and q173 stream from the SAME
    * session-memoized copy ([[runBoundedStream]]'s `drift` tag).
    */
  private def docsStreamInput(s: SparkSession, dir: String): DataFrame =
    Tables
      .documents(s, dir)
      .select(
        timestamp_seconds(pmod(col("doc_id"), lit(SpanSec))).as("ts"),
        col("source"),
        col("lang"), // q213's category column; the sentinel's window never closes
        col("text"))
      .unionByName(s.range(1).select(
        timestamp_seconds(lit(100000L)).as("ts"),
        lit("__sentinel__").as("source"),
        lit("xx").as("lang"),
        lit("x").as("text")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q158's INGEST-TIME twin, executed as a real stream: per finalized
    // (event-time window, source), the smoothed KL divergence of the
    // window's hashed-token distribution against the static whole-corpus
    // baseline — the vocabulary-drift alarm delivered per micro-batch by
    // CurationStream.vocabDrift's foreachBatch sink. The oracle recomputes
    // every closed window's KL from the documents table with the identical
    // 2^20-quantized-log integer treatment.
    "q171_vocab_drift_stream" -> ((s, dir) => {
      val baseline = s.read.parquet(s"${driftBaseline(s, dir)}/bl")
      val in       = s"${driftInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "drift") { (ckpt, sink) =>
        CurationStream.vocabDrift(
          streamFrom(s, in),
          baseline,
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("source"))
    }),

    // q210's INGEST-TIME twin, executed as a real stream (and q171's
    // sibling — KL watches the vocabulary, this watches the SHAPE): per
    // finalized (event-time window, source), the two-sample KS distance of
    // the window's document-length distribution against the static
    // whole-corpus ECDF baseline, on the same 2^20 integer grid. Streaming
    // state per (window, source) is the distinct-length histogram —
    // domain-bounded — and the per-batch KS reduction runs on closed
    // windows only (bounded batch work, the q173 rule). The oracle
    // recomputes every closed window's KS from the documents table with
    // the identical integer quantization.
    "q211_ks_drift_stream" -> ((s, dir) => {
      val baseline = s.read.parquet(s"${lenBaseline(s, dir)}/bl")
      val in       = s"${driftInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "drift") { (ckpt, sink) =>
        CurationStream.lengthDrift(
          streamFrom(s, in),
          baseline,
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("source"))
    }),

    // The CATEGORICAL axis of the live distribution-monitor family (q171
    // vocabulary KL, q211 numeric-shape KS — this one the category MIX):
    // per finalized (event-time window, source), the Population Stability
    // Index of the window's lang distribution against the static corpus
    // baseline, q212's quantize-first integer treatment delivered per
    // micro-batch by CurationStream.langDrift's foreachBatch sink.
    // Streaming state per (window, source) is the per-category histogram —
    // bounded by the lang domain, never by doc count. The oracle
    // recomputes every closed window's PSI from the documents table with
    // the identical grid arithmetic.
    "q213_psi_drift_stream" -> ((s, dir) => {
      val baseline = s.read.parquet(s"${psiBaseline(s, dir)}/bl")
      val in       = s"${driftInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "psidrift") { (ckpt, sink) =>
        CurationStream.langDrift(
          streamFrom(s, in),
          baseline,
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("source"))
    }),

    // q209's STREAMING twin (the q210↔q211 pairing applied to the
    // quantile family): per finalized (event-time window, source), the
    // EXACT p50/p90/p99 of the window's document-length distribution —
    // q209's integer quantile rule over the same per-window
    // distinct-length histogram state q211 maintains, so a production
    // monitor gets percentiles alongside KS for zero extra state. The
    // oracle recomputes every closed window's quantiles from the
    // documents table with the identical 100·c ≥ p·n integer test.
    "q214_quantiles_stream" -> ((s, dir) => {
      val in = s"${driftInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "lenquant") { (ckpt, sink) =>
        CurationStream.lengthQuantiles(
          streamFrom(s, in),
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("source"))
    }),

    // THE UNIFIED MULTI-METRIC MONITOR — q211 (KS) + q214 (quantiles) +
    // q213 (PSI) as ONE stateful query (the production deployment shape:
    // three singles would scan the feed three times and keep the length
    // histogram twice): each doc contributes a (len, length) and a
    // (cat, lang) row to a single watermarked windowed aggregate — one
    // stateful operator, state per (window, source) = length histogram ∪
    // category histogram — and on window close the three domain-bounded
    // reductions run off the SAME closed summaries into one wide alarm
    // row. The oracle is the three singles' oracle chains joined per
    // (window, source); CurationStreamSpec gates the single-pass claim on
    // the runtime stateOperators count and exact state-row totals.
    "q216_multi_drift_stream" -> ((s, dir) => {
      val lenBl = s.read.parquet(s"${lenBaseline(s, dir)}/bl")
      val catBl = s.read.parquet(s"${psiBaseline(s, dir)}/bl")
      val in    = s"${driftInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "multidrift") { (ckpt, sink) =>
        CurationStream.multiDrift(
          streamFrom(s, in),
          lenBl,
          catBl,
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("source"))
    }),

    // THE COMPLETE DRIFT MONITOR — q216 with the VOCABULARY axis joined
    // in: all four drift axes (q171 KL, q211 KS, q214 quantiles, q213
    // PSI) from ONE stateful pass. The voc axis fans out per token inside
    // the same explode (before the one key shuffle, exactly like q171's
    // own explode), so state per (window, source) = distinct lengths ∪
    // langs ∪ ≤256 vocab cells — every axis domain-bounded. The oracle is
    // the four singles' chains joined per (window, source).
    "q217_full_drift_stream" -> ((s, dir) => {
      val vocBl = s.read.parquet(s"${driftBaseline(s, dir)}/bl")
      val lenBl = s.read.parquet(s"${lenBaseline(s, dir)}/bl")
      val catBl = s.read.parquet(s"${psiBaseline(s, dir)}/bl")
      val in    = s"${driftInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "fulldrift") { (ckpt, sink) =>
        CurationStream.fullDrift(
          streamFrom(s, in),
          vocBl,
          lenBl,
          catBl,
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("source"))
    }),

    // THE LIVE ASSOCIATION MONITOR — q215's streaming sibling (the
    // q212↔q213 pairing applied to the MI family, closing the last
    // un-paired distribution row): per finalized event-time window, the
    // plug-in MI of the window's three categorical axis pairs, q215's
    // exact quantize-first integer treatment per micro-batch on closed
    // windows. State per window = the three joint histograms — bounded by
    // the category domains, never doc count. The oracle recomputes every
    // closed window's MI from the documents table with the identical grid
    // arithmetic (size bucket from length(text) on BOTH sides).
    "q218_mi_stream" -> ((s, dir) => {
      val in = s"${driftInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "midrift") { (ckpt, sink) =>
        CurationStream.miDrift(
          streamFrom(s, in),
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("pair"))
    }),

    // THE GRAND MONITOR — all FIVE drift axes (q171 KL, q211 KS, q214
    // quantiles, q213 PSI, q218 MI) as ONE stateful query (r16 verdict
    // directive #4). The per-source axes keep q217's key (window, source,
    // axis, value); the MI pairs ride the SAME windowed aggregate keyed
    // (window, NULL, "mi:<pair>", x, y) — src NULL so sibling sources
    // share one joint histogram, exactly the state q218 keeps. One
    // long-format alarm frame: kind='source' rows carry q217's wide
    // columns, kind='pair' rows carry q218's (n_cells, mi); the oracle is
    // the q217 chain ∪ the q218 chain, so a hash match proves the
    // one-pass monitor emits exactly what the two cousins emit.
    "q219_all_drift_stream" -> ((s, dir) => {
      val vocBl = s.read.parquet(s"${driftBaseline(s, dir)}/bl")
      val lenBl = s.read.parquet(s"${lenBaseline(s, dir)}/bl")
      val catBl = s.read.parquet(s"${psiBaseline(s, dir)}/bl")
      val in    = s"${driftInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "alldrift") { (ckpt, sink) =>
        CurationStream.allDrift(
          streamFrom(s, in),
          vocBl,
          lenBl,
          catBl,
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("kind"), col("series"))
    }),

    // q27's windowed event aggregate executed as a real stream over the
    // REAL events.ts: hourly tumbling windows per event_type, counts plus
    // an EXACT integer-cents value sum (the q141 rounding pattern — one
    // round-to-cents per row, order-independent BIGINT sum, one display
    // division), emitted append-mode when the watermark closes each
    // window. Proves the second stateful streaming path — the
    // EventStreams.windowedStats shape — byte-for-byte against a DuckDB
    // oracle, with real (non-synthesized) event time.
    "q172_event_windows_stream" -> ((s, dir) => {
      val in = s"${eventwinInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "eventwin") { (ckpt, sink) =>
        eventWindowCents(streamFrom(s, in).withWatermark("ts", "0 seconds")).writeStream
          .outputMode("append") // each (window, event_type) emits once, on close
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) => sink(batch); () }
          .start()
      }).select(
        col("window_start"),
        col("event_type"),
        col("n"),
        round(col("cents") / 100.0, 2).as("total"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // The streaming LEADERBOARD path (EventStreams.trendingTerms) with its
    // bytes on the board: windowed token counts in append mode, then the
    // top-k RANKING inside foreachBatch — window functions are illegal on
    // unbounded streams, but a closed window is a bounded batch, so the
    // rank runs as ordinary batch work on finalized rows (and a window's
    // rows always close together, so every window is ranked whole). Third
    // distinct streaming composition proven byte-for-byte: stateful agg →
    // per-batch post-processing → sink. Streams the SAME memoized corpus
    // copy as q171.
    "q173_trending_terms_stream" -> ((s, dir) =>
      withStatePartitions(s)(runSinked(s, "drift") { (ckpt, sink) =>
        graft.streaming.EventStreams.trendingTerms(
          streamFrom(s, s"${driftInput(s, dir)}/in"),
          windowLength = s"$WindowSec seconds",
          watermark = "0 seconds",
          k = TrendK,
          checkpointDir = ckpt
        )(sink)
      }).orderBy(col("window_start"), col("rank"))),

    // THE REFERENCE'S FLAGSHIP TOPOLOGY under the streaming byte gate
    // (reference `PaymentTopology.java:39-98`): rails filter → currency
    // branch → FX → merge → balance aggregation (per-batch sums folded into
    // running balances by the BalanceStore), executed by
    // `PaymentPipeline.start` itself as real StreamingQueries over a
    // multi-batch file source (`maxFilesPerTrigger=1` → one micro-batch per
    // input file, so the changelog genuinely re-emits updated keys across
    // batches — the KTable changelog contract). The registered result is
    // the balance SNAPSHOT of a BalanceStore recovered from the parquet
    // changelog after the stream stops (the changelog read once and folded
    // in batch order, last row per key winning), so a wrong update
    // emission in ANY batch breaks the hash. Amounts are the
    // reference model's LONGs (integer cents), making the streamed state
    // exact integer arithmetic — batch-boundary-independent by
    // construction. q174 and q175 run `start` under the session's own
    // settings, as a user's call does.
    "q174_payment_topology_stream" -> ((s, dir) => {
      val in  = paymentsMemo(s, dir)
      val tmp = freshTmp("pay")
      val stream = s.readStream
        .schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val rt = graft.streaming.PaymentPipeline.start(stream, s"$tmp/ckpt", s"$tmp/sink")
      try rt.processAllAvailable()
      finally rt.stop()
      val store = new graft.streaming.PaymentPipeline.BalanceStore(s, s"$tmp/sink/_balance_state")
      s.createDataFrame(store.snapshot.toSeq)
        .toDF("from_account", "balance_cents")
        .orderBy(col("from_account"))
    }),

    // The topology's DUAL-RAILS SINK ROUTING byte-gated through
    // `PaymentPipeline.start`'s routing query (both outbound "topics" in
    // one tagged partitioned file-sink write, `PaymentTopology.java:90-97`).
    // The registered result summarizes the routed sink partitions per
    // topic; a record routed to the wrong rails, dropped, or duplicated
    // breaks count and total.
    "q175_payment_sinks_stream" -> ((s, dir) => {
      val in  = paymentsMemo(s, dir)
      val tmp = freshTmp("paysink")
      val stream = s.readStream
        .schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(in)
      val rt = graft.streaming.PaymentPipeline.start(stream, s"$tmp/ckpt", s"$tmp/sink")
      try rt.processAllAvailable()
      finally rt.stop()
      s.read.parquet(s"$tmp/sink")
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"), round(sum(col("amount")) / 100.0, 2).as("total"))
        .orderBy(col("topic"))
    }),

    // STREAMING DEDUP STATE under the byte gate — the fourth stateful
    // composition class (q171-q173 are window aggregates; this is
    // `dropDuplicatesWithinWatermark` first-wins keyed state): the
    // nightly-crawl ingest shape `CurationStream.curateIncremental` run as
    // a real stream. Today's crawl slice (doc_id % 10 >= 7) streams in with
    // INJECTED within-run duplicates (every doc_id % 3 == 0 document
    // arrives twice, 30 s apart) and a `seen` table that already contains
    // part of the shard (doc_id % 5 == 0) plus the historical corpus — so
    // BOTH drop paths (the stream-static anti join and the watermarked
    // within-stream dedup) must fire or the sink's fingerprint multiset
    // breaks the hash. Output = the surviving content fingerprints (the
    // deterministic projection: which ROW wins a duplicate race is
    // arbitrary, which FINGERPRINT survives is not). The watermark horizon
    // (1 h) exceeds the synthesized event-time span, so nothing is late
    // and the run dedups globally; emission is immediate (a dedup is a
    // stateful filter, not a window), so no sentinel is needed.
    "q176_curation_dedup_stream" -> ((s, dir) => {
      val root = curateInput(s, dir)
      withStatePartitions(s)(runSinked(s, "curate") { (ckpt, sink) =>
        CurationStream
          .curateIncremental(
            streamFrom(s, s"$root/in"),
            s.read.parquet(s"$root/seen"),
            java.time.Duration.ofHours(1),
            minQuality = 0.5)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            sink(batch.select(CurationStream.fingerprint(col("text")).as("fp")))
            ()
          }
          .start()
      }).select(col("fp")).orderBy(col("fp"))
    }),

    // STREAM-STREAM JOIN BUFFER under the byte gate — the fifth stateful
    // class (q171-q173 window aggregates, q174 update aggregate, q176
    // dedup keys; this is the two-sided interval-join buffer): clicks ⟕
    // purchases per user within [[JoinWithinSec]], run as a REAL
    // two-source streaming left-outer join (`StreamJoins
    // .intervalJoinLeftOuter`) and hashed against the batch interval-join
    // oracle. Both emission paths carry bytes: matches emit eagerly as
    // both sides arrive; null-padded rows emit ONLY once the watermark
    // proves no match can still come (the delayed-emission contract
    // StreamJoinsSpec pins) — a per-side future sentinel (unmatchable
    // user_ids −1/−2, two ids so the sentinels cannot match EACH OTHER)
    // advances both sources' watermarks past every real click's interval,
    // and its own interval never closes, so it never emits.
    //
    // The 32-day watermark exceeds the corpus's whole event-time span —
    // the bounded-replay stance: NO row is ever late regardless of how the
    // file source batches, so the stream equals the batch join exactly. A
    // production deployment tunes the delay to its real lateness bound and
    // the buffered state shrinks to the delay window; state here is the
    // corpus slice by construction, not by design.
    "q177_stream_join_outer" -> ((s, dir) => {
      val root = joinInput(s, dir)
      val sinkDf = withStatePartitions(s)(runSinked(s, "join") { (ckpt, sink) =>
        val left  = streamFrom(s, s"$root/in/side=L").withColumnRenamed("event_id", "l_event_id")
        val right = streamFrom(s, s"$root/in/side=R").withColumnRenamed("event_id", "r_event_id")
        graft.streaming.StreamJoins
          .intervalJoinLeftOuter(left, right, "user_id", JoinWithinSec, s"$JoinDelayDays days")
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) => sink(batch); () }
          .start()
      })
      sinkDf.select(
        col("l_event_id"),
        col("ts"),
        coalesce(col("r_event_id"), lit(-1L)).as("r_event_id"),
        coalesce(col("r_ts"), timestamp_seconds(lit(0))).as("r_ts"))
        .orderBy(col("l_event_id"), col("r_event_id"))
    }),

    // SESSION WINDOWS under the byte gate — the sixth stateful class:
    // MERGING-window state (q171-q173's tumbling windows have fixed
    // boundaries; a session's bounds move and sessions coalesce as events
    // arrive). Native `session_window` per user over real events.ts with
    // the exact integer-cents sum; a session closes (append emission) when
    // the watermark passes last-event + gap. Merge rule pinned empirically
    // and in SessionizerSpec: an event at exactly `last + gap` EXTENDS the
    // session (boundary inclusive), so the oracle's gaps-and-islands split
    // is strict (`delta > gap` starts a new session); close = last + gap.
    "q178_session_window_stream" -> ((s, dir) => {
      val in = s"${sessInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "sess") { (ckpt, sink) =>
        graft.streaming.EventStreams
          .sessionCents(streamFrom(s, in), SessionGapMin, watermark = Some("0 seconds"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) => sink(batch); () }
          .start()
      }).orderBy(col("user_id"), col("session_start"))
    }),

    // The SAME session semantics through the CUSTOM-KEYED-STATE machinery —
    // `flatMapGroupsWithState` + event-time TIMERS (Sessionizer: open-
    // session-set state, interval merge, timeout-driven close), hashed
    // against the identical oracle as q178. The two rows are a cross-proof:
    // the native merging-window operator and the hand-built GroupState
    // re-expression must land byte-identical sessions or one of them is
    // wrong. This is the one state class q171-q177 never byte-gated —
    // arbitrary user state with timeout emission (StatefulBalances'
    // machinery, previously spec-only in streaming).
    "q179_custom_session_stream" -> ((s, dir) => {
      import s.implicits._
      val in = s"${sessInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "csess") { (ckpt, sink) =>
        val evs = streamFrom(s, in)
          .select(col("ts"), unix_micros(col("ts")).as("us"), col("user_id"), col("cents"))
          .as[graft.streaming.Sessionizer.SessionEvent]
        graft.streaming.Sessionizer
          .sessions(evs, java.time.Duration.ofMinutes(SessionGapMin))
          .toDF()
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) => sink(batch); () }
          .start()
      }).select(
        col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"),
        col("cents"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // CHAINED STATEFUL OPERATORS under the byte gate — two watermarked
    // window aggregates in ONE StreamingQuery (5-minute buckets → hourly
    // rollup via `window_time`, the multi-stateful-operator capability):
    // the downstream aggregate's input is the upstream's CLOSED windows,
    // so a 5-minute bucket finalized in micro-batch N becomes an hourly
    // contribution in the SAME query, and the hourly row emits when the
    // watermark passes the hour. Streams the q172 memoized events copy;
    // the sentinel's own 5-minute bucket never closes, so it never reaches
    // level two.
    "q180_chained_windows_stream" -> ((s, dir) => {
      val in = s"${eventwinInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "chain") { (ckpt, sink) =>
        chainedWindows(streamFrom(s, in).withWatermark("ts", "0 seconds")).writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) => sink(batch); () }
          .start()
      }).orderBy(col("window_start"), col("event_type"))
    }),

    // THE CUSTOM PLAN NODE UNDER THE STREAMING BYTE GATE — the as-of merge
    // node (`plans/AsofJoin`: LogicalPlan + SparkStrategy + single-pass
    // merge BinaryExecNode) executed PER MICRO-BATCH through
    // `StreamJoins.asofEnrich`: every click picks up the user's latest
    // purchase at-or-before its event time (backward as-of, greatest-tie)
    // from the static side. Stateless by design — no watermark, no
    // cross-batch state, late rows enrich whenever they arrive — so the
    // multi-batch split (file-count-bounded trigger) exercises the per-batch
    // re-planning of the custom node without any ordering hazard. The sink
    // is the IDEMPOTENT per-batch-id overwrite recipe (a replayed batch
    // rewrites its own partition, never double-appends). Streams the q177
    // memoized click side; the unmatchable sentinels are filtered at the
    // source (no watermark exists to retire them).
    "q182_stream_asof_enrich" -> ((s, dir) => {
      val root = joinInput(s, dir)
      val tmp  = freshTmp("asofe")
      // multi-batch split sized off the FILE COUNT (≥2 batches always, the
      // q186 treatment): the per-micro-batch re-plan of the custom node
      // costs one static-side pass per batch, so one-file triggers would
      // multiply that pass by the corpus's file count (measured: 14.4 s at
      // 10×'s 32 files vs 1.5 s with the bounded split, same bytes)
      val perTrigger = math.max(1, (listDataFiles(s"$root/in/side=L").size + 1) / 2)
      withStatePartitions(s) {
        val stream = s.readStream
          .schema(s.read.parquet(s"$root/in/side=L").schema)
          .option("maxFilesPerTrigger", perTrigger.toString)
          .parquet(s"$root/in/side=L")
          .filter(col("user_id") >= 0)
          .withColumnRenamed("event_id", "click_id")
        def static = s.read.parquet(s"$root/in/side=R")
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_event_id"))
        val q = graft.streaming.StreamJoins.asofEnrich(
          stream, static,
          streamKey = "user_id", streamTime = "ts",
          staticKey = "user_id", staticTime = "p_ts", staticTie = "p_event_id",
          sink = s"$tmp/sink", checkpoint = s"$tmp/ckpt")
        try q.processAllAvailable()
        finally q.stop()
      }
      s.read.parquet(s"$tmp/sink")
        .select(
          col("click_id"),
          col("ts"),
          col("user_id"),
          coalesce(col("p_event_id"), lit(-1L)).as("p_event_id"),
          coalesce(col("p_ts"), timestamp_seconds(lit(0))).as("p_ts"))
        .orderBy(col("click_id"))
    }),

    // SLIDING WINDOWS under the byte gate — completes the window-kind
    // coverage (tumbling q172, session q178, sliding here): each event
    // lands in length/slide = 2 overlapping windows, every copy's window
    // closes independently on the watermark. Streams the q172 memoized
    // events copy; the sentinel's TWO windows both end after the final
    // watermark, so neither closes.
    "q183_sliding_windows_stream" -> ((s, dir) => {
      val in = s"${eventwinInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "slide") { (ckpt, sink) =>
        graft.streaming.EventStreams
          .slidingStats(
            streamFrom(s, in).withWatermark("ts", "0 seconds"),
            windowLength = "1 hour",
            slide = "30 minutes")
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) => sink(batch); () }
          .start()
      }).orderBy(col("window_start"), col("event_type"))
    }),

    // The STATE API v2 path (`transformWithState` + RocksDB provider +
    // per-key TIMERS) under the byte gate: StateV2Balances' TTL'd
    // update-mode running sums over per-user cents, changelog appended
    // with the batch id, snapshot = latest committed emission per key (the
    // last-wins rule of q174's BalanceStore recovery, as a window over the
    // log). The TTL (60 d) exceeds
    // the corpus event-time span, so no eviction can reset a key mid-run —
    // the snapshot must equal the grouped sum exactly. v1/v2 timer parity
    // is spec-proven (StateV2BalancesSpec mirrors StatefulBalancesSpec);
    // this row proves the v2 runtime's BYTES.
    "q181_state_v2_stream" -> ((s, dir) => {
      import s.implicits._
      val in = s"${sessInput(s, dir)}/in"
      val log =
        withRocksDb(s)(withStatePartitions(s)(runSinked(s, "twsbal") { (ckpt, sink) =>
          val timed = streamFrom(s, in)
            .filter(col("user_id") >= 0) // the watermark sentinel is not a payer
            .select(
              col("ts"),
              struct(
                lit("").as("paymentId"),
                col("cents").as("amount"),
                lit("GBP").as("currency"),
                lit("SINK").as("toAccount"),
                col("user_id").cast("string").as("fromAccount"),
                lit("BANK_RAILS_FOO").as("rails")).as("payment"))
            .as[graft.streaming.StatefulBalances.TimedPayment]
          graft.streaming.StateV2Balances
            .runningBalancesTtl(timed, java.time.Duration.ofDays(60))
            .toDF()
            .writeStream
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch { (batch: DataFrame, bid: Long) =>
              sink(batch.withColumn("batch_id", lit(bid)))
              ()
            }
            .start()
        }))
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fromAccount"))
        .orderBy(col("batch_id").desc)
      log
        .withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1)
        .select(col("fromAccount").as("from_account"), col("balance").as("balance_cents"))
        .orderBy(col("from_account"))
    }),

    // COMPLETE OUTPUT MODE under the byte gate — the last of the three
    // streaming output modes without a bytes proof (append: q171-q183,
    // update: q174/q181): per-event-type running totals re-emitted WHOLE
    // every micro-batch. `maxFilesPerTrigger` = HALF the input file count
    // forces a multi-batch run (≥2 batches at every corpus size: the data
    // write plus the appended sentinel file guarantee ≥2 files) while
    // keeping the BATCH COUNT fixed as the corpus grows — a
    // one-file-per-trigger run would pay the complete-mode re-emission
    // once per input file, turning file count into wall time (measured:
    // 17.3 s at 10×'s 33 files vs 1.4 s bounded). The sink log holds one full
    // table per batch; the registered result is the FINAL batch's complete
    // emission, selected declaratively (broadcast one-row max-batch-id
    // join — no driver-side action), which must equal the batch grouped
    // aggregate exactly. Complete mode keeps EVERY group in state forever —
    // correct only because event_type is low-cardinality; that
    // bounded-dashboard stance is the documented production contract (a
    // high-cardinality key must use update/append). Cross-batch
    // re-emission semantics (batch k's table = the aggregate of files
    // 0..k) are pinned in StreamQueriesSpec on a deterministic two-file
    // input.
    "q186_complete_mode_stream" -> ((s, dir) => {
      val in = s"${eventwinInput(s, dir)}/in"
      val perTrigger = math.max(1, (listDataFiles(in).size + 1) / 2)
      val log = withStatePartitions(s)(runSinked(s, "complete") { (ckpt, sink) =>
        s.readStream
          .schema(s.read.parquet(in).schema)
          .option("maxFilesPerTrigger", perTrigger.toString)
          .parquet(in)
          .filter(col("event_type") =!= "__sentinel__") // no watermark exists to retire it
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
          .writeStream
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            sink(batch.withColumn("batch_id", lit(bid)))
            ()
          }
          .start()
      })
      val lastBid = log.select(max(col("batch_id")).as("mb"))
      log
        .join(broadcast(lastBid), col("batch_id") === col("mb"))
        .select(
          col("event_type"),
          col("n"),
          round(col("cents") / 100.0, 2).as("total"))
        .orderBy(col("event_type"))
    }),

    // LATE-DATA DROP under the byte gate — every row q171-q186 ever hashed
    // was on time; this row proves the watermark DISCARDS. Two arrival
    // epochs against ONE live query: epoch 1 hardlinks the on-time slice
    // (event_id % 10 != 0) plus the future-dated sentinel into the watched
    // directory and drains it — the sentinel pushes the watermark past
    // every real window, so append mode closes and emits them all; epoch 2
    // then delivers the held-out slice (event_id % 10 == 0) and drains
    // again — every row is now behind the watermark and the stream must
    // silently drop it (no state update, no emission). The oracle is the
    // batch hourly aggregate over the on-time slice ALONE, so a single
    // undropped late row breaks count and cents. Delivery order is by
    // construction (files appear between the two processAllAvailable
    // calls), not by file-listing order — no reliance on source internals.
    // Together with q172 (same transform, nothing late) this pins both
    // sides of the watermark contract.
    "q187_late_data_drop_stream" -> ((s, dir) => {
      val root  = lateInput(s, dir)
      val tmp   = freshTmp("late")
      val watch = s"$tmp/watch"
      val outP  = s"$tmp/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
      linkDataFiles(s"$root/in/arrival=0", watch, "ontime")
      withStatePartitions(s) {
        val q = eventWindowCents(
          s.readStream
            .schema(s.read.parquet(s"$root/in/arrival=0").schema)
            .parquet(watch)
            .withWatermark("ts", "0 seconds"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(outP)
            ()
          }
          .start()
        try {
          q.processAllAvailable() // epoch 1: on-time + sentinel → all real windows emit
          linkDataFiles(s"$root/in/arrival=1", watch, "late")
          q.processAllAvailable() // epoch 2: held-out rows are late → dropped
        } finally q.stop()
      }
      s.read.parquet(outP)
        .select(
          col("window_start"),
          col("event_type"),
          col("n"),
          round(col("cents") / 100.0, 2).as("total"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // TRIGGER.AVAILABLENOW INCREMENTAL INGEST under the byte gate — the
    // nightly production pattern (BackfillSpec's subject, previously
    // spec-only): TWO planned runs of the SAME query against ONE
    // checkpoint, each `Trigger.AvailableNow()` so the query processes
    // what has landed and TERMINATES ITSELF (awaitTermination returns
    // without a stop signal). Run 1 ingests the early half of the corpus
    // ([[incrInput]]'s range-split epochs) and emits every window fully
    // before its watermark; run 2 picks up only the files landed since —
    // the checkpoint's source log, not any dedup logic, guarantees that —
    // restores the windows still open at run 1's end, and closes
    // everything via the sentinel. A window STRADDLING the epoch boundary
    // emits once, in run 2, with contributions from BOTH runs — so the
    // full-corpus oracle breaks if cross-run state restore, the carried
    // watermark, or the source's file log is wrong. Same transform and
    // oracle as q172: the proof here is the two-run execution shape.
    "q188_available_now_incremental" -> ((s, dir) => {
      val root  = incrInput(s, dir)
      val tmp   = freshTmp("incr")
      val watch = s"$tmp/watch"
      val outP  = s"$tmp/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
      def drain(): Unit = {
        val q = eventWindowCents(
          s.readStream
            .schema(s.read.parquet(s"$root/sent").schema) // sent always has a file
            .parquet(watch)
            .withWatermark("ts", "0 seconds"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(outP)
            ()
          }
          .start()
        try q.awaitTermination() // AvailableNow stops the query itself
        finally q.stop()
      }
      withStatePartitions(s) {
        linkDataFiles(s"$root/in", watch, "run1")
        drain() // run 1: early epoch → pre-boundary windows emit
        linkDataFiles(s"$root/in2", watch, "run2")
        linkDataFiles(s"$root/sent", watch, "sent")
        drain() // run 2: late epoch + sentinel → open + remaining windows emit
      }
      s.read.parquet(outP)
        .select(
          col("window_start"),
          col("event_type"),
          col("n"),
          round(col("cents") / 100.0, 2).as("total"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // STREAMING CARDINALITY SKETCH under the byte gate — chained stateful
    // aggregates carrying HLL REGISTER state: level 1 closes the (hourly
    // window, bucket) max-rho cells, level 2 folds each window's closed
    // cells into the exact-integer harmonic denominator and the q126
    // portable estimate (see [[windowedHll]]). This is the production
    // per-window distinct-user monitor at 100 TB: state is ≤ 64 cells per
    // open window regardless of corpus size — the sketch, not a distinct
    // set, absorbs duplicates — and the estimate is bit-portable, so even
    // the float lands hash-identical in DuckDB. Streams the q178 memoized
    // events projection; the sentinel's cell never closes and never
    // reaches level two.
    "q189_windowed_hll_stream" -> ((s, dir) => {
      val in = s"${sessInput(s, dir)}/in"
      withStatePartitions(s)(runSinked(s, "whll") { (ckpt, sink) =>
        windowedHll(streamFrom(s, in).withWatermark("ts", "0 seconds")).writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) => sink(batch); () }
          .start()
      }).orderBy(col("window_start"))
    }),

    // INCREMENTAL SCD-2 APPLY under the byte gate — the MERGE/CDC-upsert
    // consumer of q192's one-shot build: TWO Trigger.AvailableNow runs
    // over ONE checkpoint (q188's execution shape), each foreachBatch an
    // ScdStore.merge that closes the affected OPEN versions and appends
    // the batch's new ones on the parquet changelog (the hand-built Delta
    // MERGE; the reference's KTable is this store with an unversioned
    // value). The store snapshot after run 2 must hash-equal the one-shot
    // q192 oracle — a user whose history STRADDLES the epoch boundary
    // only lands right if run 2 seeded from run 1's open version (carried
    // cents for the no-op dedup, carried version number, and the close
    // row's valid_to stitching the interval chain across the runs).
    "q193_scd2_incremental" -> ((s, dir) => {
      val root  = scdInput(s, dir)
      val tmp   = freshTmp("scdinc")
      val watch = s"$tmp/watch"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
      val store = new graft.streaming.ScdStore(s, s"$tmp/store", EventQueries.ScdOpenEnd)
      def drain(): Unit = {
        val q = s.readStream
          .schema(s.read.parquet(s"$root/in").schema)
          .parquet(watch) // no maxFilesPerTrigger: each run is ONE batch
          .writeStream
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            // persist: merge evaluates the micro-batch twice (the bucket
            // listing's collect + the changelog write) — one source read,
            // not one per pass
            batch.persist()
            try store.merge(batch, id)
            finally { batch.unpersist(); () }
            ()
          }
          .start()
        try q.awaitTermination() // AvailableNow stops the query itself
        finally q.stop()
      }
      withStatePartitions(s) {
        linkDataFiles(s"$root/in", watch, "run1")
        drain() // run 1: early epoch → versions build, last per user open
        linkDataFiles(s"$root/in2", watch, "run2")
        drain() // run 2: late epoch → opens close, new versions append
      }
      store.snapshotDf.orderBy(col("user_id"), col("version"))
    }),

    // CDC-MAINTAINED DIMENSION + PER-BATCH PIT ENRICHMENT — the composite
    // production pipeline (maintain slowly-changing features AND serve
    // them point-in-time correct to the event stream): each micro-batch
    // first MERGES into the ScdStore (q193's upsert), then enriches its
    // own events against the store's as-of state through the custom merge
    // node (q195's join). Per-batch enrichment is FINAL under the CDC
    // time-order contract: any version created by a LATER batch has
    // valid_from at-or-after that batch's earliest event, which is after
    // every current-batch event (equal-ts rows can't straddle the range
    // split), so "latest valid_from ≤ ts" over the store-so-far equals
    // the one-shot q195 answer — no event ever sees a feature from its
    // future, and none is enriched against a stale one. The sink is the
    // q182 idempotent per-batch-partition overwrite (a replayed batch
    // rewrites its own partition). Byte-gated against q195's oracle.
    "q196_cdc_pit_stream" -> ((s, dir) => {
      val root  = scdInput(s, dir)
      val tmp   = freshTmp("cdcpit")
      val watch = s"$tmp/watch"
      val outP  = s"$tmp/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
      val store = new graft.streaming.ScdStore(s, s"$tmp/store", EventQueries.ScdOpenEnd)
      def drain(): Unit = {
        val q = s.readStream
          .schema(s.read.parquet(s"$root/in").schema)
          .parquet(watch)
          .writeStream
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            // The micro-batch feeds FOUR consumers (bucket listing, merge
            // write, enrich probe, enrich write) — persist it and compute
            // the bucket set ONCE, shared by the merge seed and the
            // snapshot read: one source pass per trigger, not 3-4.
            batch.persist()
            try {
              val touched = store.bucketsOf(batch)
              store.merge(batch, id, Some(touched))
              // snapshotDfFor prunes the per-batch reconstruction to the
              // batch's buckets (versions outside them cannot join the
              // batch) — the store-side cost per micro-batch is the touched
              // fraction of the changelog, not the whole history
              EventQueries
                .pitEnrich(
                  batch.select(col("user_id"), col("ts"), col("event_id")),
                  store.snapshotDfFor(touched))
                .write.mode("overwrite").parquet(s"$outP/batch=$id")
            } finally { batch.unpersist(); () }
            ()
          }
          .start()
        try q.awaitTermination()
        finally q.stop()
      }
      withStatePartitions(s) {
        linkDataFiles(s"$root/in", watch, "run1")
        drain()
        linkDataFiles(s"$root/in2", watch, "run2")
        drain()
      }
      readBatches(s, outP)
        .select(col("event_id"), col("user_id"), col("version"), col("cents_asof"))
        .orderBy(col("event_id"))
    }),

    // THE SEQUENTIAL FUNNEL AS AN INCREMENTAL STATEFUL STREAM — q191's
    // ordered view→click→purchase pattern through flatMapGroupsWithState
    // + event-time timers (the q179 custom-state machinery carrying
    // ORDERED-PATTERN state instead of interval-merge state): per user, a
    // buffered-candidate funnel state; ONE row per entrant, emitted only
    // when the watermark strictly passes the funnel's close deadline
    // (t1 + 2·step). TWO Trigger.AvailableNow runs over ONE checkpoint
    // (the q188 ingest shape) split the corpus at the range boundary: a
    // funnel STRADDLING the epochs emits with stages from both runs only
    // if the restored custom state and the carried watermark are right,
    // run-1-closed entrants' rows must not re-emit when run 2 delivers
    // more of the user's events (the tombstone contract), and run 2's
    // sentinel closes the rest. Hashes against the identical oracle as
    // q191 — batch cascade vs incremental watermark-proof emission, byte
    // for byte (the q178/q179 cross-proof pattern, applied to the
    // funnel). Non-funnel event types are filtered BEFORE the key
    // shuffle; the sentinel survives the filter (user −1) to advance the
    // watermark, and never forms state.
    "q194_funnel_stream" -> ((s, dir) => funnelStreamRun(s, dir, "funnel")),

    // THE STREAMING FUNNEL UNDER A FINITE ENTRANT TTL — q194's exact
    // pipeline with FunnelTracker's tombstone TTL armed at the CORPUS
    // SPAN (data-derived, one cheap events agg — never a wall-clock
    // literal): every event in the corpus lands at-or-before every
    // entrant's close-deadline + TTL, so the bounded-state run must stay
    // byte-identical to q191's oracle — which is exactly the TTL's
    // contract ("in-TTL results unchanged"), proven here at 3 SFs on the
    // real corpus while FunnelTrackerSpec proves the expiry/re-entry path
    // on synthetic deliveries. At 100 TB this is the variant a deployment
    // actually runs: per-entrant state goes to ZERO once the watermark
    // passes close + TTL, instead of one tombstone per entrant forever.
    "q199_funnel_ttl_stream" -> ((s, dir) =>
      funnelStreamRun(s, dir, "funnelttl", spanTtl = true)),

    // THE STREAMING FUNNEL ON STATE API v2 — q194's exact pipeline with
    // the ordered-pattern state on `transformWithState` + RocksDB +
    // explicit timers (streaming/FunnelTrackerV2, shared v1 kernel:
    // granular ListState candidate buffers with the one-appendList-per-
    // trigger batching rule, ValueState t1/tombstone, resolution only on
    // handleExpiredTimer). Byte-gated against q191's EXACT oracle across
    // the two-epoch checkpoint split — with q203–q206 this proves EVERY
    // custom-state family the engine owns on both state APIs.
    "q207_funnel_v2" -> ((s, dir) => funnelStreamRun(s, dir, "funnelv2", api = "v2")),

    // THE ENTRANT-TTL FLAVOR ON STATE API v2 — q199's corpus-span
    // tombstone TTL on transformWithState: the v2 timer machinery
    // carries the tombstone's own event-time expiry (state → ZERO past
    // close + TTL, RocksDB edition; FunnelTrackerV2Spec proves the
    // expiry/re-entry path on crafted deliveries). Byte-gated against
    // q191's oracle — the TTL contract ("in-TTL results unchanged") on
    // the v2 store.
    "q208_funnel_ttl_v2" -> ((s, dir) =>
      funnelStreamRun(s, dir, "funnelttlv2", spanTtl = true, api = "v2")),

    // STREAM-STREAM AS-OF JOIN — the missing as-of flavor: the batch
    // family (q80–q114) covers 3 directions × inner/outer × tolerance and
    // q182 covers stream-STATIC; this is "latest quote at-or-before each
    // trade with BOTH sides LIVE" (trades×quotes, the streaming twin of
    // q195's feature join), on the engine's own custom-state machinery —
    // see streaming/AsofStreamJoin for the finality proof and the
    // anchor-compaction state bound. TWO AvailableNow runs over ONE
    // checkpoint (the q188/q194 shape): a trade in epoch 2 whose latest
    // quote lives in epoch 1 only lands right if the restored ANCHOR
    // carried across the checkpoint; epoch-1 trades near the range
    // boundary stay pending through the restore and resolve in run 2.
    // Byte-gated against the independent SQL argmax formulation.
    "q198_asof_stream" -> ((s, dir) => asofStreamRun(s, dir, "asofjoin", Long.MaxValue)),

    // THE TOLERANCE-BOUNDED STREAM-STREAM AS-OF — the batch family's
    // q89/q112/q114 lookback-tolerance flavor, streamed: a trade matches
    // only quotes within 48 h at-or-before it (57/43% matched/unmatched
    // on every shipped corpus — both row classes hash), and the per-key
    // ANCHOR EXPIRES once every reachable trade's window has moved past
    // it — quote-only keys hold ZERO steady state, the fully-bounded
    // variant of q198's one-anchor floor (the same discipline as q199's
    // entrant TTL). Same two-epoch checkpointed execution; byte-gated
    // against the windowed SQL argmax.
    "q200_asof_tolerance_stream" -> ((s, dir) =>
      asofStreamRun(s, dir, "asoftol", AsofToleranceHours * 3600L * 1000000L)),

    // THE FORWARD STREAM-STREAM AS-OF — earliest quote at-or-AFTER each
    // trade within the 48 h window (the batch q105/q112/q113 direction,
    // streamed): a genuinely different state discipline from q198/q200 —
    // no anchor at all (a quote behind the floor precedes every reachable
    // trade and can never serve a forward window again; retired keys hold
    // ZERO bytes), trades buffer until the watermark proves their
    // look-AHEAD window closed (wm strictly past t + tolerance — only
    // then can no in-window quote still arrive), and the sentinel must
    // clear max + tolerance (`/sentf`). Byte-gated against the windowed
    // ASC argmin SQL formulation.
    "q201_asof_forward_stream" -> ((s, dir) =>
      asofStreamRun(s, dir, "asoffwd", AsofToleranceHours * 3600L * 1000000L, mode = "forward")),

    // THE NEAREST STREAM-STREAM AS-OF — least |quote ts − trade ts|
    // within ±48 h (the batch q106/q114 direction, streamed), with the
    // batch merge node's exact tie chain (backward-first, then
    // greatest-backward-key / least-forward-key). Completes the
    // streaming as-of family: all THREE directions of the batch family
    // (q80–q114) now have live-both-sides twins. A trade is final when
    // the watermark clears its FORWARD half-window; the quote buffer is
    // bounded to the ±tolerance span around the floor, no anchor.
    "q202_asof_nearest_stream" -> ((s, dir) =>
      asofStreamRun(s, dir, "asofnear", AsofToleranceHours * 3600L * 1000000L, mode = "nearest")),

    // THE STATE-API-V2 STREAM-STREAM AS-OF — q198's backward-unbounded
    // join re-run on `transformWithState` + RocksDB provider + per-key
    // timers (streaming/AsofStreamV2), byte-gated against q198's EXACT
    // oracle over the same two-epoch checkpoint split: the q178/q179
    // (and q174/q181) cross-proof pattern applied to the engine's newest
    // custom-state family. The kernel (argmax, anchor compaction, floor
    // pruning) is shared code; what this row proves is the v2 MACHINERY —
    // granular ListState buffers (per-arrival merge appends instead of
    // v1's whole-blob rewrite; burst caveat measured in HotKeyStressSpec),
    // explicit registerTimer/handleExpiredTimer resolution, and the
    // anchor surviving a RocksDB checkpoint restore — lands the identical
    // bytes.
    "q203_asof_stream_v2" -> ((s, dir) =>
      asofStreamRun(s, dir, "asofv2", Long.MaxValue, api = "v2")),

    // THE TOLERANCE FLAVOR ON STATE API v2 — q200's 48 h bounded-lookback
    // join on transformWithState: same shared kernel, but the v2 timer
    // machinery now has to carry the ANCHOR-EXPIRY deadline too (a
    // quote-only key's anchor retires via its own registered timer once
    // every reachable window has passed — the zero-steady-state bound,
    // RocksDB edition). Byte-gated against q200's exact oracle; with
    // q203 this cross-proves BOTH ends of the backward family's state
    // spectrum (irreducible one-anchor vs fully-expiring) on both APIs.
    "q204_asof_tolerance_v2" -> ((s, dir) =>
      asofStreamRun(s, dir, "asoftolv2", AsofToleranceHours * 3600L * 1000000L, api = "v2")),

    // THE FORWARD FLAVOR ON STATE API v2 — q201's earliest-at-or-after
    // join on transformWithState (the mode-parameterized AsofProcessor,
    // same shared v1 kernel as q203/q204): the v2 machinery now carries
    // the forward discipline's two distinctives — NO anchor ever forms
    // (pruneForward's proof: a quote behind the floor precedes every
    // reachable trade), and a trade's finality timer sits at its
    // look-AHEAD window END (t + tol), not its own instant. Byte-gated
    // against q201's EXACT oracle across the two-epoch checkpoint split
    // (the far sentinel `/sentf` closes the windows in run 2).
    "q205_asof_forward_v2" -> ((s, dir) =>
      asofStreamRun(s, dir, "asoffwdv2",
        AsofToleranceHours * 3600L * 1000000L, mode = "forward", api = "v2")),

    // THE NEAREST FLAVOR ON STATE API v2 — q202's least-|Δ| join on
    // transformWithState: the ±tolerance two-sided buffer (quotes retire
    // at q.us + tol — only then is no reachable trade's window able to
    // cover them) and the batch merge node's exact tie chain, on RocksDB
    // granular state + explicit timers. Byte-gated against q202's EXACT
    // oracle; with q203–q205 this completes the 3-direction × 2-API
    // matrix — every streaming as-of flavor is now cross-proven on both
    // state APIs against one independent SQL formulation per direction.
    "q206_asof_nearest_v2" -> ((s, dir) =>
      asofStreamRun(s, dir, "asofnearv2",
        AsofToleranceHours * 3600L * 1000000L, mode = "nearest", api = "v2"))
  )

  /** 48 h — wide enough that most trades match (the shipped corpora sit
    * at ~57% matched), narrow enough that the unmatched class is never
    * vacuous. Mirrored literally in q200's oracle SQL.
    */
  private val AsofToleranceHours = 48L

  /** The q198/q200 shared execution: the union-tagged quotes/trades feed
    * through [[graft.streaming.AsofStreamJoin.joined]] as TWO
    * Trigger.AvailableNow runs over ONE checkpoint (the q188/q194
    * shape), idempotent per-batch-partition sink, matched=0 sentinel
    * fields surfaced as SQL NULLs.
    */
  /** The q194/q199/q207/q208 shared execution: the filtered funnel events
    * feed through [[graft.streaming.FunnelTracker]] (v1) or
    * [[graft.streaming.FunnelTrackerV2]] (state API v2 + RocksDB) as TWO
    * Trigger.AvailableNow runs over ONE checkpoint (the q188 ingest
    * shape), idempotent per-batch-partition sink; `spanTtl` arms the
    * tombstone TTL at the corpus span (data-derived, one cheap events agg
    * — never a wall-clock literal).
    */
  private def funnelStreamRun(
      s: SparkSession, dir: String, tag: String,
      spanTtl: Boolean = false, api: String = "v1"): DataFrame = {
    import s.implicits._
    val ttlUs =
      if (spanTtl)
        Tables.events(s, dir)
          .agg((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("span"))
          .head().getLong(0)
      else Long.MaxValue
    val root  = funnelInput(s, dir)
    val tmp   = freshTmp(tag)
    val watch = s"$tmp/watch"
    val outP  = s"$tmp/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    def drain(): Unit = {
      val evs = s.readStream
        .schema(s.read.parquet(s"$root/sent").schema) // sent always has a file
        .parquet(watch)
        .filter(
          col("event_type").isin("view", "click", "purchase") || col("user_id") === -1L)
        .select(
          col("ts"), unix_micros(col("ts")).as("us"), col("user_id"), col("event_type"))
        .as[graft.streaming.FunnelTracker.FunnelEvent]
      val tracked =
        if (api == "v2")
          graft.streaming.FunnelTrackerV2.funnels(
            evs, EventQueries.FunnelStepUs, EventQueries.FunnelHorizonUs, ttlUs)
        else
          graft.streaming.FunnelTracker.funnels(
            evs, EventQueries.FunnelStepUs, EventQueries.FunnelHorizonUs, ttlUs)
      val q = tracked
        .toDF()
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // idempotent per-batch-partition overwrite (the q196/q182
          // recipe): a batch replayed after a crash-between-write-and-
          // commit rewrites its own partition, never double-appends
          batch.write.mode("overwrite").parquet(s"$outP/batch=$id")
          ()
        }
        .start()
      try q.awaitTermination() // AvailableNow stops the query itself
      finally q.stop()
    }
    def runAll(): Unit = withStatePartitions(s) {
      linkDataFiles(s"$root/in", watch, "run1")
      drain() // run 1: early epoch → early entrants close and emit
      linkDataFiles(s"$root/in2", watch, "run2")
      linkDataFiles(s"$root/sent", watch, "sent")
      drain() // run 2: late epoch + sentinel → straddlers + the rest emit
    }
    // the v2 state API requires the RocksDB provider (q181's conf scope)
    if (api == "v2") withRocksDb(s)(runAll()) else runAll()
    readBatches(s, outP).select(
      col("user_id"),
      timestamp_micros(col("t1_us")).as("t1"),
      timestamp_micros(col("t2_us")).as("t2"), // 0 µs = the q191 epoch sentinel
      timestamp_micros(col("t3_us")).as("t3"),
      col("stage"),
      col("completed"))
      .orderBy(col("user_id"))
  }

  private def asofStreamRun(
      s: SparkSession, dir: String, tag: String, toleranceUs: Long,
      mode: String = "backward", api: String = "v1"): DataFrame = {
    import s.implicits._
    val root  = asofInput(s, dir)
    val tmp   = freshTmp(tag)
    val watch = s"$tmp/watch"
    val outP  = s"$tmp/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    def drain(): Unit = {
      val evs = s.readStream
        .schema(s.read.parquet(s"$root/sent").schema)
        .parquet(watch)
        .select(
          col("ts"), unix_micros(col("ts")).as("us"), col("user_id").as("key"),
          col("side"), col("event_id"), col("cents").as("payload"))
        .as[graft.streaming.AsofStreamJoin.SideEvent[Long, Long]]
      val joined = (api, mode) match {
        case ("v2", "forward") => graft.streaming.AsofStreamV2.joinedForward(evs, toleranceUs)
        case ("v2", "nearest") => graft.streaming.AsofStreamV2.joinedNearest(evs, toleranceUs)
        case ("v2", _)        => graft.streaming.AsofStreamV2.joined(evs, toleranceUs)
        case (_, "forward")   => graft.streaming.AsofStreamJoin.joinedForward(evs, toleranceUs)
        case (_, "nearest")   => graft.streaming.AsofStreamJoin.joinedNearest(evs, toleranceUs)
        case _                => graft.streaming.AsofStreamJoin.joined(evs, toleranceUs)
      }
      val q = joined
        .toDF()
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.write.mode("overwrite").parquet(s"$outP/batch=$id")
          ()
        }
        .start()
      try q.awaitTermination()
      finally q.stop()
      dumpProgress(q, tag)
    }
    def runAll(): Unit = withStatePartitions(s) {
      linkDataFiles(s"$root/in", watch, "run1")
      drain() // run 1: early epoch — boundary trades stay PENDING state
      linkDataFiles(s"$root/in2", watch, "run2")
      // forward/nearest must clear max + tolerance (the far sentinel)
      linkDataFiles(if (mode == "backward") s"$root/sent" else s"$root/sentf", watch, "sent")
      drain() // run 2: late epoch + sentinel — everything resolves
    }
    // the v2 state API requires the RocksDB provider (q181's conf scope);
    // the progress-tap scope spans both drains so dumpProgress sees the
    // full ring buffer, and the conf is restored after the run
    withProgressTap(s) {
      if (api == "v2") withRocksDb(s)(runAll()) else runAll()
    }
    readBatches(s, outP).select(
      col("event_id"),
      col("key").as("user_id"),
      timestamp_micros(col("t_us")).as("ts"),
      when(col("matched") === 1L, timestamp_micros(col("q_us"))).as("quote_ts"),
      when(col("matched") === 1L, col("q_payload")).as("quote_cents"))
      .orderBy(col("event_id"))
  }

  /** q189's two-level windowed portable HLL (M = 64 registers, the q126
    * construction per hourly window over `user_id`): per event, bucket =
    * h mod 64 and rho = leading-zero rank of the remaining 54 md5 bits;
    * level 1 aggregates max-rho per (window, bucket) — the REGISTER cells,
    * ≤ 64 rows per window; level 2 re-aggregates the CLOSED cells of the
    * same hourly window (`window_time`, the q180 chaining) into the exact
    * integer harmonic denominator q = Σ 2^(55−M_j) (empty buckets
    * contribute 2^55 via the 64−count term — no dense cell fill needed),
    * the zero-register count v, and the estimate with the q126 small-range
    * linear-counting switch. Batch/stream agnostic; the spec cross-checks
    * the stream against this same transform run in batch.
    */
  private[graft] def windowedHll(df: DataFrame): DataFrame = {
    val M = graft.functions.PortableHll.M
    val cells = df
      .select(
        col("ts"),
        expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .select(col("ts"), (col("h") % M).cast("int").as("bucket"), expr(s"h div $M").as("w"))
      .select(
        col("ts"),
        col("bucket"),
        when(col("w") === 0, lit(55)).otherwise(lit(55) - length(bin(col("w")))).cast("long").as("rho"))
      .groupBy(window(col("ts"), "1 hour"), col("bucket"))
      .agg(max(col("rho")).as("m"))
    cells
      .groupBy(window(window_time(col("window")), "1 hour"))
      .agg(
        (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - m AS INT))"))
          + (lit(M.toLong) - count(lit(1))) * lit(graft.functions.PortableHll.HarmonicScale)).as("q"),
        (lit(M.toLong) - count(lit(1))).as("v"))
      .select(
        col("window.start").as("window_start"),
        col("q"),
        col("v"),
        graft.functions.PortableHll.estimate(col("q"), col("v")).as("hll_estimate"))
  }

  private[graft] val JoinWithinSec  = 86400L // q177 interval: purchases within a day of the click
  private[graft] val JoinDelayDays  = 32L    // q177 watermark delay > the corpus event-time span

  private[graft] val SessionGapMin = 30 // q178/q179 inactivity gap (q28's)
  private val SessionGapUs         = SessionGapMin * 60L * 1000000L

  /** q180's two chained stateful aggregates — 5-minute event-time windows,
    * then an HOURLY re-aggregation over the CLOSED 5-minute buckets via
    * `window_time` (the multi-stateful-operator pipeline Spark supports
    * since 3.4: the second aggregate's event time is the first's window
    * close). Batch/stream agnostic; shared with the spec so the pinned
    * transform IS the registered one.
    */
  private[graft] def chainedWindows(df: DataFrame): DataFrame = {
    val fiveMin = df
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    fiveMin
      .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
      .agg(
        sum(col("n")).as("n"),
        count(lit(1)).as("n_buckets"),
        max(col("cents")).as("max_cents"),
        sum(col("cents")).as("cents"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n"),
        col("n_buckets"),
        col("max_cents"),
        col("cents"))
  }

  /** Input-file count for the payment-stream memo: with one-file triggers
    * the update-mode changelog spans this many micro-batches per run.
    */
  private val PayFiles = 4

  /** The q174/q175 shared memoized stream input — the cents-amount payment
    * frame ([[ParityQueries.paymentsFromEventsCents]]) in [[PayFiles]]
    * files.
    */
  private def paymentsMemo(s: SparkSession, dir: String): String =
    graft.sources.SessionMemo.dir(s, "stream-in-pay", dir)(paymentsBuild(s, dir, _)) + "/in"

  private def paymentsBuild(s: SparkSession, dir: String, b: String): Unit =
    ParityQueries.paymentsFromEventsCents(s, dir).repartition(PayFiles).write.parquet(s"$b/in")

  /** Fresh per-invocation checkpoint/sink root (the used-checkpoint rule:
    * only the INPUT is memoizable — see [[runBounded]]).
    */
  private def freshTmp(tag: String): String = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-$tag-")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    tmp.toString
  }

  /** Diagnostic tap (off by default): `GRAFT_STREAM_PROGRESS=1` dumps each
    * finished micro-batch's StreamingQueryProgress JSON — durations, state
    * operator rows, and the RocksDB custom metrics — to stderr, tagged for
    * offline grep. The profiling lever the r14 verdict's q206 directive
    * calls for ("is the cost the compaction rewrite or RocksDB
    * scheduling?"): zero cost unless the env var is set. [[withProgressTap]]
    * must open BEFORE the query starts: `recentProgress` is a ring buffer
    * capped by `spark.sql.streaming.numRecentProgressUpdates` (default
    * 100), so long 100x chains would silently drop their earliest
    * micro-batches at the default. Scoped save/restore (the
    * [[withStatePartitions]] pattern) so the raised cap never leaks into
    * the shared session past the run.
    */
  private def dumpProgress(q: StreamingQuery, tag: String): Unit =
    if (sys.env.get("GRAFT_STREAM_PROGRESS").contains("1"))
      q.recentProgress.foreach(p => System.err.println(s"[progress:$tag] ${p.json}"))

  private def withProgressTap[T](s: SparkSession)(body: => T): T =
    if (!sys.env.get("GRAFT_STREAM_PROGRESS").contains("1")) body
    else {
      val key  = "spark.sql.streaming.numRecentProgressUpdates"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "100000")
      try body
      finally prev match { case Some(v) => s.conf.set(key, v); case None => s.conf.unset(key) }
    }

  /** Read a per-batch foreachBatch sink back. A healthy two-drain run
    * ALWAYS commits at least one batch (the sentinel file alone forces
    * one), so an empty sink means the file source saw no new files —
    * missing input links or a reused checkpoint. Fail with that diagnosis
    * instead of the bare glob FileNotFoundException, which names neither
    * the stream nor the cause.
    */
  private def readBatches(s: SparkSession, outP: String): DataFrame = {
    val d = new java.io.File(outP)
    require(d.isDirectory && d.list().exists(_.startsWith("batch=")),
      s"stream sink at $outP committed no batches — the file source saw no new " +
        "files (missing input links or a reused checkpoint)")
    s.read.parquet(outP + "/batch=*")
  }

  val oracles: Map[String, String] = {
    val h60 =
      "list_reduce(list_transform(range(1, 16), i -> (strpos('0123456789abcdef', substr(md5(tok), i::INT, 1)) - 1)::BIGINT), (a, c) -> a * 16 + c)"
    val B = CurationStream.VocabBuckets
    Map(
      // Window assignment in integer seconds ((doc_id % span) // win * win),
      // rebuilt as epoch-µs TIMESTAMP; stream side P = the window's bucket
      // counts, Q = the whole-corpus baseline — both token streams drop
      // empty tokens (vocabBaseline/vocabDrift's filter), then the exact
      // q158 integer-KL chain per (window, source).
      "q171_vocab_drift_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, source, text FROM documents),
             | toks AS (
             |  SELECT ws, source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM base),
             | tok2 AS (SELECT ws, source, tok FROM toks WHERE tok <> ''),
             | bk AS (SELECT ws, source, $h60 % $B AS b FROM tok2),
             | cbk AS (
             |  SELECT $h60 % $B AS b FROM (
             |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents)
             |  WHERE tok <> ''),
             | cs AS (SELECT ws, source, b, count(*) AS cs FROM bk GROUP BY 1, 2, 3),
             | ct AS (SELECT b, count(*) AS ct FROM cbk GROUP BY 1),
             | t AS (SELECT count(*) AS t FROM cbk),
             | tsum AS (SELECT ws, source, count(*) AS tsum FROM bk GROUP BY 1, 2),
             | dim AS (
             |  SELECT cs.ws, cs.source, cs.cs, tsum.tsum,
             |    CAST(floor(ln(((cs.cs + 1.0) / (tsum.tsum + $B.0)) / ((coalesce(ct.ct, 0) + 1.0) / (t.t + $B.0))) * 1048576.0) AS BIGINT) AS lr
             |  FROM cs LEFT JOIN ct USING (b) CROSS JOIN t JOIN tsum USING (ws, source))
             |SELECT make_timestamp(ws * 1000000) AS window_start, source,
             |  min(tsum)::BIGINT AS n_tokens,
             |  round(CAST(sum(cs * lr) AS DOUBLE) / 1048576.0 / min(tsum), 6) AS kl
             |FROM dim GROUP BY ws, source ORDER BY window_start, source""".stripMargin,

      // Same window assignment as q171; baseline ECDF over the corpus's
      // distinct lengths, window ECDF evaluated at every baseline grid
      // value (window values are corpus values, so the grid attains the
      // sup), both on the ⌊c·2^20/n⌋ integer grid — q210's quantization.
      "q211_ks_drift_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, source,
             |    length(text) AS v FROM documents),
             | blfreq AS (SELECT length(text) AS v, count(*)::BIGINT AS f
             |            FROM documents GROUP BY 1),
             | bl AS (SELECT v,
             |   CAST((CAST(sum(f) OVER (ORDER BY v) AS BIGINT) * 1048576)
             |     // (SELECT sum(f) FROM blfreq) AS BIGINT) AS qb FROM blfreq),
             | wc AS (SELECT ws, source, v, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | pairs AS (SELECT DISTINCT ws, source FROM base),
             | grid AS (SELECT p.ws, p.source, b.v, b.qb FROM pairs p CROSS JOIN bl b),
             | cum AS (SELECT g.ws, g.source, g.qb,
             |   CAST(sum(coalesce(w.cs, 0)) OVER (PARTITION BY g.ws, g.source ORDER BY g.v) AS BIGINT) AS c,
             |   CAST(sum(coalesce(w.cs, 0)) OVER (PARTITION BY g.ws, g.source) AS BIGINT) AS nw
             |   FROM grid g LEFT JOIN wc w ON w.ws = g.ws AND w.source = g.source AND w.v = g.v)
             |SELECT make_timestamp(ws * 1000000) AS window_start, source,
             |  min(nw)::BIGINT AS n_docs,
             |  CAST(max(abs((c * 1048576) // nw - qb)) AS BIGINT) AS ks_q20
             |FROM cum GROUP BY ws, source ORDER BY window_start, source""".stripMargin,

      // Same window assignment as q211; q212's quantize-first PSI per
      // closed (window, source) vs the whole-corpus lang baseline —
      // proportions floored onto the 2^20 grid (clamped ≥ 1), log-ratio
      // floored once at 2^20, pure integer sum, one display division.
      "q213_psi_drift_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, source, lang
             |  FROM documents),
             | bl AS (SELECT lang, count(*)::BIGINT AS ct FROM documents GROUP BY 1),
             | tk AS (SELECT sum(ct)::BIGINT AS t, count(*)::BIGINT AS k FROM bl),
             | wc AS (SELECT ws, source, lang, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | nw AS (SELECT ws, source, count(*)::BIGINT AS nw FROM base GROUP BY 1, 2),
             | cells AS (SELECT n.ws, n.source, n.nw,
             |     greatest(((coalesce(w.cs, 0) + 1) * 1048576) // (n.nw + tk.k), 1) AS psq,
             |     greatest(((b.ct + 1) * 1048576) // (tk.t + tk.k), 1) AS pcq
             |   FROM nw n CROSS JOIN bl b
             |   LEFT JOIN wc w ON w.ws = n.ws AND w.source = n.source AND w.lang = b.lang
             |   CROSS JOIN tk)
             |SELECT make_timestamp(ws * 1000000) AS window_start, source,
             |  min(nw)::BIGINT AS n_docs,
             |  round(sum((psq - pcq) * CAST(floor(ln(psq * 1.0 / pcq) * 1048576.0) AS BIGINT))::DOUBLE
             |    / 1099511627776.0, 6) AS psi
             |FROM cells GROUP BY ws, source ORDER BY window_start, source""".stripMargin,

      // Same window assignment as q211; q209's exact integer quantile rule
      // (smallest v with 100·c ≥ p·n) per closed (window, source).
      "q214_quantiles_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, source,
             |    length(text) AS v FROM documents),
             | wc AS (SELECT ws, source, v, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | cum AS (SELECT ws, source, v,
             |   CAST(sum(cs) OVER (PARTITION BY ws, source ORDER BY v) AS BIGINT) AS c,
             |   CAST(sum(cs) OVER (PARTITION BY ws, source) AS BIGINT) AS n
             |   FROM wc)
             |SELECT make_timestamp(ws * 1000000) AS window_start, source,
             |  min(n)::BIGINT AS n_docs,
             |  min(CASE WHEN c * 100 >= n * 50 THEN v END)::BIGINT AS p50,
             |  min(CASE WHEN c * 100 >= n * 90 THEN v END)::BIGINT AS p90,
             |  min(CASE WHEN c * 100 >= n * 99 THEN v END)::BIGINT AS p99
             |FROM cum GROUP BY ws, source ORDER BY window_start, source""".stripMargin,

      // The union of q211/q213/q214's oracle chains, joined per closed
      // (window, source) — the KS leg's union grid, the quantile leg's
      // integer rule, and the PSI leg's quantize-first cells are each
      // byte-identical to their single's formulation, so a hash match
      // here proves the one-pass monitor emits exactly what the three
      // singles emit. NOTE (oracle-side assumption, here and in q217/q219):
      // the KS/PSI legs evaluate on the BASELINE domain only. That is
      // exact solely because driftInput streams the same documents table
      // the baselines are built from — window values/langs ⊆ baseline, so
      // the engine-side union grid is vacuous. ksOf/psiOf themselves
      // handle out-of-baseline values (adversary-proven); if the stream
      // input generator ever diverges from the baseline corpus, these
      // oracles need the union/anti-join legs added or THEY become the
      // wrong side of the gate.
      "q216_multi_drift_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, source, lang,
             |    length(text) AS v FROM documents),
             | blfreq AS (SELECT length(text) AS v, count(*)::BIGINT AS f
             |            FROM documents GROUP BY 1),
             | klbl AS (SELECT v,
             |   CAST((CAST(sum(f) OVER (ORDER BY v) AS BIGINT) * 1048576)
             |     // (SELECT sum(f) FROM blfreq) AS BIGINT) AS qb FROM blfreq),
             | wc AS (SELECT ws, source, v, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | pairs AS (SELECT DISTINCT ws, source FROM base),
             | grid AS (SELECT p.ws, p.source, b.v, b.qb FROM pairs p CROSS JOIN klbl b),
             | cum AS (SELECT g.ws, g.source, g.qb,
             |   CAST(sum(coalesce(w.cs, 0)) OVER (PARTITION BY g.ws, g.source ORDER BY g.v) AS BIGINT) AS c,
             |   CAST(sum(coalesce(w.cs, 0)) OVER (PARTITION BY g.ws, g.source) AS BIGINT) AS nw
             |   FROM grid g LEFT JOIN wc w ON w.ws = g.ws AND w.source = g.source AND w.v = g.v),
             | ks AS (SELECT ws, source, min(nw)::BIGINT AS n_docs,
             |   CAST(max(abs((c * 1048576) // nw - qb)) AS BIGINT) AS ks_q20
             |   FROM cum GROUP BY ws, source),
             | qcum AS (SELECT ws, source, v,
             |   CAST(sum(cs) OVER (PARTITION BY ws, source ORDER BY v) AS BIGINT) AS c,
             |   CAST(sum(cs) OVER (PARTITION BY ws, source) AS BIGINT) AS n
             |   FROM wc),
             | qs AS (SELECT ws, source,
             |   min(CASE WHEN c * 100 >= n * 50 THEN v END)::BIGINT AS p50,
             |   min(CASE WHEN c * 100 >= n * 90 THEN v END)::BIGINT AS p90,
             |   min(CASE WHEN c * 100 >= n * 99 THEN v END)::BIGINT AS p99
             |   FROM qcum GROUP BY ws, source),
             | psibl AS (SELECT lang, count(*)::BIGINT AS ct FROM documents GROUP BY 1),
             | tk AS (SELECT sum(ct)::BIGINT AS t, count(*)::BIGINT AS k FROM psibl),
             | lc AS (SELECT ws, source, lang, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | nws AS (SELECT ws, source, count(*)::BIGINT AS nw FROM base GROUP BY 1, 2),
             | cells AS (SELECT n.ws, n.source, n.nw,
             |     greatest(((coalesce(w.cs, 0) + 1) * 1048576) // (n.nw + tk.k), 1) AS psq,
             |     greatest(((b.ct + 1) * 1048576) // (tk.t + tk.k), 1) AS pcq
             |   FROM nws n CROSS JOIN psibl b
             |   LEFT JOIN lc w ON w.ws = n.ws AND w.source = n.source AND w.lang = b.lang
             |   CROSS JOIN tk),
             | psi AS (SELECT ws, source,
             |   round(sum((psq - pcq) * CAST(floor(ln(psq * 1.0 / pcq) * 1048576.0) AS BIGINT))::DOUBLE
             |     / 1099511627776.0, 6) AS psi
             |   FROM cells GROUP BY ws, source)
             |SELECT make_timestamp(ks.ws * 1000000) AS window_start, ks.source,
             |  n_docs, ks_q20, p50, p90, p99, psi
             |FROM ks JOIN qs ON ks.ws = qs.ws AND ks.source = qs.source
             |JOIN psi ON ks.ws = psi.ws AND ks.source = psi.source
             |ORDER BY window_start, ks.source""".stripMargin,

      // q216's three chains + q171's KL chain, joined per closed
      // (window, source) — the four-axis monitor must emit exactly what
      // the four singles emit.
      "q217_full_drift_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, source, lang,
             |    length(text) AS v, text FROM documents),
             | blfreq AS (SELECT length(text) AS v, count(*)::BIGINT AS f
             |            FROM documents GROUP BY 1),
             | klbl AS (SELECT v,
             |   CAST((CAST(sum(f) OVER (ORDER BY v) AS BIGINT) * 1048576)
             |     // (SELECT sum(f) FROM blfreq) AS BIGINT) AS qb FROM blfreq),
             | wc AS (SELECT ws, source, v, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | pairs AS (SELECT DISTINCT ws, source FROM base),
             | grid AS (SELECT p.ws, p.source, b.v, b.qb FROM pairs p CROSS JOIN klbl b),
             | cum AS (SELECT g.ws, g.source, g.qb,
             |   CAST(sum(coalesce(w.cs, 0)) OVER (PARTITION BY g.ws, g.source ORDER BY g.v) AS BIGINT) AS c,
             |   CAST(sum(coalesce(w.cs, 0)) OVER (PARTITION BY g.ws, g.source) AS BIGINT) AS nw
             |   FROM grid g LEFT JOIN wc w ON w.ws = g.ws AND w.source = g.source AND w.v = g.v),
             | ks AS (SELECT ws, source, min(nw)::BIGINT AS n_docs,
             |   CAST(max(abs((c * 1048576) // nw - qb)) AS BIGINT) AS ks_q20
             |   FROM cum GROUP BY ws, source),
             | qcum AS (SELECT ws, source, v,
             |   CAST(sum(cs) OVER (PARTITION BY ws, source ORDER BY v) AS BIGINT) AS c,
             |   CAST(sum(cs) OVER (PARTITION BY ws, source) AS BIGINT) AS n
             |   FROM wc),
             | qs AS (SELECT ws, source,
             |   min(CASE WHEN c * 100 >= n * 50 THEN v END)::BIGINT AS p50,
             |   min(CASE WHEN c * 100 >= n * 90 THEN v END)::BIGINT AS p90,
             |   min(CASE WHEN c * 100 >= n * 99 THEN v END)::BIGINT AS p99
             |   FROM qcum GROUP BY ws, source),
             | psibl AS (SELECT lang, count(*)::BIGINT AS ct FROM documents GROUP BY 1),
             | tk AS (SELECT sum(ct)::BIGINT AS t, count(*)::BIGINT AS k FROM psibl),
             | lc AS (SELECT ws, source, lang, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | nws AS (SELECT ws, source, count(*)::BIGINT AS nw FROM base GROUP BY 1, 2),
             | cells AS (SELECT n.ws, n.source, n.nw,
             |     greatest(((coalesce(w.cs, 0) + 1) * 1048576) // (n.nw + tk.k), 1) AS psq,
             |     greatest(((b.ct + 1) * 1048576) // (tk.t + tk.k), 1) AS pcq
             |   FROM nws n CROSS JOIN psibl b
             |   LEFT JOIN lc w ON w.ws = n.ws AND w.source = n.source AND w.lang = b.lang
             |   CROSS JOIN tk),
             | psi AS (SELECT ws, source,
             |   round(sum((psq - pcq) * CAST(floor(ln(psq * 1.0 / pcq) * 1048576.0) AS BIGINT))::DOUBLE
             |     / 1099511627776.0, 6) AS psi
             |   FROM cells GROUP BY ws, source),
             | toks AS (
             |  SELECT ws, source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM base),
             | tok2 AS (SELECT ws, source, tok FROM toks WHERE tok <> ''),
             | bk AS (SELECT ws, source, $h60 % $B AS b FROM tok2),
             | cbk AS (
             |  SELECT $h60 % $B AS b FROM (
             |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents)
             |  WHERE tok <> ''),
             | vcs AS (SELECT ws, source, b, count(*) AS cs FROM bk GROUP BY 1, 2, 3),
             | vct AS (SELECT b, count(*) AS ct FROM cbk GROUP BY 1),
             | vt AS (SELECT count(*) AS t FROM cbk),
             | vtsum AS (SELECT ws, source, count(*) AS tsum FROM bk GROUP BY 1, 2),
             | vdim AS (
             |  SELECT vcs.ws, vcs.source, vcs.cs, vtsum.tsum,
             |    CAST(floor(ln(((vcs.cs + 1.0) / (vtsum.tsum + $B.0)) / ((coalesce(vct.ct, 0) + 1.0) / (vt.t + $B.0))) * 1048576.0) AS BIGINT) AS lr
             |  FROM vcs LEFT JOIN vct USING (b) CROSS JOIN vt JOIN vtsum USING (ws, source)),
             | kl AS (SELECT ws, source, min(tsum)::BIGINT AS n_tokens,
             |   round(CAST(sum(cs * lr) AS DOUBLE) / 1048576.0 / min(tsum), 6) AS kl
             |   FROM vdim GROUP BY ws, source)
             |SELECT make_timestamp(ks.ws * 1000000) AS window_start, ks.source,
             |  n_docs, n_tokens, kl, ks_q20, p50, p90, p99, psi
             |FROM ks JOIN qs ON ks.ws = qs.ws AND ks.source = qs.source
             |JOIN psi ON ks.ws = psi.ws AND ks.source = psi.source
             |JOIN kl ON ks.ws = kl.ws AND ks.source = kl.source
             |ORDER BY window_start, ks.source""".stripMargin,

      // Same window assignment as q171; q215's quantize-first MI formula
      // per closed window and axis pair — joint and marginal proportions
      // floored onto the 2^20 grid (clamped ≥ 1), log-ratio floored once,
      // pure integer sum, one display division by 2^40.
      "q218_mi_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, source, lang,
             |    CAST(length(CAST(length(text) AS VARCHAR)) AS VARCHAR) AS lenmag FROM documents),
             | m AS (
             |  SELECT ws, 'lang_lenmag' AS pair, lang AS x, lenmag AS y FROM base
             |  UNION ALL SELECT ws, 'lang_source', lang, source FROM base
             |  UNION ALL SELECT ws, 'source_lenmag', source, lenmag FROM base),
             | f AS (SELECT ws, pair, x, y, count(*)::BIGINT AS c FROM m GROUP BY 1, 2, 3, 4),
             | cx AS (SELECT ws, pair, x, sum(c)::BIGINT AS cx FROM f GROUP BY 1, 2, 3),
             | cy AS (SELECT ws, pair, y, sum(c)::BIGINT AS cy FROM f GROUP BY 1, 2, 3),
             | nn AS (SELECT ws, pair, sum(c)::BIGINT AS n FROM f GROUP BY 1, 2),
             | cells AS (SELECT f.ws, f.pair,
             |     greatest((f.c * 1048576) // nn.n, 1) AS a,
             |     greatest((cx.cx * 1048576) // nn.n, 1)
             |       * greatest((cy.cy * 1048576) // nn.n, 1) AS b
             |   FROM f JOIN cx USING (ws, pair, x) JOIN cy USING (ws, pair, y)
             |   JOIN nn USING (ws, pair))
             |SELECT make_timestamp(ws * 1000000) AS window_start, pair,
             |  count(*)::BIGINT AS n_cells,
             |  round(sum(a * CAST(floor(ln(a * 1048576.0 / b) * 1048576.0) AS BIGINT))::DOUBLE
             |    / 1099511627776.0, 6) AS mi
             |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // q217's four chains ∪ q218's MI chain, long format: kind='source'
      // rows are q217's wide row per (window, source) with NULL MI
      // columns; kind='pair' rows are q218's (n_cells, mi) per
      // (window, pair) with NULL source-family columns. Every leg is
      // byte-identical to its cousin's formulation (the q216 NOTE on the
      // input ⊆ baseline assumption applies to the KS/PSI legs here too),
      // so a hash match proves the one-pass five-axis monitor emits
      // exactly what q217 + q218 emit.
      "q219_all_drift_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, source, lang,
             |    length(text) AS v, text FROM documents),
             | blfreq AS (SELECT length(text) AS v, count(*)::BIGINT AS f
             |            FROM documents GROUP BY 1),
             | klbl AS (SELECT v,
             |   CAST((CAST(sum(f) OVER (ORDER BY v) AS BIGINT) * 1048576)
             |     // (SELECT sum(f) FROM blfreq) AS BIGINT) AS qb FROM blfreq),
             | wc AS (SELECT ws, source, v, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | pairs AS (SELECT DISTINCT ws, source FROM base),
             | grid AS (SELECT p.ws, p.source, b.v, b.qb FROM pairs p CROSS JOIN klbl b),
             | cum AS (SELECT g.ws, g.source, g.qb,
             |   CAST(sum(coalesce(w.cs, 0)) OVER (PARTITION BY g.ws, g.source ORDER BY g.v) AS BIGINT) AS c,
             |   CAST(sum(coalesce(w.cs, 0)) OVER (PARTITION BY g.ws, g.source) AS BIGINT) AS nw
             |   FROM grid g LEFT JOIN wc w ON w.ws = g.ws AND w.source = g.source AND w.v = g.v),
             | ks AS (SELECT ws, source, min(nw)::BIGINT AS n_docs,
             |   CAST(max(abs((c * 1048576) // nw - qb)) AS BIGINT) AS ks_q20
             |   FROM cum GROUP BY ws, source),
             | qcum AS (SELECT ws, source, v,
             |   CAST(sum(cs) OVER (PARTITION BY ws, source ORDER BY v) AS BIGINT) AS c,
             |   CAST(sum(cs) OVER (PARTITION BY ws, source) AS BIGINT) AS n
             |   FROM wc),
             | qs AS (SELECT ws, source,
             |   min(CASE WHEN c * 100 >= n * 50 THEN v END)::BIGINT AS p50,
             |   min(CASE WHEN c * 100 >= n * 90 THEN v END)::BIGINT AS p90,
             |   min(CASE WHEN c * 100 >= n * 99 THEN v END)::BIGINT AS p99
             |   FROM qcum GROUP BY ws, source),
             | psibl AS (SELECT lang, count(*)::BIGINT AS ct FROM documents GROUP BY 1),
             | tk AS (SELECT sum(ct)::BIGINT AS t, count(*)::BIGINT AS k FROM psibl),
             | lc AS (SELECT ws, source, lang, count(*)::BIGINT AS cs FROM base GROUP BY 1, 2, 3),
             | nws AS (SELECT ws, source, count(*)::BIGINT AS nw FROM base GROUP BY 1, 2),
             | cells AS (SELECT n.ws, n.source, n.nw,
             |     greatest(((coalesce(w.cs, 0) + 1) * 1048576) // (n.nw + tk.k), 1) AS psq,
             |     greatest(((b.ct + 1) * 1048576) // (tk.t + tk.k), 1) AS pcq
             |   FROM nws n CROSS JOIN psibl b
             |   LEFT JOIN lc w ON w.ws = n.ws AND w.source = n.source AND w.lang = b.lang
             |   CROSS JOIN tk),
             | psi AS (SELECT ws, source,
             |   round(sum((psq - pcq) * CAST(floor(ln(psq * 1.0 / pcq) * 1048576.0) AS BIGINT))::DOUBLE
             |     / 1099511627776.0, 6) AS psi
             |   FROM cells GROUP BY ws, source),
             | toks AS (
             |  SELECT ws, source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM base),
             | tok2 AS (SELECT ws, source, tok FROM toks WHERE tok <> ''),
             | bk AS (SELECT ws, source, $h60 % $B AS b FROM tok2),
             | cbk AS (
             |  SELECT $h60 % $B AS b FROM (
             |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents)
             |  WHERE tok <> ''),
             | vcs AS (SELECT ws, source, b, count(*) AS cs FROM bk GROUP BY 1, 2, 3),
             | vct AS (SELECT b, count(*) AS ct FROM cbk GROUP BY 1),
             | vt AS (SELECT count(*) AS t FROM cbk),
             | vtsum AS (SELECT ws, source, count(*) AS tsum FROM bk GROUP BY 1, 2),
             | vdim AS (
             |  SELECT vcs.ws, vcs.source, vcs.cs, vtsum.tsum,
             |    CAST(floor(ln(((vcs.cs + 1.0) / (vtsum.tsum + $B.0)) / ((coalesce(vct.ct, 0) + 1.0) / (vt.t + $B.0))) * 1048576.0) AS BIGINT) AS lr
             |  FROM vcs LEFT JOIN vct USING (b) CROSS JOIN vt JOIN vtsum USING (ws, source)),
             | kl AS (SELECT ws, source, min(tsum)::BIGINT AS n_tokens,
             |   round(CAST(sum(cs * lr) AS DOUBLE) / 1048576.0 / min(tsum), 6) AS kl
             |   FROM vdim GROUP BY ws, source),
             | mim AS (
             |  SELECT ws, 'lang_lenmag' AS pair, lang AS x,
             |    CAST(length(CAST(v AS VARCHAR)) AS VARCHAR) AS y FROM base
             |  UNION ALL SELECT ws, 'lang_source', lang, source FROM base
             |  UNION ALL SELECT ws, 'source_lenmag', source,
             |    CAST(length(CAST(v AS VARCHAR)) AS VARCHAR) FROM base),
             | mif AS (SELECT ws, pair, x, y, count(*)::BIGINT AS c FROM mim GROUP BY 1, 2, 3, 4),
             | micx AS (SELECT ws, pair, x, sum(c)::BIGINT AS cx FROM mif GROUP BY 1, 2, 3),
             | micy AS (SELECT ws, pair, y, sum(c)::BIGINT AS cy FROM mif GROUP BY 1, 2, 3),
             | minn AS (SELECT ws, pair, sum(c)::BIGINT AS n FROM mif GROUP BY 1, 2),
             | micell AS (SELECT f.ws, f.pair,
             |     greatest((f.c * 1048576) // nn.n, 1) AS a,
             |     greatest((cx.cx * 1048576) // nn.n, 1)
             |       * greatest((cy.cy * 1048576) // nn.n, 1) AS b
             |   FROM mif f JOIN micx cx USING (ws, pair, x) JOIN micy cy USING (ws, pair, y)
             |   JOIN minn nn USING (ws, pair)),
             | mires AS (SELECT ws, pair, count(*)::BIGINT AS n_cells,
             |   round(sum(a * CAST(floor(ln(a * 1048576.0 / b) * 1048576.0) AS BIGINT))::DOUBLE
             |     / 1099511627776.0, 6) AS mi
             |   FROM micell GROUP BY 1, 2)
             |SELECT make_timestamp(ks.ws * 1000000) AS window_start, 'source' AS kind,
             |  ks.source AS series, n_docs, n_tokens, kl, ks_q20, p50, p90, p99, psi,
             |  CAST(NULL AS BIGINT) AS n_cells, CAST(NULL AS DOUBLE) AS mi
             |FROM ks JOIN qs ON ks.ws = qs.ws AND ks.source = qs.source
             |JOIN psi ON ks.ws = psi.ws AND ks.source = psi.source
             |JOIN kl ON ks.ws = kl.ws AND ks.source = kl.source
             |UNION ALL
             |SELECT make_timestamp(ws * 1000000), 'pair', pair,
             |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
             |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
             |  n_cells, mi
             |FROM mires
             |ORDER BY window_start, kind, series""".stripMargin,

      // The q27 window assignment (hourly time_bucket) with the exact
      // integer-cents sum the stream maintains; one display division.
      "q172_event_windows_stream" ->
        raw"""WITH c AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
             |    count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents
             |  FROM events GROUP BY 1, 2)
             |SELECT window_start, event_type, n, round(cents / 100.0, 2) AS total
             |FROM c ORDER BY window_start, event_type""".stripMargin,

      // Same window assignment as q171; token counts per window (RAW text,
      // not lowercased — the trendingTerms contract), rank by (n DESC,
      // token) with the identical binary string tie-break, top-TrendK.
      "q173_trending_terms_stream" ->
        raw"""WITH base AS (
             |  SELECT ((doc_id % $SpanSec) // $WindowSec) * $WindowSec AS ws, text FROM documents),
             | toks AS (SELECT ws, unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM base),
             | tok2 AS (SELECT ws, token FROM toks WHERE token <> ''),
             | c AS (SELECT ws, token, count(*) AS n FROM tok2 GROUP BY 1, 2),
             | r AS (SELECT ws, token, n,
             |    CAST(row_number() OVER (PARTITION BY ws ORDER BY n DESC, token) AS BIGINT) AS rank FROM c)
             |SELECT make_timestamp(ws * 1000000) AS window_start, token, n, rank
             |FROM r WHERE rank <= $TrendK ORDER BY window_start, rank""".stripMargin,

      // The q09 balance shape over the cents-amount payment mapping: the
      // stream's final update-mode snapshot must equal the batch grouped
      // sum exactly (integer cents — no rounding anywhere).
      "q174_payment_topology_stream" ->
        (ParityQueries.paymentsCteCents +
          "SELECT from_account, CAST(sum(amount) AS BIGINT) AS balance_cents " +
          "FROM merged GROUP BY from_account ORDER BY from_account"),

      // The q11 sink-routing shape with the reference's actual topic names
      // (`application.yml:13-15`): per-topic record count + total, one
      // display division from the exact integer-cents sum.
      "q175_payment_sinks_stream" ->
        (ParityQueries.paymentsCteCents +
          "SELECT CASE WHEN rails = 'BANK_RAILS_FOO' THEN 'rails-foo-topic' ELSE 'rails-bar-topic' END AS topic, " +
          "count(*) AS n, round(CAST(sum(amount) AS BIGINT) / 100.0, 2) AS total " +
          "FROM merged GROUP BY 1 ORDER BY topic"),

      // The batch twin restricted to the same slices (the q145 pattern):
      // survivors = quality-passing crawl-slice fingerprints minus the
      // seen table. DISTINCT mirrors the within-stream first-wins dedup —
      // the injected duplicate arrivals collapse to one fingerprint, so a
      // dedup failure surfaces as extra rows against this oracle.
      "q176_curation_dedup_stream" ->
        raw"""WITH seen AS (
             |  SELECT DISTINCT md5(lower(trim(text))) AS fp FROM documents
             |  WHERE doc_id % 10 < 7 OR doc_id % 5 = 0),
             | survivors AS (
             |  SELECT DISTINCT md5(lower(trim(text))) AS fp FROM documents
             |  WHERE doc_id % 10 >= 7 AND ${OracleSql.quality} >= 0.5)
             |SELECT fp FROM survivors
             |WHERE fp IS NOT NULL
             |  AND fp NOT IN (SELECT fp FROM seen WHERE fp IS NOT NULL)
             |ORDER BY fp""".stripMargin,

      // The batch interval left join the stream must reproduce exactly:
      // null-padded sides encode as the −1 / epoch sentinels BOTH engines
      // apply (a bare NULL would be dtype-unstable under the driver's
      // string-hash compare). Time bound in integer microseconds — no
      // interval-literal dialect drift.
      "q177_stream_join_outer" ->
        raw"""WITH l AS (
             |  SELECT event_id AS l_event_id, ts, user_id FROM events WHERE event_type = 'click'),
             | r AS (
             |  SELECT event_id AS r_event_id, ts AS r_ts, user_id FROM events WHERE event_type = 'purchase')
             |SELECT l.l_event_id, l.ts,
             |  coalesce(r.r_event_id, -1) AS r_event_id,
             |  coalesce(r.r_ts, make_timestamp(0)) AS r_ts
             |FROM l LEFT JOIN r ON l.user_id = r.user_id
             |  AND epoch_us(r.r_ts) - epoch_us(l.ts) BETWEEN 0 AND ${JoinWithinSec * 1000000L}
             |ORDER BY l_event_id, r_event_id""".stripMargin,

      // q178 and q179 share ONE oracle text (sessionOracleSql): same gap
      // rule, same bounds, same columns — the native merging-window
      // operator and the GroupState re-expression must both hash-match it.
      "q178_session_window_stream" -> sessionOracleSql,
      "q179_custom_session_stream" -> sessionOracleSql,

      // Two-level rollup: 5-minute buckets (count + exact cents), then the
      // hourly re-aggregation over buckets — sum/count/max must match the
      // chained streaming aggregates' close-time emissions.
      "q180_chained_windows_stream" ->
        raw"""WITH m AS (
             |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS mb, event_type,
             |    count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents
             |  FROM events GROUP BY 1, 2)
             |SELECT time_bucket(INTERVAL '1 hour', mb) AS window_start, event_type,
             |  CAST(sum(n) AS BIGINT) AS n, count(*) AS n_buckets,
             |  CAST(max(cents) AS BIGINT) AS max_cents, CAST(sum(cents) AS BIGINT) AS cents
             |FROM m GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

      // Backward as-of with the node's exact tie rule (latest p_ts wins,
      // time ties to the GREATEST p_event_id — the q80 convention); outer
      // nulls encode as the −1/epoch sentinels both engines apply.
      "q182_stream_asof_enrich" ->
        raw"""WITH l AS (
             |  SELECT event_id AS click_id, ts, user_id FROM events WHERE event_type = 'click'),
             | r AS (
             |  SELECT event_id AS p_event_id, ts AS p_ts, user_id FROM events WHERE event_type = 'purchase'),
             | j AS (
             |  SELECT l.click_id, l.ts, l.user_id, r.p_event_id, r.p_ts,
             |    row_number() OVER (PARTITION BY l.click_id
             |      ORDER BY r.p_ts DESC, r.p_event_id DESC) AS rn
             |  FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.p_ts <= l.ts)
             |SELECT click_id, ts, user_id,
             |  coalesce(p_event_id, -1) AS p_event_id,
             |  coalesce(p_ts, make_timestamp(0)) AS p_ts
             |FROM j WHERE rn = 1 ORDER BY click_id""".stripMargin,

      // Sliding assignment: every event contributes to the 30-minute-
      // aligned window containing it AND the one starting 30 minutes
      // earlier (length/slide = 2 copies); arithmetic in epoch-µs.
      "q183_sliding_windows_stream" ->
        raw"""WITH e AS (
             |  SELECT event_type,
             |    make_timestamp(epoch_us(time_bucket(INTERVAL '30 minutes', ts)) - off * 1800000000) AS window_start
             |  FROM events, (SELECT unnest([0, 1]) AS off) o)
             |SELECT window_start, event_type, count(*) AS n
             |FROM e GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

      // The per-user grouped cents sum the v2 snapshot must reproduce.
      "q181_state_v2_stream" ->
        raw"""SELECT CAST(user_id AS VARCHAR) AS from_account,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS balance_cents
             |FROM events GROUP BY 1 ORDER BY from_account""".stripMargin,

      // The final complete-mode emission = the whole-table grouped
      // aggregate (exact integer cents, one display division).
      "q186_complete_mode_stream" ->
        raw"""SELECT event_type, count(*) AS n,
             |  round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

      // The q172 hourly aggregate restricted to the ON-TIME slice — every
      // held-out row (event_id % 10 = 0) arrived late and must be absent.
      "q187_late_data_drop_stream" ->
        raw"""WITH c AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
             |    count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents
             |  FROM events WHERE event_id % 10 <> 0 GROUP BY 1, 2)
             |SELECT window_start, event_type, n, round(cents / 100.0, 2) AS total
             |FROM c ORDER BY window_start, event_type""".stripMargin,

      // q172's oracle text verbatim: the two AvailableNow runs must land
      // the SAME whole-corpus aggregate a single uninterrupted stream does.
      "q188_available_now_incremental" ->
        raw"""WITH c AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
             |    count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS cents
             |  FROM events GROUP BY 1, 2)
             |SELECT window_start, event_type, n, round(cents / 100.0, 2) AS total
             |FROM c ORDER BY window_start, event_type""".stripMargin,

      // The q126 portable-HLL formula per hourly window over user_id:
      // identical 60-bit md5 fold, bucket/rho split, max-rho registers,
      // exact-integer harmonic denominator with empty buckets as the
      // (64 − count)·2^55 term, and the small-range linear-counting switch.
      "q189_windowed_hll_stream" ->
        raw"""WITH e AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, CAST(user_id AS VARCHAR) AS u
             |  FROM events),
             | h AS (
             |  SELECT ws, CAST(list_reduce(list_transform(range(1, 16),
             |    i -> (strpos('0123456789abcdef', substr(md5(u), i::INT, 1)) - 1)::BIGINT),
             |    (a, c) -> a * 16 + c) AS BIGINT) AS h
             |  FROM e),
             | rb AS (SELECT ws, (h % 64)::INT AS bucket, h // 64 AS w FROM h),
             | reg AS (
             |  SELECT ws, bucket,
             |    max(CASE WHEN w = 0 THEN 55 ELSE 55 - strlen(bin(w)) END) AS m
             |  FROM rb GROUP BY 1, 2),
             | agg AS (
             |  SELECT ws,
             |    sum(CAST(pow(2, 55 - m) AS BIGINT))
             |      + (64 - count(*)) * CAST(pow(2, 55) AS BIGINT) AS q,
             |    64 - count(*) AS v
             |  FROM reg GROUP BY ws),
             | est AS (
             |  SELECT ws, q, v,
             |    0.709::DOUBLE * 64 * 64 * 36028797018963968.0::DOUBLE / CAST(q AS DOUBLE) AS raw
             |  FROM agg)
             |SELECT ws AS window_start, CAST(q AS BIGINT) AS q, CAST(v AS BIGINT) AS v,
             |  round(CASE WHEN raw <= 2.5 * 64 AND v > 0
             |             THEN 64.0::DOUBLE * ln(64.0::DOUBLE / v)
             |             ELSE raw END, 4) AS hll_estimate
             |FROM est ORDER BY window_start""".stripMargin,

      // q192's oracle text verbatim: the two-run incremental apply must
      // reconstruct the EXACT one-shot history — versions, interval
      // stitching across the epoch boundary, open-sentinel rows and all.
      "q193_scd2_incremental" -> EventQueries.oracles("q192_scd2_history"),

      // q191's oracle text verbatim: the stream's watermark-proof emission
      // must land the batch funnel's exact rows (the q178/q179 shared-
      // oracle cross-proof pattern).
      "q194_funnel_stream" -> EventQueries.oracles("q191_funnel"),

      // q195's oracle text verbatim: per-batch enrichment against the
      // evolving store must equal the one-shot PIT join — the no-future-
      // leakage / no-staleness proof in one hash.
      "q196_cdc_pit_stream" -> EventQueries.oracles("q195_pit_enrich"),

      // q191's oracle text verbatim: the TTL covers the corpus span, so
      // the bounded-tombstone run must be byte-identical to the unbounded
      // funnel — the TTL contract itself, hashed on the real corpus.
      "q199_funnel_ttl_stream" -> EventQueries.oracles("q191_funnel"),

      // q191's oracle text verbatim: the transformWithState (v2) funnel
      // and its TTL flavor must land the IDENTICAL bytes — the v1/v2
      // cross-proof on the engine's last v1-only custom-state family.
      "q207_funnel_v2" -> EventQueries.oracles("q191_funnel"),
      "q208_funnel_ttl_v2" -> EventQueries.oracles("q191_funnel"),

      // The INDEPENDENT formulation of the stream-stream as-of: an
      // explicit pair join + per-trade argmax by (quote ts, event_id),
      // LEFT-preserved so quote-less trades hash their NULLs too. The
      // stream's anchor compaction, pending-trade buffering and
      // watermark-proof emission must land these exact rows.
      "q198_asof_stream" -> asofOracle(window = ""),

      // q198's oracle text verbatim: the transformWithState (v2) run must
      // land the IDENTICAL bytes — the v1/v2 cross-proof on one oracle.
      "q203_asof_stream_v2" -> asofOracle(window = ""),

      // Same formulation with the 48 h lookback window — the matched=0
      // class (a trade whose nearest quote is too old, or none at all)
      // hashes its NULLs like any other row.
      "q200_asof_tolerance_stream" ->
        asofOracle(window = s" AND q.ts >= t.ts - INTERVAL $AsofToleranceHours HOUR"),

      // q200's oracle text verbatim: the v2 run of the tolerance flavor
      // must land the identical bytes (the q203 cross-proof, bounded end).
      "q204_asof_tolerance_v2" ->
        asofOracle(window = s" AND q.ts >= t.ts - INTERVAL $AsofToleranceHours HOUR"),

      // The FORWARD direction: window flipped to [t, t + tol], argmin by
      // (ts, event_id) ascending — the earliest at-or-after quote.
      "q201_asof_forward_stream" ->
        asofOracle(
          window = s" AND q.ts <= t.ts + INTERVAL $AsofToleranceHours HOUR",
          forward = true),

      // The NEAREST direction: q106/q114's exact rank chain — least µs
      // distance, backward-first, greatest-backward-key /
      // least-forward-key — inside the ±tolerance pair join.
      "q202_asof_nearest_stream" -> nearestOracle,

      // q201's oracle text verbatim: the v2 (transformWithState) forward
      // run must land the IDENTICAL bytes — the cross-proof, forward
      // direction.
      "q205_asof_forward_v2" ->
        asofOracle(
          window = s" AND q.ts <= t.ts + INTERVAL $AsofToleranceHours HOUR",
          forward = true),

      // q202's oracle text verbatim: the v2 nearest run closes the
      // 3-direction × 2-API matrix on one oracle per direction.
      "q206_asof_nearest_v2" -> nearestOracle
    )
  }

  /** The q202/q206 shared oracle: q106/q114's exact rank chain — least µs
    * distance, backward-first, greatest-backward-key / least-forward-key
    * — inside the ±tolerance pair join, LEFT-preserved.
    */
  private def nearestOracle: String = {
    val tolUs = AsofToleranceHours * 3600L * 1000000L
    s"""WITH t AS (
       |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       | q AS (
       |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'view'),
       | j AS (
       |  SELECT t.event_id, q.ts AS qts, q.cents,
       |    row_number() OVER (PARTITION BY t.event_id
       |      ORDER BY abs(epoch_us(q.ts) - epoch_us(t.ts)) ASC,
       |               (q.ts <= t.ts) DESC,
       |               CASE WHEN q.ts <= t.ts THEN -q.event_id ELSE q.event_id END ASC) AS rn
       |  FROM t JOIN q ON t.user_id = q.user_id
       |    AND abs(epoch_us(q.ts) - epoch_us(t.ts)) <= $tolUs)
       |SELECT t.event_id, t.user_id, t.ts, j.qts AS quote_ts, j.cents AS quote_cents
       |FROM t LEFT JOIN j ON j.event_id = t.event_id AND j.rn = 1
       |ORDER BY t.event_id""".stripMargin
  }

  /** The q198/q200/q201 shared oracle: explicit pair join + per-trade
    * argmax (backward: latest at-or-before, DESC) or argmin (forward:
    * earliest at-or-after, ASC), LEFT-preserved; `window` appends the
    * tolerance bound to the join predicate.
    */
  private def asofOracle(window: String, forward: Boolean = false): String = {
    val (cmp, ord) = if (forward) (">=", "ASC") else ("<=", "DESC")
    s"""WITH t AS (
       |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       | q AS (
       |  SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'view'),
       | j AS (
       |  SELECT t.event_id, q.ts AS qts, q.cents,
       |    row_number() OVER (
       |      PARTITION BY t.event_id ORDER BY q.ts $ord, q.event_id $ord) AS rn
       |  FROM t JOIN q ON t.user_id = q.user_id AND q.ts $cmp t.ts$window)
       |SELECT t.event_id, t.user_id, t.ts, j.qts AS quote_ts, j.cents AS quote_cents
       |FROM t LEFT JOIN j ON j.event_id = t.event_id AND j.rn = 1
       |ORDER BY t.event_id""".stripMargin
  }

  /** The q178/q179 shared session oracle: gaps-and-islands with the
    * built-in's exact boundary rule — STRICT split (`delta > gap` starts a
    * new session; an event at exactly `last + gap` merges), close =
    * `last + gap`, all arithmetic in epoch-µs.
    */
  private def sessionOracleSql: String =
    raw"""WITH e AS (
         |  SELECT ts, user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         | l AS (
         |  SELECT ts, user_id, cents, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
         | f AS (
         |  SELECT ts, user_id, cents,
         |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > $SessionGapUs THEN 1 ELSE 0 END AS ns
         |  FROM l),
         | s AS (
         |  SELECT ts, user_id, cents, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
         |SELECT user_id, min(ts) AS session_start,
         |  make_timestamp(max(epoch_us(ts)) + $SessionGapUs) AS session_end,
         |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
         |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin
}
