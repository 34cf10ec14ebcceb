package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.scalatest.funsuite.AnyFunSuite

/** q171 — the registered streaming-sink query: a REAL StreamingQuery
  * (file source → watermarked windowed aggregate → append-mode emission →
  * foreachBatch KL sink) whose materialized output the driver hash-checks
  * against the windowed q158 oracle. The spec pins the execution-level
  * contract the oracle cannot see:
  *   - append-mode exactly-once: every real (window, source) emits exactly
  *     once across micro-batches (no duplicates in the sink parquet);
  *   - the watermark sentinel finalizes every real window (full window ×
  *     source coverage) and never leaks into the output;
  *   - a re-run is byte-deterministic (fresh checkpoint, same rows).
  */
class StreamQueriesSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q171: sink emits every real (window, source) exactly once; sentinel never leaks") {
    val rows = SparkEntry.queries("q171_vocab_drift_stream")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getString(1) == "__sentinel__"), "sentinel window must never close")
    val keys = rows.map(r => (r.getTimestamp(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "append mode re-emitted a closed window")
    // every (window, source) pair that PRODUCES A TOKEN must be present:
    // the expected set applies the stream's own non-empty-token gate, so a
    // whitespace-only document alone in its window doesn't fabricate an
    // expected key the stream (correctly) never emits
    import org.apache.spark.sql.functions._
    val expected = graft.sources.Tables
      .documents(spark, dir)
      .select(
        timestamp_seconds((col("doc_id") % 600).cast("long") - (col("doc_id") % 60).cast("long"))
          .as("window_start"),
        col("source"),
        explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("window_start"), col("source"))
      .distinct()
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
      .toSet
    assert(keys.toSet == expected, "closed-window coverage mismatch vs the batch key set")
  }

  test("q173: per-window leaderboard is complete, contiguous, and sentinel-free") {
    val rows = SparkEntry.queries("q173_trending_terms_stream")(spark, dir).collect()
    assert(rows.nonEmpty)
    // a window's rows all close in one batch, so its leaderboard is ranked
    // whole: ranks must be exactly 1..min(k, distinct tokens) per window
    rows.groupBy(_.getTimestamp(0)).foreach { case (w, rs) =>
      val ranks = rs.map(_.getLong(3)).sorted.toSeq
      assert(ranks == (1L to ranks.length), s"ranks not contiguous in window $w: $ranks")
      assert(ranks.length <= graft.queries.StreamQueries.TrendK,
        s"window $w exceeded the leaderboard depth")
    }
    // counts within a window never increase as rank worsens
    rows.groupBy(_.getTimestamp(0)).foreach { case (w, rs) =>
      val byRank = rs.sortBy(_.getLong(3)).map(_.getLong(2)).toSeq
      assert(byRank == byRank.sorted.reverse, s"counts not ranked descending in window $w")
    }
  }

  test("q171: re-run with a fresh checkpoint is byte-deterministic") {
    val a = SparkEntry.queries("q171_vocab_drift_stream")(spark, dir).collect()
    val b = SparkEntry.queries("q171_vocab_drift_stream")(spark, dir).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("event-window stream recovers from a checkpoint: stop mid-stream, restart, identical output") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-restart-")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val in   = s"$tmp/in"
    val outP = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    val events = graft.sources.Tables
      .events(spark, dir)
      .select(col("ts"), col("event_type"), col("value"))
    val maxUs = events.agg(max(col("ts"))).first().getTimestamp(0).getTime * 1000L
    // watermark delay LONGER than the whole event-time span: run 1's
    // finalization batch (watermark = max ts − delay, before every window
    // end) closes NOTHING, so the checkpoint carries EVERY window's
    // pending state across the restart — without this, the post-data-batch
    // watermark advance would finalize all but the last window before the
    // stop, and the test would only prove single-window recovery
    val delayHours = 24L * 365

    // the IDENTICAL transform the registered q172 runs (StreamQueries
    // shares it), not a hand-maintained copy
    def start() = graft.queries.StreamQueries
      .eventWindowCents(
        spark.readStream
          .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
          .parquet(in)
          .withWatermark("ts", s"$delayHours hours"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outP)
        ()
      }
      .start()

    // run 1: the data only — nothing can close, all state checkpoints
    events.write.mode("append").parquet(in)
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop()
    assert(!new java.io.File(outP).exists() ||
      spark.read.parquet(outP).isEmpty,
      "run 1 must close no window — the recovery test needs all state pending at the stop")
    // run 2: a NEW query restarted from the same checkpoint sees only the
    // appended sentinel (past delay + every window end), recovers ALL
    // windowed state, and finalizes every real window exactly once
    spark
      .range(1)
      .select(
        timestamp_micros(lit(maxUs + (delayHours + 2L) * 3600L * 1000000L)).as("ts"),
        lit("__sentinel__").as("event_type"),
        lit(0.0).as("value"))
      .write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    val recovered = spark.read
      .parquet(outP)
      .select(col("window_start"), col("event_type"), col("n"),
        round(col("cents") / 100.0, 2).as("total"))
      .orderBy(col("window_start"), col("event_type"))
      .collect()
    val oneShot = graft.SparkEntry
      .queries("q172_event_windows_stream")(spark, dir)
      .collect()
    assert(recovered.toSeq == oneShot.toSeq,
      "restart-recovered output differs from the uninterrupted run")
  }

  test("q174 update-mode contract: a batch emits only its changed keys, re-emitting cumulative sums") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-upd-")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val in   = s"$tmp/in"
    val cols = Seq("paymentId", "amount", "currency", "toAccount", "fromAccount", "rails")
    // file 1: accounts a (GBP 100 cents) and b (GBP 250); file 2: b again
    // via the FX path (USD 125 → round(125·0.8) = 100 GBP cents). With
    // one-file triggers these are two micro-batches in either order.
    Seq(("p1", 100L, "GBP", "SINK", "a", "BANK_RAILS_FOO"),
        ("p2", 250L, "GBP", "SINK", "b", "BANK_RAILS_BAR"))
      .toDF(cols: _*).coalesce(1).write.parquet(in)
    Seq(("p3", 125L, "USD", "SINK", "b", "BANK_RAILS_FOO"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
    val rt = graft.streaming.PaymentPipeline.start(stream, s"$tmp/ckpt", s"$tmp/sink")
    try rt.processAllAvailable()
    finally rt.stop()
    val log = spark.read
      .schema("fromAccount STRING, balance BIGINT, batch_id BIGINT")
      .parquet(s"$tmp/sink/_balance_state")
      .collect()
    assert(log.map(_.getLong(2)).distinct.length == 2, "one-file triggers must yield two batches")
    // changed keys only: the batch that did not touch `a` must not re-emit it
    val a = log.filter(_.getString(0) == "a")
    assert(a.length == 1 && a.head.getLong(1) == 100L,
      s"`a` must emit exactly once with its sum: ${a.mkString(",")}")
    // `b` re-emits across batches, each emission the CUMULATIVE sum so far;
    // the latest committed batch carries the final 250 + 100
    val b = log.filter(_.getString(0) == "b").sortBy(_.getLong(2))
    assert(b.length == 2, s"`b` must emit in both batches: ${b.mkString(",")}")
    assert(b.last.getLong(1) == 350L, s"final cumulative sum wrong: ${b.mkString(",")}")
    assert(Set(100L, 250L).contains(b.head.getLong(1)),
      s"first emission must be that batch's own cumulative sum: ${b.mkString(",")}")
    // the queryable store agrees (404 contract on an absent key)
    assert(rt.store.get("a").contains(100L) && rt.store.get("b").contains(350L)
      && rt.store.get("zz").isEmpty)
  }

  test("q174/q175 registered rows match the batch topology twins") {
    import org.apache.spark.sql.functions._
    val pay = ParityQueries.paymentsFromEventsCents(spark, dir)
    val t   = graft.operators.PaymentOps.topology(pay)
    val balances = t.balances.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q174_payment_topology_stream")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == balances, "streamed snapshot differs from the batch topology")
    val routed = graft.operators.PaymentOps
      .routed(t.merged)
      .groupBy(col("topic"))
      .agg(count(lit(1)).as("n"), round(sum(col("amount")) / 100.0, 2).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val sinks = SparkEntry.queries("q175_payment_sinks_stream")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sinks == routed, "routed sink summary differs from the batch topology")
  }

  test("q176: both dedup drop paths fire — no seen fingerprint, no duplicate arrival in the sink") {
    import org.apache.spark.sql.functions._
    val fps = SparkEntry.queries("q176_curation_dedup_stream")(spark, dir).collect()
      .map(_.getString(0))
    assert(fps.nonEmpty)
    // within-stream first-wins: the injected second arrivals must collapse
    assert(fps.distinct.length == fps.length, "a duplicate arrival reached the sink")
    def fp = md5(lower(trim(col("text"))))
    val docs = graft.sources.Tables.documents(spark, dir)
    // anti-join path: nothing in the seen table survives
    val seen = docs.filter(col("doc_id") % 10 < 7 || col("doc_id") % 5 === 0)
      .select(fp).collect().map(_.getString(0)).toSet
    assert(fps.toSet.intersect(seen).isEmpty, "a seen fingerprint leaked past the anti join")
    // and the fixture genuinely exercised the within-stream path: some
    // surviving fingerprint arrived TWICE in the input (doc_id % 3 == 0,
    // not in seen, quality-passing)
    val dupSurvivors = docs
      .filter(col("doc_id") % 10 >= 7 && col("doc_id") % 3 === 0 && col("doc_id") % 5 =!= 0)
      .filter(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5)
      .select(fp).collect().map(_.getString(0)).toSet
    assert(dupSurvivors.nonEmpty, "fixture must exercise the duplicate-arrival path")
    assert(dupSurvivors.subsetOf(fps.toSet), "a twice-arriving new document must survive exactly once")
  }

  test("q177: eager matches and watermark-delayed outer rows are disjoint, complete, sentinel-free") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q177_stream_join_outer")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getLong(0) < 0), "a sentinel row emitted — its interval must never close")
    val matched   = rows.filter(_.getLong(2) >= 0)
    val unmatched = rows.filter(_.getLong(2) == -1L)
    assert(matched.nonEmpty && unmatched.nonEmpty,
      "fixture must exercise both the eager-match and the delayed-outer path")
    // outer semantics: a click with any match never also emits null-padded
    assert(matched.map(_.getLong(0)).toSet.intersect(unmatched.map(_.getLong(0)).toSet).isEmpty,
      "a matched click also emitted a null-padded row")
    // every click emits at least once (no row lost to late-drop: the
    // watermark delay exceeds the whole event-time span)
    val clicks = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type") === "click").count()
    assert(rows.map(_.getLong(0)).distinct.length.toLong == clicks,
      "left-outer completeness: every click must appear")
    // the eager path equals the batch inner interval join, pair for pair
    val ev = graft.sources.Tables.events(spark, dir)
    val batchInner = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("l_event_id"), col("ts"), col("user_id"))
      .join(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("r_event_id"), col("ts").as("r_ts"), col("user_id")),
        Seq("user_id"))
      .filter((unix_micros(col("r_ts")) - unix_micros(col("ts")))
        .between(lit(0L), lit(graft.queries.StreamQueries.JoinWithinSec * 1000000L)))
      .select(col("l_event_id"), col("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched.map(r => (r.getLong(0), r.getLong(2))).toSet == batchInner,
      "streamed matches differ from the batch interval join")
  }

  test("q178/q179 cross-proof: native session_window and the custom-state sessionizer are byte-identical") {
    val a = SparkEntry.queries("q178_session_window_stream")(spark, dir).collect()
    val b = SparkEntry.queries("q179_custom_session_stream")(spark, dir).collect()
    assert(a.nonEmpty)
    assert(a.toSeq == b.toSeq,
      "the merging-window operator and the GroupState re-expression must agree on every session")
  }

  test("q178: sessions are exactly-once, sentinel-free, and match the batch session_window twin") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q178_session_window_stream")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getLong(0) == -1L), "the sentinel user's session must never close")
    val keys = rows.map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(keys.distinct.length == keys.length, "append mode re-emitted a closed session")
    val batch = graft.streaming.EventStreams
      .sessionCents(
        graft.sources.Tables.events(spark, dir)
          .select(col("ts"), col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
        gapMinutes = 30)
      .orderBy(col("user_id"), col("session_start"))
      .collect()
    assert(rows.toSeq == batch.toSeq, "streamed sessions differ from the batch twin")
  }

  test("q180: hourly rollups equal the batch two-level aggregate; sentinel bucket never reaches level two") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q180_chained_windows_stream")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getString(1) == "__sentinel__"), "sentinel 5-minute bucket leaked into an hourly row")
    val keys = rows.map(r => (r.getTimestamp(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "append mode re-emitted a closed hourly window")
    val batch = graft.queries.StreamQueries
      .chainedWindows(graft.sources.Tables.events(spark, dir))
      .orderBy(col("window_start"), col("event_type"))
      .collect()
    assert(rows.toSeq == batch.toSeq, "chained streaming rollup differs from the batch twin")
  }

  test("q181: the v2 snapshot equals the batch grouped sum; provider conf is restored") {
    import org.apache.spark.sql.functions._
    val key  = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    val rows = SparkEntry.queries("q181_state_v2_stream")(spark, dir).collect()
    assert(spark.conf.getOption(key) == prev, "q181 must restore the state-store provider conf")
    assert(rows.nonEmpty)
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy(col("user_id").cast("string").as("from_account"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("balance_cents"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == batch,
      "v2 streamed snapshot differs from the batch grouped sum")
  }

  test("session-window state recovers from a checkpoint: stop with every session open, restart, identical output") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess-restart-")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val in   = s"$tmp/in"
    val outP = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    val events = graft.sources.Tables
      .events(spark, dir)
      .select(col("ts"), col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val maxUs = events.agg(max(unix_micros(col("ts")))).first().getLong(0)
    // delay > the whole event-time span: run 1 closes NOTHING, so the
    // checkpoint carries every MERGING session's state across the restart
    val delayHours = 24L * 365

    def start() = graft.streaming.EventStreams
      .sessionCents(
        spark.readStream.schema("ts TIMESTAMP, user_id BIGINT, cents BIGINT").parquet(in),
        gapMinutes = 30,
        watermark = Some(s"$delayHours hours"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outP)
        ()
      }
      .start()

    events.write.mode("append").parquet(in)
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop()
    assert(!new java.io.File(outP).exists() || spark.read.parquet(outP).isEmpty,
      "run 1 must close no session — the recovery test needs all merging state pending at the stop")
    spark.range(1)
      .select(
        timestamp_micros(lit(maxUs + (delayHours + 2L) * 3600L * 1000000L + 30L * 60L * 1000000L)).as("ts"),
        lit(-1L).as("user_id"), lit(0L).as("cents"))
      .write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    val recovered = spark.read.parquet(outP)
      .orderBy(col("user_id"), col("session_start")).collect()
    val oneShot = SparkEntry.queries("q178_session_window_stream")(spark, dir).collect()
    assert(recovered.toSeq == oneShot.toSeq,
      "restart-recovered sessions differ from the uninterrupted run")
  }

  test("custom-state sessionizer recovers state AND armed timers from a checkpoint") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-csess-restart-")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val in   = s"$tmp/in"
    val outP = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    val events = graft.sources.Tables
      .events(spark, dir)
      .select(col("ts"), col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val maxUs = events.agg(max(unix_micros(col("ts")))).first().getLong(0)
    val delayHours = 24L * 365

    def start() = {
      val evs = spark.readStream
        .schema("ts TIMESTAMP, user_id BIGINT, cents BIGINT")
        .parquet(in)
        .select(col("ts"), unix_micros(col("ts")).as("us"), col("user_id"), col("cents"))
        .as[graft.streaming.Sessionizer.SessionEvent]
      graft.streaming.Sessionizer
        .sessions(evs, java.time.Duration.ofMinutes(30), java.time.Duration.ofHours(delayHours))
        .toDF()
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outP)
          ()
        }
        .start()
    }

    // run 1: data only — timers are ARMED (deadline = earliest close) but
    // the watermark sits a year behind, so nothing fires; the restart must
    // recover both the open-session lists and the registered deadlines
    events.write.mode("append").parquet(in)
    val q1 = start()
    try q1.processAllAvailable()
    finally q1.stop()
    assert(!new java.io.File(outP).exists() || spark.read.parquet(outP).isEmpty,
      "run 1 must emit nothing — all sessions and timers pending at the stop")
    spark.range(1)
      .select(
        timestamp_micros(lit(maxUs + (delayHours + 2L) * 3600L * 1000000L + 30L * 60L * 1000000L)).as("ts"),
        lit(-1L).as("user_id"), lit(0L).as("cents"))
      .write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable()
    finally q2.stop()

    val recovered = spark.read.parquet(outP)
      .select(
        col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"), col("cents"))
      .orderBy(col("user_id"), col("session_start")).collect()
    val oneShot = SparkEntry.queries("q179_custom_session_stream")(spark, dir).collect()
    assert(recovered.toSeq == oneShot.toSeq,
      "restart-recovered custom-state sessions differ from the uninterrupted run")
  }

  test("q182: per-micro-batch as-of enrichment equals the batch custom-node join; idempotent sink, no sentinel") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q182_stream_asof_enrich")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(r => r.getLong(0) < 0 || r.getLong(2) < 0), "a sentinel row leaked into the enriched sink")
    // left-outer completeness: every click exactly once
    val clicks = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type") === "click").count()
    assert(rows.length.toLong == clicks, "every click must enrich exactly once")
    assert(rows.count(_.getLong(3) == -1L) > 0 && rows.count(_.getLong(3) >= 0) > 0,
      "fixture must exercise both the matched and the no-history path")
    // the batch custom node over the same slices agrees row for row
    val ev = graft.sources.Tables.events(spark, dir)
    val l = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts"), col("user_id"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_event_id"))
    val batch = graft.plans.AsofJoinOps
      .asof(l, r, l.col("user_id"), l.col("ts"), r.col("p_user"), r.col("p_ts"), r.col("p_event_id"),
        leftOuter = true)
      .select(col("click_id"), col("ts"), col("user_id"),
        coalesce(col("p_event_id"), lit(-1L)).as("p_event_id"),
        coalesce(col("p_ts"), timestamp_seconds(lit(0))).as("p_ts"))
      .orderBy(col("click_id"))
      .collect()
    assert(rows.toSeq == batch.toSeq, "streamed as-of enrichment differs from the batch custom node")
  }

  test("q183: sliding windows emit exactly once per (window, type); every event lands in two windows") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q183_sliding_windows_stream")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getString(1) == "__sentinel__"), "neither sentinel window may close")
    val keys = rows.map(r => (r.getTimestamp(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "append mode re-emitted a closed sliding window")
    // length/slide = 2: total counted rows are exactly twice the events
    val nEvents = graft.sources.Tables.events(spark, dir).count()
    assert(rows.map(_.getLong(2)).sum == 2L * nEvents, "each event must contribute to exactly two windows")
    val batch = graft.streaming.EventStreams
      .slidingStats(graft.sources.Tables.events(spark, dir), "1 hour", "30 minutes")
      .orderBy(col("window_start"), col("event_type"))
      .collect()
    assert(rows.toSeq == batch.toSeq, "streamed sliding windows differ from the batch twin")
  }

  test("q172: every real (window, event_type) emits exactly once; totals match the batch twin") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q172_event_windows_stream")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getString(1) == "__sentinel__"), "sentinel window must never close")
    val keys = rows.map(r => (r.getTimestamp(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "append mode re-emitted a closed window")
    // the batch twin over the same table: identical windows, counts, totals
    val batch = graft.sources.Tables
      .events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(expr("CAST(round(value * 100) AS BIGINT)")) / 100.0, 2).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(keys.toSet == batch.keySet, "closed-window coverage mismatch vs the batch twin")
    rows.foreach { r =>
      val (n, total) = batch((r.getTimestamp(0), r.getString(1)))
      assert(r.getLong(2) == n && r.getDouble(3) == total,
        s"stream vs batch mismatch at ${r.getTimestamp(0)}/${r.getString(1)}")
    }
  }

  test("q186 complete mode: every batch re-emits the WHOLE table; per-key counts only grow") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic two-file input: which file lands in batch 0 is a source
    // implementation detail, so the assertions are order-symmetric
    val tmp = java.nio.file.Files.createTempDirectory("graft-complete-")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val in   = s"$tmp/in"
    val outP = s"$tmp/out"
    val mk = (rows: Seq[(String, Long)]) =>
      rows.toDF("event_type", "cents").coalesce(1)
    mk(Seq(("A", 100L), ("A", 250L), ("B", 40L))).write.parquet(in)
    mk(Seq(("A", 7L), ("C", 11L))).write.mode("append").parquet(in)
    val q = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        b.withColumn("batch_id", lit(bid)).write.mode("append").parquet(outP)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val log = spark.read.parquet(outP)
      .collect()
      .map(r => (r.getLong(3), r.getString(0)) -> ((r.getLong(1), r.getLong(2))))
      .groupBy(_._1._1)
      .view.mapValues(_.map { case ((_, k), v) => k -> v }.toMap).toMap
    assert(log.keySet == Set(0L, 1L), s"expected one batch per file, got ${log.keySet}")
    val fileA = Map("A" -> ((2L, 350L)), "B" -> ((1L, 40L)))
    val fileB = Map("A" -> ((1L, 7L)), "C" -> ((1L, 11L)))
    val full  = Map("A" -> ((3L, 357L)), "B" -> ((1L, 40L)), "C" -> ((1L, 11L)))
    // batch 0 = exactly one file's aggregate; batch 1 = the COMPLETE table
    assert(log(0L) == fileA || log(0L) == fileB, s"batch 0 is not a single file's table: ${log(0L)}")
    assert(log(1L) == full, s"final complete emission must be the whole aggregate: ${log(1L)}")
    // complete-mode monotonicity: a key's count never shrinks across batches
    log(0L).foreach { case (k, (n0, _)) => assert(n0 <= full(k)._1) }
    // and the registered row equals the batch grouped twin
    val got = SparkEntry.queries("q186_complete_mode_stream")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val twin = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(expr("CAST(round(value * 100) AS BIGINT)")) / 100.0, 2).as("total"))
      .orderBy(col("event_type"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == twin.toSeq, "final complete snapshot != batch aggregate")
  }

  test("q188/AvailableNow: run 1 emits early windows and stops itself; run 2 carries state across the restart") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand-built corpus: window A [0h,1h) entirely in epoch 1; window B
    // [1h,2h) STRADDLES the epochs (one event per run) — cross-run state
    // carry is observable only if B's final count includes run 1's event
    val tmp = java.nio.file.Files.createTempDirectory("graft-avnow-")
    graft.sources.SessionMemo.deleteOnExit(tmp)
    val watch = s"$tmp/watch"
    val outP  = s"$tmp/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watch))
    def writeEpoch(rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("sec", "event_type", "value")
        .select(timestamp_seconds(col("sec")).as("ts"), col("event_type"), col("value"))
        .coalesce(1).write.mode("append").parquet(watch)
    def drain(): Unit = {
      val q = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .parquet(watch)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(outP)
          ()
        }
        .start()
      try q.awaitTermination() // AvailableNow terminates the query itself
      finally q.stop()
    }
    writeEpoch(Seq((100L, "a", 1.0), (200L, "a", 2.0), (3900L, "b", 3.0)))
    drain() // watermark → 3900: window A closes, straddling B stays open
    val run1 = spark.read.parquet(outP).collect()
      .map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(1), r.getLong(2)))
    assert(run1.toSet == Set((0L, "a", 2L)), s"run 1 must emit exactly window A: ${run1.toSeq}")
    writeEpoch(Seq((3960L, "b", 4.0), (36000L, "__sentinel__", 0.0)))
    drain() // restart from the checkpoint: B must close with BOTH events
    val fin = spark.read.parquet(outP).collect()
      .map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.getString(1), r.getLong(2)))
    assert(fin.toSet == Set((0L, "a", 2L), (3600L, "b", 2L)),
      s"state did not carry across the AvailableNow restart: ${fin.toSeq}")
    assert(fin.length == 2, s"append mode re-emitted a window across runs: ${fin.toSeq}")
  }

  test("q188 registered row equals the full-corpus batch twin") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q188_available_now_incremental")(spark, dir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length, "duplicate window emission")
    val twin = graft.sources.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(expr("CAST(round(value * 100) AS BIGINT)")) / 100.0, 2).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSet == twin.toSet, "two-run incremental sink != whole-corpus aggregate")
  }

  test("q189: streaming two-level HLL equals the batch transform; registers bounded; sentinel-free") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q189_windowed_hll_stream")(spark, dir).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(_.getTimestamp(0))
    assert(keys.distinct.length == keys.length, "append mode re-emitted a closed window")
    rows.foreach { r =>
      val (q, v) = (r.getLong(1), r.getLong(2))
      assert(v >= 0L && v <= 64L, s"zero-register count out of range: $v")
      // q = Σ 2^(55-m) over 64 registers: bounded by [64·2^0, 64·2^55]
      assert(q >= 64L && q <= 64L * (1L << 55), s"harmonic denominator out of range: $q")
      assert(r.getDouble(3) >= 0.0)
    }
    // the batch twin: the IDENTICAL transform applied to the events table
    // in batch mode must land byte-identical windows and estimates
    val batch = graft.queries.StreamQueries
      .windowedHll(graft.sources.Tables.events(spark, dir).select(col("ts"), col("user_id")))
      .orderBy(col("window_start"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val got = rows.map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == batch.toSeq, "stream vs batch HLL mismatch")
  }

  test("q187: late arrivals land in already-emitted windows and are provably dropped") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q187_late_data_drop_stream")(spark, dir).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.getTimestamp(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "append mode re-emitted a closed window")
    val events = graft.sources.Tables.events(spark, dir)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(expr("CAST(round(value * 100) AS BIGINT)")) / 100.0, 2).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // the emitted table IS the on-time-only aggregate
    val onTime = agg(events.filter(col("event_id") % 10 =!= 0))
    val got    = rows.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSet == onTime.toSet, "stream output != on-time batch twin")
    // non-vacuous: held-out rows exist AND fall inside windows the stream
    // emitted — the watermark drop, not window absence, excluded them
    val lateKeys = events.filter(col("event_id") % 10 === 0)
      .select(window(col("ts"), "1 hour")("start").as("window_start"), col("event_type"))
      .distinct()
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
    assert(lateKeys.nonEmpty, "fixture has no late slice")
    val overlap = lateKeys.toSet.intersect(keys.toSet)
    assert(overlap.nonEmpty, "no late row targeted an emitted window — drop untested")
    // and on at least one overlapping key the full aggregate differs
    val fullMap = agg(events).map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    val gotMap  = got.map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    assert(overlap.exists(k => fullMap(k) != gotMap(k)),
      "late rows never changed any emitted window's aggregate — drop unobservable")
  }
}
