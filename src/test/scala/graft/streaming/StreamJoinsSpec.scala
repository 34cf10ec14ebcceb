package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class StreamJoinsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  test("stream-static enrich: dimension values attach per micro-batch, unmatched keys keep null") {
    implicit val sqlCtx = spark.sqlContext
    val dim   = Seq(("ABC", "uk"), ("XYZ", "us")).toDF("account", "region")
    val input = MemoryStream[(String, Long)]
    val query = StreamJoins
      .enrich(input.toDF().toDF("account", "amount"), dim, "account")
      .writeStream
      .format("memory")
      .queryName("enriched")
      .outputMode("append")
      .start()
    input.addData(("ABC", 100L), ("NOPE", 5L))
    query.processAllAvailable()
    val rows = spark.table("enriched").as[(String, Long, Option[String])].collect().toSet
    assert(rows == Set(("ABC", 100L, Some("uk")), ("NOPE", 5L, None)))
    query.stop()
  }

  test("stream-stream interval join matches only within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(String, Timestamp)]
    val buys   = MemoryStream[(String, Timestamp)]
    val joined = StreamJoins.intervalJoin(
      clicks.toDF().toDF("user", "ts"),
      buys.toDF().toDF("user", "ts"),
      key = "user",
      withinSeconds = 30
    )
    val query = joined.writeStream
      .format("memory")
      .queryName("attributed")
      .outputMode("append")
      .start()

    clicks.addData(("u1", ts(0)), ("u2", ts(0)))
    buys.addData(("u1", ts(10)))  // within 30s -> match
    buys.addData(("u2", ts(100))) // 100s later -> no match
    query.processAllAvailable()
    val users = spark.table("attributed").select("user").as[String].collect().toSeq
    assert(users == Seq("u1"), "only the within-bound purchase attributes")
    query.stop()
  }

  test("left-outer interval join: unmatched rows emit null-padded ONLY after the watermark expires them") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(String, Timestamp)]
    val buys   = MemoryStream[(String, Timestamp)]
    val joined = StreamJoins.intervalJoinLeftOuter(
      clicks.toDF().toDF("user", "ts"),
      buys.toDF().toDF("user", "ts"),
      key = "user",
      withinSeconds = 30,
      watermark = "10 seconds"
    )
    val query = joined.writeStream
      .format("memory")
      .queryName("attributed_outer")
      .outputMode("append")
      .start()

    clicks.addData(("u1", ts(0)), ("u2", ts(0)))
    buys.addData(("u1", ts(10))) // u1 matches; u2 has nothing (yet?)
    query.processAllAvailable()
    def rows() =
      spark.table("attributed_outer").select("user", "r_ts").as[(String, Option[Timestamp])].collect().toSet
    assert(rows() == Set(("u1", Some(ts(10)))),
      "u2 must NOT null-pad yet — its join window is still open: " + rows())
    // advance event time far past u2's window (0s + 30s) + watermark (10s):
    // state expires, and ONLY NOW the null-padded u2 row may emit
    buys.addData(("zz", ts(300)))
    clicks.addData(("zz2", ts(300)))
    query.processAllAvailable()
    assert(rows().contains(("u2", None)),
      "watermark passed u2's window — the outer row must have emitted: " + rows())
    query.stop()
  }

  test("stream-static as-of enrich: latest static row at-or-before each event, per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft-asof-enrich").toString
    // static price history: (sym, price_ts, price_id) — two symbols, two eras
    val static = Seq(
      (1L, ts(0), 100L), (1L, ts(60), 101L),
      (2L, ts(30), 200L)
    ).toDF("sym", "price_ts", "price_id")
    val input = MemoryStream[(Long, Long, Timestamp)]
    val query = StreamJoins.asofEnrich(
      input.toDF().toDF("trade_id", "sym", "ts"),
      static,
      streamKey = "sym", streamTime = "ts",
      staticKey = "sym", staticTime = "price_ts", staticTie = "price_id",
      sink = s"$tmp/out", checkpoint = s"$tmp/ckpt"
    )
    input.addData((10L, 1L, ts(30)), (11L, 2L, ts(10)))  // batch 1
    query.processAllAvailable()
    input.addData((12L, 1L, ts(90)))                     // batch 2: later era
    query.processAllAvailable()
    query.stop()
    val rows = spark.read.parquet(s"$tmp/out")
      .select("trade_id", "price_id").as[(Long, Option[Long])].collect().toMap
    // trade 10 (t=30) -> price 100 (era ts(0)); trade 11 (t=10) precedes
    // sym 2's first price -> outer null; trade 12 (t=90) -> price 101
    assert(rows == Map(10L -> Some(100L), 11L -> None, 12L -> Some(101L)), rows.toString)
  }

  test("as-of enrich across batch boundaries: late static rows apply from the next batch; late stream rows always enrich") {
    implicit val sqlCtx = spark.sqlContext
    val tmp       = tempDir("graft-asof-late").toString
    val staticDir = s"$tmp/prices"
    // era 1 on disk before the stream starts
    Seq((1L, ts(0), 100L)).toDF("sym", "price_ts", "price_id")
      .write.parquet(staticDir)
    val input = MemoryStream[(Long, Long, Timestamp)]
    val query = StreamJoins.asofEnrich(
      input.toDF().toDF("trade_id", "sym", "ts"),
      spark.read.parquet(staticDir), // by-name: re-resolved (re-listed) per batch
      streamKey = "sym", streamTime = "ts",
      staticKey = "sym", staticTime = "price_ts", staticTie = "price_id",
      sink = s"$tmp/out", checkpoint = s"$tmp/ckpt"
    )
    input.addData((10L, 1L, ts(90)))
    query.processAllAvailable() // batch 1: only era 1 exists -> price 100
    // a LATE static row lands between batches: a newer price era at ts(60)
    // that (retroactively) precedes trade 10's event time
    Seq((1L, ts(60), 101L)).toDF("sym", "price_ts", "price_id")
      .write.mode("append").parquet(staticDir)
    // batch 2 carries a LATE stream row — event time OLDER than batch 1's —
    // plus a replay-shaped twin of trade 10's event time
    input.addData((11L, 1L, ts(30)), (12L, 1L, ts(90)))
    query.processAllAvailable()
    query.stop()
    val rows = spark.read.parquet(s"$tmp/out")
      .select("trade_id", "price_id").as[(Long, Option[Long])].collect().toMap
    // trade 10 keeps its batch-1 answer (era 2 had not landed; already-
    // written batches are never retroactively updated); trade 11's late
    // event time enriches fine (no watermark drops it) against era 1;
    // trade 12 — same event time as trade 10, processed after the late
    // static row — sees era 2: the snapshot is per BATCH, not per stream
    assert(rows == Map(10L -> Some(100L), 11L -> Some(100L), 12L -> Some(101L)), rows.toString)
  }
}
