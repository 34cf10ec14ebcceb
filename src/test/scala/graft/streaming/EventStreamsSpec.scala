package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

class EventStreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  /** Start of the 10-minute window containing ts(minute) — Spark windows
    * align to epoch boundaries, not to the first event.
    */
  private def winStart(minute: Int) =
    new Timestamp((1700000000000L + minute * 60000L) / 600000L * 600000L)

  test("windowedStats: streaming watermark drops data later than the bound") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val query = EventStreams
      .windowedStats(
        input.toDF().toDF("ts", "event_type", "value"),
        windowLength = "10 minutes",
        watermark = Some("5 minutes")
      )
      .writeStream
      .format("memory")
      .queryName("win_stats")
      .outputMode("update")
      .start()

    input.addData((ts(0), "click", 1.0), (ts(1), "click", 2.0), (ts(30), "click", 4.0))
    query.processAllAvailable()
    // Watermark is now ts(30) - 5min = ts(25); an event at ts(2) is late
    // beyond the bound and must be DROPPED from the aggregate.
    input.addData((ts(2), "click", 100.0))
    query.processAllAvailable()
    input.addData((ts(31), "click", 8.0)) // on-time row still lands
    query.processAllAvailable()
    val byWindow = spark.table("win_stats")
      .select($"window_start", $"n", $"total")
      .as[(Timestamp, Long, Double)]
      .collect()
      .groupBy(_._1)
      .map { case (w, rows) => w -> rows.maxBy(_._2) } // latest update per window
    assert(byWindow(winStart(0))._2 == 2L, "late row beyond watermark must not count")
    assert(byWindow(winStart(0))._3 == 3.0)
    assert(byWindow(winStart(30))._2 == 2L)
    query.stop()
  }

  test("append mode + watermark = suppress-until-window-closes (final results only)") {
    // Kafka Streams' suppress(untilWindowCloses) emits one FINAL result per
    // window; Structured Streaming's append output mode has exactly those
    // semantics — a window row is emitted only once the watermark passes
    // its end, and never updated again.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val query = EventStreams
      .windowedStats(
        input.toDF().toDF("ts", "event_type", "value"),
        windowLength = "10 minutes",
        watermark = Some("0 seconds")
      )
      .writeStream
      .format("memory")
      .queryName("final_windows")
      .outputMode("append")
      .start()

    input.addData((ts(0), "click", 1.0), (ts(1), "click", 2.0))
    query.processAllAvailable()
    // window [ts0, +10min) is still open: nothing emitted yet
    assert(spark.table("final_windows").count() == 0, "open windows must stay suppressed")

    input.addData((ts(30), "click", 4.0)) // watermark jumps past the first window's end
    query.processAllAvailable()
    val rows = spark.table("final_windows").as[(Timestamp, String, Long, Double)].collect()
    assert(rows.length == 1, "exactly one FINAL result for the closed window")
    assert(rows.head._1 == winStart(0) && rows.head._3 == 2L && rows.head._4 == 3.0)
    query.stop()
  }

  test("trendingTerms: top-k tokens per window, emitted only when the window closes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val tmp   = tempDir("graft-trending").toString
    val out   = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, String, Long, Long)]
    val query = EventStreams.trendingTerms(
      input.toDF().toDF("ts", "text"),
      windowLength = "10 minutes",
      watermark = "0 seconds",
      k = 2,
      checkpointDir = s"$tmp/ckpt"
    ) { batch =>
      out.synchronized {
        out ++= batch.as[(Timestamp, String, Long, Long)].collect()
      }
    }
    // window A (minutes 0-9): alpha x3, beta x2, gamma x1 -> top2 alpha,
    // beta; the blank docs would contribute 4 empty tokens — enough to
    // "win" the window — and must be ignored
    input.addData(
      (ts(1), "alpha beta alpha"),
      (ts(2), "alpha beta gamma"),
      (ts(2), ""),
      (ts(2), "   "),
      (ts(3), ""),
      (ts(3), " ")
    )
    query.processAllAvailable()
    assert(out.isEmpty, "no window closed yet — append mode must not emit")
    // an event in the NEXT window pushes the watermark past window A
    input.addData((ts(12), "delta"))
    query.processAllAvailable()
    val winA = out.synchronized(out.filter(_._1 == winStart(1)).map(t => (t._2, t._3, t._4)).toSet)
    assert(winA == Set(("alpha", 3L, 1L), ("beta", 2L, 2L)), s"got $winA")
    query.stop()
  }

  test("sessionize: gap rule splits sessions per user (batch twin)") {
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(40)), // user 1: gap 35min -> 2 sessions
      (2L, ts(0)), (2L, ts(90)), (2L, ts(95)) // user 2: gap 90min -> 2 sessions
    ).toDF("user_id", "ts")
    val out = EventStreams
      .sessionize(events, gapMinutes = 30)
      .groupBy($"user_id", $"session_idx")
      .agg(count(lit(1)).as("n"))
    val m = out.as[(Long, Long, Long)].collect().map { case (u, s, n) => (u, s) -> n }.toMap
    assert(m == Map((1L, 1L) -> 2L, (1L, 2L) -> 1L, (2L, 1L) -> 1L, (2L, 2L) -> 2L))
  }

  test("session_window agrees with the window-function sessionizer on real data") {
    // Two independent implementations of the same semantics must produce the
    // same (user, session-size) multiset: the lag/cumsum batch form (q28's
    // oracle-checked path) and Spark's native session_window.
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val viaWindowFns = EventStreams
      .sessionize(events, gapMinutes = 30)
      .groupBy($"user_id", $"session_idx")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"n_events")
    val viaSessionWindow = EventStreams
      .sessionStats(events, gapMinutes = 30)
      .select($"user_id", $"n_events")
    val a = viaWindowFns.as[(Long, Long)].collect().sorted.toSeq
    val b = viaSessionWindow.as[(Long, Long)].collect().sorted.toSeq
    assert(a.nonEmpty && a == b)
  }
}
