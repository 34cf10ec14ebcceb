package graft.streaming

import graft.SparkSpec
import graft.model.PaymentEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._


class StatefulBalancesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def p(id: String, amount: Long, from: String) =
    PaymentEvent(id, amount, "GBP", "SINK", from, "BANK_RAILS_FOO")

  test("streaming aggregation runs on the RocksDB state-store provider (large-key-space path)") {
    // The reference leans on RocksDB for its state store; Spark's RocksDB
    // provider is the equivalent for key spaces that outgrow the in-memory
    // HDFS-backed store. Same query, same results — only the provider conf
    // changes (this is the config a 100 TB deployment sets).
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try {
      val input = MemoryStream[PaymentEvent]
      val tmp   = tempDir("graft-rocks").toString
      val query = graft.operators.PaymentOps
        .balances(input.toDF())
        .writeStream
        .queryName("rocks_bal")
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/ckpt")
        .format("memory")
        .start()
      input.addData(p("p1", 100, "ABC"), p("p2", 50, "ABC"))
      query.processAllAvailable()
      input.addData(p("p3", 60, "ABC"))
      query.processAllAvailable()
      val last = spark
        .table("rocks_bal")
        .as[(String, Long)]
        .collect()
        .filter(_._1 == "ABC")
        .map(_._2)
        .max
      assert(last == 210L)
      // runtime evidence, not conf echo: RocksDB-backed state operators
      // report rocksdb* custom metrics in the query progress
      val metrics = query.lastProgress.stateOperators.flatMap(_.customMetrics.keySet.asScala)
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")), metrics.mkString(", "))
      query.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  private def tp(sec: Long, id: String, amount: Long, from: String) =
    StatefulBalances.TimedPayment(new java.sql.Timestamp(sec * 1000L), p(id, amount, from))

  test("runningBalancesTtl: keys idle past the watermark TTL are evicted and re-initialize from zero") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulBalances.TimedPayment]
    val tmp   = tempDir("graft-ttl").toString
    val query = StatefulBalances
      .runningBalancesTtl(input.toDS(), java.time.Duration.ofSeconds(30))
      .writeStream
      .queryName("ttl_bal")
      .outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()

    input.addData(tp(10, "p1", 100, "ABC")) // ABC deadline = 10s + 30s = 40s
    query.processAllAvailable()             // watermark advances to 10s
    // DEF at t=100s pushes the watermark past ABC's 40s deadline; the
    // follow-up trigger fires ABC's timeout (no fresh ABC data) → evicted.
    input.addData(tp(100, "p2", 70, "DEF"))
    query.processAllAvailable()
    // ABC was evicted above, so this re-initializes from 0L — NOT 100+50.
    input.addData(tp(110, "p3", 50, "ABC"))
    query.processAllAvailable()

    val rows = spark.table("ttl_bal").as[StatefulBalances.BalanceUpdate].collect()
    val abc  = rows.filter(_.fromAccount == "ABC").map(_.balance).toSeq
    assert(abc.contains(100L) && abc.contains(50L) && !abc.contains(150L),
      s"expected eviction between batches, got $abc")
    assert(rows.filter(_.fromAccount == "DEF").map(_.balance).toSeq == Seq(70L))
    query.stop()
  }

  test("runningBalancesTtl: a late event cannot move the eviction deadline backward") {
    // The deadline is max(event time EVER seen) + ttl, held in state. If it
    // were computed from the current batch alone, the late A@60s event in
    // batch 2 would regress A's deadline from 130s to 90s and the watermark
    // advance in batch 3 would evict an ACTIVE key.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StatefulBalances.TimedPayment]
    val tmp   = tempDir("graft-ttl-late").toString
    val query = StatefulBalances
      .runningBalancesTtl(
        input.toDS(),
        java.time.Duration.ofSeconds(30),
        lateness = java.time.Duration.ofSeconds(60))
      .writeStream
      .queryName("ttl_late")
      .outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()

    input.addData(tp(100, "p1", 100, "ABC")) // deadline = 100s + 30s = 130s
    query.processAllAvailable()              // watermark -> 40s
    input.addData(tp(60, "p2", 50, "ABC"))   // LATE but admitted (60s >= watermark 40s)
    query.processAllAvailable()              // deadline must STAY 130s, balance 150
    input.addData(tp(160, "p3", 70, "DEF"))  // watermark -> 100s; 100 < 130 -> ABC survives
    query.processAllAvailable()
    input.addData(tp(165, "p4", 25, "ABC")) // continues from 150 -> 175, NOT a 25 re-init
    query.processAllAvailable()

    val abc = spark
      .table("ttl_late")
      .as[StatefulBalances.BalanceUpdate]
      .collect()
      .filter(_.fromAccount == "ABC")
      .map(_.balance)
      .toSeq
    assert(abc.contains(175L) && !abc.contains(25L),
      s"late event regressed the TTL deadline and evicted an active key: $abc")
    query.stop()
  }

  test("runningBalancesTtl on RocksDB sustains a large key space (TTL bounds live state)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try {
      val input = MemoryStream[StatefulBalances.TimedPayment]
      val tmp   = tempDir("graft-ttl-rocks").toString
      val query = StatefulBalances
        .runningBalancesTtl(input.toDS(), java.time.Duration.ofMinutes(10))
        .writeStream
        .queryName("ttl_rocks")
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/ckpt")
        .format("memory")
        .start()
      val n = 20000
      input.addData((1 to n).map(i => tp(1000, s"p$i", i.toLong, s"ACC${i % 5000}")))
      query.processAllAvailable()
      input.addData((1 to 100).map(i => tp(1001, s"q$i", 1L, s"ACC$i")))
      query.processAllAvailable()
      val state = spark
        .table("ttl_rocks")
        .as[StatefulBalances.BalanceUpdate]
        .collect()
        .groupBy(_.fromAccount)
        .view.mapValues(_.map(_.balance).max).toMap
      assert(state.size == 5000)
      // ACC7 got payments 7, 5007, 10007, 15007 (= 30028), then +1
      assert(state("ACC7") == 30029L, s"ACC7=${state("ACC7")}")
      val rocks = query.lastProgress.stateOperators.flatMap(_.customMetrics.keySet.asScala)
      assert(rocks.exists(_.toLowerCase.contains("rocksdb")))
      query.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("built-in dropDuplicatesWithinWatermark agrees with custom dedup inside the window") {
    // Spark's built-in streaming dedup keeps state only within the
    // watermark (bounded state — the 100 TB default); the custom
    // flatMapGroupsWithState dedup keeps state forever (the reference's
    // no-TTL semantics). Within one in-window batch they must agree.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val tmp   = tempDir("graft-wmdedup").toString
    val query = input
      .toDF()
      .toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream
      .queryName("wm_dedup")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()
    val t0 = new java.sql.Timestamp(1700000000000L)
    input.addData(("a", t0), ("a", t0), ("b", t0))
    query.processAllAvailable()
    assert(spark.table("wm_dedup").select("k").as[String].collect().sorted.toSeq == Seq("a", "b"))
    query.stop()
  }

  test("streamingDedup: replayed keys are dropped across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PaymentEvent]
    val tmp   = tempDir("graft-dedup").toString
    val query = StatefulBalances
      .streamingDedup(input.toDS())
      .writeStream
      .queryName("state_dedup")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory")
      .start()

    input.addData(p("a", 1, "U"), p("a", 1, "U"), p("b", 2, "U"))
    query.processAllAvailable()
    input.addData(p("a", 1, "U"), p("c", 3, "U")) // replay of a + new c
    query.processAllAvailable()
    val ids = spark.table("state_dedup").as[PaymentEvent].collect().map(_.paymentId).sorted
    assert(ids.toSeq == Seq("a", "b", "c"))
    query.stop()
  }
}
