package graft.streaming

import graft.SparkSpec
import graft.model.PaymentEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite


/** The v2 (`transformWithState`) TTL balance operator must honor the SAME
  * contract as the v1 (`flatMapGroupsWithState`) twin — both scenarios here
  * mirror StatefulBalancesSpec's TTL tests verbatim, so the two state APIs
  * are proven interchangeable. transformWithState requires the RocksDB
  * state-store provider; each test pins it and restores the session conf.
  */
class StateV2BalancesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def p(id: String, amount: Long, from: String) =
    PaymentEvent(id, amount, "GBP", "SINK", from, "BANK_RAILS_FOO")

  private def tp(sec: Long, id: String, amount: Long, from: String) =
    StatefulBalances.TimedPayment(new java.sql.Timestamp(sec * 1000L), p(id, amount, from))

  private def withRocksDb[A](body: => A): A = {
    val key  = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("v2 TTL: keys idle past the watermark TTL are evicted and re-initialize from zero") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[StatefulBalances.TimedPayment]
      val tmp   = tempDir("graft-tws").toString
      val query = StateV2Balances
        .runningBalancesTtl(input.toDS(), java.time.Duration.ofSeconds(30))
        .writeStream
        .queryName("tws_bal")
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/ckpt")
        .format("memory")
        .start()

      input.addData(tp(10, "p1", 100, "ABC")) // ABC deadline = 10s + 30s = 40s
      query.processAllAvailable()             // watermark advances to 10s
      // DEF at t=100s pushes the watermark past ABC's 40s deadline; the
      // timer fires (no fresh ABC data) → evicted.
      input.addData(tp(100, "p2", 70, "DEF"))
      query.processAllAvailable()
      // evicted above, so this re-initializes from 0L — NOT 100+50
      input.addData(tp(110, "p3", 50, "ABC"))
      query.processAllAvailable()

      val rows = spark.table("tws_bal").as[StatefulBalances.BalanceUpdate].collect()
      val abc  = rows.filter(_.fromAccount == "ABC").map(_.balance).toSeq
      assert(abc.contains(100L) && abc.contains(50L) && !abc.contains(150L),
        s"expected timer eviction between batches, got $abc")
      assert(rows.filter(_.fromAccount == "DEF").map(_.balance).toSeq == Seq(70L))
      query.stop()
    }
  }

  test("v2 TTL: a late event cannot move the eviction deadline backward") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[StatefulBalances.TimedPayment]
      val tmp   = tempDir("graft-tws-late").toString
      val query = StateV2Balances
        .runningBalancesTtl(
          input.toDS(),
          java.time.Duration.ofSeconds(30),
          lateness = java.time.Duration.ofSeconds(60))
        .writeStream
        .queryName("tws_late")
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/ckpt")
        .format("memory")
        .start()

      input.addData(tp(100, "p1", 100, "ABC")) // deadline = 130s
      query.processAllAvailable()              // watermark -> 40s
      input.addData(tp(60, "p2", 50, "ABC"))   // LATE but admitted; deadline stays 130s
      query.processAllAvailable()
      input.addData(tp(160, "p3", 70, "DEF"))  // watermark -> 100s < 130s -> ABC survives
      query.processAllAvailable()
      input.addData(tp(165, "p4", 25, "ABC")) // continues from 150 -> 175
      query.processAllAvailable()

      val abc = spark
        .table("tws_late")
        .as[StatefulBalances.BalanceUpdate]
        .collect()
        .filter(_.fromAccount == "ABC")
        .map(_.balance)
        .toSeq
      assert(abc.contains(175L) && !abc.contains(25L),
        s"late event regressed the TTL deadline and evicted an active key: $abc")
      query.stop()
    }
  }
}
