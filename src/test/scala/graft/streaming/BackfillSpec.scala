package graft.streaming

import graft.SparkSpec
import graft.model.PaymentEvent
import graft.operators.PaymentOps
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite


/** BACKFILL pattern — the operational mode every production stream needs:
  * run the SAME topology code as a self-terminating catch-up job with
  * `Trigger.AvailableNow`, against a file source the upstream keeps
  * appending to. The checkpoint makes successive runs incremental and
  * exactly-once: files processed by run 1 are never re-emitted by run 2,
  * with no dedup logic in the topology itself. At 100 TB this is how the
  * nightly catch-up and the live stream share one code path.
  */
class BackfillSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val schema = Encoders.product[PaymentEvent].schema

  test("AvailableNow backfill: self-terminates, second run picks up only new files") {
    val tmp = tempDir("graft-backfill").toString
    val in  = s"$tmp/in"

    def land(events: PaymentEvent*): Unit =
      events.toDF().coalesce(1).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val payments = spark.readStream.schema(schema).parquet(in)
      val q = PaymentOps
        .merged(payments)
        .writeStream
        .trigger(Trigger.AvailableNow()) // process everything, then STOP
        .option("checkpointLocation", s"$tmp/ckpt")
        .format("parquet")
        .option("path", s"$tmp/out")
        .start()
      q.awaitTermination(60000L)
      assert(!q.isActive, "AvailableNow query must self-terminate")
    }

    land(
      PaymentEvent("p1", 100L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
      PaymentEvent("p2", 1000L, "USD", "DEF", "XYZ", "BANK_RAILS_BAR"),
      PaymentEvent("p3", 1200L, "GBP", "DEF", "ABC", "BANK_RAILS_XXX") // filtered
    )
    runOnce()
    val out1 = spark.read.parquet(s"$tmp/out")
    assert(out1.count() == 2)
    // the topology really ran: USD row arrives FX-converted
    assert(
      out1.filter($"paymentId" === "p2").select("amount", "currency").as[(Long, String)].head()
        == ((800L, "GBP"))
    )

    // upstream lands more files; the same code catches up incrementally
    land(
      PaymentEvent("p4", 40L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
      PaymentEvent("p5", 500L, "USD", "DEF", "XYZ", "BANK_RAILS_BAR")
    )
    runOnce()
    val out2 = spark.read.parquet(s"$tmp/out")
    assert(out2.count() == 4, "second run must add exactly the new rows, no re-emission")
    assert(
      out2.select("paymentId").as[String].collect().toSet == Set("p1", "p2", "p4", "p5")
    )
    assert(
      out2.filter($"paymentId" === "p5").select("amount").as[Long].head() == 400L
    )

    // a third run with NOTHING new is a no-op (still terminates cleanly)
    runOnce()
    assert(spark.read.parquet(s"$tmp/out").count() == 4)
  }
}
