package graft.streaming

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Real-socket checks of the interactive-query HTTP surface — mirrors the
  * reference's integration assertions: 200 with the balance for a present
  * account, 404 for an absent one, and a topology body naming the source
  * (`KafkaStreamsPaymentIntegrationTest.java:195-220`).
  */
class RestServiceSpec extends AnyFunSuite with SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()
    )

  test("balance endpoint: 200 + Long body for present accounts, 404 for absent (BalanceController contract)") {
    val balances = Map("ABC" -> 210L, "XYZ" -> 800L)
    val svc = new RestService(balances.get, () => "plan").start()
    try {
      val ok = get(svc.boundPort, "/v1/kafka-streams/balance/ABC")
      assert(ok.statusCode() == 200 && ok.body() == "210")
      val fx = get(svc.boundPort, "/v1/kafka-streams/balance/XYZ")
      assert(fx.statusCode() == 200 && fx.body() == "800")
      // DEF never SENT a payment -> no state -> 404 (the reference's null case)
      val absent = get(svc.boundPort, "/v1/kafka-streams/balance/DEF")
      assert(absent.statusCode() == 404 && absent.body().isEmpty)
    } finally svc.stop()
  }

  test("a 200 answer is not held back by the delayed ACK (TCP_NODELAY)") {
    // with Nagle on, a 200's body waits about 40 ms for the client's
    // delayed ACK of its headers; a 404 has no body and never waits
    val svc = new RestService(_ => Some(210L), () => "plan").start()
    try {
      get(svc.boundPort, "/v1/kafka-streams/balance/ABC") // connect once
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        assert(get(svc.boundPort, "/v1/kafka-streams/balance/ABC").statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, f"median 200 lookup $median%.1f ms: ${ms.map(m => f"$m%.1f").mkString(" ")}")
    } finally svc.stop()
  }

  test("topology endpoint returns the plan text (TopologyController contract)") {
    val plan = PaymentPipeline.describe(
      graft.operators.PaymentOps.topology(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          graft.model.PaymentEvent.schema)).balances)
    val svc = new RestService(_ => None, () => plan).start()
    try {
      val r = get(svc.boundPort, "/v1/kafka-streams/topology")
      // the reference asserts its source topic appears in the describe body;
      // ours names the aggregation the topology materializes
      assert(r.statusCode() == 200 && r.body().contains("Aggregate"))
    } finally svc.stop()
  }

  test("handler exception yields a generic 500 and the server survives") {
    val svc = new RestService(
      acct => if (acct == "BOOM") throw new RuntimeException("secret internal detail") else Some(1L),
      () => "plan"
    ).start()
    try {
      val boom = get(svc.boundPort, "/v1/kafka-streams/balance/BOOM")
      assert(boom.statusCode() == 500)
      assert(!boom.body().contains("secret"), "exception message must not leak into the body")
      // the service keeps serving after a handler failure
      val ok = get(svc.boundPort, "/v1/kafka-streams/balance/OK")
      assert(ok.statusCode() == 200 && ok.body() == "1")
    } finally svc.stop()
  }

  test("end-to-end: HTTP reads see the streaming store's state as batches commit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.model.PaymentEvent]
    val tmp   = tempDir("graft-rest").toString
    val t     = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink")
    val svc   = RestService.forTopology(t, "plan").start()
    try {
      input.addData(
        graft.model.PaymentEvent("p1", 100, "GBP", "SINK", "ABC", "BANK_RAILS_FOO"),
        graft.model.PaymentEvent("p2", 110, "GBP", "SINK", "ABC", "BANK_RAILS_FOO"))
      t.processAllAvailable()
      val r1 = get(svc.boundPort, "/v1/kafka-streams/balance/ABC")
      assert(r1.statusCode() == 200 && r1.body() == "210")
      assert(get(svc.boundPort, "/v1/kafka-streams/balance/NOPE").statusCode() == 404)
      // a later batch is visible to subsequent reads (eventual consistency)
      input.addData(graft.model.PaymentEvent("p3", 40, "GBP", "SINK", "ABC", "BANK_RAILS_FOO"))
      t.processAllAvailable()
      assert(get(svc.boundPort, "/v1/kafka-streams/balance/ABC").body() == "250")
    } finally { svc.stop(); t.stop() }
  }
}
