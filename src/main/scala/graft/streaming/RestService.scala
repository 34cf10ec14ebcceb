package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The reference's interactive-query HTTP surface, its two routes
  * re-expressed over the streaming state this engine maintains:
  *
  *   - `GET /v1/kafka-streams/balance/{account}` — point lookup in the
  *     [[PaymentPipeline.BalanceStore]] index that [[PaymentPipeline.start]]
  *     maintains (the one payment path); absent key ⇒ HTTP 404, present ⇒
  *     200 with the Long balance as the body. Twin of
  *     `controller/BalanceController.java:22-35` (store `get`, null→404).
  *   - `GET /v1/kafka-streams/topology` — the current plan text, twin of
  *     `controller/TopologyController.java:20-23` (`Topology#describe`).
  *
  * Built on the JDK's `com.sun.net.httpserver` so the library adds no HTTP
  * dependency; a production deployment would front the same two functions
  * with its own stack. The handler threads read the store's in-memory
  * index, which the balance stream's thread republishes after each batch —
  * the same worker-thread-reads-streams-thread-state shape (and
  * eventual-consistency window) the reference's integration test tolerates
  * (`KafkaStreamsPaymentIntegrationTest.java:185-204`). A balance lookup
  * starts no Spark job and touches no file.
  *
  * Requests run on a pool of four worker threads. Without an executor the
  * JDK reads and answers each request on its single dispatcher thread, so
  * one stalled client would hold up every lookup.
  *
  * A response goes out as two writes, headers then body. With Nagle's
  * algorithm on, the body waits for the client's delayed ACK of the
  * headers, about 40 ms per 200 answer. Creating a service therefore sets
  * the JVM-wide system property `sun.net.httpserver.nodelay=true`
  * (TCP_NODELAY). The JDK reads that property once per JVM, when its first
  * `HttpServer` is created: in a JVM that created an `HttpServer` before
  * this class, the setting has no effect.
  */
final class RestService(
    getBalance: String => Option[Long],
    describeTopology: () => String,
    port: Int = 0 // 0 = ephemeral (tests); fixed port in deployment
) {

  // TCP_NODELAY must be asked for before the JDK's first HttpServer (class doc)
  private val server: HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress(port), 0)
  }

  // The worker pool (class doc). Daemon threads so an un-stopped service
  // never pins the JVM.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    4,
    (r: Runnable) => { val t = new Thread(r, "graft-rest"); t.setDaemon(true); t }
  )
  server.setExecutor(pool)

  private val BalancePath = "/v1/kafka-streams/balance/"

  server.createContext(
    BalancePath,
    (ex: HttpExchange) => respondWith(ex) {
      val account = ex.getRequestURI.getPath.stripPrefix(BalancePath)
      getBalance(account) match {
        case Some(balance) => (200, balance.toString) // HTTP 200 + Long body
        case None          => (404, "")               // null ⇒ NOT_FOUND
      }
    }
  )

  server.createContext(
    "/v1/kafka-streams/topology",
    (ex: HttpExchange) => respondWith(ex)((200, describeTopology()))
  )

  /** Handler exceptions map to a GENERIC 500 — the exception is logged, not
    * serialized into the body (internal detail leakage), and fatal JVM errors
    * (OOM, thread death) propagate rather than masquerade as an HTTP status.
    */
  private def respondWith(ex: HttpExchange)(body: => (Int, String)): Unit =
    try {
      val (status, text) =
        try body
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[RestService] ${ex.getRequestURI}: $e")
            (500, "internal server error")
        }
      val bytes          = text.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
      // contract quirk: a 404 with -1 means empty body (HttpServer API)
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    } finally ex.close()

  def start(): RestService = { server.start(); this }

  /** Bound port (after start; useful with port=0). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object RestService {

  /** Wire the service straight onto a running topology. */
  def forTopology(running: PaymentPipeline.RunningTopology, planText: String, port: Int = 0): RestService =
    new RestService(running.store.get, () => planText, port)
}
