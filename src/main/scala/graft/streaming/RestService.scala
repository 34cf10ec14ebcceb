package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The reference's interactive-query HTTP surface, re-expressed over the
  * streaming state this engine maintains:
  *
  *   - `GET /v1/kafka-streams/balance/{account}` — point lookup in the
  *     [[PaymentPipeline.BalanceStore]] index that [[PaymentPipeline.start]]
  *     maintains (the one payment path); absent key ⇒ HTTP 404, present ⇒
  *     200 with the Long balance as the body. Twin of
  *     `controller/BalanceController.java:22-35` (store `get`, null→404).
  *   - `GET /v1/kafka-streams/topology` — the current plan text, twin of
  *     `controller/TopologyController.java:20-23` (`Topology#describe`).
  *   - `GET /v1/kafka-streams/dim/{user}?at=T` — the BalanceController
  *     contract extended to the SCD-2 dimension tier: the user's version
  *     AT instant `T` (epoch-µs or `yyyy-MM-dd HH:mm:ss`), served from
  *     [[ScdStore.lookup]]'s bucket-pruned, pushed-down parquet point
  *     lookup; absent (unknown user, or `T` before their first version)
  *     ⇒ 404, malformed user/instant ⇒ 400.
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
    port: Int = 0, // 0 = ephemeral (tests); fixed port in deployment
    getDimAt: (Long, java.sql.Timestamp) => Option[String] = (_, _) => None
) {

  // TCP_NODELAY must be asked for before the JDK's first HttpServer (class doc)
  private val server: HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress(port), 0)
  }

  // Small worker pool: without one the JDK server runs every handler on its
  // single dispatcher thread, serializing all requests behind one dim
  // lookup's Spark job.
  // Daemon threads so an un-stopped service never pins the JVM.
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

  private val DimPath = "/v1/kafka-streams/dim/"

  server.createContext(
    DimPath,
    (ex: HttpExchange) => respondWith(ex) {
      val uid = ex.getRequestURI.getPath.stripPrefix(DimPath).toLongOption
      // decode exactly ONCE, from the RAW query (URI.getQuery already
      // percent-decodes, so decoding its output corrupts legitimate
      // '+'/'%' content); a malformed escape maps to the 400 branch via
      // the Option, never to respondWith's generic 500
      val at = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&")
        .collectFirst { case kv if kv.startsWith("at=") => kv.drop(3) }
        .flatMap(raw =>
          scala.util.Try(java.net.URLDecoder.decode(raw, StandardCharsets.UTF_8)).toOption)
        .flatMap(parseInstant)
      (uid, at) match {
        case (Some(u), Some(t)) =>
          getDimAt(u, t) match {
            case Some(body) => (200, body) // JSON: the version valid AT t
            case None       => (404, "")   // unknown user / before first version
          }
        case _ =>
          (400, "expected /dim/{user_id}?at=<epoch-micros | yyyy-MM-dd HH:mm:ss>")
      }
    }
  )

  /** `at` accepts exact epoch-µs (the engine's internal clock) or the
    * store's own `yyyy-MM-dd HH:mm:ss[.f]` timestamp form.
    */
  private def parseInstant(s: String): Option[java.sql.Timestamp] =
    s.toLongOption match {
      case Some(us) =>
        val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        Some(t)
      case None => scala.util.Try(java.sql.Timestamp.valueOf(s)).toOption
    }

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

  /** The dim route's lookup function over a maintained [[ScdStore]] —
    * `store.lookup` serialized to the route's JSON body.
    */
  def dimLookup(store: ScdStore): (Long, java.sql.Timestamp) => Option[String] =
    (uid, at) => store.lookup(uid, at).map(_.toJson(uid))
}
