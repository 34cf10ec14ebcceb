package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

object Stats {

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** How many samples lie beyond the `p` percentile (the guide's rule: a
    * percentile is reported only with at least ten samples beyond it).
    */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt
}

/** One `GET /v1/kafka-streams/balance/{account}`, with the time the
  * service's `BalanceStore.get` took to answer it in a traced run.
  */
final case class Lookup(
    account: String,
    status: Int,
    body: String,
    startMs: Long,
    endMs: Long,
    httpMs: Double,
    getMs: Option[Double]
)

/** A closed-loop client: one request in flight, the next sent when the
  * previous has answered and a seeded random pause of up to `thinkMs` has
  * passed. Beside a running stream the pause keeps the requests from
  * locking onto the batches' rhythm, so they sample every phase of it.
  */
final class Client(h: Harness, seed: Long, thinkMs: Int) {
  private val think = new java.util.SplittableRandom(seed * 17 + 3)
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val base = s"http://localhost:${h.rest.boundPort}/v1/kafka-streams/balance/"

  def lookup(account: String): Lookup = {
    val req  = HttpRequest.newBuilder(URI.create(base + account)).timeout(Duration.ofSeconds(60)).GET().build()
    h.lastGetMs = Double.NaN
    val s    = System.currentTimeMillis()
    val t0   = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    val ms   = (System.nanoTime() - t0) / 1e6
    val e    = System.currentTimeMillis()
    // one request in flight: the last get the service made answered this
    // one (a traced run times them; otherwise this stays NaN)
    val getMs = Some(h.lastGetMs).filterNot(_.isNaN)
    Lookup(account, resp.statusCode(), resp.body(), s, e, ms, getMs)
  }

  /** Untimed lookups that take the first-call costs out of the timed ones. */
  def warmUp(): Unit = (1 to 5).foreach(i => lookup(Gen.accountId(i)))

  /** Lookups until `done` holds (checked before each one). */
  def run(done: () => Boolean, pick: () => String): Vector[Lookup] = {
    val out = Vector.newBuilder[Lookup]
    while (!done()) {
      out += lookup(pick())
      if (thinkMs > 0) Thread.sleep(think.nextInt(thinkMs))
    }
    out.result()
  }
}
