package perfbench

import java.util.SplittableRandom

/** One generated input file: Kafka-wire-shaped records, one per line as
  * `key<TAB>value` (key = paymentId, value = the payment JSON), plus what
  * each record must do to the topology's outputs.
  *
  * @param account account index of each record's `fromAccount`
  * @param credit  what the record adds to that account's balance (0 when
  *                its rails is dropped)
  * @param topic   0 = dropped (BANK_RAILS_XXX), 1 = rails-foo, 2 = rails-bar
  */
final case class Batch(bytes: Array[Byte], account: Array[Int], credit: Array[Long], topic: Array[Byte]) {
  def events: Int = account.length
}

/** Seeded payment generator. The rails/currency mix follows the reference
  * component test (amount 10..10000, GBP/USD evenly) plus a share of
  * `BANK_RAILS_XXX` records the topology must drop. Accounts are drawn
  * uniformly (`zipfS = 0`) or Zipf-skewed.
  */
final class Gen(seed: Long, val accounts: Int, zipfS: Double) {
  private val rnd    = new SplittableRandom(seed)
  private var nextId = 0L

  private val cdf: Array[Double] =
    if (zipfS <= 0) null
    else {
      val w = Array.tabulate(accounts)(i => 1.0 / math.pow(i + 1.0, zipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }

  /** Draw an account index from this generator's distribution. */
  def drawAccount(r: SplittableRandom): Int =
    if (cdf == null) r.nextInt(accounts)
    else {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, accounts - 1)
    }

  def batch(n: Int): Batch = {
    val sb      = new java.lang.StringBuilder(n * 150)
    val account = new Array[Int](n)
    val credit  = new Array[Long](n)
    val topic   = new Array[Byte](n)
    var k       = 0
    while (k < n) {
      val id     = Gen.pad("P", nextId, 12)
      val amount = 10L + rnd.nextInt(9991)
      val usd    = rnd.nextBoolean()
      val rails =
        if (rnd.nextDouble() < Gen.XxxShare) 0
        else if (rnd.nextBoolean()) 1
        else 2
      val acct = drawAccount(rnd)
      val to   = rnd.nextInt(1000)
      nextId += 1
      account(k) = acct
      topic(k) = rails.toByte
      credit(k) = if (rails == 0) 0L else if (usd) Math.round(amount * 0.8) else amount
      sb.append(id).append('\t')
        .append("{\"paymentId\":\"").append(id)
        .append("\",\"amount\":").append(amount)
        .append(",\"currency\":\"").append(if (usd) "USD" else "GBP")
        .append("\",\"toAccount\":\"").append(Gen.pad("T-", to, 4))
        .append("\",\"fromAccount\":\"").append(Gen.accountId(acct))
        .append("\",\"rails\":\"").append(Gen.Rails(rails))
        .append("\"}\n")
      k += 1
    }
    Batch(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), account, credit, topic)
  }
}

object Gen {
  val XxxShare = 0.1
  val Rails: Array[String] = Array("BANK_RAILS_XXX", "BANK_RAILS_FOO", "BANK_RAILS_BAR")

  def pad(prefix: String, v: Long, width: Int): String = {
    val s = v.toString
    prefix + "0" * math.max(0, width - s.length) + s
  }

  def accountId(i: Int): String = pad("A", i, 7)

  /** Never produced by [[Gen]], so a lookup must answer 404; it sorts next
    * to account `i`, inside the range of real ids.
    */
  def absentId(i: Int): String = accountId(i) + "X"

  def accountIndex(id: String): Int =
    if (id.length == 8 && id.charAt(0) == 'A') id.substring(1).toInt else -1
}

/** What the topology must output for the files delivered so far, computed
  * by the benchmark on its own: per-account balances and, per outbound
  * topic, the routed record count and amount total.
  */
final class Expected(accounts: Int) {
  val balance: Array[Long] = new Array[Long](accounts)
  val present              = new java.util.BitSet(accounts)
  val count: Array[Long]   = new Array[Long](3)
  val total: Array[Long]   = new Array[Long](3)
  var events               = 0L

  def add(b: Batch): Unit = {
    var k = 0
    while (k < b.events) {
      val t = b.topic(k)
      count(t) += 1
      total(t) += b.credit(k)
      if (t != 0) {
        balance(b.account(k)) += b.credit(k)
        present.set(b.account(k))
      }
      k += 1
    }
    events += b.events
  }
}
