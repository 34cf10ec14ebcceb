package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.Path
import java.util.SplittableRandom
import scala.collection.mutable

/** What one run measured and checked.
  *
  * @param wrong outputs that disagree with the generator's own sums: lookup
  *              answers no committed prefix explains, accounts whose final
  *              balance is missing or off, routed records lost or duplicated.
  *              A lookup answered 5xx is not among them: that is the known
  *              race between `BalanceStore.compact` and a concurrent `get`,
  *              which strikes at random, so it is reported as the share of
  *              lookups answered (`lookup_ok_pct`) instead.
  */
final case class Result(
    attempted: Long,
    wrong: Long,
    e2e: Map[String, Double],
    layer: Map[String, Double]
)

object Workloads {
  val SetupReps = 3

  /** Every `AbsentEvery`-th lookup asks for an account no record names. */
  val AbsentEvery = 10

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def log(msg: String): Unit =
    println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%6.1fs] $msg")

  /** Final-state checks shared by both workloads: the `BalanceStore`
    * snapshot against the generator's balances, and the routed sink's
    * per-topic record count and amount total. Returns the mismatch count.
    */
  def checkOutputs(spark: SparkSession, h: Harness, exp: Expected): Long = {
    val snap    = h.topology.store.snapshot
    var matched = 0L
    var wrong   = 0L
    snap.foreach { case (a, v) =>
      val i = Gen.accountIndex(a)
      if (i < 0 || !exp.present.get(i)) wrong += 1
      else {
        matched += 1
        if (exp.balance(i) != v) wrong += 1
      }
    }
    val missing = exp.present.cardinality - matched
    val routed = spark.read.parquet(h.sinkDir).groupBy(col("topic"))
      .agg(count(lit(1)), sum(col("amount"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val routeDiff = Seq(1 -> "rails-foo-topic", 2 -> "rails-bar-topic").map { case (t, name) =>
      val (n, total) = routed.getOrElse(name, (0L, 0L))
      if (n != exp.count(t) || total != exp.total(t)) math.max(1L, math.abs(n - exp.count(t))) else 0L
    }.sum
    if (wrong + missing + routeDiff > 0)
      log(s"output check: $wrong wrong and $missing missing balances, routed diff $routeDiff")
    wrong + missing + routeDiff
  }

  /** Lookup latency as the client saw it, as its mean. Beside a running
    * stream the latencies split into two clusters, lookups that overlap a
    * batch's tasks and lookups that do not, in about equal shares, so the
    * median jumps between them from run to run. A run makes 20 to 45
    * lookups (each is a Spark job of 0.2 to 1 s), so no tail percentile has
    * ten samples beyond it either; the mean still moves with the tail.
    * With it, the share of lookups answered without a 5xx.
    */
  def lookupMetrics(looks: Seq[Lookup]): Map[String, Double] = {
    val ms = looks.map(_.httpMs)
    log(f"lookups: ${ms.size}, " +
      f"${looks.count(_.status == 404)} x 404, ${looks.count(_.status >= 500)} x 5xx, " +
      looks.map(l => f"${l.status}:${l.httpMs}%.0f").mkString("ms ", " ", ""))
    Map(
      "lookup_ms_mean" -> ms.sum / ms.size,
      "lookup_ok_pct"  -> 100.0 * looks.count(_.status < 500) / looks.size)
  }

  /** Layer metrics the lookup side gives in a traced run. */
  def storeMetrics(h: Harness, looks: Seq[Lookup]): Map[String, Double] = {
    val gets = looks.flatMap(_.getMs)
    Map(
      "store.get_ms_p50"      -> Stats.pct(gets, 0.5),
      "store.get_ms_p90"      -> Stats.pct(gets, 0.9),
      "store.files_max"       -> h.storeFilesMax.toDouble,
      "store.lookup_5xx"      -> looks.count(_.status >= 500).toDouble,
      "rest.overhead_ms_p50"  -> Stats.median(looks.flatMap(l => l.getMs.map(l.httpMs - _)))
    )
  }

  /** The lookup account sequence: every [[AbsentEvery]]-th an absent id
    * next to one of `accounts`, the rest drawn by `pick`.
    */
  def picker(seed: Long, accounts: Int, pick: SplittableRandom => String): () => String = {
    val r = new SplittableRandom(seed * 31 + 7)
    var n = 0
    () => {
      n += 1
      if (n % AbsentEvery == 0) Gen.absentId(r.nextInt(accounts)) else pick(r)
    }
  }

  def wrongStatus(l: Lookup): Boolean = l.status != 200 && l.status != 404 && l.status < 500
}

/** `pay_bulk`: pre-generated 100k-record files, each delivered as soon as
  * both queries have committed the previous one, over ~1M uniformly drawn
  * accounts, for the whole measured window. Per-record cost dominates and
  * REST gets no traffic while records flow.
  *
  * Every run must also report the lookup metrics, so after the window, and
  * outside it, the one closed-loop client of `pay_live` asks the quiescent
  * store for [[Lookups]] balances with `pay_live`'s mix (every tenth id
  * absent), drawn uniformly like this workload's accounts.
  */
object Bulk {
  val Accounts = 1000000
  val PerBatch = 100000
  val Warm     = 2000
  val WarmFull = 1
  val Lookups  = 20

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int, trace: Option[Trace]): Result = {
    import Workloads._
    val gen  = new Gen(seed, Accounts, 0)
    val exp  = new Expected(Accounts)
    val warm = gen.batch(Warm)
    exp.add(warm)
    val (h, setupS) = Harness.setUp(spark, work, warm, SetupReps, trace.isDefined)
    log(f"set up: median $setupS%.2f s")
    // The first full-size file runs cold (JIT, codegen), a cost paid once
    // per process: it runs untimed.
    for (k <- 1 to WarmFull) {
      val b = gen.batch(PerBatch)
      h.drop(s"warm-full-$k.txt", b.bytes)
      exp.add(b)
      h.awaitVisible(s"warm-full-$k.txt", 150000)
    }

    // The next file is generated while the current one is processed.
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    var next = pool.submit(() => gen.batch(PerBatch))
    trace.foreach(_.begin())
    val t0      = System.currentTimeMillis()
    val visible = mutable.ArrayBuffer.empty[Double]
    var events  = 0L
    while (System.currentTimeMillis() - t0 < seconds * 1000L) {
      val b = next.get()
      next = pool.submit(() => gen.batch(PerBatch))
      val name = Gen.pad("batch-", visible.size, 6) + ".txt"
      val d    = h.drop(name, b.bytes)
      exp.add(b)
      visible += (h.awaitVisible(name, 150000) - d).toDouble
      events += b.events
    }
    trace.foreach(_.end())
    pool.shutdownNow()
    // A file is delivered when the previous one is visible, so its visible
    // time is its share of the drain; the median file sets the rate, which
    // a single file slowed by a pause of the host or the JVM does not move.
    val eps = PerBatch / (Stats.median(visible.toSeq) / 1000.0)
    log(f"ingest: ${visible.size} files (p50 has ${Stats.beyond(visible.size, 0.5)} and p90 " +
      f"${Stats.beyond(visible.size, 0.9)} beyond), $events events, $eps%.0f events/s, " +
      s"visible ms ${visible.mkString(" ")}")

    // The first lookups after the drain run slow: they are untimed too.
    val client = new Client(h, seed, thinkMs = 0) // the store is quiescent
    client.warmUp()
    val pick = picker(seed, Accounts, r => {
      var i = r.nextInt(Accounts)
      while (!exp.present.get(i)) i = r.nextInt(Accounts)
      Gen.accountId(i)
    })
    var n     = 0
    val looks = client.run(() => { n += 1; n > Lookups }, pick)
    val wrongLooks = looks.count { l =>
      val i = Gen.accountIndex(l.account)
      val want = if (i >= 0 && exp.present.get(i)) Some(exp.balance(i)) else None
      l.status < 500 && !(want.fold(l.status == 404)(v => l.status == 200 && l.body == v.toString))
    }
    val wrong  = wrongLooks + checkOutputs(spark, h, exp)
    log("outputs checked")
    val layer  = trace.fold(Map.empty[String, Double])(_.metrics ++ storeMetrics(h, looks) ++
      Map("gen.late_ms_max" -> 0.0, "gen.backlog_ticks_end" -> 0.0))
    h.stop()
    Result(
      attempted = events + looks.size,
      wrong = wrong,
      e2e = Map(
        "setup_s"        -> setupS,
        "ingest_eps"     -> eps,
        "visible_ms_p50" -> Stats.median(visible.toSeq),
        "visible_ms_p90" -> Stats.pct(visible.toSeq, 0.9)
      ) ++ lookupMetrics(looks),
      layer = layer
    )
  }
}

/** `pay_live`: an open-loop generator drops one 200-record file every
  * 100 ms (2,000 events/s, Zipf-skewed accounts) while one closed-loop
  * client asks REST for balances. Per-batch fixed cost dominates, and reads
  * share the `BalanceStore` with the writes (and its compactions).
  *
  * The measured window is the `seconds` that end a quarter of `seconds`
  * after the balance query commits its first changelog compaction, or the
  * first `seconds` of the open loop if that compaction comes sooner. Lookup
  * cost grows with every changelog file and falls back after a compaction,
  * and the ticks that queue behind a compaction batch are the slowest, so
  * each run's window spans the same part of that cycle: the batches before
  * the compaction and the drain of its backlog.
  */
object Live {
  val Accounts = 100000
  val ZipfS    = 1.0
  val TickMs   = 100
  val PerTick  = 200
  /** Ticks made in advance: the open loop may run this long. */
  val MaxTicks = 900

  def tickName(k: Int): String = Gen.pad("tick-", k, 6) + ".txt"

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int, trace: Option[Trace]): Result = {
    import Workloads._
    val gen    = new Gen(seed, Accounts, ZipfS)
    val warm   = gen.batch(PerTick)
    val ticks  = Vector.fill(MaxTicks)(gen.batch(PerTick))
    val window = seconds * 1000 / TickMs
    val (h, setupS) = Harness.setUp(spark, work, warm, SetupReps, trace.isDefined)
    log(f"set up: median $setupS%.2f s")
    val client = new Client(h, seed, thinkMs = 100)
    client.warmUp()

    val start = System.currentTimeMillis() + 100
    def due(k: Int): Long = start + k.toLong * TickMs
    val deadline = due(MaxTicks)
    def windowEnd: Option[Long] =
      h.commitTime("balance", Harness.CompactEvery).map(c => math.max(c + seconds * 250L, due(window)))

    val late   = new Array[Long](MaxTicks)
    val sent   = new java.util.concurrent.atomic.AtomicInteger(0)
    val stopAt = new java.util.concurrent.atomic.AtomicInteger(MaxTicks) // lowered once the window is known
    val sender = new Thread(() => {
      while (sent.get < stopAt.get) {
        val k    = sent.get
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late(k) = h.drop(tickName(k), ticks(k).bytes) - due(k)
        sent.incrementAndGet()
      }
    }, "perfbench-sender")
    sender.setDaemon(true) // a failed run exits without sending the rest
    sender.start()
    trace.foreach(_.begin())
    // Present accounts are drawn from the Zipf distribution among those the
    // warm-up file names, so that the absent ids are the only lookups bound
    // to answer 404.
    val known = new Expected(Accounts)
    known.add(warm)
    val pick = picker(seed, Accounts, r => {
      var i = gen.drawAccount(r)
      while (!known.present.get(i)) i = gen.drawAccount(r)
      Gen.accountId(i)
    })
    val looks = client.run(() => {
      h.checkQueries()
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("no changelog compaction committed in time")
      windowEnd.exists(_ <= System.currentTimeMillis())
    }, pick)
    val end = windowEnd.get
    stopAt.set(((end - start) / TickMs).toInt + 1)
    sender.join()
    val all       = ticks.take(sent.get)
    val t0        = end - seconds * 1000L
    val timed     = ((t0 - start + TickMs - 1) / TickMs).toInt until ((end - start + TickMs - 1) / TickMs).toInt
    val visibleAt = all.indices.map(k => h.awaitVisible(tickName(k), 120000))
    trace.foreach(_.end())

    val visible   = timed.map(k => (visibleAt(k) - due(k)).toDouble)
    val backlog   = timed.count(k => visibleAt(k) > end)
    val lateSends = late.count(_ > TickMs)
    val eps       = timed.size.toLong * PerTick / ((timed.map(visibleAt).max - t0) / 1000.0)
    log(f"ingest: window ${(t0 - start) / 1000.0}%.1f-${(end - start) / 1000.0}%.1f s of the open loop, " +
      f"${timed.size} timed ticks (p90 has ${Stats.beyond(timed.size, 0.9)} beyond), backlog at its end " +
      f"$backlog, sender late max ${late.max} ms ($lateSends sends more than one tick late), $eps%.0f events/s")
    // A late send is no failed operation: its tick's visible time still runs
    // from when it was due, so the wait shows as latency.
    if (lateSends > 0) log("open loop not held: the sender fell more than one tick behind")

    val exp = new Expected(Accounts)
    (warm +: all).foreach(exp.add)
    val wrongLooks = looks.count(l => wrongStatus(l) || (l.status < 500 && !explained(h, all, warm, l)))
    val wrong      = wrongLooks + checkOutputs(spark, h, exp)
    log("outputs checked")
    val timedLooks = looks.filter(l => l.startMs >= t0 && l.startMs < end)
    val layer = trace.fold(Map.empty[String, Double])(_.metrics ++ storeMetrics(h, timedLooks) ++ Map(
      "gen.late_ms_max"       -> late.max.toDouble,
      "gen.backlog_ticks_end" -> backlog.toDouble))
    h.stop()
    Result(
      attempted = exp.events + looks.size,
      wrong = wrong,
      e2e = Map(
        "setup_s"        -> setupS,
        "ingest_eps"     -> eps,
        "visible_ms_p50" -> Stats.pct(visible, 0.5),
        "visible_ms_p90" -> Stats.pct(visible, 0.9)
      ) ++ lookupMetrics(timedLooks),
      layer = layer
    )
  }

  /** A 200 or 404 is explained when it is the account's balance after some
    * balance batch that may have been visible while the request ran: from
    * the last batch committed before it was sent to the one after the last
    * batch committed before it answered.
    */
  private def explained(h: Harness, ticks: Seq[Batch], warm: Batch, l: Lookup): Boolean = {
    val i = Gen.accountIndex(l.account)
    if (i < 0) return l.status == 404
    val lo = h.lastCommitted("balance", l.startMs)
    val hi = h.lastCommitted("balance", l.endMs) + 1
    // credit of account i per balance batch
    val byBatch = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    (("warm.txt", warm) +: ticks.indices.map(k => (tickName(k), ticks(k)))).foreach { case (f, b) =>
      var k = 0
      while (k < b.events) {
        if (b.account(k) == i && b.topic(k) != 0) byBatch(h.batchFor("balance", f).get) += b.credit(k)
        k += 1
      }
    }
    val allowed = (lo to hi).map { bid =>
      val upTo = byBatch.filter(_._1 <= bid)
      if (upTo.isEmpty) None else Some(upTo.values.sum)
    }
    if (l.status == 404) allowed.contains(None)
    else l.body.toLongOption.exists(v => allowed.contains(Some(v)))
  }
}
