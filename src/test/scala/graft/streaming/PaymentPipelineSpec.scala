package graft.streaming

import graft.SparkSpec
import graft.model.{PaymentEvent, PaymentSerde}
import graft.sources.NoCrcLocalFileSystem
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Tier-2 streaming parity — the reference's integration scenario
  * (`KafkaStreamsPaymentIntegrationTest.java:150-204`) run through
  * Structured Streaming with a MemoryStream standing in for the broker:
  * same five golden payments, asserts outbound routing totals and the
  * queryable balance store's 200/404 contract, then a SECOND batch to prove
  * the store folds each batch's sums into running balances (the KTable
  * changelog semantics).
  */
class PaymentPipelineSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def golden = Seq(
    PaymentEvent("p1", 100L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
    PaymentEvent("p2", 50L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
    PaymentEvent("p3", 60L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
    PaymentEvent("p4", 1200L, "GBP", "DEF", "ABC", "BANK_RAILS_XXX"),
    PaymentEvent("p5", 1000L, "USD", "DEF", "XYZ", "BANK_RAILS_BAR")
  )

  test("streaming topology: routing + balances + 404 contract, two batches") {
    implicit val sqlCtx = spark.sqlContext
    val input   = MemoryStream[PaymentEvent]
    val tmp     = tempDir("graft-stream").toString
    val topo    = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink")

    input.addData(golden: _*)
    topo.processAllAvailable()

    // Balance store: ABC=210, XYZ=800, DEF never sends -> None (HTTP 404).
    assert(topo.store.get("ABC").contains(210L))
    assert(topo.store.get("XYZ").contains(800L))
    assert(topo.store.get("DEF").isEmpty)

    // Outbound "topics": FOO got p1-p3, BAR got the FX-converted p5 (800 GBP).
    val sunk = spark.read.parquet(s"$tmp/sink")
    val foo  = sunk.filter($"topic" === "rails-foo-topic")
    val bar  = sunk.filter($"topic" === "rails-bar-topic")
    assert(foo.select("paymentId").as[String].collect().toSet == Set("p1", "p2", "p3"))
    assert(bar.select("paymentId", "amount", "currency").as[(String, Long, String)].collect().toSeq
      == Seq(("p5", 800L, "GBP")))

    // Second batch: the store accumulates — ABC grows, XYZ untouched.
    input.addData(PaymentEvent("p6", 40L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"))
    topo.processAllAvailable()
    assert(topo.store.get("ABC").contains(250L))
    assert(topo.store.get("XYZ").contains(800L))

    topo.stop()
  }

  test("each of start's two queries scans the source once per batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PaymentEvent]
    val tmp   = tempDir("graft-scan").toString
    val topo  = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink")
    try {
      input.addData(golden: _*)
      topo.processAllAvailable()
      for (q <- Seq(topo.routing, topo.balance)) {
        val plan   = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        val leaves = plan.collectLeaves()
        assert(
          leaves.size == 1 && leaves.forall(_.isInstanceOf[MicroBatchScanExec]),
          s"${q.name}: expected one source scan, got ${leaves.map(_.nodeName)}")
      }
    } finally topo.stop()
  }

  test("restart from checkpoint recovers state and does not re-emit committed batches") {
    // The reference gets this from Kafka Streams' changelog-topic restore
    // (RocksDB state rebuilt on rebalance/restart); the Spark twin is
    // checkpoint recovery: the offset and commit logs, plus the store's
    // index rebuilt from its changelog. Same source instance, same
    // checkpoint — stop, restart, feed more data. compactEvery = 2 and four
    // batches before the stop: batch 2 compacts the changelog and batch 3
    // appends to it, so the restart rebuilds from a compacted-then-appended
    // changelog.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PaymentEvent]
    val tmp   = tempDir("graft-restart").toString

    val run1 = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink", compactEvery = 2L)
    input.addData(golden: _*)
    run1.processAllAvailable()
    assert(run1.store.get("ABC").contains(210L))
    (1 to 3).foreach { i =>
      input.addData(PaymentEvent(s"q$i", 10L * i, "GBP", "DEF", "QQQ", "BANK_RAILS_BAR"))
      run1.processAllAvailable()
    }
    assert(run1.store.get("QQQ").contains(60L))
    run1.stop()

    val run2 = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink", compactEvery = 2L)
    assert(run2.store.snapshot == Map("ABC" -> 210L, "XYZ" -> 800L, "QQQ" -> 60L),
      s"index not rebuilt from the changelog: ${run2.store.snapshot}")
    input.addData(PaymentEvent("p7", 30L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"))
    run2.processAllAvailable()
    // State recovered: 210 from before the restart + 30 — NOT 30 from zero.
    assert(run2.store.get("ABC").contains(240L), s"got ${run2.store.get("ABC")}")
    assert(run2.store.get("XYZ").contains(800L), "untouched key lost across restart")
    assert(run2.store.get("QQQ").contains(60L), "key last written after a compaction lost across restart")

    // Committed batches are not re-emitted: p1 still routed exactly once.
    val foo = spark.read.parquet(s"$tmp/sink").filter($"topic" === "rails-foo-topic")
    assert(foo.filter($"paymentId" === "p1").count() == 1, "committed batch replayed into the sink")
    assert(foo.select("paymentId").as[String].collect().toSet == Set("p1", "p2", "p3", "p7"))
    run2.stop()
  }

  /** Leave the balance query's checkpoint as a crash between the store's
    * append of its last batch and that batch's commit-log entry leaves it:
    * the commit file goes, with its checksum sidecar (a sidecar without its
    * file fails the restart). Returns the batch Spark will replay.
    */
  private def dropLastBalanceCommit(ckpt: String): Long = {
    val commits = new java.io.File(s"$ckpt/balance/commits")
    val last    = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commits, s"$last").delete())
    new java.io.File(commits, s".$last.crc").delete()
    last
  }

  /** Stop after two batches (the goldens, then `second`), drop the balance
    * query's last commit, run `damage` on the sink directory and restart:
    * Spark replays batch 1. Checks the replay folded batch 1 once, that a
    * fresh store recovers the same table, and that FOO rows routed once.
    */
  private def replayBatchOne(
      name: String,
      second: Seq[PaymentEvent],
      expected: Map[String, Long],
      compactEvery: Long = 16L)(damage: String => Unit): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PaymentEvent]
    val tmp   = tempDir(name).toString
    val run1  = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink", compactEvery)
    Seq(golden, second).foreach { batch =>
      input.addData(batch: _*)
      run1.processAllAvailable()
    }
    run1.stop()
    assert(dropLastBalanceCommit(s"$tmp/ckpt") == 1L)
    damage(s"$tmp/sink")

    val run2 = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink", compactEvery)
    try {
      run2.processAllAvailable()
      assert(run2.balance.recentProgress.exists(_.batchId == 1L), "batch 1 was not replayed")
      assert(run2.store.snapshot == expected, s"replayed batch folded wrongly: ${run2.store.snapshot}")
      val fresh = new PaymentPipeline.BalanceStore(spark, s"$tmp/sink/_balance_state")
      assert(fresh.snapshot == expected, s"recovered ${fresh.snapshot}")
      val foo = spark.read.parquet(s"$tmp/sink").filter($"topic" === "rails-foo-topic")
      assert(foo.select("paymentId").as[String].collect().sorted.toSeq ==
        ("p1" +: "p2" +: "p3" +: second.filter(_.rails == "BANK_RAILS_FOO").map(_.paymentId)).sorted)
    } finally run2.stop()
  }

  test("a batch replayed after its changelog append landed is folded once") {
    val p6 = PaymentEvent("p6", 40L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO")
    replayBatchOne("graft-crash-replay", Seq(p6), Map("ABC" -> 250L, "XYZ" -> 800L))(_ => ())
  }

  /** Batch 1 touches two accounts. */
  private val touchTwo = Seq(
    PaymentEvent("p6", 40L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
    PaymentEvent("p7", 100L, "USD", "DEF", "XYZ", "BANK_RAILS_BAR"))

  /** Leave batch 1's append landed in part, as a multi-file Spark append cut
    * short leaves it (the changelog an earlier version of the store wrote,
    * which a restart after an upgrade reads). The store writes an append as
    * one renamed file, so first rewrite batch 1's file as two one-row
    * `part-` files with Spark's writer, then delete one of them. A
    * compacted file is stamped 0, so it is never picked.
    */
  private def dropOneBatchOneFile(sink: String): Unit = {
    val log = new java.io.File(s"$sink/_balance_state")
    def batchOne = log.listFiles().filter { f =>
      f.getName.startsWith("part-") && spark.read.parquet(f.getPath).filter($"batch_id" === 1L).count() > 0
    }
    val appended = batchOne
    assert(appended.length == 1, s"batch 1 should be one file: ${appended.map(_.getName).toSeq}")
    val rows = spark.read.parquet(appended.head.getPath).collect()
    assert(rows.length == 2, s"batch 1 should hold two rows: ${rows.toSeq}")
    rows.foreach(r => spark.createDataFrame(java.util.List.of(r), r.schema).write.mode("append").parquet(log.getPath))
    assert(appended.head.delete())
    val split = batchOne
    assert(split.length == 2, s"batch 1 should span two files: ${split.map(_.getName).toSeq}")
    assert(split.head.delete())
    new java.io.File(log, s".${split.head.getName}.crc").delete()
  }

  test("a batch replayed after its changelog append landed in part is folded once") {
    replayBatchOne("graft-crash-partial", touchTwo, Map("ABC" -> 250L, "XYZ" -> 880L))(dropOneBatchOneFile)
  }

  test("a batch replayed after a compaction at its start is folded once") {
    // compactEvery = 1: batch 1's start rewrote the changelog to the table
    // after batch 0, stamped 0, so its replay folds onto that table
    replayBatchOne("graft-crash-compacted", touchTwo, Map("ABC" -> 250L, "XYZ" -> 880L), compactEvery = 1L)(
      dropOneBatchOneFile)
  }

  test("a crash between compaction's append and its deletes recovers the same table") {
    // the compacted file lands beside the part files it replaces: keep
    // copies of those, compact, then put them back
    val tmp   = tempDir("graft-compact-crash")
    val dir   = s"$tmp/totals"
    def store = new PaymentPipeline.BalanceStore(spark, dir, compactEvery = 0L)
    val live  = store
    // per-batch sums: SHARED's running balance after batch b is 100 * (b + 1)
    (0L to 3L).foreach { b =>
      live.append(Seq((s"A$b", 10L * b), ("SHARED", 100L)).toDF("fromAccount", "balance"), b)
    }
    val before = live.snapshot
    val saved  = Files.createDirectory(tmp.resolve("saved"))
    val old    = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    old.foreach(f => Files.copy(f.toPath, saved.resolve(f.getName)))
    live.compact()
    assert(live.dataFileCount == 1, s"expected 1 file, got ${live.dataFileCount}")
    old.foreach(f => Files.copy(saved.resolve(f.getName), f.toPath))
    assert(live.dataFileCount == old.length + 1)
    val fresh = store
    assert(fresh.snapshot == before, s"recovered ${fresh.snapshot}")
    // the next batch folds onto the recovered table, and so does its replay
    val next = Seq(("SHARED", 5L)).toDF("fromAccount", "balance")
    fresh.append(next, 4L)
    assert(fresh.get("SHARED").contains(405L), s"got ${fresh.get("SHARED")}")
    val again = store
    again.append(next, 4L)
    assert(again.snapshot == before.updated("SHARED", 405L), s"replay recovered ${again.snapshot}")
  }

  test("the payment path plans no stateful operator and keeps no state store") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PaymentEvent]
    val tmp   = tempDir("graft-stateless").toString
    val topo  = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink")
    try {
      input.addData(golden: _*)
      topo.processAllAvailable()
      assert(topo.store.get("ABC").contains(210L))
      assert(topo.balance.lastProgress.stateOperators.isEmpty, "the balance query keeps Spark state")
      assert(!new java.io.File(s"$tmp/ckpt/balance/state").exists(), "the balance query wrote a state store")
    } finally topo.stop()
  }

  test("changelog stores are idempotent to crash-replayed batches (same batch_id re-appended)") {
    val tmp   = tempDir("graft-replay").toString
    val total = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals")
    val batch = Seq(("ABC", 210L)).toDF("fromAccount", "balance")
    total.append(batch, 0L)
    total.append(batch, 0L) // replay: the same sums, same batch_id
    assert(total.get("ABC").contains(210L), s"the replay folded twice: ${total.get("ABC")}")
    // the same rule after a restart: recovery keeps the state before batch 0
    val reopened = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals")
    assert(reopened.snapshot == Map("ABC" -> 210L), s"recovered ${reopened.snapshot}")
    reopened.append(batch, 0L)
    assert(reopened.get("ABC").contains(210L), s"the reopened replay folded twice: ${reopened.get("ABC")}")
    reopened.append(Seq(("ABC", 40L)).toDF("fromAccount", "balance"), 1L)
    assert(reopened.get("ABC").contains(250L), "the next batch must fold onto the replayed one")
    // last-wins at the file level: the re-appended rows change nothing
    val again = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals")
    assert(again.snapshot == Map("ABC" -> 250L), s"recovered ${again.snapshot}")
  }

  test("changelog compaction bounds the store's read path across many batches") {
    // 13 direct appends of per-batch sums (exactly what the stream's
    // foreachBatch issues) with compaction every 4 batches: correctness must
    // survive each rewrite and the data-file count must be bounded by the
    // cadence, not batch count.
    val tmp   = tempDir("graft-compact").toString
    val store = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals", compactEvery = 4L)
    val accounts = Seq("ABC", "XYZ", "DEF")
    (0L to 12L).foreach { b =>
      // rotate accounts so compactions interleave touched and untouched keys;
      // each account's running balance after batch b is 100 * (b + 1)
      val acct  = accounts((b % 3).toInt)
      val delta = if (b < 3) 100L * (b + 1) else 300L
      store.append(Seq((acct, delta)).toDF("fromAccount", "balance"), b)
    }
    // latest per key: ABC last wrote at b=12 (1300), XYZ at b=10 (1100), DEF at b=11 (1200)
    assert(store.get("ABC").contains(1300L))
    assert(store.get("XYZ").contains(1100L))
    assert(store.get("DEF").contains(1200L))
    assert(store.get("NOPE").isEmpty, "404 contract must survive compaction")
    // batch 12 compacted before its append: the compacted file and batch
    // 12's remain. Without compaction this directory would hold 13 appends.
    assert(store.dataFileCount <= 2, s"unbounded changelog: ${store.dataFileCount} files")
    // the compacted files hold the same table: recover it from them
    val reopened = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals", compactEvery = 4L)
    assert(reopened.snapshot == Map("ABC" -> 1300L, "XYZ" -> 1100L, "DEF" -> 1200L),
      s"recovered ${reopened.snapshot}")

    // And through the actual stream: 7 micro-batches, compactEvery=3.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PaymentEvent]
    val topo  = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink", compactEvery = 3L)
    (1 to 7).foreach { i =>
      input.addData(PaymentEvent(s"s$i", 10L * i, "GBP", "DEF", "ACC", "BANK_RAILS_FOO"))
      topo.processAllAvailable()
    }
    assert(topo.store.get("ACC").contains((1 to 7).map(10L * _).sum), "balance wrong after streamed compactions")
    assert(topo.store.dataFileCount <= 4, s"stream changelog unbounded: ${topo.store.dataFileCount} files")
    topo.stop()
    val streamed = new PaymentPipeline.BalanceStore(spark, s"$tmp/sink/_balance_state")
    assert(streamed.get("ACC").contains((1 to 7).map(10L * _).sum), "streamed changelog recovers a wrong balance")
  }

  test("compaction to one file keeps the logical table") {
    // the read path must be unchanged by the rewrite: the compacted single
    // file serves the exact snapshot the un-compacted appends did
    val tmp   = tempDir("graft-compact-one").toString
    val store = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals", compactEvery = 0L)
    // per-batch sums: SHARED's running balance after batch b is 100 * b
    (0L to 9L).foreach { b =>
      store.append(Seq((s"A$b", 10L * b), ("SHARED", if (b == 0) 0L else 100L)).toDF("fromAccount", "balance"), b)
    }
    val before = store.snapshot
    assert(store.dataFileCount > 1, s"fixture must start un-compacted, got ${store.dataFileCount}")
    def recovered = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals", compactEvery = 0L)
    assert(recovered.snapshot == before, "the un-compacted changelog must recover the served table")
    store.compact()
    assert(store.dataFileCount == 1, s"expected 1 file, got ${store.dataFileCount}")
    // no `.crc` sidecar may outlive its data file (Spark's writer on the
    // stock local file system leaves one beside each part file it writes)
    val names   = new java.io.File(s"$tmp/totals").list().toSet
    val orphans = names.filter(n => n.endsWith(".crc") && !names(n.drop(1).stripSuffix(".crc")))
    assert(orphans.isEmpty, s"${orphans.size} checksum sidecars outlive their data files")
    assert(store.snapshot == before, "compaction must not change the logical table")
    assert(store.get("SHARED").contains(900L) && store.get("A3").contains(30L))
    val after = recovered
    assert(after.snapshot == before, "compaction must not change the recovered table")
    assert(after.get("SHARED").contains(900L) && after.get("A3").contains(30L))
  }

  test("a payment with no amount leaves its new account absent, never a failed read") {
    // PERMISSIVE decode: a Kafka-wire record without `amount` passes the
    // rails filter with a null amount, so its new account's update row is
    // (account, null). It must read as absent in get and snapshot alike.
    implicit val sqlCtx = spark.sqlContext
    val wire = MemoryStream[(String, String)]
    val tmp  = tempDir("graft-null-amount").toString
    val topo = PaymentPipeline.start(
      PaymentSerde.decodeKafka(wire.toDF().toDF("key", "value")), s"$tmp/ckpt", s"$tmp/sink")
    def record(id: String, from: String, amount: String) =
      id -> s"""{"paymentId":"$id",$amount"currency":"GBP","toAccount":"t","fromAccount":"$from","rails":"BANK_RAILS_FOO"}"""
    try {
      wire.addData(record("n1", "NUL", ""), record("n2", "OK", "\"amount\":5,"))
      topo.processAllAvailable()
      assert(topo.store.get("NUL").isEmpty, "a null balance must read as absent")
      assert(topo.store.snapshot == Map("OK" -> 5L))
      // a later real amount makes the account present
      wire.addData(record("n3", "NUL", "\"amount\":7,"))
      topo.processAllAvailable()
      assert(topo.store.get("NUL").contains(7L))
      assert(topo.store.snapshot == Map("OK" -> 5L, "NUL" -> 7L))
    } finally topo.stop()
  }

  test("lookups beside appends and compactions see only published balances") {
    // 4 readers loop on get while the writer appends and compacts after
    // every batch (compactEvery = 1): a read must neither fail nor see a
    // value no batch published.
    val tmp   = tempDir("graft-race").toString
    val store = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals", compactEvery = 1L)
    // each batch adds 100, so the running balance after batch b is value(b)
    def value(b: Long) = 100L * (b + 1)
    def add100         = Seq(("ABC", 100L)).toDF("fromAccount", "balance")
    store.append(add100, 0L)
    val batches = 12L
    @volatile var writing = true
    val seen    = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[Long]]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val readers = (1 to 4).map { _ =>
      val t = new Thread(() =>
        try while (writing) seen.add(store.get("ABC"))
        catch { case e: Throwable => failure.compareAndSet(null, e) })
      t.start()
      t
    }
    try (1L to batches).foreach(b => store.append(add100, b))
    finally {
      writing = false
      readers.foreach(_.join())
    }
    assert(failure.get == null, s"a lookup failed beside compaction: ${failure.get}")
    val published = (0L to batches).map(b => Option(value(b))).toSet
    val answers   = seen.asScala.toSet
    assert(answers.nonEmpty && answers.subsetOf(published), s"unpublished answers: ${answers -- published}")
    assert(store.get("ABC").contains(value(batches)))
  }

  /** The Spark jobs started under job group `group` while `body` runs. The
    * listener bus delivers events in order, so once a marker job started
    * after `body` has been seen, every job `body` started has been counted.
    */
  private def jobsStarted(group: String)(body: => Unit): Int = {
    val jobs   = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)              => jobs.incrementAndGet()
          case Some("graft-jobs-marker") => marker.countDown()
          case _                          => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup("graft-jobs-marker", "marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      jobs.get
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("get and snapshot start no Spark job") {
    val tmp   = tempDir("graft-nojob").toString
    val store = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals")
    store.append(Seq(("ABC", 210L), ("XYZ", 800L)).toDF("fromAccount", "balance"), 0L)
    var snap = Map.empty[String, Long]
    val jobs = jobsStarted("graft-nojob-reads") {
      spark.sparkContext.setJobGroup("graft-nojob-reads", "reads")
      (1 to 100).foreach(i => store.get(if (i % 2 == 0) "ABC" else "NOPE"))
      snap = store.snapshot
    }
    assert(snap == Map("ABC" -> 210L, "XYZ" -> 800L))
    assert(jobs == 0, s"reads started $jobs Spark jobs")
  }

  test("a balance batch through start runs one Spark job") {
    // the stream thread runs each batch's jobs under the query's run id as
    // job group: one collect, then the sum, the changelog write and the
    // publish on the driver
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PaymentEvent]
    val tmp   = tempDir("graft-onejob").toString
    val topo  = PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink")
    try {
      val jobs = jobsStarted(topo.balance.runId.toString) {
        input.addData(golden: _*)
        topo.processAllAvailable()
      }
      assert(topo.store.snapshot == Map("ABC" -> 210L, "XYZ" -> 800L))
      assert(jobs == 1, s"one balance batch ran $jobs Spark jobs")
    } finally topo.stop()
  }

  test("append sums an account that repeats within one batch") {
    // start hands the store one row per record, not per account; null
    // amounts add nothing, as in Spark's sum. The store reads the columns
    // by position, so they carry the names the other tests give them.
    val tmp   = tempDir("graft-repeat").toString
    val store = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals")
    def rows(rs: (String, Option[Long])*) = rs.toDF("fromAccount", "balance")
    store.append(rows(("ABC", Some(100L)), ("XYZ", Some(5L)), ("ABC", Some(50L)), ("ABC", None), ("NUL", None)), 0L)
    assert(store.snapshot == Map("ABC" -> 150L, "XYZ" -> 5L), s"got ${store.snapshot}")
    store.append(rows(("ABC", Some(10L)), ("ABC", Some(1L)), ("XYZ", None)), 1L)
    assert(store.snapshot == Map("ABC" -> 161L, "XYZ" -> 5L), s"got ${store.snapshot}")
    val reopened = new PaymentPipeline.BalanceStore(spark, s"$tmp/totals")
    assert(reopened.snapshot == Map("ABC" -> 161L, "XYZ" -> 5L), s"recovered ${reopened.snapshot}")
  }

  test("start's checkpoint logs carry no checksum sidecar, and the session keeps its settings") {
    // Run the queries on a local file system without Hadoop's checksums, as
    // perfbench and graft.Bench do (NoCrcLocalFileSystem). The FileSystem-
    // based checkpoint manager then writes no `.N.crc` sidecar, while the
    // FileContext one writes one per file through Hadoop's ChecksumFs,
    // whatever `fs.file.impl` says. Spark's own checksum files (the
    // fileChecksum setting) are written only for state stores.
    implicit val sqlCtx = spark.sqlContext
    val manager = "spark.sql.streaming.checkpointFileManagerClass"
    val keys    = Seq("spark.sql.streaming.checkpoint.fileChecksum.enabled", manager)
    val noCrc   = Seq("fs.file.impl" -> classOf[NoCrcLocalFileSystem].getName, "fs.file.impl.disable.cache" -> "true")
    /** The checkpoint logs' file names after one batch through `start`. */
    def logNames(name: String): Seq[String] = {
      val input = MemoryStream[PaymentEvent]
      val tmp   = tempDir(name).toString
      noCrc.foreach { case (k, v) => spark.conf.set(k, v) }
      val topo =
        try PaymentPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/sink")
        finally noCrc.foreach { case (k, _) => spark.conf.unset(k) }
      try {
        input.addData(golden: _*)
        topo.processAllAvailable()
      } finally topo.stop()
      val logs = for (q <- Seq("routing", "balance"); d <- Seq("commits", "offsets")) yield new java.io.File(s"$tmp/ckpt/$q/$d")
      logs.flatMap(d => d.list().toSeq.map(n => s"${d.getParentFile.getName}/${d.getName}/$n"))
    }
    def sidecars(names: Seq[String]) = names.filter(n => n.endsWith(".crc") || n.contains("checksum"))
    val before = keys.map(spark.conf.getOption)
    val names  = logNames("graft-ckpt-crc")
    assert(names.exists(_.endsWith("commits/0")), s"no commit written: $names")
    assert(sidecars(names).isEmpty, s"checksum sidecars: ${sidecars(names)}")
    assert(keys.map(spark.conf.getOption) == before, "start changed the session's checkpoint settings")
    // a manager the session chose itself is the one start's queries run with
    val fileContext = classOf[FileContextBasedCheckpointFileManager].getName
    spark.conf.set(manager, fileContext)
    try {
      assert(sidecars(logNames("graft-ckpt-own")).nonEmpty, "start overrode the session's checkpoint file manager")
      assert(spark.conf.get(manager) == fileContext)
    } finally spark.conf.unset(manager)
  }

  test("a record without an account adds to no balance, and the changelog stays writable") {
    // Kafka Streams' grouped aggregation drops a record whose key is null;
    // the store drops a null account, in a batch and in a changelog an
    // earlier version wrote through Spark's writer
    val tmp   = tempDir("graft-null-account").toString
    val dir   = s"$tmp/totals"
    val store = new PaymentPipeline.BalanceStore(spark, dir, compactEvery = 0L)
    store.append(Seq[(String, Option[Long])](("ABC", Some(100L)), (null, Some(7L))).toDF("fromAccount", "balance"), 0L)
    assert(store.snapshot == Map("ABC" -> 100L), s"got ${store.snapshot}")
    assert(new PaymentPipeline.BalanceStore(spark, dir).snapshot == Map("ABC" -> 100L))
    Seq[(String, Option[Long], Long)]((null, Some(7L), 1L))
      .toDF("fromAccount", "balance", "batch_id")
      .write.mode("append").parquet(dir)
    val reopened = new PaymentPipeline.BalanceStore(spark, dir, compactEvery = 0L)
    assert(reopened.snapshot == Map("ABC" -> 100L), s"recovered ${reopened.snapshot}")
    reopened.compact()
    reopened.append(Seq[(String, Option[Long])](("ABC", Some(1L))).toDF("fromAccount", "balance"), 2L)
    assert(new PaymentPipeline.BalanceStore(spark, dir).snapshot == Map("ABC" -> 101L))
  }

  test("a leftover .part-*.tmp file is ignored by recovery and removed by the next compaction") {
    val tmp   = tempDir("graft-leftover").toString
    val dir   = s"$tmp/totals"
    val store = new PaymentPipeline.BalanceStore(spark, dir, compactEvery = 0L)
    store.append(Seq(("ABC", 210L)).toDF("fromAccount", "balance"), 0L)
    // a crash mid-write leaves a hidden file cut short
    val leftover = new java.io.File(dir, ".part-1-crashed.tmp")
    Files.write(leftover.toPath, "PAR1 cut short".getBytes("UTF-8"))
    val reopened = new PaymentPipeline.BalanceStore(spark, dir, compactEvery = 0L)
    assert(reopened.snapshot == Map("ABC" -> 210L), s"recovered ${reopened.snapshot}")
    assert(reopened.dataFileCount == 1, s"counted ${reopened.dataFileCount} data files")
    reopened.compact()
    assert(!leftover.exists(), "compaction left the crashed write behind")
    assert(reopened.dataFileCount == 1)
    assert(new PaymentPipeline.BalanceStore(spark, dir).snapshot == Map("ABC" -> 210L))
  }

  test("store before its first commit: empty reads, no-op compaction") {
    // the REST service and snapshot readers can reach the store before the
    // balance query has committed anything — no changelog directory yet
    val tmp   = tempDir("graft-empty").toString
    val store = new PaymentPipeline.BalanceStore(spark, s"$tmp/never-written")
    assert(store.get("ABC").isEmpty, "no committed batch must read as 404")
    assert(store.snapshot.isEmpty)
    store.compact()
    assert(!new java.io.File(s"$tmp/never-written").exists(), "compact must not create the store")
    assert(store.dataFileCount == 0)
  }

  test("kafka codec round-trip: encode -> decode preserves the record (O1/O11/O14/O15)") {
    val df      = golden.toDF()
    val encoded = PaymentSerde.encodeKafka(df) // (key, value) wire shape
    assert(encoded.columns.toSeq == Seq("key", "value"))
    val decoded = PaymentSerde.decodeKafka(encoded)
    val back    = decoded.drop("kafkaKey").as[PaymentEvent].collect().toSet
    assert(back == golden.toSet)
    // key = paymentId (the reference's record-key contract)
    assert(decoded.select("kafkaKey").as[String].collect().toSet == golden.map(_.paymentId).toSet)
  }

  test("serde leniency: unknown fields ignored, missing -> null, corrupt -> null row") {
    val raw = Seq(
      """{"paymentId":"x1","amount":7,"currency":"GBP","toAccount":"t","fromAccount":"f","rails":"BANK_RAILS_FOO","extra":"IGNORED"}""",
      """{"paymentId":"x2"}""",
      """not-json"""
    ).toDF("value")
    val parsed = raw.select(PaymentSerde.fromJson($"value").as("p")).select("p.*")
    val rows   = parsed.collect()
    assert(rows(0).getString(0) == "x1" && rows(0).getLong(1) == 7L)
    assert(rows(1).getString(0) == "x2" && rows(1).isNullAt(1), "missing fields -> null")
    assert(rows(2).isNullAt(0), "corrupt json -> null row (PERMISSIVE)")
  }

  test("null payload bytes decode to a null record over binary wire columns (JsonDeserializer.java:24-25)") {
    // The kafka source yields BinaryType key/value; a tombstone has value=null.
    val wire = Seq(
      ("p1".getBytes("UTF-8"),
       """{"paymentId":"p1","amount":5,"currency":"GBP","toAccount":"t","fromAccount":"f","rails":"BANK_RAILS_FOO"}"""
         .getBytes("UTF-8")),
      ("p2".getBytes("UTF-8"), null: Array[Byte])
    ).toDF("key", "value")
    val decoded = PaymentSerde.decodeKafka(wire).collect()
    assert(decoded(0).getString(0) == "p1" && decoded(0).getString(1) == "p1")
    // null payload -> null record: every payment field null, key still present
    assert(decoded(1).getString(0) == "p2")
    (1 until decoded(1).length).foreach(i => assert(decoded(1).isNullAt(i), s"field $i"))
  }

  test("strict serde throws on malformed JSON (reference fail-fast, JsonDeserializer.java:27-31)") {
    val raw = Seq("""not-json""").toDF("value")
    val ex = intercept[Exception] {
      raw.select(PaymentSerde.fromJsonStrict($"value").as("p")).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("malformed") || ex.getCause != null)
  }

  test("describe returns a non-empty plan mentioning the aggregation (O13)") {
    val plan = PaymentPipeline.describe(
      graft.operators.PaymentOps.topology(golden.toDF()).balances)
    assert(plan.nonEmpty && plan.contains("Aggregate"))
  }
}
