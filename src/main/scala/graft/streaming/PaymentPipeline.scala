package graft.streaming

import graft.model.PaymentSerde
import graft.operators.PaymentOps
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Structured-Streaming twin of the reference's runtime
  * (`processor/PaymentTopology.java:39-98` wired by
  * `KafkaStreamsDemoConfiguration.java:34-48`), and the engine's one
  * payment path: [[start]] → [[BalanceStore]] → [[RestService]]. It runs
  * the chain [[PaymentOps.merged]] over an unbounded source, with
  *   - the balance KTable (`PaymentTopology.java:78-88`) held once, in
  *     [[BalanceStore]]: a stateless `foreachBatch` query hands it each
  *     micro-batch's per-account sums, which it folds into running balances,
  *     logs to its parquet changelog and serves, standing in for the
  *     reference's interactive-query store
  *     (`controller/BalanceController.java:24-33`) — SURVEY.md §7.4 Hard #1;
  *   - sink routing for the FOO/BAR outbound topics ([[PaymentOps.routed]])
  *     as ONE tagged stream written per-branch in a single pass
  *     (`PaymentTopology.java:90-97`).
  *
  * The routing sink and the balance query are two queries, and each plans
  * [[PaymentOps.merged]] as a single scan of the source, so every
  * micro-batch is read and decoded twice: once per query. Neither query
  * keeps Spark state.
  *
  * Scale notes: the balance table, like the reference's instance-local
  * store, lives in this process. Each micro-batch's sums are collected to
  * the driver, folded into the in-memory index that lookups read, and the
  * changed keys' running balances are appended to a parquet changelog
  * stamped with the batchId. A restart reads the changelog back and folds
  * it on the driver in batch order, and compaction writes the index out,
  * so Spark only reads and writes its files. The driver's heap therefore
  * holds one entry per account; a deployment past that size would shard the
  * index by key across instances, as Kafka Streams shards its stores by
  * partition.
  */
object PaymentPipeline {

  /** Queryable per-account balance state — the Spark stand-in for
    * `kafkaStreams.store("balance", keyValueStore())`, and the only copy of
    * the balance table. Served state lives on the driver: one immutable
    * `Map` in a volatile field, the twin of the reference's instance-local
    * store (`BalanceController.java:24-33`). [[get]] and [[snapshot]] read
    * it and start no Spark job.
    *
    * The table's one rule is the driver fold: rows `(fromAccount, balance,
    * batch_id)` applied in `batch_id` order, the last row per key winning.
    * It serves every batch and the recovery; Spark only reads and writes
    * the parquet changelog.
    *
    * The balance query's `foreachBatch` hands [[append]] one micro-batch's
    * per-account sums (deltas). [[append]] collects them in one job, folds
    * `index(a) + delta` into running balances for the changed keys, appends
    * those running balances durably to the changelog, and only then
    * publishes the new index with one volatile write: durable first,
    * visible second. A reader sees the state after some whole batch (the
    * eventual-consistency window the reference tests tolerate,
    * `KafkaStreamsPaymentIntegrationTest.java:185-188`).
    *
    * The changelog is the recovery log: a new store reads it once and
    * replays it in `batch_id` order, as Kafka Streams restores a store from
    * its changelog topic (`PaymentTopology.java:78-88`). A delta fold is not
    * idempotent, so the store keeps one invariant: the changelog can rebuild
    * the state before its last batch P as well as the state after it, and
    * both are kept in memory. Spark replays P when P's append landed
    * (possibly only in part: a multi-file job commit is not atomic) but its
    * commit-log entry did not; [[append]] then folds P onto the state before
    * it, and re-appends rows identical to those that landed, so the replayed
    * log folds to the same table.
    *
    * Every `compactEvery` batches the changelog is rewritten to the served
    * index, which bounds its files and so the restart's read. A compacted
    * row carries the batch id of the state it snapshots: the changelog's
    * last batch, not the due one. Compaction runs only at the start of a
    * batch whose predecessor committed, before its append, and never on a
    * replay, so it never collapses the rows of a batch that can still
    * replay. No reader lists files while the stream runs, so compaction
    * deleting files races with no lookup.
    *
    * A null balance (an account whose only amounts decoded to null) reads
    * as absent.
    *
    * @param compactEvery rewrite cadence in batches; <= 0 disables.
    */
  final class BalanceStore(spark: SparkSession, dir: String, compactEvery: Long = 16L) {

    private val schema = StructType.fromDDL("fromAccount STRING, balance BIGINT, batch_id BIGINT")

    /** `(fromAccount, balance, …)` rows folded over `index`, in order. */
    private def folded(index: Map[String, Long], rows: Seq[Row]): Map[String, Long] =
      rows.foldLeft(index) { (m, r) =>
        if (r.isNullAt(1)) m - r.getString(0) else m.updated(r.getString(0), r.getLong(1))
      }

    // The changelog's last batch P (-1 before the first) and the table
    // before it, which a replay of P folds onto. Only append writes them.
    private var last: Long = -1L
    private var prior: Map[String, Long] = Map.empty
    @volatile private var index: Map[String, Long] = Map.empty

    if (new java.io.File(dir).exists()) {
      // one read, replayed in batch order; rows a batch holds twice are equal
      val log = spark.read.schema(schema).parquet(dir).collect().toSeq.sortBy(_.getLong(2))
      if (log.nonEmpty) {
        last = log.last.getLong(2)
        val (before, at) = log.span(_.getLong(2) < last)
        prior = folded(Map.empty, before)
        index = folded(prior, at)
      }
    }

    /** `GET /balance/{account}`: None ⇒ the reference's HTTP 404
      * (`BalanceController.java:29-33`).
      */
    def get(account: String): Option[Long] = index.get(account)

    /** Full current state: the served index itself. */
    def snapshot: Map[String, Long] = index

    /** Fold one batch's `(fromAccount, balance)` sums into the table (see
      * class doc). A null sum leaves its account's balance as it was.
      */
    private[streaming] def append(sums: Dataset[Row], batchId: Long): Unit = {
      require(batchId >= last, s"batch $batchId precedes the changelog's last batch $last")
      val replay = batchId == last
      if (!replay && compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) compact()
      val base = if (replay) prior else index
      val rows = sums.select(col("fromAccount"), col("balance")).collect().toSeq.map { r =>
        val account = r.getString(0)
        val balance: java.lang.Long =
          if (r.isNullAt(1)) base.get(account).map(Long.box).orNull
          else base.getOrElse(account, 0L) + r.getLong(1)
        Row(account, balance, batchId)
      }
      if (rows.nonEmpty) {
        logged(rows).write.mode("append").parquet(dir)
        last = batchId
        prior = base
        index = folded(base, rows)
      }
    }

    /** Rewrite the changelog to the served index, every row stamped with
      * the changelog's last batch (see class doc). Safe order: snapshot the
      * current data files, append the index as one file, then delete the
      * snapshot, each file with its `.crc` sidecar if the file system wrote
      * one. A crash at any point leaves a changelog that folds to the same
      * table. The stream calls it only from [[append]], between
      * batches: a call between an append and its batch's commit would
      * collapse the rows before that batch, which its replay folds onto.
      */
    private[streaming] def compact(): Unit = {
      val old = partFiles
      if (old.nonEmpty) {
        logged(index.toSeq.map { case (a, b) => Row(a, b, last) })
          .coalesce(1)
          .write
          .mode("append")
          .parquet(dir)
        old.foreach { f =>
          f.delete()
          new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
        }
      }
    }

    /** Changelog rows as a frame for a write. */
    private def logged(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, schema)

    /** Data files currently in the changelog directory (test/ops surface —
      * the boundedness compaction guarantees is asserted on this).
      */
    def dataFileCount: Int = partFiles.length

    /** The part-* files the writes produced: compaction's delete snapshot. */
    private def partFiles: Array[java.io.File] =
      Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.startsWith("part-"))
  }

  /** Handles to the running topology: the routing query (both outbound
    * topics in one partitioned write), the balance query, and the
    * queryable store.
    */
  final case class RunningTopology(
      routing: StreamingQuery,
      balance: StreamingQuery,
      store: BalanceStore
  ) {
    def processAllAvailable(): Unit = {
      routing.processAllAvailable()
      balance.processAllAvailable()
    }
    def stop(): Unit = {
      routing.stop()
      balance.stop()
    }
  }

  /** Wire the full reference topology over a streaming payment DataFrame
    * (from [[fromKafka]], a MemoryStream, or any streaming source with the
    * payment schema) as two queries over the same source: the exactly-once
    * routing sink and a stateless balance query that hands each batch's
    * per-account sums to the [[BalanceStore]], the one copy of the balance
    * table. A tick is visible once both have committed. Neither query
    * plans a stateful operator, so no state store pins
    * `spark.sql.shuffle.partitions` across restarts.
    *
    * @param sinkDir  rows routed to the FOO/BAR "topics" land in
    *                 `sinkDir/topic=rails-foo-topic/` etc. as parquet —
    *                 one partitioned write per micro-batch (one scan of the
    *                 source, no per-branch re-scan).
    * @param compactEvery balance-changelog compaction cadence (batches);
    *                 see [[BalanceStore]].
    */
  def start(
      payments: DataFrame,
      checkpointDir: String,
      sinkDir: String,
      compactEvery: Long = 16L
  ): RunningTopology = {
    // underscore prefix ⇒ invisible to data reads of sinkDir (Spark's
    // hidden-path convention), so one output root serves both surfaces
    val store = new BalanceStore(payments.sparkSession, s"$sinkDir/_balance_state", compactEvery)

    val merged = PaymentOps.merged(payments)
    // Native file sink, not foreachBatch-append: the sink's _spark_metadata
    // transaction log records exactly which files each batch committed, so a
    // crash-replayed batch overwrites instead of duplicating (foreachBatch
    // with blind append would write the batch twice) and readers of sinkDir
    // see only committed files. partitionBy("topic") keeps both outbound
    // "topics" in one pass over the tagged union.
    val routing = PaymentOps
      .routed(merged)
      .writeStream
      .queryName("graft-sink-routing")
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", s"$checkpointDir/routing")
      .partitionBy("topic")
      .start()

    // O7–O9 — re-key in the streaming plan, so Catalyst prunes the decode
    // to the two columns the sum reads; then a stateless per-batch grouped
    // sum, which the store folds into the running balances (the KTable),
    // logs and then serves.
    val balance = PaymentOps
      .rekeyToAccountAmount(merged)
      .writeStream
      .queryName("graft-balance")
      .option("checkpointLocation", s"$checkpointDir/balance")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        store.append(PaymentOps.balances(batch), batchId)
        ()
      }
      .start()

    RunningTopology(routing, balance, store)
  }

  /** O1 — the Kafka source decoded to payment columns (requires the
    * spark-sql-kafka connector on the classpath at deploy time; the codec
    * itself is pure columns and tested without a broker).
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    PaymentSerde.decodeKafka(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .load()
    )

  /** O13 — topology introspection: the analyzed + physical plan as text,
    * the Spark twin of `Topology#describe`
    * (`controller/TopologyController.java:20-23`).
    */
  def describe(df: DataFrame): String =
    df.queryExecution.toString
}
