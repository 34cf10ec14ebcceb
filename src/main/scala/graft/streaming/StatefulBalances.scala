package graft.streaming

import graft.model.PaymentEvent
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming operators via `flatMapGroupsWithState` — the
  * escape hatch for stateful shapes `groupBy.agg` cannot express. Two are
  * provided:
  *
  *   - [[runningBalancesTtl]]: the reference's balance KTable
  *     (`PaymentTopology.java:78-88`) re-expressed with explicit per-key
  *     state (`KeyValueStore<String,Long>` ↔ `GroupState`), emitting one
  *     update per changed key per micro-batch, with an event-time TTL the
  *     reference never needed. The payment path itself keeps its table in
  *     [[PaymentPipeline.BalanceStore]]; this variant is the v1 reference
  *     for [[StateV2Balances]].
  *   - [[streamingDedup]]: exact streaming deduplication by key with
  *     unbounded state — first occurrence passes, replays are dropped
  *     (the streaming twin of the batch exact-dedup q40).
  *
  * Scale notes: state is partitioned by group key across the shuffle; use
  * the RocksDB state-store provider for large key spaces, and prefer
  * timeout-based TTL (`GroupStateTimeout`) when keys churn.
  */
object StatefulBalances {

  final case class BalanceUpdate(fromAccount: String, balance: Long)

  /** A payment stamped with its event time — the input shape for TTL'd
    * state, where "idle" must be defined on the DATA's clock.
    */
  final case class TimedPayment(ts: java.sql.Timestamp, payment: PaymentEvent)

  /** Per-account running sums with a sliding event-time TTL: a key whose
    * last activity falls `ttl` behind the watermark is EVICTED (silently —
    * the next payment re-initializes from 0L). Run with
    * `outputMode(Update)`. This is the bounded-state variant
    * the reference never needed (its KTable is unbounded,
    * `PaymentTopology.java:78-88`) but a 100 TB key space does: with key
    * churn, no-TTL state grows without bound; with TTL + the RocksDB
    * provider, live state is proportional to the ACTIVE key set.
    *
    * The TTL is event-time (`EventTimeTimeout` + watermark), NOT wall-clock,
    * deliberately: eviction then depends only on the data, so results are
    * deterministic and replay/backfill-safe — a reprocessing run evicts
    * exactly the same keys. (A wall-clock `ProcessingTimeTimeout` also keeps
    * the micro-batch engine permanently busy — Spark must schedule
    * speculative empty batches forever to fire deadlines, and
    * `processAllAvailable` never sees a quiescent stream.)
    *
    * Timeout mechanics (Spark contract): a key's deadline is
    * `max(event time EVER seen) + ttl`, re-armed on every batch with data
    * (sliding); the timeout fires on the first trigger after the watermark
    * passes the deadline where the key received no new data. The
    * max-seen event time rides in the STATE, not just the batch: computing
    * the deadline from the current batch alone would let one late event
    * (admitted by a lateness allowance) move the deadline BACKWARD and
    * evict an active key early.
    */
  final case class BalanceState(balance: Long, maxSeenMs: Long)

  def runningBalancesTtl(
      payments: Dataset[TimedPayment],
      ttl: java.time.Duration,
      lateness: java.time.Duration = java.time.Duration.ZERO
  ): Dataset[BalanceUpdate] = {
    import payments.sparkSession.implicits._
    payments
      .withWatermark("ts", s"${lateness.toMillis} milliseconds")
      .groupByKey(_.payment.fromAccount)
      .flatMapGroupsWithState[BalanceState, BalanceUpdate](
        OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout()
      ) { (account: String, events: Iterator[TimedPayment], state: GroupState[BalanceState]) =>
        if (state.hasTimedOut) {
          state.remove() // evict; no tombstone — absence reads as 404
          Iterator.empty
        } else {
          val prior = state.getOption.getOrElse(BalanceState(0L, Long.MinValue))
          var lastSeen = prior.maxSeenMs
          var next     = prior.balance
          events.foreach { tp =>
            next += tp.payment.amount
            lastSeen = math.max(lastSeen, tp.ts.getTime)
          }
          val fresh = !state.exists
          state.update(BalanceState(next, lastSeen))
          // deadline must sit strictly ahead of the current watermark — a
          // key that has only ever seen late data still gets (watermark +
          // 1ms, i.e. evict at the next watermark advance) rather than an
          // exception
          state.setTimeoutTimestamp(
            math.max(lastSeen + ttl.toMillis, state.getCurrentWatermarkMs + 1L))
          if (next != prior.balance || fresh) Iterator.single(BalanceUpdate(account, next))
          else Iterator.empty
        }
      }
  }

  final case class SeenKey(key: String)

  /** Exact streaming dedup: pass each key's FIRST record, drop replays.
    * State per key is a single boolean-shaped marker (smallest possible);
    * at 100 TB of keys use RocksDB + TTL timeouts.
    */
  def streamingDedup(payments: Dataset[PaymentEvent]): Dataset[PaymentEvent] = {
    import payments.sparkSession.implicits._
    payments
      .groupByKey(_.paymentId)
      .flatMapGroupsWithState[Boolean, PaymentEvent](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()
      ) { (_: String, events: Iterator[PaymentEvent], state: GroupState[Boolean]) =>
        if (state.exists) Iterator.empty
        else {
          state.update(true)
          events.take(1)
        }
      }
  }
}
