package graft.operators

import graft.model.PaymentEvent.{Currency, Rails}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The reference topology's operators (SURVEY.md §2, O3–O11), each a pure
  * `DataFrame => DataFrame` so the SAME function runs in batch (parquet in →
  * parquet out, the driver's DuckDB-verified path) and in Structured
  * Streaming (MemoryStream/Kafka in).
  *
  * The payment path is spelled once: [[merged]] (O3–O6), [[routed]]
  * (O10+O11) and [[balances]] (O7–O9). [[topology]] runs them over a batch.
  * `PaymentPipeline.start` runs [[merged]] and [[routed]] over a stream, and
  * hands each micro-batch's [[rekeyToAccountAmount]] rows to its
  * `BalanceStore`, which sums them on the driver as [[balances]] would. [[branchByCurrency]],
  * [[fxConvert]] and [[merge]] are the reference's O4–O6 as separate steps:
  * the board's q06 row runs the first two, and PaymentOpsSpec checks
  * [[merged]] against the three.
  *
  * Scale notes (100 TB): every operator here is a narrow, stateless,
  * whole-stage-codegen-friendly transformation — filters and projections that
  * Catalyst pushes into the parquet scan, a `when`-chain tag for routing,
  * and a `unionByName` that adds no shuffle. Catalyst does not fold a
  * self-union, so branches split into frames and merged back read their
  * input once per branch; [[merged]] therefore fuses O4–O6 into one filter
  * and one projection over a single scan. The only shuffle in the batch
  * topology is the one the semantics require: the groupBy in [[balances]]
  * (the reference's repartition topic, `PaymentTopology.java:76-77`). The
  * stream plans none: its per-batch sum runs on the driver.
  */
object PaymentOps {

  /** Whitelist built at reference `PaymentTopology.java:33`. */
  val SupportedRails: Seq[String] = Seq(Rails.Foo, Rails.Bar)

  /** Hard-coded USD→GBP rate — reference `PaymentTopology.java:58`. */
  val UsdToGbpRate: Double = 0.8

  /** Outbound topic names (reference `application.yml:13-15`). */
  private val FooTopic = "rails-foo-topic"
  private val BarTopic = "rails-bar-topic"

  /** O3 — keep records whose rails is in the whitelist; `BANK_RAILS_XXX`
    * dropped. Reference `PaymentTopology.java:45-46`. Catalyst pushes the
    * `IN` predicate into the parquet scan in batch mode.
    */
  def railsFilter(df: DataFrame): DataFrame =
    df.filter(col("rails").isin(SupportedRails: _*))

  /** Kafka Streams first-match branch semantics (`KStream#branch`): a record
    * goes to the FIRST predicate it matches, and records matching none are
    * SILENTLY DROPPED (reference `PaymentTopology.java:49-53,90-93`; SURVEY.md
    * §7.4 Hard #2). Implemented as a single-pass `when`-chain tag column —
    * with overlapping predicates, two plain filters would duplicate records;
    * the tag keeps routing exclusive and costs one scan regardless of the
    * branch count.
    *
    * @return the input plus `tagCol` holding the branch name; no-match rows
    *         are dropped (tag would be null).
    */
  def branchFirstMatch(df: DataFrame, tagCol: String, branches: Seq[(String, Column)]): DataFrame = {
    require(branches.nonEmpty, "branchFirstMatch needs at least one branch")
    val tag = branches.tail
      .foldLeft(when(branches.head._2, lit(branches.head._1))) { case (acc, (name, pred)) =>
        acc.when(pred, lit(name))
      }
    df.withColumn(tagCol, tag).filter(col(tagCol).isNotNull)
  }

  /** O4 — branch by currency: branch 0 = GBP, branch 1 = USD; anything else
    * dropped (only GBP/USD exist in `Currency.java:3-6`, but O3 does not
    * check currency, so the drop rule is part of the contract). Reference
    * `PaymentTopology.java:49-53`. The two predicates are disjoint, so two
    * plain filters give first-match semantics; each branch is its own scan
    * of `df` (see [[merged]] for the one-scan form).
    */
  def branchByCurrency(df: DataFrame): Seq[DataFrame] =
    Seq(Currency.GBP, Currency.USD).map(c => df.filter(col("currency") === c))

  /** O5 — FX conversion on the USD branch: `amount = Math.round(amount*0.8)`,
    * `currency = "GBP"`, all other fields (and the record key) unchanged.
    * Reference `PaymentTopology.java:54-68`.
    *
    * Rounding parity is EXACT on the full double range: `Math.round(double)`
    * is floor(x + 0.5) in EXACT real arithmetic, which the naive IEEE
    * `floor(x + 0.5)` does NOT compute — the addition itself rounds, so
    * x = 0.49999999999999994 gives floor(1.0) = 1 while Math.round
    * (post-JDK-6430675) correctly returns 0, and odd integers in
    * [2^52, 2^53) bump to even. The exact form used here is
    * `floor(x) + [x - floor(x) >= 0.5]`: for |x| < 2^52 the fractional
    * part `x - floor(x)` is computed exactly in IEEE (both operands
    * representable, difference < 1), and for |x| >= 2^52 x is already an
    * integer so the correction term is 0 — Math.round semantics at every
    * double. (Spark's `round(_, 0)` HALF_UP additionally disagrees at
    * negative exact-.5 points: Math.round(-2.5) = -2, HALF_UP gives -3.
    * See PaymentOpsSpec for both boundary regressions.)
    */
  def fxConvert(df: DataFrame, rate: Double = UsdToGbpRate): DataFrame =
    df.withColumn("amount", fxAmount(col("amount"), rate))
      .withColumn("currency", lit(Currency.GBP))

  /** `Math.round(amount * rate)` as a LongType column — the exact form
    * documented on [[fxConvert]], shared by [[fxConvert]] and [[merged]].
    */
  def fxAmount(amount: Column, rate: Double): Column = {
    val x = amount * lit(rate)
    val f = floor(x) // LongType
    (f + when(x - f.cast("double") >= 0.5, lit(1L)).otherwise(lit(0L))).cast(LongType)
  }

  /** O6 — merge (UNION ALL, order-free, no dedup). Reference
    * `PaymentTopology.java:70-72`. `unionByName` so column order in the
    * branches cannot silently mis-zip.
    */
  def merge(dfs: DataFrame*): DataFrame = dfs.reduce(_.unionByName(_))

  /** O7 — re-key projection `(paymentId, event) → (fromAccount, amount)`.
    * Reference `PaymentTopology.java:76`. In Kafka Streams the key change
    * forces a repartition topic; in Spark the equivalent shuffle is fused
    * into the downstream groupBy ([[balances]]) — Catalyst prunes every
    * other column from the scan.
    */
  def rekeyToAccountAmount(df: DataFrame): DataFrame =
    df.select(col("fromAccount"), col("amount"))

  /** O3→O6 — the chain every payment consumer starts from: rails filter,
    * currency branch, FX on the USD branch, merge. Reference
    * `PaymentTopology.java:45-72`.
    *
    * Spelled as one pass, not as `merge(gbp, fxConvert(usd))` over
    * [[branchByCurrency]]: that union of two filtered frames plans as two
    * scans of the same input. Here the branch is the filter
    * `currency IN (GBP, USD)` (null and unknown currencies dropped, as
    * `KStream#branch` drops no-match records), FX applies under
    * `currency = USD`, and every surviving row is GBP — the same multiset
    * of rows as the union (PaymentOpsSpec checks the two forms agree).
    */
  def merged(payments: DataFrame): DataFrame =
    railsFilter(payments)
      .filter(col("currency").isin(Currency.GBP, Currency.USD))
      .withColumn(
        "amount",
        when(col("currency") === Currency.USD, fxAmount(col("amount"), UsdToGbpRate)).otherwise(col("amount")))
      .withColumn("currency", lit(Currency.GBP))

  /** O10+O11 — the merged stream tagged with its outbound topic in a
    * `topic` column: FOO rails → `rails-foo-topic`, BAR rails →
    * `rails-bar-topic` (reference `PaymentTopology.java:90-97`,
    * `application.yml:13-15`). One tagged frame, so a partitioned write
    * fills both sinks in one pass.
    */
  def routed(merged: DataFrame): DataFrame =
    branchFirstMatch(
      merged,
      "topic",
      Seq(FooTopic -> (col("rails") === Rails.Foo),
          BarTopic -> (col("rails") === Rails.Bar))
    )

  /** O8+O9 — grouped running balance: `fromAccount → Σ amount`, the
    * reference's `"balance"` KTable (`PaymentTopology.java:75-88`:
    * initializer 0L, aggregator agg+value, no window, no TTL).
    *
    * Batch: a plain hash aggregate (partial map-side combine + one shuffle),
    * for [[topology]]. `PaymentPipeline.start` no longer runs it: its
    * `BalanceStore` sums each micro-batch's [[rekeyToAccountAmount]] rows
    * per partition in one single-stage job and adds the sums on the driver
    * by the same rules (a null amount adds nothing). The store drops a null
    * account, which this aggregate keeps as a group of its own.
    */
  def balances(df: DataFrame): DataFrame =
    rekeyToAccountAmount(df)
      .groupBy(col("fromAccount"))
      .agg(sum(col("amount")).as("balance"))

  /** The full reference dataflow O3→O11 on a payment-shaped DataFrame,
    * returning (foo-sink stream, bar-sink stream, balance table) — the three
    * outputs of `PaymentTopology.buildPipeline` (`PaymentTopology.java:39-98`).
    * The batch twin of `PaymentPipeline.start`, spelled with the same
    * operators: `foo` and `bar` are the rows [[routed]] tags for each topic
    * (the frame `start` writes to the FOO/BAR sink), with `topic` dropped.
    */
  def topology(payments: DataFrame): PaymentTopology = {
    val m = merged(payments)
    val r = routed(m)
    def sink(topic: String) = r.filter(col("topic") === topic).drop("topic")
    PaymentTopology(sink(FooTopic), sink(BarTopic), balances(m), m)
  }
}

/** Outputs of the reference topology: two outbound record streams and the
  * queryable balance changelog (reference topics `rails-foo-topic`,
  * `rails-bar-topic`, store `"balance"` — `application.yml:13-15`,
  * `PaymentTopology.java:88,95-97`).
  */
final case class PaymentTopology(foo: DataFrame, bar: DataFrame, balances: DataFrame, merged: DataFrame)
