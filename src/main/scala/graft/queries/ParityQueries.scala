package graft.queries

import graft.operators.PaymentOps
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity operators (SURVEY.md §2 O1–O15) registered as
  * driver-verifiable batch queries over the synthetic `events` table, which
  * stands in for the payment stream (FIXTURES.md §4 mapping:
  * `event_id → paymentId`, `user_id → fromAccount`, `value → amount`,
  * `event_type → rails/currency branch key`).
  *
  * Every query is a pure single-pass DataFrame expression (filters and
  * projections reach the parquet scan; the only shuffle is the grouped
  * aggregate the semantics require) and each has a DuckDB oracle with
  * IDENTICAL column names and ORDER BY, so results hash-match.
  *
  * Floating-point discipline: `value` is a 2-decimal rational, so sums of it
  * are 2-decimal rationals; `round(sum, 2)` recovers the exact value on both
  * engines regardless of accumulation order. FX-converted amounts are
  * integral (round → BIGINT), so mixed sums stay 2-decimal rationals.
  */
object ParityQueries {

  /** events → payment-shaped frame. `click` events play the USD/BAR-rails
    * payment (the reference's FX path); `purchase`/`view` play GBP/FOO;
    * `error`/`signup` map to the unsupported `BANK_RAILS_XXX` and get
    * dropped by O3, mirroring payment 4 of the golden scenario.
    */
  def paymentsFromEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .events(spark, sfDir)
      .select(
        col("event_id").cast("string").as("paymentId"),
        col("value").as("amount"),
        when(col("event_type") === "click", "USD").otherwise("GBP").as("currency"),
        lit("SINK").as("toAccount"),
        col("user_id").cast("string").as("fromAccount"),
        when(col("event_type").isin("purchase", "view"), "BANK_RAILS_FOO")
          .when(col("event_type") === "click", "BANK_RAILS_BAR")
          .otherwise("BANK_RAILS_XXX")
          .as("rails")
      )

  /** [[paymentsFromEvents]] with the reference model's LONG amounts
    * (`Payment.java`: `amount` is a `long`): `value` is quantized ONCE to
    * integer cents (the q141 rounding pattern), so every downstream sum —
    * including the streaming update-mode balance state behind q174, whose
    * [[graft.streaming.PaymentPipeline.BalanceStore]] changelog is BIGINT —
    * is exact integer arithmetic, order- and batch-boundary-independent.
    */
  def paymentsFromEventsCents(spark: SparkSession, sfDir: String): DataFrame =
    paymentsFromEvents(spark, sfDir)
      .withColumn("amount", expr("CAST(round(amount * 100) AS BIGINT)"))

  /** [[paymentsCte]] over the cents amounts — the q174/q175 oracle base.
    * `amount` is BIGINT, so the FX multiply casts to DOUBLE explicitly:
    * DuckDB would otherwise evaluate `BIGINT * 0.8` in exact DECIMAL while
    * Spark multiplies doubles, and the two can disagree at floor/.5
    * boundaries.
    */
  val paymentsCteCents: String =
    """WITH payments AS (
      |  SELECT CAST(event_id AS VARCHAR) AS payment_id,
      |         CAST(round(value * 100) AS BIGINT) AS amount,
      |         CASE WHEN event_type = 'click' THEN 'USD' ELSE 'GBP' END AS currency,
      |         'SINK' AS to_account,
      |         CAST(user_id AS VARCHAR) AS from_account,
      |         CASE WHEN event_type IN ('purchase','view') THEN 'BANK_RAILS_FOO'
      |              WHEN event_type = 'click' THEN 'BANK_RAILS_BAR'
      |              ELSE 'BANK_RAILS_XXX' END AS rails
      |  FROM events),
      | supported AS (SELECT * FROM payments WHERE rails IN ('BANK_RAILS_FOO','BANK_RAILS_BAR')),
      | fx AS (SELECT payment_id,
      |               CAST(floor(CAST(amount AS DOUBLE) * 0.8) +
      |                    (CASE WHEN CAST(amount AS DOUBLE) * 0.8 - floor(CAST(amount AS DOUBLE) * 0.8) >= 0.5
      |                          THEN 1 ELSE 0 END) AS BIGINT) AS amount,
      |               'GBP' AS currency, to_account, from_account, rails
      |        FROM supported WHERE currency = 'USD'),
      | merged AS (SELECT * FROM supported WHERE currency = 'GBP'
      |            UNION ALL SELECT * FROM fx)
      |""".stripMargin

  /** The same derivation as [[paymentsFromEvents]] for the DuckDB oracle. */
  val paymentsCte: String =
    """WITH payments AS (
      |  SELECT CAST(event_id AS VARCHAR) AS payment_id,
      |         value AS amount,
      |         CASE WHEN event_type = 'click' THEN 'USD' ELSE 'GBP' END AS currency,
      |         'SINK' AS to_account,
      |         CAST(user_id AS VARCHAR) AS from_account,
      |         CASE WHEN event_type IN ('purchase','view') THEN 'BANK_RAILS_FOO'
      |              WHEN event_type = 'click' THEN 'BANK_RAILS_BAR'
      |              ELSE 'BANK_RAILS_XXX' END AS rails
      |  FROM events),
      | supported AS (SELECT * FROM payments WHERE rails IN ('BANK_RAILS_FOO','BANK_RAILS_BAR')),
      | fx AS (SELECT payment_id,
      |               CAST(floor(amount * 0.8) +
      |                    (CASE WHEN amount * 0.8 - floor(amount * 0.8) >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS amount,
      |               'GBP' AS currency, to_account, from_account, rails
      |        FROM supported WHERE currency = 'USD'),
      | merged AS (SELECT * FROM supported WHERE currency = 'GBP'
      |            UNION ALL SELECT * FROM fx)
      |""".stripMargin

  // Snake-cased projection of the payment columns (oracle-stable names).
  private def snake(df: DataFrame): DataFrame =
    df.select(
      col("paymentId").as("payment_id"),
      col("amount"),
      col("currency"),
      col("fromAccount").as("from_account"),
      col("rails")
    )

  /** Merged stream = GBP branch ∪ FX-converted USD branch (O3→O6). */
  private def merged(spark: SparkSession, sfDir: String): DataFrame =
    PaymentOps.merged(paymentsFromEvents(spark, sfDir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1 — source/scan with projection (column pruning reaches the scan).
    "q01_scan_project" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))),

    // O14 — JSON deserialize: from_json over the props payload.
    "q02_json_deserialize" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .select(
          col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k")
            .as("prop_k")
        )
        .orderBy(col("event_id"))),

    // O15 — JSON serialize: to_json(struct(...)) with the reference's shape.
    "q03_json_serialize" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .select(
          col("event_id"),
          to_json(struct(col("user_id"), col("event_type"))).as("js")
        )
        .orderBy(col("event_id"))),

    // O3 — rails whitelist filter.
    "q04_filter_rails" -> ((s, dir) =>
      snake(PaymentOps.railsFilter(paymentsFromEvents(s, dir)))
        .orderBy(col("payment_id"))),

    // O4 — first-match branch by currency (no-match rows dropped).
    "q05_branch_currency" -> ((s, dir) =>
      PaymentOps
        .branchFirstMatch(
          PaymentOps.railsFilter(paymentsFromEvents(s, dir)),
          "currency_branch",
          Seq("GBP" -> (col("currency") === "GBP"), "USD" -> (col("currency") === "USD"))
        )
        .select(col("paymentId").as("payment_id"), col("currency_branch"))
        .orderBy(col("payment_id"))),

    // O5 — FX projection on the USD branch: amount = round(amount*0.8) :: BIGINT.
    "q06_fx_convert" -> ((s, dir) => {
      val supported = PaymentOps.railsFilter(paymentsFromEvents(s, dir))
      val usd       = PaymentOps.branchByCurrency(supported)(1)
      PaymentOps
        .fxConvert(usd)
        .select(col("paymentId").as("payment_id"), col("amount"), col("currency"))
        .orderBy(col("payment_id"))
    }),

    // O6 — merge (UNION ALL) of the GBP branch and the FX-converted branch.
    "q07_merge" -> ((s, dir) => snake(merged(s, dir)).orderBy(col("payment_id"))),

    // O7 — re-key projection (fromAccount, amount); shuffle comes from the
    // downstream groupBy, the projection prunes the scan.
    "q08_rekey" -> ((s, dir) =>
      PaymentOps
        .rekeyToAccountAmount(merged(s, dir))
        .select(col("fromAccount").as("from_account"), col("amount"))
        .orderBy(col("from_account"), col("amount"))),

    // O8+O9 — the flagship: per-account balance (grouped running sum).
    "q09_balance" -> ((s, dir) =>
      PaymentOps
        .balances(merged(s, dir))
        .select(col("fromAccount").as("from_account"), round(col("balance"), 2).as("balance"))
        .orderBy(col("from_account"))),

    // O10 — first-match branch by rails on the merged stream.
    "q10_branch_rails" -> ((s, dir) =>
      PaymentOps
        .branchFirstMatch(
          merged(s, dir),
          "rails_branch",
          Seq("BANK_RAILS_FOO" -> (col("rails") === "BANK_RAILS_FOO"),
              "BANK_RAILS_BAR" -> (col("rails") === "BANK_RAILS_BAR"))
        )
        .select(col("paymentId").as("payment_id"), col("rails_branch"))
        .orderBy(col("payment_id"))),

    // O11 — sink routing: contents of the two outbound topics, summarized
    // (per-topic record count + total amount). The streaming twin writes the
    // same tagged frame via a single partitioned foreachBatch write.
    "q11_sink_routing" -> ((s, dir) =>
      PaymentOps
        .branchFirstMatch(
          merged(s, dir),
          "rails_branch",
          Seq("rails_foo_topic" -> (col("rails") === "BANK_RAILS_FOO"),
              "rails_bar_topic" -> (col("rails") === "BANK_RAILS_BAR"))
        )
        .groupBy(col("rails_branch").as("topic"))
        .agg(count(lit(1)).as("n"), round(sum(col("amount")), 2).as("total"))
        .orderBy(col("topic"))),

    // O12 — interactive point query against the balance table (the
    // reference's REST GET /balance/{account}; absent key ⇒ empty result ⇒ 404).
    "q12_balance_lookup" -> ((s, dir) =>
      PaymentOps
        .balances(merged(s, dir))
        .filter(col("fromAccount") === "7")
        .select(col("fromAccount").as("from_account"), round(col("balance"), 2).as("balance")))
  )

  val oracles: Map[String, String] = Map(
    "q01_scan_project" ->
      "SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id",
    "q02_json_deserialize" ->
      "SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS prop_k FROM events ORDER BY event_id",
    "q03_json_serialize" ->
      ("SELECT event_id, to_json(struct_pack(user_id := user_id, event_type := event_type))::VARCHAR AS js " +
        "FROM events ORDER BY event_id"),
    "q04_filter_rails" ->
      (paymentsCte +
        "SELECT payment_id, amount, currency, from_account, rails FROM supported ORDER BY payment_id"),
    "q05_branch_currency" ->
      (paymentsCte +
        "SELECT payment_id, CASE WHEN currency = 'GBP' THEN 'GBP' WHEN currency = 'USD' THEN 'USD' END AS currency_branch " +
        "FROM supported WHERE currency IN ('GBP','USD') ORDER BY payment_id"),
    "q06_fx_convert" ->
      (paymentsCte + "SELECT payment_id, amount, currency FROM fx ORDER BY payment_id"),
    "q07_merge" ->
      (paymentsCte +
        "SELECT payment_id, amount, currency, from_account, rails FROM merged ORDER BY payment_id"),
    "q08_rekey" ->
      (paymentsCte + "SELECT from_account, amount FROM merged ORDER BY from_account, amount"),
    "q09_balance" ->
      (paymentsCte +
        "SELECT from_account, round(sum(amount), 2) AS balance FROM merged GROUP BY from_account ORDER BY from_account"),
    "q10_branch_rails" ->
      (paymentsCte +
        "SELECT payment_id, CASE WHEN rails = 'BANK_RAILS_FOO' THEN 'BANK_RAILS_FOO' " +
        "WHEN rails = 'BANK_RAILS_BAR' THEN 'BANK_RAILS_BAR' END AS rails_branch " +
        "FROM merged ORDER BY payment_id"),
    "q11_sink_routing" ->
      (paymentsCte +
        "SELECT CASE WHEN rails = 'BANK_RAILS_FOO' THEN 'rails_foo_topic' ELSE 'rails_bar_topic' END AS topic, " +
        "count(*) AS n, round(sum(amount), 2) AS total FROM merged GROUP BY 1 ORDER BY topic"),
    "q12_balance_lookup" ->
      (paymentsCte +
        "SELECT from_account, round(sum(amount), 2) AS balance FROM merged WHERE from_account = '7' GROUP BY from_account")
  )
}
