package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSON serde for payment events — the Spark twin of the reference's
  * Jackson-based `serdes/JsonSerializer.java:20-29` /
  * `serdes/JsonDeserializer.java:23-32` (+ `mapper/JsonMapper.java:12-16`).
  *
  * Reference leniency contract (SURVEY.md §1.3):
  *   - unknown JSON fields are ignored (`FAIL_ON_UNKNOWN_PROPERTIES=false`)
  *     → Spark's `from_json` only extracts schema fields, so this holds.
  *   - missing fields deserialize to null → `from_json` default.
  *   - null payload → null record → `from_json(null)` is null.
  *
  * One deliberate divergence, documented: the reference FAILS FAST on
  * malformed JSON (`JsonDeserializer.java:27-31` throws
  * `SerializationException`). Spark's PERMISSIVE mode instead yields a null
  * row, which at 100 TB is the operationally sane default (a single corrupt
  * record must not kill a 1000-executor job). `FAILFAST` mode is available
  * via [[fromJsonStrict]] for exact reference semantics.
  */
object PaymentSerde {

  /** bytes/string column of JSON → struct column with the payment schema.
    * Lenient (PERMISSIVE): corrupt records become null structs.
    */
  def fromJson(jsonCol: Column, schema: StructType = PaymentEvent.schema): Column =
    from_json(asString(jsonCol), schema)

  /** Exact reference semantics: throw on malformed JSON
    * (`JsonDeserializer.java:27-31`).
    */
  def fromJsonStrict(jsonCol: Column, schema: StructType = PaymentEvent.schema): Column =
    from_json(asString(jsonCol), schema, Map("mode" -> "FAILFAST"))

  /** Parse a DataFrame with binary/string `key`/`value` columns (the shape
    * Spark's `kafka` source produces) into typed payment columns, keeping the
    * record key. Twin of the reference's `Consumed.with(STRING_SERDE,
    * PaymentSerdes.serdes())` (`PaymentTopology.java:41-42`).
    */
  def decodeKafka(df: DataFrame): DataFrame =
    df.select(
        asString(col("key")).as("kafkaKey"),
        fromJson(col("value")).as("payment")
      )
      .select(col("kafkaKey"), col("payment.*"))

  /** All payment columns → one JSON string column; twin of
    * `JsonSerializer.java:20-29`. Null-safe: a fully-null struct serializes
    * to a JSON object with null members (Spark drops nulls by default —
    * `ignoreNullFields=false` keeps the reference's explicit-null shape).
    */
  private def toJsonValue(df: DataFrame): Column =
    to_json(
      struct(df.columns.filterNot(_ == "kafkaKey").map(col).toIndexedSeq: _*),
      Map("ignoreNullFields" -> "false")
    )

  /** Payment DataFrame → (key, value) pair shaped for Spark's kafka sink;
    * key = paymentId (the reference's record-key contract). Twin of
    * `Produced.with(STRING_SERDE, PaymentSerdes.serdes())`
    * (`PaymentTopology.java:95-97`).
    */
  def encodeKafka(df: DataFrame): DataFrame =
    df.select(col("paymentId").cast("string").as("key"), toJsonValue(df).as("value"))

  // Accept both binary (kafka wire) and string columns.
  private def asString(c: Column): Column = c.cast("string")
}
