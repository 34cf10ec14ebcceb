package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite


/** Source-format coverage beyond parquet: the engine reads the same tables
  * through every format Spark ships a native reader for, with identical
  * results. Per-format contracts that matter at scale:
  *
  *   - ORC: columnar with predicate pushdown — the filter must reach the
  *     scan (`PushedFilters`), same as parquet.
  *   - JSON lines: schema-on-read with an EXPLICIT schema (inference is a
  *     second full pass over 100 TB — never ship it); values round-trip.
  *   - CSV: header + explicit schema + timestamp format; the lossy format
  *     of record — the spec proves the typed round-trip anyway.
  *
  * All three writes reuse the partitioned-layout writer path (`spark.write`
  * family), so the format choice is orthogonal to layout control
  * (SinksSpec) and runtime filtering (RuntimeFilterSpec).
  */
class FormatsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("ORC round-trip preserves values and pushes predicates into the scan") {
    val tmp    = tempDir("graft-orc").toString
    val orders = Tables.orders(spark, dir)
    orders.write.mode("overwrite").orc(s"$tmp/orders")

    val back = spark.read.orc(s"$tmp/orders")
    assert(back.schema == orders.schema)
    val filtered = back.filter($"o_totalprice" > 300000)
    val scan     = filtered.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") && scan.contains("o_totalprice"), scan.take(600))
    assert(filtered.count() == orders.filter($"o_totalprice" > 300000).count())
    // exact value fidelity, not just counts
    val a = orders.orderBy("o_orderkey").collect()
    val b = back.orderBy("o_orderkey").collect()
    assert(a.sameElements(b))
  }

  test("JSON-lines round-trip with an explicit schema (no inference pass)") {
    val tmp    = tempDir("graft-json").toString
    val orders = Tables.orders(spark, dir)
    orders.write.mode("overwrite").json(s"$tmp/orders")

    val back = spark.read
      .schema(orders.schema) // explicit: schema inference is a full extra scan at scale
      .json(s"$tmp/orders")
    assert(back.count() == orders.count())
    val a = orders.orderBy("o_orderkey").collect()
    val b = back.orderBy("o_orderkey").collect()
    assert(a.sameElements(b))
  }

  test("CSV round-trip with header + explicit schema + timestamp format") {
    val tmp    = tempDir("graft-csv").toString
    val orders = Tables.orders(spark, dir)
    val tsFmt  = "yyyy-MM-dd HH:mm:ss"
    orders.write
      .mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", tsFmt)
      .csv(s"$tmp/orders")

    val back = spark.read
      .option("header", "true")
      .option("timestampFormat", tsFmt)
      .schema(orders.schema)
      .csv(s"$tmp/orders")
    assert(back.count() == orders.count())
    val a = orders.orderBy("o_orderkey").collect()
    val b = back.orderBy("o_orderkey").collect()
    assert(a.sameElements(b))
  }

  test("schema DDL round-trips (the contract a catalog or config file carries)") {
    val orders = Tables.orders(spark, dir)
    val ddl    = orders.schema.toDDL
    assert(StructType.fromDDL(ddl) == orders.schema)
  }

  test("parquet schema evolution: mergeSchema unions columns across file generations") {
    // generation 1 writes (id, a); generation 2 adds column b — the
    // additive-evolution shape a long-lived table accumulates. A merged
    // read must surface the union schema with nulls for the missing
    // column, and a plain read must still work pinned to either file.
    val tmp = tempDir("graft-evolve").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "a").write.parquet(s"$tmp/t/gen=1")
    Seq((3L, "z", 30L), (4L, "w", 40L)).toDF("id", "a", "b").write.parquet(s"$tmp/t/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$tmp/t")
    assert(merged.columns.toSet == Set("id", "a", "b", "gen"))
    val rows = merged.select("id", "b").as[(Long, Option[Long])].collect().toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(30L), 4L -> Some(40L)))
    // schema evolution must not silently coerce: a type CONFLICT on the
    // same column name fails the merged read instead of guessing
    Seq((5L, 9.5)).toDF("id", "b").write.parquet(s"$tmp/t/gen=3") // b: double vs long
    val conflict = intercept[Exception] {
      spark.read.option("mergeSchema", "true").parquet(s"$tmp/t").collect()
    }
    // the failure must be the SCHEMA MERGE itself, not some unrelated
    // wrapped error — assert on the merge-failure text through the chain
    val messages = Iterator
      .iterate(conflict: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("").toLowerCase)
      .mkString(" | ")
    assert(messages.contains("merg"), s"expected a schema-merge failure, got: $messages")
  }

  test("malformed JSON records: PERMISSIVE quarantines to _corrupt_record, FAILFAST throws") {
    val tmp  = tempDir("graft-corrupt").toString
    val path = s"$tmp/events.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      "{\"id\": 1, \"v\": 10}\nnot json at all\n{\"id\": 2, \"v\": 20}\n".getBytes("UTF-8"))
    val schema = StructType.fromDDL("id BIGINT, v BIGINT, _corrupt_record STRING")
    // PERMISSIVE (the ingest default a pipeline ships): bad rows land in
    // the corrupt-record column instead of poisoning the batch
    val permissive = spark.read.schema(schema).json(path)
    // cache: Spark forbids filtering on _corrupt_record alone off a raw scan
    val rows = permissive.cache().collect()
    assert(rows.length == 3)
    val bad = permissive.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getString(2).contains("not json"))
    assert(permissive.filter(col("id").isNotNull).count() == 2)
    permissive.unpersist()
    // FAILFAST: the validation-gate mode — the batch dies on first bad row
    val strict = intercept[Exception] {
      spark.read.schema(StructType.fromDDL("id BIGINT, v BIGINT"))
        .option("mode", "FAILFAST").json(path).collect()
    }
    assert(strict.getMessage.toLowerCase.contains("malformed") || strict.getCause != null)
  }
}
