package graft.operators

import graft.SparkSpec
import graft.model.PaymentEvent
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tier-1 golden tests — the reference's unit scenario
  * (`PaymentTopologyTest.java:80-145`, FIXTURES.md §2): 3 GBP payments
  * 100+50+60 from ABC via FOO; 1 dropped `BANK_RAILS_XXX` payment of 1200;
  * 1 USD payment 1000 → 800 GBP from XYZ via BAR.
  */
class PaymentOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def golden = Seq(
    PaymentEvent("p1", 100L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
    PaymentEvent("p2", 50L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
    PaymentEvent("p3", 60L, "GBP", "DEF", "ABC", "BANK_RAILS_FOO"),
    PaymentEvent("p4", 1200L, "GBP", "DEF", "ABC", "BANK_RAILS_XXX"),
    PaymentEvent("p5", 1000L, "USD", "DEF", "XYZ", "BANK_RAILS_BAR")
  ).toDF()

  test("railsFilter drops BANK_RAILS_XXX (PaymentTopologyTest.java:103-110)") {
    val kept = PaymentOps.railsFilter(golden).select("paymentId").as[String].collect().toSet
    assert(kept == Set("p1", "p2", "p3", "p5"))
  }

  test("fxConvert: 1000 USD -> 800 GBP, Math.round semantics (PaymentTopology.java:54-68)") {
    val usd = PaymentOps.branchByCurrency(PaymentOps.railsFilter(golden))(1)
    val fx  = PaymentOps.fxConvert(usd).select("paymentId", "amount", "currency").as[(String, Long, String)].collect()
    assert(fx.toSeq == Seq(("p5", 800L, "GBP")))
  }

  test("fxConvert rounds .5 up like Math.round (regression on the boundary)") {
    // 8.125 * 0.8 is not integral; use amounts where amount*0.8 ends in .5:
    // Math.round(13 * 0.8) = Math.round(10.4) = 10; Math.round(3*0.8=2.4)=2;
    // exact .5 case: 5*0.9? with rate 0.8: amount*0.8 = x.5 when amount = 5*(2k+1)/4
    // not integral — so construct with rate 0.5: Math.round(5*0.5)=Math.round(2.5)=3.
    val df = Seq(PaymentEvent("b1", 5L, "USD", "t", "f", "BANK_RAILS_BAR")).toDF()
    val fx = PaymentOps.fxConvert(df, rate = 0.5).select("amount").as[Long].collect()
    assert(fx.toSeq == Seq(3L), "round-half-up expected, matching Math.round for positive values")
  }

  test("fxConvert matches Math.round EXACTLY on negative exact-.5 boundaries") {
    // Math.round is floor(x + 0.5): Math.round(-2.5) = -2 (NOT -3, which is
    // what HALF_UP rounding would give). The operator must agree so a
    // refund/chargeback amount converts identically to the reference JVM.
    val amounts = Seq(-5L, -3L, -13L, 5L, 13L)
    val df = amounts.map(a => PaymentEvent(s"n$a", a, "USD", "t", "f", "BANK_RAILS_BAR")).toDF()
    val fx = PaymentOps
      .fxConvert(df, rate = 0.5)
      .select("paymentId", "amount")
      .as[(String, Long)]
      .collect()
      .toMap
    for (a <- amounts)
      assert(fx(s"n$a") == Math.round(a * 0.5), s"amount $a: got ${fx(s"n$a")}, want ${Math.round(a * 0.5)}")
    assert(fx("n-5") == -2L, "Math.round(-2.5) is -2 — the HALF_UP answer (-3) would be a parity break")
  }

  test("fxConvert matches Math.round on the double-rounding boundary (JDK-6430675)") {
    // rate such that amount*rate = 0.49999999999999994: naive IEEE
    // floor(x + 0.5) computes floor(1.0) = 1, but Math.round returns 0 —
    // the exact floor(x) + [frac >= 0.5] form must agree with Math.round.
    val boundary = 0.49999999999999994
    assert(Math.round(boundary) == 0L, "JDK contract under test")
    assert(math.floor(boundary + 0.5).toLong == 1L, "the naive form really does differ here")
    val df = Seq(PaymentEvent("b", 1L, "USD", "t", "f", "BANK_RAILS_BAR")).toDF()
    val fx = PaymentOps.fxConvert(df, rate = boundary).select("amount").as[Long].collect()
    assert(fx.toSeq == Seq(0L), s"got ${fx.toSeq}, want Seq(0) = Math.round($boundary)")
    // and a huge odd integer in [2^52, 2^53): x + 0.5 would round-half-even
    // up to x+1; Math.round keeps x
    val bigOdd = (1L << 52) + 1L
    val fx2 = PaymentOps
      .fxConvert(Seq(PaymentEvent("c", bigOdd, "USD", "t", "f", "BANK_RAILS_BAR")).toDF(), rate = 1.0)
      .select("amount").as[Long].collect()
    assert(fx2.toSeq == Seq(Math.round(bigOdd * 1.0)) && fx2.head == bigOdd)
  }

  test("branch is first-match and drops no-match rows (SURVEY §7.4 Hard #2)") {
    // Overlapping predicates: without first-match tagging, p1 would land in both.
    val tagged = PaymentOps.branchFirstMatch(
      golden,
      "b",
      Seq("big" -> (col("amount") >= 100), "gbp" -> (col("currency") === "GBP"))
    )
    val byTag = tagged.groupBy("b").count().as[(String, Long)].collect().toMap
    assert(byTag == Map("big" -> 3L, "gbp" -> 2L)) // p2,p3 small GBP; p1,p4,p5 big
    // no-match drop:
    val dropped = PaymentOps.branchFirstMatch(golden, "b", Seq("none" -> (col("amount") < 0)))
    assert(dropped.count() == 0)
  }

  // RDD-backed (not a LocalRelation Catalyst could fold) and null-bearing:
  // the edge rows every form of the O3→O6 chain must treat alike.
  private def edges: DataFrame = {
    val bigOdd = (1L << 52) + 1L
    def r(id: String, amount: java.lang.Long, currency: String, rails: String) =
      Row(id, amount, currency, "DEF", s"acct-$id", rails)
    val rows = Seq(
      r("g1", 100L, "GBP", "BANK_RAILS_FOO"),
      r("g1", 100L, "GBP", "BANK_RAILS_FOO"), // duplicate: multiset, not set
      r("g2", null, "GBP", "BANK_RAILS_BAR"),
      r("u1", 1000L, "USD", "BANK_RAILS_BAR"),
      r("u2", 5L, "USD", "BANK_RAILS_FOO"), // the exact-.5 amounts of the
      r("u3", -5L, "USD", "BANK_RAILS_BAR"), // fxConvert tests above
      r("u4", 13L, "USD", "BANK_RAILS_FOO"),
      r("u5", bigOdd, "USD", "BANK_RAILS_BAR"), // odd integer above 2^52
      r("u6", null, "USD", "BANK_RAILS_FOO"),
      r("n1", 7L, null, "BANK_RAILS_FOO"),
      r("e1", 9L, "EUR", "BANK_RAILS_BAR"),
      r("r1", 11L, "GBP", null),
      r("x1", 1200L, "USD", "BANK_RAILS_XXX")
    )
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), PaymentEvent.schema)
  }

  test("merged (one pass) equals merge(gbp, fxConvert(usd)) as multisets") {
    val Seq(gbp, usd) = PaymentOps.branchByCurrency(PaymentOps.railsFilter(edges))
    val union         = PaymentOps.merge(gbp, PaymentOps.fxConvert(usd))
    val single        = PaymentOps.merged(edges)
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(shape(single) == shape(union), "column names, order or types differ")
    assert(single.count() == union.count())
    assert(single.count() == 9L, "null/EUR currency, null rails and XXX rows must drop")
    assert(single.exceptAll(union).isEmpty, "rows only in the one-pass form")
    assert(union.exceptAll(single).isEmpty, "rows only in the union form")
  }

  test("merged plans one scan of its input (no self-union)") {
    val leaves = PaymentOps.merged(edges).queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 1, s"expected one leaf, got ${leaves.size}: ${leaves.map(_.nodeName)}")
  }

  test("full topology: balances ABC=210, XYZ=800, DEF absent (PaymentTopologyTest.java:142-145)") {
    val topo = PaymentOps.topology(golden)
    val bal  = topo.balances.as[(String, Long)].collect().toMap
    assert(bal == Map("ABC" -> 210L, "XYZ" -> 800L))
    assert(!bal.contains("DEF"), "DEF never sends, so it must be absent (REST 404 contract)")
    val fooIds = topo.foo.select("paymentId").as[String].collect().toSet
    val barIds = topo.bar.select("paymentId").as[String].collect().toSet
    assert(fooIds == Set("p1", "p2", "p3") && barIds == Set("p5"))
  }
}
