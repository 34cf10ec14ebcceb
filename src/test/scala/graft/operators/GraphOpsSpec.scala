package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Connected components must close CHAINS transitively — the exact case the
  * one-pass "keep the lower id of each pair" dedup (q46) gets wrong: with
  * A~B and B~C but A≁C, C still belongs to A's component.
  */
class GraphOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def components(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps
      .connectedComponents(nodes.toDF("id"), edges.toDF("src", "dst"))
      .as[(Long, Long)]
      .collect()
      .toMap

  test("chain A-B-C collapses to one component rooted at the min id") {
    val comp = components(Seq(1L, 2L, 3L, 9L), Seq((1L, 2L), (2L, 3L)))
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("long path needs diameter rounds and still converges") {
    val n    = 40L
    val comp = components(1L to n, (1L until n).map(i => (i, i + 1)))
    assert(comp.values.forall(_ == 1L))
  }

  test("reliable checkpointing: a deep chain (many rounds) converges with checkpointDir set") {
    // depth 12 -> well past 2 rounds of label propagation, every round
    // re-checkpointed to the reliable dir (the cluster-deployment mode);
    // result must be identical to the localCheckpoint path.
    val dir = tempDir("graft-ckpt").toString
    val n   = 12L
    val comp = GraphOps
      .connectedComponents(
        (1L to n).toDF("id"),
        (1L until n).map(i => (i, i + 1)).toDF("src", "dst"),
        checkpointDir = Some(dir)
      )
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(comp.values.forall(_ == 1L), s"deep chain not closed: $comp")
    // the reliable checkpoints actually landed on disk
    val files = new java.io.File(dir).listFiles()
    assert(files != null && files.nonEmpty, "no reliable checkpoint written")
  }

  test("multiple components, edge direction irrelevant, singletons survive") {
    val comp = components(
      Seq(1L, 2L, 3L, 10L, 11L, 12L, 50L),
      Seq((2L, 1L), (3L, 2L), (12L, 10L), (11L, 12L))
    )
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 50L -> 50L))
  }

  // ---- large-star/small-star ----------------------------------------------

  private def starComponents(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps
      .connectedComponentsStars(nodes.toDF("id"), edges.toDF("src", "dst"))
      .as[(Long, Long)]
      .collect()
      .toMap

  test("stars: deep chain converges in far fewer than diameter rounds") {
    // a 200-node path has diameter 199 — min-label with default maxRounds=50
    // CANNOT close it, stars must (O(log²) rounds; maxRounds=30 is ample)
    val n    = 200L
    val comp = starComponents(1L to n, (1L until n).map(i => (i, i + 1)))
    assert(comp.size == 200 && comp.values.forall(_ == 1L), "deep chain not closed by star contraction")
  }

  test("stars: parity with min-label propagation on a seeded random graph") {
    val rnd   = new scala.util.Random(7)
    val nodes = 1L to 120L
    val edges = Seq.fill(90)((rnd.nextInt(120) + 1L, rnd.nextInt(120) + 1L)).filter(e => e._1 != e._2)
    val byStars = starComponents(nodes, edges)
    val byLabel = components(nodes, edges)
    assert(byStars == byLabel, "star contraction and min-label disagree")
  }

  test("stars: multiple components, direction irrelevant, singletons survive") {
    val comp = starComponents(
      Seq(1L, 2L, 3L, 10L, 11L, 12L, 50L),
      Seq((2L, 1L), (3L, 2L), (12L, 10L), (11L, 12L))
    )
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 50L -> 50L))
  }

  test("stars: empty edge set leaves every node a singleton") {
    val comp = starComponents(Seq(5L, 6L), Seq.empty)
    assert(comp == Map(5L -> 5L, 6L -> 6L))
  }

  test("exhausting maxRounds throws instead of returning partial labels") {
    // a 10-node path needs 9 min-label rounds; 3 is not enough — partial
    // labels are silently wrong downstream, so the operator must refuse
    val err = intercept[IllegalStateException] {
      GraphOps
        .connectedComponents(
          (1L to 10L).toDF("id"),
          (1L until 10L).map(i => (i, i + 1)).toDF("src", "dst"),
          maxRounds = 3
        )
        .collect()
    }
    assert(err.getMessage.contains("connectedComponentsStars"), err.getMessage)
  }

  /** Reference PageRank: the identical integer recurrence computed locally
    * — hubs, dangling nodes, and asymmetric degrees all exercised, so the
    * distributed joins are checked where the corpus graph (mostly
    * symmetric pairs) cannot reach.
    */
  private def localPageRank(
      nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int, scale: Long): Map[Long, Long] = {
    val n    = nodes.size
    val base = (15L * scale) / (100L * n)
    val deg  = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r    = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val in = edges
        .groupBy(_._2)
        .map { case (d, es) => d -> es.map { case (s, _) => r(s) / deg(s) }.sum }
      r = nodes.map(v => v -> (base + (85L * in.getOrElse(v, 0L)) / 100L)).toMap
    }
    r
  }

  test("pageRank matches the exact integer recurrence on a hub/dangling/asymmetric graph") {
    // 1 is a hub (out-deg 3), 5 is dangling (no out-edges), 4 receives from
    // two different-degree sources, 6 is isolated — every formula branch
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L), (3L, 1L), (4L, 5L))
    val got = GraphOps
      .pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), iters = 3)
      .as[(Long, Long)]
      .collect()
      .toMap
    val want = localPageRank(nodes, edges, 3, 1000000000000L)
    assert(got == want, s"got $got\nwant $want")
    // non-vacuous: the graph produces at least 4 distinct ranks
    assert(got.values.toSet.size >= 4)
  }

  test("pageRank on an empty edge set gives every vertex the damped base rank") {
    val got = GraphOps
      .pageRank((1L to 4L).toDF("id"), Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 2)
      .as[(Long, Long)]
      .collect()
      .toMap
    val base = (15L * 1000000000000L) / (100L * 4)
    assert(got == Map(1L -> base, 2L -> base, 3L -> base, 4L -> base))
  }
}
