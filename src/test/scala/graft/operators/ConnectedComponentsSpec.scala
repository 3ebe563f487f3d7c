package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.labels(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, clique, and isolated pair each collapse to their min id") {
    // components: {1..4} chain, {10,11,12} triangle, {20,21}
    val lbl = run(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)))
    assert(lbl == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long chain converges past a single propagation round") {
    // path of 12 nodes: min label must travel 11 hops (descending edge
    // order makes the label flow against the edge direction)
    val lbl = run((1L to 11L).map(i => (i, i + 1)))
    assert(lbl.values.toSet == Set(1L))
    assert(lbl.keySet == (1L to 12L).toSet)
  }

  test("labels are invariant to edge direction and duplication") {
    val forward = run(Seq((5L, 6L), (6L, 7L)))
    val scrambled = run(Seq((7L, 6L), (6L, 5L), (5L, 6L), (6L, 7L)))
    assert(forward == scrambled)
  }

  test("10k-node path graph converges well under the round cap") {
    // the adversarial shape for min-label propagation: diameter 9 999.
    // star alternation must finish in O(log² n) rounds — maxIter 15
    // proves it is nowhere near the O(diameter) regime (hash-min would
    // need ~10 000 rounds and throw here).
    val n = 10000L
    val edges = spark.range(1, n)
      .selectExpr("id AS src", "id + 1 AS dst")
    val lbl = ConnectedComponents.labels(edges, "src", "dst", maxIter = 15)
      .agg(countDistinct(col("label")), count(lit(1)), min(col("label"))).head
    assert(lbl.getLong(0) == 1L, "one component")
    assert(lbl.getLong(1) == n, "all nodes labeled")
    assert(lbl.getLong(2) == 1L, "label is the component min")
  }

  test("maxIter is an exact alternation budget") {
    // the path 1-2-3 becomes the star {2→1, 3→1} in one alternation; a
    // second one is needed to see the fixpoint. One alternation allowed
    // is one run, so the fixpoint is never confirmed.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    intercept[IllegalStateException] {
      ConnectedComponents.labels(edges, "src", "dst", maxIter = 1).collect()
    }
    val lbl = ConnectedComponents.labels(edges, "src", "dst", maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("random graphs agree with a reference union-find") {
    // seeded random topologies vs a trivially-correct driver-side
    // union-find — guards the star alternation against shape-specific
    // bugs the hand-picked fixtures might miss
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 5) {
      val n = 20 + rnd.nextInt(60)
      val ids = (1 to n).map(_ => rnd.nextInt(1000).toLong + 1).distinct
      val edges = (1 to n).map { _ =>
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      }.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // canonical label = min id per root group
        val expected = nodes.groupBy(find).flatMap { case (_, members) =>
          val m = members.min
          members.map(_ -> m)
        }.toMap
        val got = run(edges)
        assert(got == expected, s"trial $trial (n=$n): $got vs $expected")
      }
    }
  }

  test("two interleaved long chains stay separate components") {
    // odd chain 1-3-5-…, even chain 2-4-6-… — interleaved ids rule out
    // any accidental id-locality shortcut in the star alternation
    val odd = (1L to 997L by 2).map(i => (i, i + 2))
    val even = (2L to 998L by 2).map(i => (i, i + 2))
    val lbl = run(scala.util.Random.shuffle(odd ++ even))
    assert((1L to 999L by 2).forall(lbl(_) == 1L), "odd chain labels = 1")
    assert((2L to 1000L by 2).forall(lbl(_) == 2L), "even chain labels = 2")
  }
}
