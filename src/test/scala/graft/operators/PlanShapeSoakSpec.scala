package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.tools.Soak

/** Scale-soak plan-shape pinning (round-12 verdict item 5): the
  * headliner + dedup + ANN plans must keep their shape when the corpus
  * grows — the number of shuffle exchanges in the FINAL (post-AQE)
  * executed plan must not increase from 1× to R×, and no
  * SinglePartition exchange may appear at either size (the 100 TB
  * serialization cliff). The R× corpus is the key-consistent
  * replication [[Soak.explode]] builds — R× duplicate groups is the
  * adversarial case for the dedup candidate generators.
  *
  * (Exchanges may legitimately DECREASE with size: several builders
  * add a small-input repartition fix-up when the scan has too few
  * partitions to parallelize, which correctly disappears at scale.)
  *
  * The wall-time curve at bench scale is the committed
  * plans/history/SOAK_r12.json artifact (runMain graft.tools.Soak). */
class PlanShapeSoakSpec extends SparkSpec {

  test("headliner plans keep their shape at 3x the corpus (no new exchanges, no SinglePartition)") {
    graft.functions.GraftFunctions.register(spark)
    val bigDir = Files.createTempDirectory("graft_soak_spec").toString
    Soak.explode(spark, sfDir, bigDir, replicas = 3)
    // AQE OFF for the shape comparison: the claim pinned here is that
    // the DECLARED plan is size-independent — same exchanges at any
    // corpus size. With AQE on, exchange counts may legitimately move
    // in either direction at runtime (broadcast<->SMJ flips on real
    // sizes); that adaptivity is a feature, not a shape regression,
    // and the committed SOAK artifact records it at bench scale.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val bad = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Soak.Targets.flatMap { n =>
        val (_, e1, sp1) = Soak.run(spark, n, sfDir)
        spark.catalog.clearCache()
        val (_, eR, spR) = Soak.run(spark, n, bigDir)
        spark.catalog.clearCache()
        info(f"$n%-22s exchanges 1x=$e1 3x=$eR singlePartition=$sp1/$spR")
        val problems = Seq(
          if (eR > e1) Some(s"$n: exchanges grew $e1 -> $eR") else None,
          if (sp1 || spR) Some(s"$n: SinglePartition exchange present") else None)
        problems.flatten
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert(bad.isEmpty, s"plan-shape regressions at 3x:\n${bad.mkString("\n")}")
  }
}
