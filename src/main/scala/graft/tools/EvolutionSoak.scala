package graft.tools

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._

import graft.sources.SnapshotLog

/** PARTITION-EVOLUTION SCALE SOAK: measure the round's headline
  * claim — "the REPARTITION commit is O(live partitions) METADATA,
  * zero data moved" — at a realistic partition cardinality, plus the
  * cost the mixed-layout state adds to read planning and the price of
  * migrating back to a single layout.
  *
  * Corpus: orders replicated `replicas`× with key-consistent offsets,
  * partitioned by o_orderdate (~2.4 k distinct days at sf0.1 — the
  * high-cardinality layout), then EVOLVED to (o_year, 7 keys).
  * Recorded:
  *   - load wall and day-partition count;
  *   - repartitionTable wall (one manifest commit tagging every day
  *     key) and the commit's metadata size (prop count);
  *   - a day-pruned count query BEFORE evolution, the SAME query on
  *     the MIXED manifest (per-key layout decomposition in the
  *     FileIndex), and a year-pruned query on the mixed manifest —
  *     walls + row counts (counts must be identical where comparable);
  *   - OPTIMIZE migration wall (re-routes every legacy partition
  *     under the current layout) and post-state: legacy keys must be
  *     zero, counts unchanged;
  *   - appends on the mixed manifest (new-layout routing) wall.
  *
  * Usage: runMain graft.tools.EvolutionSoak [sfDir] [replicas] [outJson]
  */
object EvolutionSoak {

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(30)
    val outJson = args.lift(2).getOrElse("EVOLUTION_SOAK.json")
    val spark0 = graft.GraftSessions.local()
    val cpus = spark0.sparkContext.defaultParallelism
    val spark = graft.GraftSessions.withExtensions(spark0)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val base = java.nio.file.Files
      .createTempDirectory("graft_evsoak").toString + "/orders"
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val orders0 = spark.read.parquet(s"$srcDir/orders.parquet")
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice"),
        col("o_orderdate").cast("string").as("o_day"),
        year(col("o_orderdate")).cast("string").as("o_year"))
    val perReplica = orders0.count()
    val initial = (0 until replicas).map(i =>
        orders0.withColumn("o_orderkey",
          col("o_orderkey") + lit(i.toLong * 1000000000L)))
      .reduce(_ unionByName _)

    System.err.println(s"[evsoak] loading $replicas x $perReplica rows under (o_day)")
    val (_, loadSec) = timed {
      initial.write.format("graft").partitionBy("o_day").save(base)
    }
    def m() = SnapshotLog.readManifest(fs, bp).get
    val dayParts = m().files.size
    val totalRows = replicas * perReplica
    val probeDay = orders0.select(col("o_day")).head.getString(0)
    val probeYear = probeDay.take(4)

    def readT() = spark.read.format("graft").load(base)
    val expDay = initial.filter(col("o_day") === probeDay).count()
    val expYear = initial.filter(col("o_year") === probeYear).count()

    // day-pruned count BEFORE evolution (single-layout baseline)
    val (cDay0, dayPrune0Sec) = timed {
      readT().filter(col("o_day") === probeDay).count()
    }
    require(cDay0 == expDay, s"pre-evolution day prune: $cDay0 != $expDay")

    // THE metadata-only commit: tag every day key, declare (o_year)
    val (_, evolveSec) = timed {
      SnapshotLog.repartitionTable(spark, base, "o_year")
    }
    val mMixed = m()
    val tagCount = mMixed.props.keysIterator
      .count(_.startsWith(SnapshotLog.KeySpecPrefix))
    require(tagCount == dayParts,
      s"every legacy key must be tagged: $tagCount != $dayParts")

    // appends route under the NEW layout on the mixed manifest
    val batch = orders0.withColumn("o_orderkey",
      col("o_orderkey") + lit(500L * 1000000000L))
    val (_, appendSec) = timed {
      SnapshotLog.appendBatch(spark, base, batch, "o_year", batchId = 2)
    }

    // the SAME day query on the MIXED manifest: legacy keys prune
    // under the day layout, the new year partitions stay (exclusion-
    // proof) — count reflects the appended replica too
    val expDayMixed = expDay + orders0.filter(col("o_day") === probeDay).count()
    val (cDay1, dayPrune1Sec) = timed {
      readT().filter(col("o_day") === probeDay).count()
    }
    require(cDay1 == expDayMixed, s"mixed day prune: $cDay1 != $expDayMixed")
    val expYearMixed = expYear + orders0.filter(col("o_year") === probeYear).count()
    val (cYear1, yearPrune1Sec) = timed {
      readT().filter(col("o_year") === probeYear).count()
    }
    require(cYear1 == expYearMixed, s"mixed year prune: $cYear1 != $expYearMixed")

    // migration: OPTIMIZE re-routes every legacy day partition under
    // (o_year); afterwards the table is single-layout again
    val (_, migrateSec) = timed {
      SnapshotLog.optimizeTable(spark, base, "o_year", minFiles = 2)
    }
    val mAfter = m()
    val legacyAfter = mAfter.legacyKeys.size
    val yearParts = mAfter.files.size
    val (cAll, fullScanSec) = timed(readT().count())
    require(cAll == totalRows + perReplica,
      s"row count must survive migration: $cAll")
    val (cYear2, yearPrune2Sec) = timed {
      readT().filter(col("o_year") === probeYear).count()
    }
    require(cYear2 == expYearMixed, s"post-migration year prune: $cYear2")

    val json =
      s"""{"replicas":$replicas,"rows":${totalRows + perReplica},
"day_partitions":$dayParts,"year_partitions":$yearParts,
"load_sec":${f"$loadSec%.3f"},
"evolve_commit_sec":${f"$evolveSec%.3f"},"legacy_tags":$tagCount,
"append_mixed_sec":${f"$appendSec%.3f"},
"day_prune_single_sec":${f"$dayPrune0Sec%.3f"},
"day_prune_mixed_sec":${f"$dayPrune1Sec%.3f"},
"year_prune_mixed_sec":${f"$yearPrune1Sec%.3f"},
"migrate_optimize_sec":${f"$migrateSec%.3f"},
"legacy_keys_after":$legacyAfter,
"full_scan_sec":${f"$fullScanSec%.3f"},
"year_prune_after_sec":${f"$yearPrune2Sec%.3f"},
"src":"$srcDir","cpus":$cpus}"""
        .replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
