package graft.etl

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  private val clock = Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))

  private lazy val (inRoot, outRoot, result) = {
    val in = Files.createTempDirectory("graft_etl_in").toString
    val out = Files.createTempDirectory("graft_etl_out").toString
    FixtureGen.write(in, nAtms = 50, nTx = 10000, seed = 42L, clock = clock)
    // read the ~1 MB batch as several splits, as a large batch would be
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val split = spark.conf.getAll.get(splitKey)
    spark.conf.set(splitKey, "256k")
    val r = try Pipeline.run(spark, in, out, clock)
      finally split.fold(spark.conf.unset(splitKey))(spark.conf.set(splitKey, _))
    (in, out, r)
  }

  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"
  private val DiscoveryParallelism = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

  private def sessionState =
    Seq(OverwriteMode, DiscoveryParallelism).map(k => k -> spark.conf.getAll.get(k)).toMap

  /** The batch's cleaned rows, derived straight from its CSVs. */
  private def cleaned(in: String) = CleanTransactions.run(
    CleanTransactions.readFacts(spark, s"$in/fact_transactions"),
    CleanTransactions.readDims(spark, s"$in/dim_atms"), clock)._1

  /** Two batches into one fresh root, run under a session left at STATIC
    * partition overwrite: the second batch (200 rows) misses most of the
    * first's (1,500 rows over ~730 days). Returns both inputs, the second
    * result, and the session state before and after the runs. */
  private lazy val rerun = {
    val out = Files.createTempDirectory("graft_etl_rerun").toString
    def batch(nTx: Int, seed: Long) = {
      val in = Files.createTempDirectory("graft_etl_batch").toString
      FixtureGen.write(in, nAtms = 20, nTx = nTx, seed = seed, clock = clock)
      in
    }
    val (in1, in2) = (batch(1500, 11L), batch(200, 12L))
    val saved = spark.conf.getOption(OverwriteMode)
    spark.conf.set(OverwriteMode, "STATIC")
    try {
      val before = sessionState
      Pipeline.run(spark, in1, out, clock)
      val r2 = Pipeline.run(spark, in2, out, clock)
      (in1, in2, r2, before, sessionState)
    } finally saved.foreach(spark.conf.set(OverwriteMode, _))
  }

  test("pipeline requires and consumes the _READY trigger") {
    result // force run
    assert(!Files.exists(Paths.get(inRoot, "_READY")), "_READY must be consumed")
    assert(Files.exists(Paths.get(outRoot, "_SUCCESS")))
    val err = intercept[IllegalArgumentException] {
      Pipeline.run(spark, inRoot, outRoot, clock)
    }
    assert(err.getMessage.contains("_READY"))
  }

  test("rule breakdown matches the injected error rates (single observe pass)") {
    val s = result.stats
    assert(s.totalRows == 10000)
    // injected: 1% null FK, 1% future, 2% negative, 10% non-EXITOSA;
    // seeded draws land within ±40% of expectation
    def within(rule: String, expected: Double): Unit = {
      val r = s.discardRate(rule)
      assert(r > expected * 0.6 && r < expected * 1.4,
        s"$rule rate $r not near $expected")
    }
    within("id_atm_not_null", 0.01)
    within("fecha_not_future", 0.01)
    within("monto_positive", 0.02)
    within("status_transaccion_allowed", 0.10)
    // overlaps mean: kept >= total - sum(violations), kept < total
    assert(s.kept < s.totalRows)
    assert(s.kept >= s.totalRows - s.violationsByRule.values.sum)
  }

  test("silver is partitioned by fecha_dia and carries exact decimal money") {
    val dirs = new java.io.File(result.silverPath).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("fecha_dia=")))
    // one file per day, however many input splits wrote the batch
    val perDay = dirs.map(d => d -> new java.io.File(result.silverPath, d).listFiles()
      .count(_.getName.endsWith(".parquet")))
    assert(perDay.forall(_._2 == 1), perDay.filter(_._2 != 1).take(5).mkString(", "))
    val silver = spark.read.parquet(result.silverPath)
    val montoType = silver.schema("monto").dataType
    assert(montoType == org.apache.spark.sql.types.DecimalType(18, 2))
  }

  test("validation gates hold post-clean") {
    val v = result.validation
    assert(v.fkComplete, "no null FKs may survive the clean")
    assert(v.allMontosValid, "montos_invalidos must be 0")
    assert(v.distinctAtms <= 50)
    assert(v.minMonto.compareTo(java.math.BigDecimal.ZERO) > 0)
  }

  test("gold daily balance: flujo_neto = depositos - retiros, exactly") {
    val db = spark.read.parquet(result.goldPaths("gold_daily_balance"))
    val bad = db.filter(
      col("flujo_neto_dia") =!= col("total_depositos") - col("total_retiros")).count()
    assert(bad == 0)
    // every silver row lands in exactly one (atm, day) bucket
    val n = db.agg(sum(col("n_transacciones"))).collect()(0).getLong(0)
    assert(n == result.stats.kept)
  }

  test("gold dim is one current row per ATM") {
    val dim = spark.read.parquet(result.goldPaths("gold_dim_atms"))
    assert(dim.count() == dim.select("id_atm").distinct().count())
    assert(dim.count() <= 50)
  }

  test("gold ranking is ordered by money moved desc") {
    val ranking = spark.read.parquet(result.goldPaths("gold_atm_ranking"))
      .select(col("dinero_total_movido").cast("double")).collect().map(_.getDouble(0))
    assert(ranking.toSeq == ranking.sortBy(-_).toSeq)
  }

  test("top-ATMs and daily-summary validation queries run over silver") {
    val silver = spark.read.parquet(result.silverPath)
    assert(Validation.topAtms(silver).count() == 5)
    val daily = Validation.dailySummary(silver)
    assert(daily.count() == result.validation.distinctDays)
  }

  test("QA fallback: silver parquet preferred, raw re-derivation identical") {
    result // force run
    val (fromSilver, src1) =
      Validation.fromSilverOrRaw(spark, result.silverPath, inRoot, clock)
    assert(src1 == "processed")
    assert(fromSilver == result.validation)

    // delete silver → the fallback must re-derive from raw CSVs and
    // produce the IDENTICAL typed report (same rules, same clock)
    val gone = Files.createTempDirectory("graft_qa_missing").toString + "/nope"
    val (fromRaw, src2) = Validation.fromSilverOrRaw(spark, gone, inRoot, clock)
    assert(src2 == "raw")
    assert(fromRaw == result.validation,
      s"fallback report must match the processed one:\n$fromRaw\nvs\n${result.validation}")
  }

  test("rerun with a fresh _READY is idempotent (dynamic partition overwrite)") {
    result // force first run
    val before = spark.read.parquet(result.silverPath).count()
    Files.write(Paths.get(inRoot, "_READY"), Array.emptyByteArray)
    val r2 = Pipeline.run(spark, inRoot, outRoot, clock)
    val after = spark.read.parquet(r2.silverPath).count()
    assert(after == before, "rerunning the same batch must not duplicate rows")
  }

  test("kept counts the batch's own rows when a rerun misses earlier days") {
    val (_, in2, r2, _, _) = rerun
    assert(r2.stats.totalRows == 200)
    assert(r2.stats.kept == cleaned(in2).count())
    assert(spark.read.parquet(r2.silverPath).count() > r2.stats.kept,
      "silver must still hold the first batch's other days")
  }

  test("Pipeline.run leaves the session's settings alone and overwrites only the batch's days") {
    val (in1, in2, r2, before, after) = rerun
    assert(after == before, "session settings must be as the caller left them")
    val (b1, b2) = (cleaned(in1), cleaned(in2))
    val days2 = b2.select("fecha_dia").distinct()
    assert(days2.count() < b1.select("fecha_dia").distinct().count())
    val want = b1.join(days2, Seq("fecha_dia"), "left_anti").select("id_transaccion")
      .union(b2.select("id_transaccion"))
    val got = spark.read.parquet(r2.silverPath).select("id_transaccion")
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }
}
