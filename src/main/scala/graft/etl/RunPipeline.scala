package graft.etl

import java.sql.Timestamp
import java.time.Instant

/** CLI entry for the end-to-end medallion pipeline.
  *
  * Usage: runMain graft.etl.RunPipeline [inputRoot] [outputRoot]
  * With no args, generates the seeded LogiCash fixture batch into a temp
  * dir first (the reference's `data_gen` + Step Function flow in one
  * process) and runs Bronze→Silver→Gold over it.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val clock = Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))
    val (inRoot, outRoot) = args match {
      case Array(i, o) => (i, o)
      case _ =>
        val i = java.nio.file.Files.createTempDirectory("graft_etl_in").toString
        val o = java.nio.file.Files.createTempDirectory("graft_etl_out").toString
        FixtureGen.write(i, clock = clock)
        (i, o)
    }
    val spark = graft.GraftSessions.local()

    val r = Pipeline.run(spark, inRoot, outRoot, clock)
    println(s"silver: ${r.silverPath}")
    println(s"rows in=${r.stats.totalRows} kept=${r.stats.kept} discarded=${r.stats.discarded}")
    r.stats.violationsByRule.toSeq.sortBy(_._1).foreach { case (rule, n) =>
      println(f"  $rule%-32s $n%6d (${100.0 * n / r.stats.totalRows}%.2f%%)")
    }
    println(s"validation: fkComplete=${r.validation.fkComplete} " +
      s"montosValid=${r.validation.allMontosValid} atms=${r.validation.distinctAtms} " +
      s"days=${r.validation.distinctDays} monto=[${r.validation.minMonto}, ${r.validation.maxMonto}]")
    r.goldPaths.toSeq.sorted.foreach { case (name, p) =>
      println(s"$name: ${spark.read.parquet(p).count()} rows at $p")
    }
    Validation.topAtms(spark.read.parquet(r.silverPath)).show(5, truncate = false)
    spark.stop()
  }
}
