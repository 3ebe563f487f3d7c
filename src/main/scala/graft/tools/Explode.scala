package graft.tools

/** Corpus replication as a standalone main: write `replicas`× the
  * source corpus (key-consistent offsets — [[Soak.explode]]) to a
  * destination directory, so the BENCH harness can run unchanged at a
  * larger scale factor (`SPARK_GRAFT_SF_DIR=<dst> runMain graft.Bench`)
  * — the round-14 verdict's "one sf1 bench point" without synthesizing
  * a new corpus (the driver's generator isn't available here; a 10×
  * replication of sf0.1 is the same row count with the dedup-adversarial
  * duplicate-group structure the soaks already use).
  *
  * Usage: runMain graft.tools.Explode <srcSfDir> <replicas> <dstDir>
  */
object Explode {
  def main(args: Array[String]): Unit = {
    val Array(src, r, dst) = args.take(3)
    val spark = graft.GraftSessions.local()
    Soak.explode(spark, src, dst, r.toInt)
    println(s"[explode] wrote ${r}x $src -> $dst")
    spark.stop()
  }
}
