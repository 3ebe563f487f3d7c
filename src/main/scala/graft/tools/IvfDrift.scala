package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.IvfMaintenance

/** IVF DRIFT SOAK (round-13 verdict item 8): measure what RECLUSTER
  * buys on the REAL embeddings corpus. Build a persisted index on a
  * base slice, append the remaining corpus 10× (key-shifted replicas,
  * all assigned against the FROZEN build-time centroids — the drift),
  * then record recall@10 of the nprobe=2 probe at three states:
  * frozen-after-append, post-RECLUSTER, and a from-scratch rebuild of
  * the same corpus. Writes one JSON line.
  *
  * Usage: runMain graft.tools.IvfDrift [sfDir] [outJson]
  */
object IvfDrift {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("IVF_RECLUSTER_r14.json")
    val spark = graft.GraftSessions.local()

    graft.functions.GraftFunctions.register(spark)
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)).as("v"))
      .persist()
    val n = vecs.count()
    // build on the first 10% of ids; the drift is everything else,
    // appended as 10 key-shifted tranches of the remaining mass
    val cut = n / 10
    val baseSlice = vecs.filter(col("vec_id") < cut)
    val rest = vecs.filter(col("vec_id") >= cut)

    val base = java.nio.file.Files
      .createTempDirectory("graft_ivfdrift").toString + "/ivf"
    IvfMaintenance.build(spark, base, baseSlice, k = 16, iters = 2)
    (0 until 10).foreach { i =>
      IvfMaintenance.append(spark, base,
        rest.select((col("vec_id") + lit(i.toLong * 10L * n)).as("vec_id"),
          col("v")))
    }
    val queries = vecs.filter(col("vec_id") % (n / 16) === 0).limit(16)
      .select(col("vec_id").as("qid"), col("v").as("qv")).persist()
    queries.count()

    def r10(b: String): Double =
      IvfMaintenance.recallAtK(spark, b, queries, nprobe = 2, k = 10)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val (recallFrozen, _) = timed(r10(base))
    val ((moved, touched), reclusterSec) =
      timed(IvfMaintenance.recluster(spark, base, iters = 2))
    val (recallReclustered, _) = timed(r10(base))

    val fresh = java.nio.file.Files
      .createTempDirectory("graft_ivffresh").toString + "/ivf"
    val corpus = graft.sources.SnapshotLog.read(spark, base).get
      .select(col("vec_id"), col("v"))
    val (_, rebuildSec) = timed(
      IvfMaintenance.build(spark, fresh, corpus, k = 16, iters = 2))
    val (recallFresh, _) = timed(r10(fresh))

    def f(d: Double): String = BigDecimal(d)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val json =
      s"""{"corpus_vectors":${cut + 10 * (n - cut)},"built_on":$cut,""" +
        s""""appended_tranches":10,"nprobe":2,"k":10,""" +
        s""""recall_frozen":${f(recallFrozen)},""" +
        s""""recall_reclustered":${f(recallReclustered)},""" +
        s""""recall_fresh_rebuild":${f(recallFresh)},""" +
        s""""moved_rows":$moved,"touched_cells":$touched,""" +
        s""""recluster_sec":${f(reclusterSec)},"rebuild_sec":${f(rebuildSec)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
