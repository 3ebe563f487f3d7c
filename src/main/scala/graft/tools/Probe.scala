package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSessions, Registry}
import graft.core.SparkJobs

/** Plan/timing probe for registered queries.
  *
  * Usage: runMain graft.tools.Probe <q1,q2,...|ALL> [sfDir]
  *          [--explain | --decompose | --show | --plans <outDir>/<suffix>]
  * Times build + noop-sink execution per rep (same harness as Bench), so
  * driver loops that run while a query is built count; with --explain
  * also prints the formatted physical plan. The other flags replace the
  * timing:
  *   --decompose  build / plan / first / warm phase times, three cold reps,
  *                and the number of Spark jobs each build started
  *   --show       prints the result rows (head 50) — the quick "did the
  *                graded booleans actually come out TRUE" check
  *   --plans      writes <outDir>/<query>_<suffix>.txt per query: the
  *                pre-execution formatted plan plus, after one run, the
  *                AQE-final executed plan (the shape the guards assert
  *                on) — the plan-evidence artifacts under plans/
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).filterNot(_.startsWith("--")).getOrElse("/root/testdata/sf0.1")
    val explain = args.contains("--explain")
    val decompose = args.contains("--decompose")
    val show = args.contains("--show")
    val plansTo = args.indexOf("--plans") match {
      case -1 => None
      case i =>
        val to = args.lift(i + 1).getOrElse(
          sys.error("--plans takes <outDir>/<suffix>"))
        val cut = to.lastIndexOf('/')
        Some((if (cut < 0) "." else to.take(cut), to.drop(cut + 1)))
    }
    val spark = GraftSessions.local()

    // "ALL" sweeps every registered query (best of two build+run reps)
    // and flags the slow tail — the per-round pathology scan.
    // A comma-separated list runs those queries in sequence in ONE
    // session (interference experiments: "d6_ngram_jaccard,q1_...").
    val targets =
      if (name == "ALL") Registry.all.map(_.name)
      else name.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    targets.foreach { n =>
      try {
        // inside the try: a misspelled name fails alone, the rest run
        val q = Registry.byName(n)
        if (show) q.build(spark, sfDir).show(50, truncate = false)
        else if (plansTo.isDefined) {
          val (outDir, suffix) = plansTo.get
          val df = q.build(spark, sfDir)
          val formatted = df.queryExecution.explainString(FormattedMode)
          // run THIS plan (a noop write would plan and run a copy), so
          // its adaptive plan is the final one when printed
          df.queryExecution.toRdd.foreach(_ => ())
          val finalPlan = df.queryExecution.executedPlan.toString
          val txt = s"== $n ($suffix) ==\n\n--- explain(formatted) ---\n" +
            formatted + "\n--- AQE-final executed plan ---\n" + finalPlan
          Files.createDirectories(Paths.get(outDir))
          Files.write(Paths.get(s"$outDir/${n}_$suffix.txt"),
            txt.getBytes(StandardCharsets.UTF_8))
          println(s"[plans] wrote $outDir/${n}_$suffix.txt")
        } else if (decompose) {
          // Floor decomposition (round-14 verdict item 8): where does a
          // small query's ~1s wall go? Phases, each timed cold in a
          // fresh Dataset so earlier phases aren't amortized away:
          //   build   — DataFrame construction + analysis (resolution)
          //   plan    — optimization + physical planning + AQE prep
          //             (forcing executedPlan)
          //   first   — first noop execution: codegen compile + stage
          //             scheduling + execute
          //   warm×3  — repeat executions of the SAME Dataset (codegen
          //             cache hit): the irreducible execute floor Bench
          //             reports via min-of-passes
          // first − warm ≈ codegen+setup; warm ≈ scan+shuffle+task
          // overhead. Three cold repetitions to see variance.
          (1 to 3).foreach { rep =>
            val t0 = System.nanoTime()
            // the build's own time, without the listener-bus drain
            val ((df, tBuild), buildJobs) = SparkJobs.during(spark) {
              val built = q.build(spark, sfDir)
              (built, (System.nanoTime() - t0) / 1e6)
            }
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan // force analyze+optimize+plan
            val tPlan = (System.nanoTime() - t1) / 1e6
            val t2 = System.nanoTime()
            df.write.mode("overwrite").format("noop").save()
            val tFirst = (System.nanoTime() - t2) / 1e6
            val warm = (1 to 3).map { _ =>
              val t3 = System.nanoTime()
              df.write.mode("overwrite").format("noop").save()
              (System.nanoTime() - t3) / 1e6
            }
            println(f"[decompose] $n rep$rep build=$tBuild%.0fms build_jobs=$buildJobs plan=$tPlan%.0fms " +
              f"first=$tFirst%.0fms warm=${warm.min}%.0fms (${warm.map(w => f"$w%.0f").mkString(",")})")
          }
        } else {
          if (explain) q.build(spark, sfDir).explain("formatted")
          val runs = if (name == "ALL") 2 else 3
          val times = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            q.build(spark, sfDir).write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[probe] $n best: ${times.min}%.2fs  (${times.map(t => f"$t%.2f").mkString(", ")})")
        }
      } catch {
        case e: Throwable => println(s"[probe] $n FAILED: ${e.getMessage}")
      } finally {
        // ALL = the per-round pathology scan: drop each query's
        // persisted intermediates so a 190-query sweep doesn't carry
        // dead cached plans in storage memory (same hygiene as Verify);
        // --plans drops them too, so each file shows the query's own
        // plan, not one reading a previous query's cache.
        // Timed comma-list mode deliberately KEEPS caches — it exists
        // for interference experiments.
        if (name == "ALL" || plansTo.isDefined) spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
