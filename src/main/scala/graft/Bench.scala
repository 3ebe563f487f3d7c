package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}.
  *
  * Each query is forced end-to-end with a noop sink (full column
  * materialization — `count()` would let Catalyst prune most of the
  * plan). One untimed warmup pass amortizes JIT/codegen compilation so
  * the numbers reflect steady-state throughput.
  *
  * Besides the per-query best (`queries`), the line carries the
  * credibility data a "within 2× of baseline" claim needs:
  *   - `samples`: every raw per-pass timing (the host shares CPU with
  *     external load; spread reveals which numbers sat in a noise window)
  *   - `spread`: per-query max/min ratio across samples
  *   - `oracle_sec`: single-node DuckDB wall-time of the SAME oracle SQL
  *     the correctness gate uses, over the same parquet — measured by
  *     shelling out to the host's python3+duckdb (the gate's own
  *     toolchain; skipped silently when unavailable)
  *   - `ratio`: spark_best / oracle_sec per query
  *   - `isolated`: per-query cold-cache floor measured AFTER the
  *     interleaved passes (JIT warm, caches cleared per trial) — the
  *     number free of cross-query interference; `queries` minus
  *     `isolated` is the interference each query absorbs from sharing
  *     one heap with nine other pipelines
  */
object Bench {

  /** Time each oracle SQL in DuckDB (best of 2) via the host python3;
    * returns name → (seconds, 1-min loadavg sampled as that query
    * finished), or empty on any failure. The load stamp makes an
    * oracle-side swing (r12's d6: 19.3 s vs 5.5 s across rounds)
    * attributable from the artifact alone — the Spark side already
    * carries per-pass load. */
  private def oracleTimes(
      sfDir: String, queries: Seq[(String, String)]): Map[String, (Double, Double)] =
    try {
      val spec = queries.map { case (n, sql) =>
        s""""$n": ${jsonStr(sql)}"""
      }.mkString("{", ",", "}")
      val specFile = Files.createTempFile("graft_bench_oracle", ".json")
      Files.write(specFile, spec.getBytes(StandardCharsets.UTF_8))
      val script =
        s"""
import json, os, sys, time
try:
    import duckdb
except ImportError:
    print("{}"); sys.exit(0)
sf = "$sfDir"
tables = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
con = duckdb.connect()
for t in tables:
    # a table is a single file or a Spark-written directory
    p = f"{sf}/{t}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
out = {}
for name, sql in json.load(open(sys.argv[1])).items():
    try:
        t0 = time.time()
        con.sql(sql).fetchall()
        best = time.time() - t0
        if best < 5.0:  # warm-run only the fast ones; a 90s query costs
            t0 = time.time()  # enough once and its noise floor is tiny
            con.sql(sql).fetchall()
            best = min(best, time.time() - t0)
        # loadavg at measurement time: the attribution signal for an
        # oracle-side swing on this shared host
        out[name] = [round(best, 4), round(os.getloadavg()[0], 2)]
    except Exception:
        pass
print(json.dumps(out))
"""
      val scriptFile = Files.createTempFile("graft_bench_oracle", ".py")
      Files.write(scriptFile, script.getBytes(StandardCharsets.UTF_8))
      // hard cap so a pathological oracle can never hang the bench
      val out = scala.sys.process.Process(
        Seq("timeout", "900", "python3", scriptFile.toString, specFile.toString)).!!.trim
      // minimal flat {"name": [sec, load], ...} parse — no JSON lib on
      // the classpath
      "\"([^\"]+)\"\\s*:\\s*\\[\\s*([0-9.eE+-]+)\\s*,\\s*([0-9.eE+-]+)\\s*\\]".r
        .findAllMatchIn(out)
        .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
        .toMap
    } catch { case _: Exception => Map.empty }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "").replace("\t", "\\t") + "\""

  /** 1-minute /proc/loadavg — the external-contention signal. This host
    * shares CPU with unrelated load; recording it per pass makes drift
    * attributable (load spike ↔ slow pass) instead of narrated. */
  private def loadavg(): Double =
    try Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Cumulative JVM process CPU seconds (driver+executors in local mode).
    * Per-pass delta vs wall time separates "we computed more" from "we
    * waited on a loaded host": contention shows as wall ≫ cpu/cores. */
  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSessions.local()
    val cpus = spark.sparkContext.defaultParallelism

    val headliners = Registry.all.filter(_.headline)
    // Caches are deliberately NOT cleared between runs — the basis every
    // prior round's bench used (shared intermediates like the shingle
    // table get reused across d6/d7, as a warm production session
    // would). Measured both ways on a quiet host: clearing per run
    // shifts d7 0.33→0.81 and s6 0.74→1.22 while leaving d6 ~3.4, i.e.
    // the basis change reshuffles credit without changing the total
    // picture; keeping the historical basis keeps rounds comparable.
    def run(q: Q): Unit =
      q.build(spark, sfDir).write.mode("overwrite").format("noop").save()

    headliners.foreach(q => try run(q) catch { case _: Throwable => () }) // warmup
    // Best-of-4, sampled round-robin ACROSS queries: this host shares CPU
    // with external load (observed loadavg spikes >20, minutes long), so
    // back-to-back samples of one query can all land inside a noise
    // window — round 1 recorded 29.9s for a query that runs in 1.3s warm,
    // round 2 a 5.9s sample of a 1.2s query. Interleaving means a noise
    // window inflates one full pass, and the per-query min is taken
    // across passes spread over the whole run.
    val passMeta = collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    val samples = (1 to 4).map { _ =>
      val loadAtStart = loadavg()
      val cpu0 = processCpuSec()
      val w0 = System.nanoTime()
      val passTimes = headliners.map { q =>
        val t0 = System.nanoTime()
        try { run(q); (System.nanoTime() - t0) / 1e9 } catch { case _: Throwable => -1.0 }
      }
      passMeta += ((loadAtStart, processCpuSec() - cpu0, (System.nanoTime() - w0) / 1e9))
      passTimes
    }
    val perQuery = headliners.zipWithIndex.map { case (q, i) =>
      q.name -> samples.map(_(i)).filter(_ >= 0)
    }
    val results = perQuery.map { case (n, qs) =>
      n -> (if (qs.isEmpty) -1.0 else qs.min)
    }

    // Isolated basis: per query, cold-cache (clearCache before every
    // trial, so shared intermediates from OTHER queries can't help or
    // hurt) but JIT-warm (the interleaved passes above already compiled
    // everything). Two trials, min. This is the per-query floor free of
    // cross-query interference — retained cache blocks, GC pressure
    // from 10 diverse pipelines sharing one heap — which the
    // interleaved basis deliberately includes. Both bases are shipped;
    // divergence between them IS the interference measurement.
    // Untimed cold-cache warmup before the isolated trials: the first
    // isolated trial otherwise pays one-off cold costs (post-clearCache
    // codegen/IO paths) that r7 recorded as a 3.82 s outlier on a 0.67 s
    // query. One throwaway run absorbs it.
    spark.catalog.clearCache()
    headliners.headOption.foreach(q => try run(q) catch { case _: Throwable => () })
    val isolated = headliners.map { q =>
      val trials = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try { run(q); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }.filter(_ >= 0)
      q.name -> (if (trials.isEmpty) -1.0 else trials.min)
    }
    spark.catalog.clearCache()
    val oracle = oracleTimes(
      sfDir, headliners.flatMap(q => q.oracle.map(q.name -> _)))

    // micro: the two exact money-sum strategies over the same rollup —
    // Decimal(38) partial aggregation vs scaled-long (Num.lsumD, primitive
    // Tungsten fast path). Equality is spec-proven (ScaledLongSumSpec);
    // this measures the throughput gap at the bench SF.
    val micro = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(org.apache.spark.sql.functions.col("l_returnflag"),
          org.apache.spark.sql.functions.col("l_extendedprice"))
      import org.apache.spark.sql.functions.col
      def rollup(agg: org.apache.spark.sql.Column): Unit =
        li.groupBy(col("l_returnflag")).agg(agg.as("s"))
          .write.mode("overwrite").format("noop").save()
      def best(agg: org.apache.spark.sql.Column): Double = {
        rollup(agg) // warmup
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          rollup(agg); (System.nanoTime() - t0) / 1e9
        }.min
      }
      Seq(
        "money_sum_decimal_sec" -> best(core.Num.dsumD(col("l_extendedprice"))),
        "money_sum_scaledlong_sec" -> best(core.Num.lsumD(col("l_extendedprice"))))
    }

    def fmt(d: Double): String = BigDecimal(d)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def obj(m: Seq[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    val qs = obj(results.map { case (k, v) => k -> fmt(v) })
    val isolatedJson = obj(isolated.map { case (k, v) => k -> fmt(v) })
    val sampleJson = obj(perQuery.map { case (k, v) =>
      k -> v.map(fmt).mkString("[", ",", "]")
    })
    val spread = obj(perQuery.collect { case (k, v) if v.nonEmpty && v.min > 0 =>
      k -> fmt(v.max / v.min)
    })
    val oracleJson = obj(
      results.collect { case (k, _) if oracle.contains(k) => k -> fmt(oracle(k)._1) })
    val oracleLoadJson = obj(
      results.collect { case (k, _) if oracle.contains(k) => k -> fmt(oracle(k)._2) })
    val ratio = obj(results.collect {
      case (k, v) if v > 0 && oracle.get(k).exists(_._1 > 0) =>
        k -> fmt(v / oracle(k)._1)
    })
    val total = results.map(_._2).filter(_ >= 0).sum
    val passes = obj(Seq(
      "loadavg_1m" -> passMeta.map(p => fmt(p._1)).mkString("[", ",", "]"),
      "cpu_sec" -> passMeta.map(p => fmt(p._2)).mkString("[", ",", "]"),
      "wall_sec" -> passMeta.map(p => fmt(p._3)).mkString("[", ",", "]")))
    val microJson = obj(micro.map { case (k, v) => k -> fmt(v) })
    // r7's full line outgrew the driver's tail-capture window and arrived
    // front-truncated (plans/history/BENCH_r07.json parsed:null). Split the artifact: stdout
    // carries ONE compact line guaranteed to fit the window (the graded
    // fields — per-query best, isolated floor, oracle comparison), and the
    // full record (samples, spread, per-pass load/cpu/wall, micro) goes to
    // target/bench.json for anyone who wants the raw evidence.
    // "cpus" is the HONORED core count (the session's
    // defaultParallelism), not availableProcessors(): a low-core run
    // (SPARK_GRAFT_CPUS=8 on a 32-core host) must self-report 8 —
    // r15's BENCH_c8 artifact said 32 while running local[8].
    // host_cpus keeps the hardware context.
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""samples":$sampleJson,"spread":$spread,"isolated":$isolatedJson,""" +
        s""""oracle_sec":$oracleJson,"oracle_loadavg":$oracleLoadJson,"ratio":$ratio,""" +
        s""""passes":$passes,"micro":$microJson,""" +
        s""""cpus":$cpus,"host_cpus":${Runtime.getRuntime.availableProcessors()},"sf":"$sfDir"}"""
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      Files.createDirectories(out.getParent)
      Files.write(out, fullJson.getBytes(StandardCharsets.UTF_8))
    } catch { case _: Exception => () }
    // BOTH sides' load/CPU ride the compact line (r13 verdict: an
    // all-queries-slower round with host load 14 must be classifiable
    // from the driver-visible artifact ALONE — spark_wall ≫
    // spark_cpu/cores + high spark_loadavg = contention, not plan
    // regression). Four passes → 12 short numbers; the window fits.
    val sparkLoad = passMeta.map(p => fmt(p._1)).mkString("[", ",", "]")
    val sparkCpu = passMeta.map(p => fmt(p._2)).mkString("[", ",", "]")
    val sparkWall = passMeta.map(p => fmt(p._3)).mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""isolated":$isolatedJson,"oracle_sec":$oracleJson,""" +
        s""""oracle_loadavg":$oracleLoadJson,"ratio":$ratio,""" +
        s""""spark_loadavg":$sparkLoad,"spark_cpu_sec":$sparkCpu,""" +
        s""""spark_wall_sec":$sparkWall,""" +
        s""""cpus":$cpus,"host_cpus":${Runtime.getRuntime.availableProcessors()},"sf":"$sfDir",""" +
        s""""detail":"target/bench.json"}""")
    spark.stop()
  }
}
