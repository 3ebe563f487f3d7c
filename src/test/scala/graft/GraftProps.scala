package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.etl.{NotAfter, NotNull, OneOf, Positive, Rules}
import graft.functions.RollingHash
import graft.operators.AsOfJoin

/** Pure (driver-side) properties — default 100 cases. */
object RollingHashProps extends Properties("rollingHash") {

  private def hash(s: String): Long = RollingHash.compute(UTF8String.fromString(s))

  private def modPow(b: Long, e: Long, m: Long): Long = {
    var r = 1L; var base = b % m; var exp = e
    while (exp > 0) {
      if ((exp & 1) == 1) r = r * base % m
      base = base * base % m
      exp >>= 1
    }
    r
  }

  property("hash(a++b) composes algebraically") = forAll { (a: String, b: String) =>
    val m = RollingHash.Mod
    val nB = b.codePointCount(0, b.length)
    hash(a + b) == (hash(a) * modPow(RollingHash.Base, nB, m) + hash(b)) % m
  }
}

/** Spark-backed properties — each case is a local job, so few cases. */
object SparkAlgebraProps extends Properties("sparkAlgebra") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6).withMaxSize(40)

  private lazy val spark = SparkSpec.session
  private val clock = Timestamp.valueOf("2026-01-01 00:00:00")

  private val genRow: Gen[(Option[String], Option[java.math.BigDecimal], Option[Timestamp], String)] =
    for {
      id <- Gen.option(Gen.oneOf("A", "B", "C"))
      monto <- Gen.option(Gen.chooseNum(-500L, 5000L)
        .map(c => new java.math.BigDecimal(c).movePointLeft(2)))
      fecha <- Gen.option(Gen.chooseNum(-1000L, 1000L)
        .map(d => new Timestamp(clock.getTime + d * 86400000L)))
      status <- Gen.oneOf("EXITOSA", "FALLIDA", "REVERSADA")
    } yield (id, monto, fecha, status)

  property("rule filter == conjunction of row-level predicates") =
    forAll(Gen.listOfN(60, genRow)) { rows =>
      val schema = StructType(Seq(
        StructField("id_atm", StringType, nullable = true),
        StructField("monto", DecimalType(18, 2), nullable = true),
        StructField("fecha", TimestampType, nullable = true),
        StructField("status_transaccion", StringType, nullable = false)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r =>
          org.apache.spark.sql.Row(r._1.orNull, r._2.orNull, r._3.orNull, r._4)), 2),
        schema)
      val rules = Seq(
        NotNull("id_atm"), Positive("monto"),
        NotAfter("fecha", clock), OneOf("status_transaccion", Seq("EXITOSA")))
      val (clean, obs) = Rules.clean(df, rules)
      val kept = clean.count()
      val stats = Rules.stats(obs, rules)

      def keep(r: (Option[String], Option[java.math.BigDecimal], Option[Timestamp], String)) =
        r._1.isDefined && r._2.exists(_.signum > 0) &&
          r._3.exists(!_.after(clock)) && r._4 == "EXITOSA"
      stats.kept == kept && kept == rows.count(keep) &&
        stats.totalRows == rows.size &&
        stats.violationsByRule("id_atm_not_null") == rows.count(_._1.isEmpty)
    }

  property("exact decimal sum is partitioning-invariant") =
    forAll(Gen.listOfN(50, Gen.chooseNum(-1000000L, 1000000L))) { xs =>
      import spark.implicits._
      def total(parts: Int) =
        xs.map(x => BigDecimal(x) / 100).toDF("x").repartition(parts)
          .agg(sum(col("x").cast(DecimalType(38, 4)))).collect()(0).getDecimal(0)
      total(1) == total(7)
    }

  private val genTs = Gen.chooseNum(0L, 50L).map(d => new Timestamp(1700000000000L + d * 3600000L))

  property("asOfJoin matches brute-force max(right.ts <= left.ts) per row") =
    forAll(
      Gen.listOfN(20, Gen.zip(Gen.chooseNum(1L, 4L), genTs)),
      Gen.listOfN(20, Gen.zip(Gen.chooseNum(1L, 4L), genTs))) { (ls, rsRaw) =>
      import spark.implicits._
      // unique (key, ts) on the right is an operator precondition
      val rs = rsRaw.distinctBy(r => (r._1, r._2.getTime)).zipWithIndex
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "k", "t")
      val right = rs.map { case ((k, t), i) => (k, t, i.toLong * 10) }
        .toDF("k2", "t2", "payload")
      val got = AsOfJoin.leftAsOf(left, right, "k", "k2", "t", "t2", Seq("payload"))
        .select("lid", "payload").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      ls.zipWithIndex.forall { case ((k, t), i) =>
        val expect = rs.filter { case ((rk, rt), _) => rk == k && !rt.after(t) }
          .sortBy { case ((_, rt), _) => rt.getTime }.lastOption
          .map { case (_, ri) => ri.toLong * 10 }
        got(i.toLong) == expect
      }
    }

  private val genCdcOp: Gen[(Long, Long, String)] = for {
    k <- Gen.chooseNum(1L, 12L)
    v <- Gen.chooseNum(0L, 999L)
    op <- Gen.oneOf("U", "D")
  } yield (k, v, op)

  property("cdc merge matches a reference map fold (upserts + deletes)") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(1L, 12L), Gen.chooseNum(0L, 999L))),
      Gen.listOfN(10, genCdcOp)) { (baseRaw, changesRaw) =>
      import spark.implicits._
      // unique keys per side is the operator precondition
      val baseRows = baseRaw.distinctBy(_._1)
      val changeRows = changesRaw.distinctBy(_._1)
      val base = baseRows.toDF("k", "v")
      val changes = changeRows.map { case (k, v, op) => (k, v, op) }
        .toDF("k", "v", "op")
      val got = graft.operators.MergeUpsert.cdc(base, changes, "k", "op")
        .select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: apply the change map over the base map
      val expect = changeRows.foldLeft(baseRows.toMap) {
        case (acc, (k, _, "D")) => acc - k
        case (acc, (k, v, _))   => acc.updated(k, v)
      }
      got == expect
    }

  private val genVec: Gen[(Long, Int, Seq[Double])] = for {
    id <- Gen.chooseNum(0L, 60L)
    label <- Gen.chooseNum(0, 2)
    x <- Gen.chooseNum(-3, 3)
    y <- Gen.chooseNum(-3, 3)
    if x != 0 || y != 0
  } yield (id, label, Seq(x.toDouble, y.toDouble))

  property("SemDeDup hot-cluster guard == naive within-cluster all-pairs, any cap") =
    forAll(Gen.listOfN(30, genVec), Gen.chooseNum(1, 6)) { (vsRaw, cap) =>
      import spark.implicits._
      val vs = vsRaw.distinctBy(_._1)
      val e = vs.toDF("vec_id", "label", "v")
      def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x) /
          (sqrt(aggregate(transform(a, x => x * x), lit(0.0), (s, x) => s + x)) *
            sqrt(aggregate(transform(b, x => x * x), lit(0.0), (s, x) => s + x)))
      val guarded = graft.operators.SemDeDup.dups(e, cos, 0.9, cap)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      // reference: driver-side all-pairs within each label
      val expect = (for {
        a <- vs; b <- vs
        if a._2 == b._2 && a._1 < b._1
        dot = a._3.zip(b._3).map { case (x, y) => x * y }.sum
        na = math.sqrt(a._3.map(x => x * x).sum)
        nb = math.sqrt(b._3.map(x => x * x).sum)
        if dot / (na * nb) >= 0.9
      } yield (b._2, b._1)).toSet
      guarded == expect
    }
}
