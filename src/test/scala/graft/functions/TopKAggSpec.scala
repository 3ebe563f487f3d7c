package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** TopKAgg must reproduce `row_number().over(orderBy(key, id)) <= k`
  * EXACTLY — rank included — or it cannot swap in under oracle-checked
  * queries. The data below is the adversarial double set: ties (same
  * key, different ids), NaN (Spark orders it above +Inf), -0.0 (equal
  * to 0.0 under SQLOrderingUtil), ±Inf, and nulls (asc → first,
  * desc → last), across groups, with enough partitions to force the
  * partial-update + merge + serialize path. */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  private def data: DataFrame = {
    val keys: Seq[java.lang.Double] = Seq(
      1.0, 1.0, -1.0, 0.0, -0.0, Double.NaN, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, null,
      3.5, 2.5, 2.5, 2.5, -3.5, null, 7.25, -7.25, 1.0, 0.0)
    val rows = for {
      g <- 0 to 4
      (k, i) <- keys.zipWithIndex
    } yield (g.toLong, (g * 100 + i).toLong, k)
    // 7 partitions: every buffer path (update, serialize, merge) runs
    rows.toDF("g", "id", "key").repartition(7)
  }

  private def windowForm(asc: Boolean, k: Int): DataFrame = {
    val ord = if (asc) Seq(col("key").asc, col("id").asc)
              else Seq(col("key").desc, col("id").asc)
    val w = Window.partitionBy(col("g")).orderBy(ord: _*)
    data.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("g"), col("id"), col("key"), col("rn"))
  }

  private def aggForm(asc: Boolean, k: Int): DataFrame =
    data.groupBy(col("g"))
      .agg(GraftFunctions.topk(col("key"), col("id"), k, asc).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("p", "st")))
      .select(col("g"), col("st.id").as("id"), col("st.key").as("key"),
        (col("p") + 1).cast(LongType).as("rn"))

  private def canon(df: DataFrame): Seq[(Long, Long, Option[Long], Long)] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))),
        r.getLong(3))
    }.toSeq.sortBy(t => (t._1, t._4))

  for (asc <- Seq(true, false); k <- Seq(1, 3, 25)) {
    test(s"topk(asc=$asc, k=$k) == row_number window, rank included") {
      assert(canon(aggForm(asc, k)) == canon(windowForm(asc, k)))
    }
  }

  test("topk plans as a partial aggregate, not a window") {
    val df = aggForm(asc = false, k = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("a call with the wrong argument count fails analysis, naming the arity") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_topk(1)").collect()
    }
    assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.getMessage)
    assert(e.getMessage.contains("`graft_topk` requires 4 parameters"), e.getMessage)
  }
}
