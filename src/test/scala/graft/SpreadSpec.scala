package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tables.spreadIfNarrow — the r18 conditional parallelism normalizer.
  * Contract: results are IDENTICAL with the spread on/off (it may only move
  * rows between partitions); it fires on few-split inputs; it no-ops when
  * the scan already has enough parallelism. */
class SpreadSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("fires on a single-row-group scan: partition count becomes the session parallelism") {
    import spark.implicits._
    val base = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity")
    val spreadDf = Tables.spreadIfNarrow(base, $"l_orderkey")
    assert(base.rdd.getNumPartitions < 4, "fixture scan should be narrow")
    assert(spreadDf.rdd.getNumPartitions == 4,
      "spread must repartition a narrow scan to the session parallelism")
  }

  test("results identical with the spread on and off (q01 shape)") {
    import spark.implicits._
    val base = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_returnflag", $"l_linestatus", $"l_quantity")
    val spreadDf = Tables.spreadIfNarrow(base, $"l_orderkey")
    assert(spreadDf.rdd.getNumPartitions != base.rdd.getNumPartitions,
      "the spread must actually fire for this comparison to mean anything")
    def q01Shape(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"l_returnflag", $"l_linestatus")
        // DECIMAL sum: exact under any partitioning, like q01's msum
        .agg(sum($"l_quantity".cast("decimal(18,2)")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy($"l_returnflag", $"l_linestatus").collect().toSeq
    assert(q01Shape(spreadDf) == q01Shape(base),
      "spreadIfNarrow must never change query results")
  }

  test("no-ops when the input already has enough partitions") {
    import spark.implicits._
    val wide = spark.range(0, 1000, 1, 8).toDF("k") // 8 partitions >= 2*target? 4*2=8 <= 8
    val out = Tables.spreadIfNarrow(wide, $"k")
    assert(out.rdd.getNumPartitions == 8,
      "an input at/above half the target parallelism must pass through untouched")
  }
}
