package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** The native vector expressions (DotConst / DotCols / QuantDotCols /
  * SumSq) must be BIT-IDENTICAL to the higher-order-function
  * formulations they replaced — same float-vs-double multiply widths,
  * same left-to-right accumulation, same zip_with null/length-mismatch
  * poisoning, same Round(HALF_UP)+cast in the quantized dot. Pinned here
  * against the original HOF expressions evaluated side by side on
  * deterministic pseudo-random vectors plus the edge shapes.
  */
class VectorOpsSpec extends AnyFunSuite {
  private lazy val spark = graft.engine.EngineSpec.spark

  // the exact former formulations, kept verbatim as the executable spec
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
  private def hofSumSq(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v)
  private def hofDotConst(a: Column, w: Array[Double]): Column =
    aggregate(zip_with(a, typedlit(w), (x, y) => x * y),
      lit(0.0d), (acc, v) => acc + v)
  private def hofQuantDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        round(x.cast("double") * 1000).cast("long") *
          round(y.cast("double") * 1000).cast("long")),
      lit(0L), (acc, v) => acc + v)

  // deterministic float vectors with negative values and exact-tie
  // candidates for the HALF_UP rounding path (x.5/1000 products)
  private def vec(seed: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { d =>
      val h = graft.canon.Canon.fnv64a(s"$seed:$d")
      val base = (h % 2001L).toFloat / 1000.0f - 1.0f
      if (d % 7 == 3) (h % 9L).toFloat / 2.0f / 1000.0f * (if (h % 2 == 0) 1 else -1)
      else base
    }

  private def df = {
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, vec(i, 64), vec(i + 1000, 64)))
      .toDF("id", "a", "b")
  }

  test("DotCols / SumSq / DotConst / QuantDotCols bit-equal to the HOF forms") {
    val w = Array.tabulate(64)(d => math.sin(d + 1.0) * 1.5)
    val rows = df.select(
      VectorOps.dotCols(col("a"), col("b")).as("nd"),
      hofDot(col("a"), col("b")).as("hd"),
      VectorOps.sumSq(col("a")).as("ns"),
      hofSumSq(col("a")).as("hs"),
      VectorOps.dotConst(col("a"), w).as("nc"),
      hofDotConst(col("a"), w).as("hc"),
      VectorOps.quantDot(col("a"), col("b")).as("nq"),
      hofQuantDot(col("a"), col("b")).as("hq")
    ).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), "dotCols")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)), "sumSq")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(5)), "dotConst")
      assert(r.getLong(6) == r.getLong(7), "quantDot")
    }
  }

  test("length mismatch and null elements poison to null, empty folds to zero") {
    import spark.implicits._
    val w3 = Array(1.0, 2.0, 3.0)
    val odd = Seq(
      (1L, Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)), // length mismatch
      (2L, Array.empty[Float], Array.empty[Float])       // empty
    ).toDF("id", "a", "b")
    val r = odd.select(
      VectorOps.dotCols($"a", $"b").as("nd"), hofDot($"a", $"b").as("hd"),
      VectorOps.quantDot($"a", $"b").as("nq"), hofQuantDot($"a", $"b").as("hq"),
      VectorOps.dotConst($"a", w3).as("nc"), hofDotConst($"a", w3).as("hc"),
      VectorOps.sumSq($"a").as("ns"), hofSumSq($"a").as("hs")
    ).orderBy(odd("id")).collect()
    // mismatch row: all pairwise forms null in both formulations
    for (i <- 0 until 6) assert(r(0).isNullAt(i) == r(0).isNullAt(i ^ 1))
    assert(r(0).isNullAt(0) && r(0).isNullAt(2) && r(0).isNullAt(4))
    assert(!r(0).isNullAt(6) && r(0).getDouble(6) == r(0).getDouble(7))
    // empty row: folds to the zero element in both
    assert(r(1).getDouble(0) == 0.0 && r(1).getDouble(1) == 0.0)
    assert(r(1).getLong(2) == 0L && r(1).getLong(3) == 0L)
    // dotConst against a 3-weight constant over an empty array: mismatch
    assert(r(1).isNullAt(4) == r(1).isNullAt(5) && r(1).isNullAt(4))
    assert(r(1).getDouble(6) == 0.0 && r(1).getDouble(7) == 0.0)

    // null element inside the array (nullable element type)
    val withNull = spark.sql(
      "SELECT array(cast(1.0 as float), cast(null as float)) AS a, " +
      "array(cast(1.0 as float), cast(2.0 as float)) AS b")
    val rn = withNull.select(
      VectorOps.dotCols(col("a"), col("b")).as("nd"),
      hofDot(col("a"), col("b")).as("hd"),
      VectorOps.sumSq(col("a")).as("ns"), hofSumSq(col("a")).as("hs")
    ).collect()(0)
    assert(rn.isNullAt(0) && rn.isNullAt(1) && rn.isNullAt(2) && rn.isNullAt(3))
  }

  test("double-element arrays dispatch to the double kernels, bit-equal") {
    import spark.implicits._
    val d2 = Seq((1L,
      Array(0.1, -2.5e-3, 3.25, 1.0 / 3.0),
      Array(-7.5e-4, 2.0, 0.5, -1.0 / 7.0))).toDF("id", "a", "b")
    val w = Array(0.25, -1.5, 2.0, 1e-3)
    val r = d2.select(
      VectorOps.dotCols($"a", $"b").as("nd"), hofDot($"a", $"b").as("hd"),
      VectorOps.dotConst($"a", w).as("nc"), hofDotConst($"a", w).as("hc"),
      VectorOps.sumSq($"a").as("ns"), hofSumSq($"a").as("hs"),
      VectorOps.quantDot($"a", $"b").as("nq"), hofQuantDot($"a", $"b").as("hq")
    ).collect()(0)
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ==
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(4)) ==
      java.lang.Double.doubleToRawLongBits(r.getDouble(5)))
    assert(r.getLong(6) == r.getLong(7))
  }

  test("a float/double array pair fails analysis") {
    import spark.implicits._
    val mixed = Seq((Array(1.0f, 2.0f), Array(1.0, 2.0))).toDF("f", "d")
    for (e <- Seq(VectorOps.dotCols($"f", $"d"), VectorOps.quantDot($"f", $"d"),
                  VectorOps.dotCols($"d", $"f"))) {
      val err = intercept[org.apache.spark.sql.AnalysisException](mixed.select(e).collect())
      assert(err.getMessage.contains("same float or double element type"), err.getMessage)
    }
  }

  // parquet-backed twin (a projection over a LocalRelation is collapsed
  // by ConvertToLocalRelation at optimize time, so plan-shape assertions
  // need a real scan underneath)
  private def parquetDf = {
    val dir = java.nio.file.Files.createTempDirectory("vecops").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("participates in whole-stage codegen (no BatchEval/fallback seam)") {
    val d = parquetDf.select(VectorOps.dotCols(col("a"), col("b")).as("d"))
      .filter(col("d") > -1e18)
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
    assert(d.count() > 0)
  }

  test("DoubleParam evaluates as its literal and stays unfolded") {
    val src = parquetDf
    val q = src.select((lit(2.0) * DoubleParam.col(3.5)).as("v"))
    assert(q.collect().forall(_.getDouble(0) == 7.0))
    // optimized plan keeps the parameter node (not constant-folded into 7.0)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.toLowerCase.contains("doubleparam"), opt)
  }
}
