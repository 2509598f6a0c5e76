package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Physical-plan inspection for the engine's hot paths: prints
  * explain(formatted) and checks the plan shapes that matter at 100 TB —
  * parquet filter pushdown + column pruning, broadcast joins for small
  * dims, whole-stage codegen coverage.
  *
  * Usage: runMain graft.tools.PlanCheck [sfDir]
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var failures = 0
    def check(name: String, df: org.apache.spark.sql.DataFrame,
              wants: Seq[String], rejects: Seq[String] = Nil): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      println(s"\n================ $name ================")
      df.explain("formatted")
      wants.foreach { w =>
        if (!plan.contains(w)) { println(s"  !! MISSING: $w"); failures += 1 }
        else println(s"  ok: $w")
      }
      rejects.foreach { r =>
        if (plan.contains(r)) { println(s"  !! UNEXPECTED: $r"); failures += 1 }
        else println(s"  ok: no $r")
      }
    }

    // 1. filter + projection pushdown to parquet
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    check("scan pushdown",
      li.filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity"),
      wants = Seq("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)"),
      rejects = Seq("l_extendedprice")) // pruned column must not be read

    // 2. claim rank: single shuffle on the window key, no extra exchange
    val f = graft.gen.OracleData.table(spark, "frontier")
    val claim = graft.SparkEntry.queries("w1_claim_rank")(spark, sfDir)
    check("claim window rank", claim,
      wants = Seq("WindowGroupLimit", "Window"), // top-k pushdown into the sort
      rejects = Nil)

    // 3. robots join broadcasts the small side
    check("robots broadcast join",
      graft.SparkEntry.queries("j7_robots_filter")(spark, sfDir),
      wants = Seq("BroadcastHashJoin"))

    // 4. seen anti-join
    check("seen anti join",
      graft.SparkEntry.queries("j3_seen_check")(spark, sfDir),
      wants = Seq("Join"), rejects = Seq("CartesianProduct"))

    // 5. jaccard: one cogroup of doc-sharded gram arrays with the
    //    replicated probe, never a cartesian or nested-loop pair expansion
    check("ngram jaccard",
      graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir),
      wants = Seq("CoGroup"), rejects = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))

    // 6. ANN brute force: broadcast of the query side
    check("ann quantized topk",
      graft.SparkEntry.queries("ann_quantized_topk")(spark, sfDir),
      wants = Seq("BroadcastNestedLoopJoin"), rejects = Nil)

    println(s"\nplan checks: ${if (failures == 0) "ALL OK" else s"$failures FAILURES"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
