package graft

import org.apache.spark.sql.SparkSession

/** Plan-dump helper (test scope only): write `explain("formatted")`
  * of named SparkEntry queries to docs/plans/<name>.txt for the
  * standing plan review — `sbt "Test/runMain graft.PlanDump q_a q_b"`.
  * Queries with side effects (snapshot builders, streams) run fully;
  * the dump records the plan of the frame they RETURN. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <query names...>")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("plan-dump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "docs/plans")
    for (q <- args.toSeq) {
      val df = SparkEntry.queries(q)(spark, d)
      // run df's OWN execution so AQE settles and the dump shows the
      // final plan (count() and foreach() each plan a separate one)
      df.collect(): Unit
      val body = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$q.txt"),
        body.getBytes("UTF-8"))
      println(s"dumped $q")
    }
    spark.stop()
  }
}
