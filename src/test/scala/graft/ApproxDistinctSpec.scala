package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `q_approx_distinct` recombines its split approximate and exact
  * aggregates with a join; the NULL `event_type` group must survive
  * it. The input is built here, in a temp dir — the pinned testdata
  * has no NULL event type, so the gate alone cannot see this. */
class ApproxDistinctSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q_approx_distinct keeps the NULL event_type group") {
    val dir = java.nio.file.Files.createTempDirectory("graft_approx_null")
      .toString
    spark.range(0, 60).toDF("user_id")
      .withColumn("event_type",
        when($"user_id" % 3 === 0, lit(null).cast("string"))
          .when($"user_id" % 3 === 1, lit("click")).otherwise(lit("view")))
      .withColumn("props", concat(lit("p"), ($"user_id" % 7).cast("string")))
      .withColumn("ts", timestamp_seconds($"user_id" * 60))
      .write.parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_approx_distinct")(spark, dir)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(rows == Map(None -> 20L, Some("click") -> 20L,
      Some("view") -> 20L))
  }
}
