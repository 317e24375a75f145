package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `q_approx_distinct` and `q_stream_hll` recombine an approximate
  * and an exact aggregate with a join; the NULL `event_type` group
  * must survive it. The input is built here, in a temp dir — the
  * pinned testdata has no NULL event type, so the gates alone cannot
  * see this. */
class ApproxDistinctSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A temp dir holding a one-file `events.parquet` (the streaming
    * source stages the file itself) with a NULL event_type group. */
  private def nullGroupEvents(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_approx_null")
      .toString
    spark.range(0, 60).toDF("user_id")
      .withColumn("event_id", $"user_id")
      .withColumn("event_type",
        when($"user_id" % 3 === 0, lit(null).cast("string"))
          .when($"user_id" % 3 === 1, lit("click")).otherwise(lit("view")))
      .withColumn("props", concat(lit("p"), ($"user_id" % 7).cast("string")))
      .withColumn("ts", timestamp_seconds($"user_id" * 60))
      .coalesce(1).write.parquet(s"$dir/part")
    val part = new java.io.File(s"$dir/part").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(dir, "events.parquet"))
    dir
  }

  private def groups(q: String): Map[Option[String], Long] =
    SparkEntry.queries(q)(spark, nullGroupEvents())
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap

  private val expected = Map(None -> 20L, Some("click") -> 20L,
    Some("view") -> 20L)

  test("q_approx_distinct keeps the NULL event_type group") {
    assert(groups("q_approx_distinct") == expected)
  }

  test("q_stream_hll keeps the NULL event_type group") {
    assert(groups("q_stream_hll") == expected)
  }
}
