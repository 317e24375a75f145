package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeWriter

/** The collapsed change feed is the multiset difference of the two
  * versions' changed rows both ways, duplicates counted. */
class ChangesBetweenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("collapse keeps |net| copies of each row, duplicates on both sides") {
    val t = java.nio.file.Files.createTempDirectory("graft_collapse")
      .toString + "/t"
    val v1 = Seq(("a", 1L), ("a", 1L), ("a", 1L), ("b", 2L), ("c", 3L),
      ("c", 3L), (null, 4L), (null, 4L)).toDF("k", "v")
    val v2 = Seq(("a", 1L), ("b", 2L), ("b", 2L), ("c", 3L), ("c", 3L),
      ("d", 5L), (null, 4L), (null, 4L), (null, 4L)).toDF("k", "v")
    LakeWriter.commitSnapshot(v1, t)
    LakeWriter.commitSnapshot(v2, t)
    val feed = LakeWriter.changesBetween(spark, t, 1L, 2L)
    assert(feed.columns.toSeq == Seq("k", "v", "_change_type"))
    val (r1, r2) = (LakeWriter.readSnapshot(spark, t, Some(1L)),
      LakeWriter.readSnapshot(spark, t, Some(2L)))
    val reference = r2.exceptAll(r1).withColumn("_change_type", lit("insert"))
      .unionByName(r1.exceptAll(r2).withColumn("_change_type", lit("delete")))
    assert(sorted(feed) == sorted(reference))
    assert(sorted(feed) == Seq("a|1|delete", "a|1|delete", "b|2|insert",
      "d|5|insert", "null|4|insert"))
  }
}
