package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaMirror, IcebergMirror, LakeWriter}

/** The output schemas of the two change readers — names, types and
  * nullability — over a partitioned, column-mapped table with a
  * deletion vector, for a range with changes and a range without:
  * consumers bind to these columns, so a reader rewrite must serve
  * them unchanged. */
class ChangeFeedSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fields(s: StructType): Seq[String] =
    s.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}:" +
      (if (f.nullable) "null" else "notnull"))

  /** v0 dynamic commit partitioned by `p`, v1 renames `x` → `y`
    * (column mapping), v2 a merge-on-read delete (a DV), v3 an
    * append; mirrored to Delta with CDF and to Iceberg v3. */
  private lazy val table: String = {
    val t = java.nio.file.Files.createTempDirectory("graft_cdf_schema")
      .toString + "/t"
    val df = spark.range(0, 30).toDF("id")
      .withColumn("p", $"id" % 3)
      .withColumn("x", concat(lit("a"), $"id"))
    LakeWriter.commitSnapshotDynamic(df, t, Seq("p"))
    LakeWriter.renameColumn(spark, t, "x", "y")
    LakeWriter.deleteFromSnapshotMor(spark, t, $"id" < 3)
    LakeWriter.commitSnapshot(spark.range(30, 36).toDF("id")
      .withColumn("p", $"id" % 3)
      .withColumn("y", concat(lit("a"), $"id")), t, "append")
    DeltaMirror.mirror(spark, t, changeDataFeed = true)
    IcebergMirror.mirror(spark, t, allowV3 = true)
    t
  }

  test("readChangeFeed serves the table columns plus _change_type, " +
      "_commit_version and _commit_timestamp") {
    val changed = DeltaMirror.readChangeFeed(spark, table, 2, Some(3))
    assert(changed.count() > 0L)
    val want = Seq("id:bigint:null", "p:bigint:null", "y:string:null",
      "_change_type:string:null", "_commit_version:bigint:null",
      "_commit_timestamp:timestamp:null")
    assert(fields(changed.schema) == want)
    val empty = DeltaMirror.readChangeFeed(spark, table, 1, Some(1))
    assert(empty.count() == 0L)
    assert(fields(empty.schema) == want)
  }

  test("readIcebergChanges serves the table columns plus _change_type, " +
      "_change_ordinal and _commit_snapshot_id") {
    val snaps = IcebergMirror.icebergSnapshots(spark, table).map(_._1)
    val changed = IcebergMirror.readIcebergChanges(spark, table,
      snaps(1), snaps.last)
    assert(changed.count() > 0L)
    val want = Seq("id:bigint:null", "p:bigint:null", "y:string:null",
      "_change_type:string:null", "_change_ordinal:int:null",
      "_commit_snapshot_id:bigint:null")
    assert(fields(changed.schema) == want)
    val empty = IcebergMirror.readIcebergChanges(spark, table,
      snaps.last, snaps.last)
    assert(empty.count() == 0L)
    assert(fields(empty.schema) == want)
  }
}
