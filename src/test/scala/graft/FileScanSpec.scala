package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeletionVectors, FileScan}
import graft.sources.FileScan.{Dv, Slice}

/** The slice scan the merge-on-read readers share: each file is
  * served under its own slice's DV window on a path that needs
  * escaping, a file listed in several slices yields each slice's DV
  * window with that slice's constants, and `transition` is the change
  * readers' rule. */
class FileScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Two one-file parquet tables under a directory whose name needs
    * URI escaping; returns each table's single data file. */
  private def twoFiles(): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_filescan")
      .resolve("a b%c+d").toString
    def one(name: String, ids: Range): String = {
      spark.range(ids.start.toLong, ids.end.toLong).toDF("id").coalesce(1)
        .write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getPath
    }
    (one("x", 0 until 10), one("y", 10 until 20))
  }

  private val idSchema = StructType(Seq(StructField("id", LongType)))
  private val tagField = Seq(StructField("tag", StringType, true))

  private def dv(rows: Long*): Option[Dv] =
    Some(Dv(DeletionVectors.serialize(rows.toArray), rows.mkString(",")))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select(col("id"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("scan serves each file under its own slice's DV window on escaped paths") {
    val (a, b) = twoFiles()
    assert(b.contains("a b%c+d"), b)
    val got = rows(FileScan.scan(spark, Seq(
        Slice(a, Seq("a"), exit = dv(1, 2)),
        Slice(b, Seq("b"), exit = dv(5))), idSchema, tagField))
    assert(got == ((0L until 10L).filterNot(Set(1L, 2L)).map(_ -> "a") ++
      (10L until 20L).filterNot(_ == 15L).map(_ -> "b")))
    // the same files under swapped bitmaps: each file's own bitmap
    // decides, never the other's
    val swapped = rows(FileScan.scan(spark, Seq(
        Slice(a, Seq("a"), exit = dv(5)),
        Slice(b, Seq("b"), exit = dv(1, 2))), idSchema, tagField))
    assert(swapped == ((0L until 10L).filterNot(_ == 5L).map(_ -> "a") ++
      (10L until 20L).filterNot(Set(11L, 12L)).map(_ -> "b")))
  }

  test("scan fans a file listed in two slices into each slice's " +
      "window (in enter, not in exit) with that slice's constants") {
    val (a, b) = twoFiles()
    val got = rows(FileScan.scan(spark, Seq(
        Slice(a, Seq("s1"), enter = dv(1, 2, 3, 4), exit = dv(2)),
        Slice(a, Seq("s2"), exit = dv(0, 1, 2, 3, 4, 5)),
        Slice(b, Seq("s3"))), idSchema, tagField))
    assert(got == (Seq(1L, 3L, 4L).map(_ -> "s1") ++
      (6L to 9L).map(_ -> "s2") ++ (10L to 19L).map(_ -> "s3")).sorted)
    // no constant and no DV: the scan is served as read
    val plain = FileScan.scan(spark, Seq(Slice(a), Slice(b)), idSchema)
    assert(plain.columns.toSeq == Seq("id"))
    assert(plain.count() == 20L)
  }

  test("transition: the change rule for every (before, after) pair") {
    val (o, n) = (dv(1), dv(1, 2))
    type Side = Option[Option[Dv]]
    type Window = (String, Option[Dv], Option[Dv])
    val cases: Seq[((Side, Side), Seq[Window])] = Seq(
      // add only → insert, minus the new DV
      (None, Some(n)) -> Seq(("insert", None, n)),
      (None, Some(None)) -> Seq(("insert", None, None)),
      // remove only → delete, minus the old DV
      (Some(o), None) -> Seq(("delete", None, o)),
      (Some(None), None) -> Seq(("delete", None, None)),
      // re-pair with a new DV → delete in (new \ old), plus insert in
      // (old \ new) when an old DV exists
      (Some(o), Some(n)) -> Seq(("delete", n, o), ("insert", o, n)),
      (Some(None), Some(n)) -> Seq(("delete", n, None)),
      // DV retired → insert in old
      (Some(o), Some(None)) -> Seq(("insert", o, None)),
      // same-path re-add, no DV on either side → whole delete + insert
      (Some(None), Some(None)) ->
        Seq(("delete", None, None), ("insert", None, None)),
      (None, None) -> Nil)
    cases.foreach { case ((before, after), want) =>
      assert(FileScan.transition(before, after) == want, (before, after))
    }
  }
}
