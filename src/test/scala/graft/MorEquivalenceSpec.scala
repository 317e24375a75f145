package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeletionVectors, LakeWriter}

/** The one-pass deletion-vector build commits what the two-pass build
  * (a per-file count pass, then a bitmap pass over the files that need
  * one) committed: the same DV row sets, the same fully-deleted files
  * and the same copy-on-write fallbacks. `expected` holds the outcome
  * of each case as the two-pass build left it. A table file is named by
  * its first id; a DV by the row indexes it deletes. */
class MorEquivalenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString + "/t"

  /** 4 files of 500 ids (0-499, 500-999, ...), each in several row
    * groups, and a DV on every file from a first MOR delete. */
  private def table(name: String): String = {
    val t = tmp(name)
    spark.conf.set("parquet.block.size", "2048")
    try LakeWriter.commitSnapshot(spark.range(0, 2000, 1, 4).toDF("id")
        .withColumn("v", $"id" * 10).withColumn("s", format_string("s%05d", $"id")), t)
    finally spark.conf.unset("parquet.block.size")
    assert(LakeWriter.deleteFromSnapshotMor(spark, t,
      $"id" % 50 === 0 || ($"id" >= 1500 && $"id" < 1510)) == 2L)
    t
  }

  /** Runs `body` with every file scan split into ~2 KB tasks, so each
    * table file is read by several tasks. */
  private def split[T](body: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    keys.foreach(spark.conf.set(_, "2048"))
    try body finally keys.foreach(spark.conf.unset)
  }

  /** Sorted row indexes as runs: "0-9,20,22-23". */
  private def runs(xs: Seq[Long]): String =
    xs.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, x) if x == hi + 1 => (lo, x) :: rest
      case (acc, x) => (x, x) :: acc
    }.reverse.map { case (lo, hi) => if (lo == hi) s"$lo" else s"$lo-$hi" }
      .mkString(",")

  /** The latest version of `t`: its mode, then per file (by first id)
    * the row indexes its DV deletes. */
  private def outcome(t: String): String = {
    val v = LakeWriter.snapshotVersions(spark, t).last
    val m = LakeWriter.manifest(spark, t, v)
    val files = m.files.map { f =>
      val idx = spark.read.parquet(f).select($"id", $"_metadata.row_index")
        .as[(Long, Long)].collect()
      val dv = m.dvs.get(f.substring(f.lastIndexOf('/') + 1)).map(d =>
        DeletionVectors.RoaringArray.deserialize(d.bytes))
      val del = idx.map(_._2).sorted.filter(i => dv.exists(_.contains(i)))
      s"${idx.map(_._1).minOption.fold("-")(_.toString)}:${runs(del)}"
    }.sorted
    s"v$v ${m.mode} " + files.mkString(" ")
  }

  private def check(name: String)(op: String => Unit): Unit = {
    val t = table(name)
    // the second file is read by several scan tasks
    val f = LakeWriter.snapshotFiles(spark, t, 2L).find(f =>
      spark.read.parquet(f).agg(min("id")).head().getLong(0) == 500L).get
    split(assert(spark.read.parquet(f).rdd
      .mapPartitions(it => Iterator(it.size)).collect().count(_ > 0) >= 2))
    split(op(t))
    assert(outcome(t) == expected(name), outcome(t))
  }

  private val expected = Map(
    "delete" -> (
      "v3 delete " +
      "0:0,7,50,100,107,150,200,207,250,300,307,350,400,407,450 " +
      "1000:0,7,50,100,107,150,200,207,250,300,307,350,400,407,450 " +
      "1500:0-9,50,100,107,150,200,207,250,300,307,350,400,407,450 " +
      "500:0,7,50,100,107,140-159,200,207,250,300,307,350,400,407,450"),
    "full" -> (
      "v3 delete 0:0,50,100,150,200,250,300,350,400,450 " +
      "1500:0-9,50,100,150,200,250,277,300,350,400,450 " +
      "500:0,50,100,150,200,250,300,350,400,450"),
    "update" -> (
      "v3 update " +
      "0:0,42,50,100,142,150,200,242,250,300,342,350,400,442,450 " +
      "1000:0,42,50,100,142,150,200,242,250,300,342,350,400,442,450 " +
      "1042: 1242: 1342: " +
      "1500:0-9,42,50,100,142,150,200,242,250,300,342,350,400,442,450 " +
      "1542: 1742: 1842: 242: 342: 42: " +
      "500:0,42,50,100,142,150,200,242,250,300,342,350,400,442,450 " +
      "542: 742: 842:"),
    "merge" -> (
      "v3 merge 0:0,50,100,150,200,250,300,350,400,450,480-499 " +
      "1000:0,50,100,150,200,250,300,350,400,450 " +
      "1500:0-9,50,100,150,200,250,300,350,400,450 480: 500: " +
      "500:0-59,100,150,200,250,300,350,400,450 520: 540:"),
    "dups" -> (
      "v3 merge 0:0,50,100,150,200,250,300,350,400,450,480-499 " +
      "1000:0,50,100,150,200,250,300,350,400,450 " +
      "1500:0-9,50,100,150,200,250,300,350,400,450 480: 500: 500: " +
      "500:0-59,100,150,200,250,300,350,400,450 505: 510: 515: 520: 540:"),
    "fraction" -> (
      "v3 delete -: 0:0,50,100,150,200,250,300,350,400,450 " +
      "1000:0,50,100,150,200,250,300,350,400,450 " +
      "1500:0-9,50,100,150,200,250,300,350,400,450 801:"),
    "bytes" -> (
      "v3 delete 0:0,50,100,150,200,250,300,350,400,450 " +
      "1000:0,50,100,150,200,250,300,350,400,450 " +
      "1500:0-9,50,100,150,200,250,300,350,400,450 501: 701: 801:"))

  test("MOR delete across split files unions with the old DVs") {
    check("delete")(t => LakeWriter.deleteFromSnapshotMor(spark, t,
      $"id" % 100 === 7 || ($"id" >= 640 && $"id" < 660)): Unit)
  }

  test("MOR delete drops a fully deleted file") {
    check("full")(t => LakeWriter.deleteFromSnapshotMor(spark, t,
      $"id" >= 1000 && $"id" < 1500 || $"id" === 1777): Unit)
  }

  test("MOR update retires the matched rows across split files") {
    check("update")(t => LakeWriter.updateSnapshotMor(spark, t,
      $"id" % 100 === 42, Map("v" -> lit(-1L))): Unit)
  }

  test("MOR merge retires the updated keys across split files") {
    check("merge")(t => LakeWriter.mergeSnapshotMor(
      spark.range(480, 560).toDF("id").withColumn("v", -$"id")
        .withColumn("s", lit("u")), t, Seq("id")): Unit)
  }

  test("MOR merge with duplicate update keys counts each matched row " +
      "once, broadcast or shuffled") {
    def merge(t: String): Unit = LakeWriter.mergeSnapshotMor(
      spark.range(480, 560).union(spark.range(500, 520)).toDF("id")
        .withColumn("v", -$"id").withColumn("s", lit("u")), t, Seq("id")): Unit
    check("dups")(merge)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try check("dups")(merge)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("MOR delete falls back to copy-on-write over maxDeleteFraction") {
    check("fraction")(t => LakeWriter.deleteFromSnapshotMor(spark, t,
      $"id" >= 500 && $"id" < 800, maxDeleteFraction = 0.5): Unit)
  }

  test("MOR delete falls back to copy-on-write over maxDvBytes") {
    check("bytes")(t => LakeWriter.deleteFromSnapshotMor(spark, t,
      $"id" % 3 === 1 && $"id" >= 500 && $"id" < 1000, maxDvBytes = 256): Unit)
  }
}
