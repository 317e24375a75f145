package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeWriter

/** BLOOM FILE INDEX: per-file blooms over xxhash64(col), point-lookup
  * pruning proven by the corrupt-in-place pattern (a pruned file is
  * never opened), O(delta) maintenance, carry-forward. */
class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/tbl"

  /** Four single-file commits with INTERLEAVED keys: every file's
    * (min, max) spans the whole key range, so min/max stats can
    * never prune an equality — only the bloom can. */
  private def interleaved(t: String): Unit =
    (0 until 4).foreach { i =>
      LakeWriter.commitSnapshot(
        spark.range(0, 100).toDF("k").where($"k" % 4 === i)
          .withColumn("s", concat(lit("key_"), md5($"k".cast("string"))))
          .coalesce(1),
        t, if (i == 0) "overwrite" else "append")
    }

  private def corruptAllBut(t: String, keep: String): Unit =
    LakeWriter.snapshotFiles(spark, t,
        LakeWriter.snapshotVersions(spark, t).last)
      .filterNot(_.endsWith(keep)).foreach { f =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f.stripPrefix("file:")),
          "not parquet".getBytes)
      }

  private def fileOfKey(t: String, k: Long): String = {
    val v = LakeWriter.snapshotVersions(spark, t).last
    spark.read.parquet(LakeWriter.snapshotFiles(spark, t, v): _*)
      .select($"k", regexp_extract(input_file_name(), "[^/]+$", 0).as("f"))
      .where($"k" === k).head().getString(1)
  }

  private def sOf(k: Long): String = {
    val m = java.security.MessageDigest.getInstance("MD5")
      .digest(k.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"key_$m"
  }

  test("equality on a bloom-indexed column prunes to one file (others never open)") {
    val t = freshTable("graft_bloom_point")
    interleaved(t)
    LakeWriter.setBloomIndex(spark, t, Map("s" -> 1000L))
    val keep = fileOfKey(t, 57L) // 57 % 4 == 1
    corruptAllBut(t, keep)
    val out = LakeWriter.readSnapshotWhere(spark, t, $"s" === sOf(57L))
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(57L))
    // IN over two keys from the SAME file also prunes to it
    val out2 = LakeWriter.readSnapshotWhere(spark, t,
      $"s".isin(sOf(57L), sOf(61L))).collect()
    assert(out2.map(_.getLong(0)).sorted.toSeq == Seq(57L, 61L))
  }

  test("bloom never wrong-skips: indexed reads equal unindexed reads") {
    val t = freshTable("graft_bloom_sound")
    interleaved(t)
    val before = (0L until 100L by 7L).map { k =>
      k -> LakeWriter.readSnapshotWhere(spark, t, $"s" === sOf(k))
        .collect().map(_.getLong(0)).toSeq
    }
    LakeWriter.setBloomIndex(spark, t, Map("s" -> 1000L))
    (0L until 100L by 7L).foreach { k =>
      val after = LakeWriter.readSnapshotWhere(spark, t, $"s" === sOf(k))
        .collect().map(_.getLong(0)).toSeq
      assert(after == before.toMap.apply(k), s"k=$k")
      assert(after == Seq(k))
    }
    // a key that exists nowhere returns empty (all files bloom-pruned
    // or scanned clean — either way, no rows and no error)
    assert(LakeWriter.readSnapshotWhere(spark, t,
      $"s" === "key_nonexistent").count() == 0L)
  }

  test("maintenance is O(delta): appends index only their new files, blooms carry") {
    val t = freshTable("graft_bloom_delta")
    interleaved(t)
    LakeWriter.setBloomIndex(spark, t, Map("s" -> 1000L))
    val v1 = LakeWriter.snapshotVersions(spark, t).last
    val blooms1 = LakeWriter.manifest(spark, t, v1).blooms
    // a post-index append gets blooms for its file; old blooms carry
    // byte-identically (no recompute)
    LakeWriter.commitSnapshot(
      spark.range(100, 120).toDF("k")
        .withColumn("s", concat(lit("key_"), md5($"k".cast("string"))))
        .coalesce(1), t, "append")
    val v2 = LakeWriter.snapshotVersions(spark, t).last
    val blooms2 = LakeWriter.manifest(spark, t, v2).blooms
    assert(blooms2.size == blooms1.size + 1)
    blooms1.foreach { case (bn, cols) =>
      assert(blooms2(bn) == cols, s"carried bloom changed for $bn") }
    // the new key resolves with every OLD file corrupted: its bloom
    // pruned them all
    val keep = fileOfKey(t, 110L)
    corruptAllBut(t, keep)
    assert(LakeWriter.readSnapshotWhere(spark, t, $"s" === sOf(110L))
      .collect().map(_.getLong(0)).toSeq == Seq(110L))
  }

  test("unindexed columns and non-equality predicates ignore the bloom path") {
    val t = freshTable("graft_bloom_scope")
    interleaved(t)
    LakeWriter.setBloomIndex(spark, t, Map("s" -> 1000L))
    // range predicate on k: stats path only; all rows come back
    assert(LakeWriter.readSnapshotWhere(spark, t, $"k" < 10L)
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    // equality on the UNindexed column scans (correct, no prune)
    assert(LakeWriter.readSnapshotWhere(spark, t, $"k" === 57L)
      .collect().map(_.getLong(0)).toSeq == Seq(57L))
  }

  test("setBloomIndex guards: unknown column, bad items, empty") {
    val t = freshTable("graft_bloom_guard")
    LakeWriter.commitSnapshot(spark.range(0, 5).toDF("k"), t)
    intercept[IllegalArgumentException] {
      LakeWriter.setBloomIndex(spark, t, Map("nope" -> 100L)) }
    intercept[IllegalArgumentException] {
      LakeWriter.setBloomIndex(spark, t, Map("k" -> 0L)) }
    intercept[IllegalArgumentException] {
      LakeWriter.setBloomIndex(spark, t, Map.empty) }
  }
}
