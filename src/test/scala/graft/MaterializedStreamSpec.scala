package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LakeWriter, Materialized}

/** Streaming incremental MV maintenance: the manifest-directory file
  * stream must land exactly where the batch cursor loop lands. */
class MaterializedStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def mvState(mv: String): Map[Long, (Long, Long)] =
    LakeWriter.readSnapshot(spark, mv).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("stream-maintained MV equals the batch cursor loop over an identical history") {
    val root = freshDir("graft_mvstream_eq")
    def build(src: String): Unit = {
      LakeWriter.commitSnapshot(
        spark.range(0, 60).toDF("id").withColumn("g", $"id" % 3)
          .withColumn("x", $"id" * 10), src)
      LakeWriter.commitSnapshot(
        spark.range(60, 90).toDF("id").withColumn("g", $"id" % 3)
          .withColumn("x", $"id" * 10), src, "append")
      LakeWriter.deleteFromSnapshot(spark, src, $"id" >= 80L)
    }
    build(s"$root/srcA"); build(s"$root/srcB")
    Materialized.refreshAgg(spark, s"$root/srcA", s"$root/mvA",
      s"$root/cursorA", Seq("g"), Seq("x"))
    Materialized.refreshAggStream(spark, s"$root/srcB", s"$root/mvB",
      s"$root/ckptB", Seq("g"), Seq("x"))
    val a = mvState(s"$root/mvA")
    val b = mvState(s"$root/mvB")
    assert(a == b && a.nonEmpty)
    // and both equal the full recompute
    val full = LakeWriter.readSnapshot(spark, s"$root/srcA")
      .groupBy($"g").agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(a == full)
  }

  test("re-invoking on a live checkpoint drains only the later commits") {
    val root = freshDir("graft_mvstream_inc")
    val src = s"$root/src"
    LakeWriter.commitSnapshot(
      spark.range(0, 40).toDF("id").withColumn("g", $"id" % 2)
        .withColumn("x", lit(1L)), src)
    Materialized.refreshAggStream(spark, src, s"$root/mv",
      s"$root/ckpt", Seq("g"), Seq("x"))
    assert(mvState(s"$root/mv").values.map(_._1).sum == 40L)
    val mvVersionsAfterFirst =
      LakeWriter.snapshotVersions(spark, s"$root/mv").size
    // a later commit lands after the first drain
    LakeWriter.commitSnapshot(
      spark.range(40, 50).toDF("id").withColumn("g", $"id" % 2)
        .withColumn("x", lit(1L)), src, "append")
    Materialized.refreshAggStream(spark, src, s"$root/mv",
      s"$root/ckpt", Seq("g"), Seq("x"))
    assert(mvState(s"$root/mv").values.map(_._1).sum == 50L)
    // only the new version's delta was applied (one more MV merge
    // round, not a replay of the whole history)
    val mvVersionsAfterSecond =
      LakeWriter.snapshotVersions(spark, s"$root/mv").size
    assert(mvVersionsAfterSecond > mvVersionsAfterFirst)
    assert(mvVersionsAfterSecond - mvVersionsAfterFirst <= 2)
  }

  test("manifests older than the file source's default 7-day " +
      "maxFileAge still drain (a skipped version would be masked by " +
      "the stamp forever)") {
    val root = freshDir("graft_mvstream_oldage")
    val src = s"$root/src"; val mv = s"$root/mv"
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("g", $"id" % 3).withColumn("x", $"id" * 10)
    LakeWriter.commitSnapshot(rows(0, 30), src)
    // the first drain makes the checkpoint LIVE (the first batch is
    // exempt from maxFileAge, so eviction only bites on later drains)
    Materialized.refreshAggStream(spark, src, mv, s"$root/ckpt",
      Seq("g"), Seq("x"))
    // two more commits; v2's manifest carries an mtime 30 days older
    // than v3's — with the stock 7-day maxFileAge the live-checkpoint
    // drain would list only v3, and the stamp would hide v2
    val v2 = LakeWriter.commitSnapshot(rows(30, 50), src, "append")
    LakeWriter.commitSnapshot(rows(50, 60), src, "append")
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    assert(new java.io.File(s"$src/_manifests/v$v2.json")
      .setLastModified(old))
    Materialized.refreshAggStream(spark, src, mv, s"$root/ckpt",
      Seq("g"), Seq("x"))
    val full = LakeWriter.readSnapshot(spark, src)
      .groupBy($"g").agg(count(lit(1)).as("n"), sum($"x").as("sx"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(mvState(mv) == full)
  }

  test("crash replay: a re-fed version skips on its txn stamp, never double-counts") {
    val root = freshDir("graft_mv_replay")
    val src = s"$root/src"; val mv = s"$root/mv"; val cur = s"$root/cursor"
    LakeWriter.commitSnapshot(
      Seq((1L, 0L, 10L), (2L, 1L, 20L)).toDF("id", "g", "x"), src)
    LakeWriter.commitSnapshot(
      Seq((3L, 0L, 5L)).toDF("id", "g", "x"), src, "append")
    Materialized.refreshAgg(spark, src, mv, cur, Seq("g"), Seq("x"))
    val settled = mvState(mv)
    assert(settled == Map(0L -> ((2L, 15L)), 1L -> ((1L, 20L))))
    // the crash window the ADVICE flagged: merges committed, external
    // cursor lost — the WHOLE history replays (bootstrap included),
    // and current+delta is NOT idempotent by value, so without the
    // manifest txn stamp every sum would double
    assert(new java.io.File(cur).delete())
    Materialized.refreshAgg(spark, src, mv, cur, Seq("g"), Seq("x"))
    assert(mvState(mv) == settled, "replayed versions must skip")
    // and the stream consumer shares the stamp: a fresh checkpoint
    // (restarted multi-version batch) over the same source leaves the
    // absorbed MV untouched too
    Materialized.refreshAggStream(spark, src, mv, s"$root/ckpt_fresh",
      Seq("g"), Seq("x"))
    assert(mvState(mv) == settled, "stream replay must skip")
    // new data still applies after all that replay machinery
    LakeWriter.commitSnapshot(
      Seq((4L, 1L, 7L)).toDF("id", "g", "x"), src, "append")
    Materialized.refreshAgg(spark, src, mv, cur, Seq("g"), Seq("x"))
    assert(mvState(mv) == Map(0L -> ((2L, 15L)), 1L -> ((2L, 27L))))
  }

  test("vacuum past the stamp: lost cursor refuses loudly, never double-counts") {
    val root = freshDir("graft_mv_vacstamp")
    val src = s"$root/src"; val mv = s"$root/mv"; val cur = s"$root/cursor"
    LakeWriter.commitSnapshot(
      Seq((1L, 0L, 10L), (2L, 1L, 20L)).toDF("id", "g", "x"), src)
    LakeWriter.commitSnapshot(
      Seq((3L, 0L, 5L)).toDF("id", "g", "x"), src, "append")
    Materialized.refreshAgg(spark, src, mv, cur, Seq("g"), Seq("x"))
    val settled = mvState(mv)
    // cursor lost AND the absorbed history vacuumed away: the next
    // surviving version can only feed as a bootstrap FULL snapshot,
    // which a stamped-but-behind MV would absorb as a delta —
    // doubling every group. Both consumers must refuse loudly.
    assert(new java.io.File(cur).delete())
    LakeWriter.commitSnapshot(
      Seq((4L, 1L, 7L)).toDF("id", "g", "x"), src, "append")
    LakeWriter.vacuumSnapshots(spark, src, keepLast = 1)
    val e = intercept[RuntimeException](
      Materialized.refreshAgg(spark, src, mv, cur, Seq("g"), Seq("x")))
    assert(e.getMessage.contains("re-bootstrap"))
    assert(mvState(mv) == settled, "refusal must leave the MV untouched")
    val es = intercept[Exception](
      Materialized.refreshAggStream(spark, src, mv, s"$root/ckpt_fresh",
        Seq("g"), Seq("x")))
    assert(es.getMessage.contains("re-bootstrap") ||
      Option(es.getCause).exists(_.getMessage.contains("re-bootstrap")))
    assert(mvState(mv) == settled)
  }

  test("refreshFull(alignCursor) replay: the rebuild's stamp covers the crash window") {
    val root = freshDir("graft_mv_fullreplay")
    val src = s"$root/src"; val mv = s"$root/mv"; val cur = s"$root/cursor"
    LakeWriter.commitSnapshot(
      Seq((1L, 0L, 10L), (2L, 1L, 20L)).toDF("id", "g", "x"), src)
    LakeWriter.commitSnapshot(
      Seq((3L, 0L, 5L)).toDF("id", "g", "x"), src, "append")
    // full rebuild absorbs BOTH versions; crash before the cursor
    // write means refreshAgg later replays them against the rebuilt MV
    Materialized.refreshFull(spark, src, mv, Seq("g"), Seq("x"),
      alignCursor = Some(cur))
    val settled = mvState(mv)
    assert(new java.io.File(cur).delete())
    Materialized.refreshAgg(spark, src, mv, cur, Seq("g"), Seq("x"))
    assert(mvState(mv) == settled,
      "versions absorbed by the stamped rebuild must not re-apply")
  }

  test("HLL MV replay: absorbed versions skip (n_rows is not idempotent)") {
    val root = freshDir("graft_mvhll_replay")
    val src = s"$root/src"; val mv = s"$root/mv"; val cur = s"$root/cursor"
    LakeWriter.commitSnapshot(
      spark.range(0, 30).toDF("id").withColumn("g", $"id" % 2)
        .withColumn("u", $"id" % 7), src)
    LakeWriter.commitSnapshot(
      spark.range(30, 40).toDF("id").withColumn("g", $"id" % 2)
        .withColumn("u", $"id" % 7), src, "append")
    Materialized.refreshHll(spark, src, mv, cur, Seq("g"), "u")
    def counts(): Map[Long, Long] = LakeWriter.readSnapshot(spark, mv)
      .select("g", "n_rows").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val settled = counts()
    assert(settled.values.sum == 40L)
    assert(new java.io.File(cur).delete())
    Materialized.refreshHll(spark, src, mv, cur, Seq("g"), "u")
    assert(counts() == settled, "replayed HLL versions must skip")
  }

  test("HLL MV: appends union incrementally, a delete triggers rebuild") {
    val root = freshDir("graft_mvhll")
    val src = s"$root/src"; val mv = s"$root/mv"
    def estimates(): Map[Long, (Long, Long)] =
      LakeWriter.readSnapshot(spark, mv)
        .select($"g", $"n_rows", hll_sketch_estimate($"hll"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    def fullEst(upTo: Long): Map[Long, (Long, Long)] =
      LakeWriter.readSnapshot(spark, src, Some(upTo))
        .groupBy($"g")
        .agg(count(lit(1)).as("n"),
          hll_sketch_estimate(hll_sketch_agg($"v")).as("e"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    // v1: ids 0..39; v2: 40..79 (append) — union path twice
    LakeWriter.commitSnapshot(
      spark.range(0, 40).toDF("v").withColumn("g", $"v" % 2), src)
    LakeWriter.commitSnapshot(
      spark.range(40, 80).toDF("v").withColumn("g", $"v" % 2), src,
      mode = "append")
    assert(Materialized.refreshHll(spark, src, mv, s"$root/cur",
      Seq("g"), "v") == Seq(1L, 2L))
    assert(estimates() == fullEst(2L))
    val mvVersionsBeforeDelete = LakeWriter.snapshotVersions(spark, mv).size
    // v3: DELETE group-1 evens... delete some rows — must rebuild
    LakeWriter.deleteFromSnapshot(spark, src, $"v" >= 60)
    // v4: append again — must union on top of the REBUILT sketch
    LakeWriter.commitSnapshot(
      spark.range(100, 120).toDF("v").withColumn("g", $"v" % 2), src,
      mode = "append")
    assert(Materialized.refreshHll(spark, src, mv, s"$root/cur",
      Seq("g"), "v") == Seq(3L, 4L))
    assert(estimates() == fullEst(4L))
    assert(LakeWriter.snapshotVersions(spark, mv).size
      == mvVersionsBeforeDelete + 2)
    // idempotent by value: nothing new to process
    assert(Materialized.refreshHll(spark, src, mv, s"$root/cur",
      Seq("g"), "v").isEmpty)
  }

  test("readJsonlShards: roundtrip is exact, corrupt lines audited not dropped") {
    val root = freshDir("graft_jsonl")
    val docs = Seq((1L, "hello\nworld", "en"), (2L, "", "de"),
      (3L, "quote\"and\\slash", "en")).toDF("id", "txt", "lang")
    graft.operators.Packing.exportJsonlShards(
      docs.withColumn("shard", ($"id" % 2).cast("int")), "shard",
      s"$root/shards").count()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/shards/shard=0/zz_bad.txt"),
      "not json\n".getBytes("UTF-8"))
    val parsed = graft.operators.Packing.readJsonlShards(spark,
      s"$root/shards", "id LONG, txt STRING, lang STRING")
    // the corrupt line surfaces with its raw payload (referencing a
    // data column alongside _corrupt — the Spark-mandated shape)
    val corrupt = parsed.where($"_corrupt".isNotNull)
      .select($"_corrupt", $"id").collect()
    assert(corrupt.length == 1 && corrupt(0).getString(0) == "not json")
    // cache-free audit by difference
    val nLines = graft.operators.Packing
      .jsonlLineCount(spark, s"$root/shards").head().getLong(0)
    val good = parsed.where($"_corrupt".isNull)
      .select($"id", $"txt", $"lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(nLines - good.size == 1)
    assert(good == Set((1L, "hello\nworld", "en"), (2L, "", "de"),
      (3L, "quote\"and\\slash", "en")))
  }
}
