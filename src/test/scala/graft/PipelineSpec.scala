package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.LakehousePipeline
import graft.sources.{Tables, Views}
import graft.streaming.Speed

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The (min, max) per column per file that a version's manifest
    * stats record (columns without both bounds are left out). */
  private def minMaxStats(t: String, v: Long)
      : Map[String, Map[String, (String, String)]] =
    graft.sources.LakeWriter.manifest(spark, t, v).stats.map {
      case (f, fst) => f -> fst.cols.collect {
        case (c, graft.sources.LakeWriter.ColStat(Some(lo), Some(hi), _)) =>
          c -> (lo, hi)
      }
    }

  test("LakehousePipeline builds all zones and is idempotent") {
    val out = java.nio.file.Files.createTempDirectory("graft_lake").toString
    val r1 = LakehousePipeline.run(spark, TestSpark.sfDir, out)
    assert(r1.stgRows == 1000)
    assert(r1.factRows == r1.stgRows)   // PIT join: exactly one version per event
    assert(r1.dimEventType == 5)
    assert(r1.dimUserState > 0)
    // rerunning the same load must not duplicate anything
    val r2 = LakehousePipeline.run(spark, TestSpark.sfDir, out)
    assert(r2.stgRows == r1.stgRows && r2.factRows == r1.factRows)
    // the curated zone serves SQL
    Views.registerZone(spark, s"$out/curated")
    val daily = spark.sql(
      """SELECT d.date, count(*) AS n FROM fact_events f
        |JOIN dim_date d ON f.date_sk = d.date_sk GROUP BY d.date""".stripMargin)
    assert(daily.count() == 30)
    assert(daily.agg(sum($"n")).head().getLong(0) == r1.factRows)
  }

  test("versioned pipeline dims are time-travelable across runs") {
    import graft.sources.LakeWriter
    val out = java.nio.file.Files.createTempDirectory("graft_lakev").toString
    val r1 = LakehousePipeline.run(spark, TestSpark.sfDir, out,
      versionedDims = true)
    val r2 = LakehousePipeline.run(spark, TestSpark.sfDir, out,
      versionedDims = true)
    assert(r1.factRows == r2.factRows)
    val dim = s"$out/curated/dim_user_state"
    // every run committed a dim version; both read back identically
    // (same input), and time travel reaches the first load
    assert(LakeWriter.snapshotVersions(spark, dim) == Seq(1L, 2L))
    val v1 = LakeWriter.readSnapshot(spark, dim, Some(1L))
    val v2 = LakeWriter.readSnapshot(spark, dim)
    assert(v1.count() == v2.count() && v1.except(v2).isEmpty)
  }

  test("per-date backfill converges to the one-shot pipeline state") {
    val full = java.nio.file.Files.createTempDirectory("graft_inc_full")
      .toString
    val inc = java.nio.file.Files.createTempDirectory("graft_inc_day")
      .toString
    val rFull = LakehousePipeline.run(spark, TestSpark.sfDir, full)
    // partial catchup first (2 dates), then resume — the ledger makes
    // the resume skip nothing it hasn't done and redo nothing it has
    val allDates = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "events")
      .select(to_date($"ts").cast("string").as("d")).distinct()
      .collect().map(_.getString(0)).sorted
    allDates.take(2).foreach(d =>
      LakehousePipeline.runDate(spark, TestSpark.sfDir, inc, d))
    val resumed = LakehousePipeline.backfill(spark, TestSpark.sfDir, inc)
    assert(resumed.map(_.date) == allDates.drop(2).toSeq)
    assert(resumed.forall(!_.skipped))
    // a second backfill is a no-op: every date is in the ledger
    assert(LakehousePipeline.backfill(spark, TestSpark.sfDir, inc).isEmpty)
    assert(LakehousePipeline.processedDates(spark, inc) == allDates.toSet)
    // staged zone and SCD2 dim converge EXACTLY (Scd2.merge day by
    // day == one-shot Scd2.build — the incremental-correctness claim)
    def rows(p: String, cols: String*) =
      spark.read.parquet(p).select(cols.map(col): _*)
    assert(rows(s"$full/stg/stg_events", "event_id").count() ==
      rFull.stgRows)
    assert(rows(s"$inc/stg/stg_events", "event_id")
      .exceptAll(rows(s"$full/stg/stg_events", "event_id")).isEmpty)
    val dimCols = Seq("user_id", "state", "effective_from",
      "effective_to", "is_current")
    val dFull = rows(s"$full/curated/dim_user_state", dimCols: _*)
    val dInc = rows(s"$inc/curated/dim_user_state", dimCols: _*)
    assert(dFull.exceptAll(dInc).isEmpty && dInc.exceptAll(dFull).isEmpty,
      "incremental SCD2 diverged from the one-shot build")
    assert(rows(s"$inc/curated/dim_date", "date").count() ==
      allDates.length)
    // facts: surrogate keys are assignment-order-dependent by design,
    // so compare SEMANTICALLY — resolve event_type_sk to its name
    def semanticFact(out: String) =
      spark.read.parquet(s"$out/curated/fact_events")
        .join(spark.read.parquet(s"$out/curated/dim_event_type"),
          Seq("event_type_sk"))
        .select($"event_id", $"user_id", $"event_type", $"state",
          $"value", $"ts", $"date_sk")
    val fFull = semanticFact(full)
    val fInc = semanticFact(inc)
    assert(fFull.exceptAll(fInc).isEmpty && fInc.exceptAll(fFull).isEmpty,
      "incremental fact diverged from the one-shot build")
  }

  test("versioned per-date loads: file-pruned SCD2 merge, time travel") {
    import graft.sources.LakeWriter
    val out = java.nio.file.Files.createTempDirectory("graft_inc_v")
      .toString
    val allDates = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "events")
      .select(to_date($"ts").cast("string").as("d")).distinct()
      .collect().map(_.getString(0)).sorted
    LakehousePipeline.backfill(spark, TestSpark.sfDir, out,
      versionedDims = true)
    val dim = s"$out/curated/dim_user_state"
    // one dim version per loaded date, each time travelable
    assert(LakeWriter.snapshotVersions(spark, dim).size ==
      allDates.length)
    // the incremental-versioned dim equals the one-shot build
    val oneShot = graft.operators.Scd2.build(
      spark.read.parquet(s"$out/stg/stg_events"),
      Seq("user_id"), Seq("event_type"), "ts")
      .withColumnRenamed("event_type", "state")
    val got = LakeWriter.readSnapshot(spark, dim)
      .select(oneShot.columns.map(col): _*)
    assert(oneShot.exceptAll(got).isEmpty && got.exceptAll(oneShot).isEmpty)
    // the merge was file-pruned: later versions carry earlier files
    // by reference (a day touches a sliver of users, not every file)
    val vs = LakeWriter.snapshotVersions(spark, dim)
    val lastFiles = LakeWriter.snapshotFiles(spark, dim, vs.last).toSet
    val prevFiles = LakeWriter.snapshotFiles(spark, dim, vs.init.last)
    assert(prevFiles.exists(lastFiles), "no file carried by reference")
  }

  test("mergeSnapshot rewrites only touched files, carries the rest") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_merge").toString +
      "/tbl"
    // v1: keys 1-10; v2 (append): keys 11-20 — disjoint file sets
    LakeWriter.commitSnapshot(
      (1 to 10).map(i => (i.toLong, s"val$i")).toDF("k", "v"), t,
      "overwrite")
    LakeWriter.commitSnapshot(
      (11 to 20).map(i => (i.toLong, s"val$i")).toDF("k", "v"), t,
      "append")
    val before = LakeWriter.snapshotFiles(spark, t, 2L)
    // merge: update key 5 (lives in a v1 file), insert key 100
    val v3 = LakeWriter.mergeSnapshot(
      Seq((5L, "updated"), (100L, "brand-new")).toDF("k", "v"), t,
      Seq("k"))
    assert(v3 == 3L)
    val now = LakeWriter.readSnapshot(spark, t)
    assert(now.count() == 21)
    assert(now.where($"k" === 5L).head().getString(1) == "updated")
    assert(now.where($"k" === 100L).head().getString(1) == "brand-new")
    assert(now.where($"k" === 7L).head().getString(1) == "val7")
    assert(now.select($"k").distinct().count() == 21) // keys stay unique
    // file-level pruning: every untouched v2 file is carried BY
    // REFERENCE; the v1 file holding key 5 was rewritten
    val after = LakeWriter.snapshotFiles(spark, t, 3L).toSet
    val v2Files = before.filter(_.contains("/data/v2-"))
    assert(v2Files.nonEmpty && v2Files.forall(after))
    assert(before.filter(_.contains("/data/v1-")).exists(f => !after(f)))
    // time travel: the pre-merge snapshot is untouched
    assert(LakeWriter.readSnapshot(spark, t, Some(2L))
      .where($"k" === 5L).head().getString(1) == "val5")
    // merging into a fresh table degenerates to a plain overwrite
    val t2 = java.nio.file.Files.createTempDirectory("graft_merge2")
      .toString + "/tbl"
    assert(LakeWriter.mergeSnapshot(
      Seq((1L, "a")).toDF("k", "v"), t2, Seq("k")) == 1L)
    assert(LakeWriter.readSnapshot(spark, t2).count() == 1)
  }

  test("partitioned mergeSnapshot prunes to touched partitions") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_mergep")
      .toString + "/tbl"
    // 3 days × 10 keys; day is a partition column AND a merge key
    LakeWriter.commitSnapshotDynamic(
      (1 to 30).map(i => ((i - 1) / 10 + 1, i.toLong, s"val$i"))
        .toDF("day", "k", "v"), t, Seq("day"))
    assert(LakeWriter.snapshotPartitionCols(spark, t, 1L) == Seq("day"))
    val before = LakeWriter.snapshotFiles(spark, t, 1L)
    // update one key in day 2, insert into day 2 and into a new day 4
    val v2 = LakeWriter.mergeSnapshot(
      Seq((2, 15L, "updated"), (2, 100L, "new-in-2"), (4, 200L, "new-day"))
        .toDF("day", "k", "v"), t, Seq("day", "k"))
    assert(v2 == 2L)
    val now = LakeWriter.readSnapshot(spark, t)
    assert(now.count() == 32)
    assert(now.where($"k" === 15L).head().getString(2) == "updated")
    assert(now.where($"k" === 100L).head().getString(2) == "new-in-2")
    assert(now.where($"k" === 200L).head().getInt(0) == 4)
    assert(now.where($"k" === 7L).head().getString(2) == "val7")
    assert(now.select($"k").distinct().count() == 32)
    // untouched partitions carried BY REFERENCE; day=2 rewritten
    val after = LakeWriter.snapshotFiles(spark, t, 2L).toSet
    val untouched = before.filter(f =>
      f.contains("/day=1/") || f.contains("/day=3/"))
    assert(untouched.nonEmpty && untouched.forall(after))
    // file-level pruning WITHIN the touched partition: the file
    // holding key 15 was rewritten; day=2 files without a matched key
    // may carry by reference
    assert(before.filter(_.contains("/day=2/")).exists(f => !after(f)))
    // partition metadata survives a merge; time travel intact
    assert(LakeWriter.snapshotPartitionCols(spark, t, 2L) == Seq("day"))
    assert(LakeWriter.readSnapshot(spark, t, Some(1L)).count() == 30)
    assert(LakeWriter.readSnapshot(spark, t, Some(1L))
      .where($"k" === 15L).head().getString(2) == "val15")
    // type drift is refused loudly (k int vs the table's bigint)
    val e = intercept[IllegalArgumentException] {
      LakeWriter.mergeSnapshot(Seq((2, 1, "x")).toDF("day", "k", "v"), t,
        Seq("day", "k"))
    }
    assert(e.getMessage.contains("type mismatch"))
  }

  test("deleteFromSnapshot prunes files, keeps NULL-predicate rows") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_del").toString +
      "/tbl"
    // v1: keys 1-10 (val, with one NULL); v2 append: keys 11-20 —
    // disjoint file sets
    LakeWriter.commitSnapshot(
      (1 to 10).map(i =>
        (i.toLong, if (i == 3) null else s"val$i")).toDF("k", "v"), t,
      "overwrite")
    LakeWriter.commitSnapshot(
      (11 to 20).map(i => (i.toLong, s"val$i")).toDF("k", "v"), t,
      "append")
    val before = LakeWriter.snapshotFiles(spark, t, 2L)
    // delete on a predicate only v1 rows can match; v = NULL rows
    // evaluate the predicate NULL and must SURVIVE (DELETE semantics)
    val v3 = LakeWriter.deleteFromSnapshot(spark, t,
      $"k" <= 5L && $"v" =!= "val3")
    assert(v3 == 3L)
    val now = LakeWriter.readSnapshot(spark, t)
    assert(now.count() == 16)                  // 1,2,4,5 deleted
    assert(now.where($"k" === 3L).count() == 1) // NULL predicate row kept
    assert(now.where($"k" <= 5L && $"k" =!= 3L).count() == 0)
    // v2's files carried by reference; a v1 file was rewritten
    val after = LakeWriter.snapshotFiles(spark, t, 3L).toSet
    val v2Files = before.filter(_.contains("/data/v2-"))
    assert(v2Files.nonEmpty && v2Files.forall(after))
    assert(before.filter(_.contains("/data/v1-")).exists(f => !after(f)))
    // time travel still reads the pre-delete state
    assert(LakeWriter.readSnapshot(spark, t, Some(2L)).count() == 20)
    // a no-match delete commits nothing
    assert(LakeWriter.deleteFromSnapshot(spark, t, $"k" === 999L) == 3L)
    assert(LakeWriter.snapshotVersions(spark, t) == Seq(1L, 2L, 3L))
  }

  test("partitioned delete never opens excluded partitions") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_delp")
      .toString + "/tbl"
    LakeWriter.commitSnapshotDynamic(
      Seq((1, 1L, "a"), (2, 2L, "b"), (2, 3L, "c"))
        .toDF("day", "k", "v"), t, Seq("day"))
    // corrupt day=1's file in place: a partition-pruned delete on
    // day=2 must succeed without ever opening it
    LakeWriter.snapshotFiles(spark, t, 1L)
      .filter(_.contains("/day=1/")).foreach { f =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f.stripPrefix("file:")),
          "not parquet".getBytes)
      }
    val v2 = LakeWriter.deleteFromSnapshot(spark, t,
      $"day" === 2 && $"k" === 2L)
    assert(v2 == 2L)
    val now = LakeWriter.readSnapshot(spark, t)
    assert(now.where($"day" === 2).as[(Int, Long, String)].collect()
      .toSet == Set((2, 3L, "c")))
    // day=1's (corrupted) file carried by reference, partition
    // metadata survives the delete
    val after = LakeWriter.snapshotFiles(spark, t, 2L)
    assert(after.exists(_.contains("/day=1/")))
    assert(LakeWriter.snapshotPartitionCols(spark, t, 2L) == Seq("day"))
  }

  test("stat-pruned delete never opens files the manifest disproves") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_delstat")
      .toString + "/tbl"
    // range-clustered UNPARTITIONED commit: per-file (min,max) k
    // stats land in the manifest — the only pruning evidence here
    LakeWriter.commitSnapshot(
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(8, $"k"), t)
    // corrupt every file whose k-range is outside the delete band:
    // if the matched-file probe ever opened them, the delete dies
    val files = LakeWriter.snapshotFiles(spark, t, 1L)
    val inBand = files.filter { f =>
      val ks = spark.read.parquet(f).agg(min($"k"), max($"k"))
        .as[(Long, Long)].head()
      ks._1 <= 60L && ks._2 >= 41L
    }.toSet
    assert(inBand.size < files.size, "need prunable files")
    files.filterNot(inBand).foreach { f =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f.stripPrefix("file:")),
        "not parquet".getBytes): Unit
    }
    val v2 = LakeWriter.deleteFromSnapshot(spark, t,
      $"k" >= 41L && $"k" <= 60L)
    assert(v2 == 2L)
    // corrupted out-of-band files carried by reference, untouched
    val after = LakeWriter.snapshotFiles(spark, t, 2L).toSet
    assert(files.filterNot(inBand).forall(after.contains))
    // and a delete the stats DISPROVE entirely is a no-op version
    assert(LakeWriter.deleteFromSnapshot(spark, t, $"k" > 100000L) == 2L)
  }

  test("changesBetween reads only delta files; collapse nets rewrites") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_cdc").toString +
      "/tbl"
    LakeWriter.commitSnapshot(
      (1 to 10).map(i => (i.toLong, s"val$i")).toDF("k", "v"), t,
      "overwrite")
    LakeWriter.commitSnapshot(
      (11 to 20).map(i => (i.toLong, s"val$i")).toDF("k", "v"), t,
      "append")
    // append delta: pure inserts
    val c12 = LakeWriter.changesBetween(spark, t, 1L, 2L)
    assert(c12.where($"_change_type" === "insert").count() == 10)
    assert(c12.where($"_change_type" === "delete").count() == 0)
    // merge: update key 5, insert key 100 — collapse must cancel the
    // rewrite noise (keys 1-4,6-10 re-landed unchanged) down to the
    // net: delete (5,val5), insert (5,updated), insert (100,new)
    LakeWriter.mergeSnapshot(
      Seq((5L, "updated"), (100L, "new")).toDF("k", "v"), t, Seq("k"))
    val c23 = LakeWriter.changesBetween(spark, t, 2L, 3L)
    assert(c23.as[(Long, String, String)].collect().toSet == Set(
      (5L, "val5", "delete"), (5L, "updated", "insert"),
      (100L, "new", "insert")))
    // the uncollapsed feed replays every row of the rewritten
    // file(s): it must carry the genuine delete plus delete+insert
    // pairs for any unchanged rows that shared a file with key 5
    val raw23 = LakeWriter.changesBetween(spark, t, 2L, 3L,
      collapse = false)
    val rawDel = raw23.where($"_change_type" === "delete")
      .as[(Long, String, String)].collect().toSet
    assert(rawDel.contains((5L, "val5", "delete")))
    val rewriteNoise = rawDel - ((5L, "val5", "delete"))
    rewriteNoise.foreach { case (k, v, _) =>
      assert(raw23.where($"_change_type" === "insert" &&
        $"k" === k && $"v" === v).count() == 1,
        s"unchanged row ($k,$v) must re-land as an insert")
    }
    // carried files are NEVER opened: corrupt the v2 append files in
    // place — the v2→v3 feed only touches the v1-rewrite delta
    LakeWriter.snapshotFiles(spark, t, 3L)
      .filter(_.contains("/data/v2-")).foreach { f =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f.stripPrefix("file:")),
          "not parquet".getBytes)
      }
    assert(LakeWriter.changesBetween(spark, t, 2L, 3L).count() == 3)
    // identical versions: an empty, typed feed
    assert(LakeWriter.changesBetween(spark, t, 3L, 3L).columns
      .contains("_change_type"))
    assert(LakeWriter.changesBetween(spark, t, 3L, 3L).count() == 0)
  }

  test("append commits evolve schema checked: add ok, drift refused") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_evo").toString +
      "/tbl"
    LakeWriter.commitSnapshot(
      Seq((1L, "a")).toDF("k", "v"), t, "overwrite")
    // adding a column: old rows read it back NULL
    LakeWriter.commitSnapshot(
      Seq((2L, "b", 7.5)).toDF("k", "v", "score"), t, "append")
    val now = LakeWriter.readSnapshot(spark, t)
    assert(now.columns.toSeq == Seq("k", "v", "score"))
    assert(now.where($"k" === 1L).head().isNullAt(2))
    assert(now.where($"k" === 2L).head().getDouble(2) == 7.5)
    // omitting a column: the new rows read it back NULL
    LakeWriter.commitSnapshot(Seq(3L).toDF("k"), t, "append")
    val n2 = LakeWriter.readSnapshot(spark, t)
    assert(n2.where($"k" === 3L).head().isNullAt(1))
    assert(n2.count() == 3)
    // NON-widening type drift on a shared column refuses loudly
    // (int k would widen fine; string k cannot)
    val e = intercept[IllegalArgumentException] {
      LakeWriter.commitSnapshot(Seq(("x", "d")).toDF("k", "v"), t, "append")
    }
    assert(e.getMessage.contains("append type mismatch"))
    assert(e.getMessage.contains("not a lossless widening"))
    // CDC across the evolution: the old-schema delete side aligns
    val c = LakeWriter.changesBetween(spark, t, 1L, 3L)
    assert(c.where($"_change_type" === "insert").count() == 2)
  }

  test("append widens shared columns losslessly (int->long, float->double)") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_widen")
      .toString + "/tbl"
    // v1 commits (int, float); the append arrives (long, double) —
    // Delta-style type widening: the committed schema takes the wider
    // type and the carried int/float files read under it (parquet
    // widening promotion), no rewrite
    LakeWriter.commitSnapshot(
      Seq((1, 1.5f)).toDF("k", "x"), t)
    LakeWriter.commitSnapshot(
      Seq((6000000000L, 2.5d)).toDF("k", "x"), t, "append")
    val out = LakeWriter.readSnapshot(spark, t)
    assert(out.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.schema("x").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(out.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 1.5), (6000000000L, 2.5)))
    // the NARROW direction also lands (values fit; committed schema
    // keeps the wider table type; the new int file reads as long)
    LakeWriter.commitSnapshot(
      Seq((7, 3.5f)).toDF("k", "x"), t, "append")
    val out2 = LakeWriter.readSnapshot(spark, t)
    assert(out2.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out2.count() == 3 &&
      out2.where($"k" === 7L).head().getDouble(1) == 3.5)
    // widened tables stay mergeable and CDC-able
    LakeWriter.mergeSnapshot(
      Seq((7L, 9.5d)).toDF("k", "x"), t, Seq("k"))
    assert(LakeWriter.readSnapshot(spark, t)
      .where($"k" === 7L).head().getDouble(1) == 9.5)
    val feed = LakeWriter.changesBetween(spark, t, 3L, 4L)
    assert(feed.where($"_change_type" === "insert" && $"k" === 7L)
      .head().getDouble(1) == 9.5)
  }

  test("partitioned merge never opens untouched partitions") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_mergepp")
      .toString + "/tbl"
    LakeWriter.commitSnapshotDynamic(
      Seq((1, 1L, "a"), (2, 2L, "b")).toDF("day", "k", "v"), t, Seq("day"))
    // corrupt day=1's data file IN PLACE: if the probe or rewrite ever
    // opened it, the merge would throw — partition pruning means it
    // must succeed without noticing
    val day1 = LakeWriter.snapshotFiles(spark, t, 1L)
      .filter(_.contains("/day=1/"))
    assert(day1.nonEmpty)
    day1.foreach { f =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f.stripPrefix("file:")),
        "not parquet".getBytes)
    }
    val v2 = LakeWriter.mergeSnapshot(
      Seq((2, 2L, "b2")).toDF("day", "k", "v"), t, Seq("day", "k"))
    assert(v2 == 2L)
    assert(LakeWriter.readSnapshot(spark, t)
      .where($"day" === 2).head().getString(2) == "b2")
  }

  test("Views serves ad-hoc SQL over the raw zone") {
    val top = Views.sql(spark, TestSpark.sfDir,
      "SELECT o_orderpriority, count(*) n FROM orders GROUP BY 1")
    assert(top.count() == 5)
  }

  test("sinkToLake lands streaming aggregates as dynamic partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val agg = Speed.windowedAgg(Speed.eventStream(spark, TestSpark.sfDir))
      .withColumn("day", to_date($"window_start"))
    val q = Speed.sinkToLake(agg, s"$out/speed_agg", Seq("day"), ckpt)
    q.awaitTermination()
    val back = spark.read.parquet(s"$out/speed_agg")
    val batch = Tables.load(spark, TestSpark.sfDir, "events")
      .groupBy(date_trunc("day", $"ts").as("window_start"), $"event_type")
      .agg(count(lit(1)).as("n"))
    assert(back.select("window_start", "event_type").distinct().count() ==
      batch.count())
  }

  test("two partition columns: concatenation-ambiguous keys stay distinct") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_2pc")
      .toString + "/tbl"
    // (a=1,b=11) and (a=11,b=1) concatenate identically without a
    // separator — an unseparated partition key would treat them as the
    // SAME partition and silently drop the untouched one's files on a
    // dynamic overwrite (the r7 ADVICE data-loss scenario)
    LakeWriter.commitSnapshotDynamic(
      Seq(("1", "11", "x"), ("11", "1", "y")).toDF("a", "b", "v"),
      t, Seq("a", "b"))
    LakeWriter.commitSnapshotDynamic(
      Seq(("1", "11", "x2")).toDF("a", "b", "v"), t, Seq("a", "b"))
    val snap = LakeWriter.readSnapshot(spark, t)
    assert(snap.count() == 2, s"collided partition dropped: ${snap.collect().toSeq}")
    assert(snap.where($"a" === "11" && $"b" === "1").head().getString(2) == "y")
    assert(snap.where($"a" === "1" && $"b" === "11").head().getString(2) == "x2")
    // (a=11,b=1)'s file must be the PHYSICAL v1 file, carried untouched
    val v1b = LakeWriter.snapshotFiles(spark, t, 1L)
      .filter(_.contains("a=11/")).toSet
    assert(v1b.nonEmpty &&
      v1b.subsetOf(LakeWriter.snapshotFiles(spark, t, 2L).toSet))
    // same ambiguity through the partitioned MERGE path: only the
    // touched (a=1,b=11) partition may be probed/rewritten
    val v3 = LakeWriter.mergeSnapshot(
      Seq(("1", "11", "x3")).toDF("a", "b", "v"), t, Seq("a", "b"))
    assert(v3 == 3L)
    val m = LakeWriter.readSnapshot(spark, t)
    assert(m.count() == 2)
    assert(m.where($"a" === "11" && $"b" === "1").head().getString(2) == "y")
    assert(m.where($"a" === "1" && $"b" === "11").head().getString(2) == "x3")
  }

  test("change-feed cursor: atomic advance, stale tmp harmless") {
    import graft.sources.LakeWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_cur").toString
    val t = s"$dir/tbl"; val cursor = s"$dir/cursor"
    LakeWriter.commitSnapshot(Seq((1L, "a")).toDF("k", "v"), t)
    LakeWriter.commitSnapshot(Seq((2L, "b")).toDF("k", "v"), t, "append")
    var seen = Seq.empty[Long]
    LakeWriter.processNewVersions(spark, t, cursor) { (_, v) => seen :+= v }
    assert(seen == Seq(1L, 2L))
    // the advance is a single overwrite-rename: no tmp may survive it
    val left = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.contains(".tmp"))
    assert(left.isEmpty, s"tmp cursor left behind: ${left.toSeq}")
    // a stale tmp from a crashed attempt must not break the next
    // advance (rename OVERWRITE replaces both cursor and tmp cleanly)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".cursor.tmp"), "999".getBytes)
    LakeWriter.commitSnapshot(Seq((3L, "c")).toDF("k", "v"), t, "append")
    seen = Seq.empty
    LakeWriter.processNewVersions(spark, t, cursor) { (_, v) => seen :+= v }
    assert(seen == Seq(3L))
    // and the cursor file itself holds the last processed version
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cursor)), "UTF-8").trim == "3")
  }

  test("MV refresh: all-null delta sum must not wipe accumulated totals") {
    import graft.sources.{LakeWriter, Materialized}
    val dir = java.nio.file.Files.createTempDirectory("graft_mvn").toString
    val src = s"$dir/src"; val mv = s"$dir/mv"; val cur = s"$dir/cursor"
    LakeWriter.commitSnapshot(
      Seq(("g1", Some(10L)), ("g1", Some(5L)), ("g2", Some(7L)))
        .toDF("g", "x"), src)
    Materialized.refreshAgg(spark, src, mv, cur, Seq("g"), Seq("x"))
    // commit 2: g1 gains a row whose x is NULL — the group's delta sum
    // is NULL and an unguarded merge would null out the stored 15
    LakeWriter.commitSnapshot(
      Seq(("g1", None: Option[Long])).toDF("g", "x"), src, "append")
    Materialized.refreshAgg(spark, src, mv, cur, Seq("g"), Seq("x"))
    val out = LakeWriter.readSnapshot(spark, mv)
      .orderBy("g").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("g1", 3L, 15L), ("g2", 1L, 7L)))
  }

  test("data skipping: stat-pruned reads never open excluded files") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_skip")
      .toString + "/tbl"
    // range-clustered commit → files hold disjoint k ranges, the
    // layout a daily load / optimize / Z-order naturally produces
    val df = spark.range(0, 100).toDF("k")
      .withColumn("v", concat(lit("s"), $"k"))
      .repartitionByRange(4, $"k")
    LakeWriter.commitSnapshot(df, t)
    // footer stats landed in the manifest for both columns
    val stats = minMaxStats(t, 1L)
    assert(stats.nonEmpty && stats.values.forall(_.contains("k")))
    // locate the one file holding k=5, corrupt EVERY other file —
    // a stat-pruned point read must succeed without opening them
    val withFile = spark.read.parquet(LakeWriter.snapshotFiles(spark, t, 1L): _*)
      .select($"k", regexp_extract(input_file_name(), "[^/]+$", 0).as("f"))
    val keepFile = withFile.where($"k" === 5).head().getString(1)
    LakeWriter.snapshotFiles(spark, t, 1L)
      .filterNot(_.endsWith(keepFile)).foreach { f =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f.stripPrefix("file:")),
          "not parquet".getBytes)
      }
    assert(LakeWriter.readSnapshotWhere(spark, t, $"k" === 5)
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // compound shapes prune too: AND, IN, literal-first comparison
    assert(LakeWriter.readSnapshotWhere(spark, t,
      $"k" >= 3 && $"k" <= 7).count() == 5)
    assert(LakeWriter.readSnapshotWhere(spark, t,
      $"k".isin(4, 6)).count() == 2)
    assert(LakeWriter.readSnapshotWhere(spark, t,
      lit(8) > $"k" && $"k" > 2).count() == 5)
    // a predicate proven empty by stats reads NOTHING (typed empty)
    val none = LakeWriter.readSnapshotWhere(spark, t, $"k" === 1000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v"))
  }

  test("data skipping: timestamp and date bands prune files") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_skip_ts")
      .toString + "/tbl"
    // hourly clustered commit — the time-series layout a daily load
    // produces; k=0..95 spans 4 range files of 24 rows each
    val df = spark.range(0, 96).toDF("k")
      .withColumn("ts", expr("timestamp_seconds(1700000000 + k * 3600)"))
      .withColumn("d", expr("date_add(date'2024-01-01', cast(k as int))"))
      .repartitionByRange(4, $"k")
    LakeWriter.commitSnapshot(df, t)
    val stats = minMaxStats(t, 1L)
    assert(stats.nonEmpty, "manifest carries stats")
    assert(stats.values.forall(m => m.contains("ts") && m.contains("d")),
      s"temporal columns have stats: $stats")
    // corrupt every file except the one holding k=10 — temporal
    // predicates must serve from stats without opening the rest
    val withFile = spark.read
      .parquet(LakeWriter.snapshotFiles(spark, t, 1L): _*)
      .select($"k", regexp_extract(input_file_name(), "[^/]+$", 0).as("f"))
    val keepFile = withFile.where($"k" === 10).head().getString(1)
    LakeWriter.snapshotFiles(spark, t, 1L)
      .filterNot(_.endsWith(keepFile)).foreach { f =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(f.stripPrefix("file:")),
          "not parquet".getBytes)
      }
    def tsAt(k: Long) = new java.sql.Timestamp((1700000000L + k * 3600) * 1000)
    // Timestamp band, Instant equality, Date equality, LocalDate band
    assert(LakeWriter.readSnapshotWhere(spark, t,
        $"ts" >= lit(tsAt(10)) && $"ts" < lit(tsAt(12)))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L))
    assert(LakeWriter.readSnapshotWhere(spark, t,
        $"ts" === lit(java.time.Instant.ofEpochSecond(1700000000L + 11 * 3600)))
      .count() == 1)
    assert(LakeWriter.readSnapshotWhere(spark, t,
        $"d" === lit(java.sql.Date.valueOf("2024-01-11")))
      .collect().map(_.getLong(0)).toSeq == Seq(10L))
    assert(LakeWriter.readSnapshotWhere(spark, t,
        $"d" >= lit(java.time.LocalDate.parse("2024-01-11")) &&
        $"d" <= lit(java.time.LocalDate.parse("2024-01-13")))
      .count() == 3)
    // proven-empty band: nothing opened, typed empty result
    assert(LakeWriter.readSnapshotWhere(spark, t,
      $"ts" >= lit(tsAt(1000))).count() == 0)
  }

  test("data skipping: conservative on unsupported shapes, carried stats") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_skip2")
      .toString + "/tbl"
    LakeWriter.commitSnapshot(
      spark.range(0, 50).toDF("k")
        .withColumn("v", concat(lit("s"), $"k"))
        .repartitionByRange(2, $"k"), t)
    // unsupported predicate shape (function of a column): full scan,
    // exact result
    assert(LakeWriter.readSnapshotWhere(spark, t,
      length($"v") === 2).count() == 10)
    // string stats prune ASCII ranges
    assert(LakeWriter.readSnapshotWhere(spark, t, $"v" === "s7")
      .count() == 1)
    // append: v2's manifest must CARRY v1's file stats (no re-read)
    LakeWriter.commitSnapshot(
      spark.range(50, 60).toDF("k")
        .withColumn("v", concat(lit("s"), $"k")), t, "append")
    val v1Files = LakeWriter.snapshotFiles(spark, t, 1L)
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    val s2 = minMaxStats(t, 2L)
    assert(v1Files.subsetOf(s2.keySet))
    assert(LakeWriter.readSnapshotWhere(spark, t, $"k" >= 55)
      .count() == 5)
    // stats survive MERGE-carried files and the rewrite gets fresh ones
    LakeWriter.mergeSnapshot(
      Seq((55L, "z")).toDF("k", "v"), t, Seq("k"))
    assert(LakeWriter.readSnapshotWhere(spark, t, $"v" === "z")
      .count() == 1)
    val s3 = minMaxStats(t, 3L)
    assert(LakeWriter.snapshotFiles(spark, t, 3L).forall(f =>
      s3.contains(f.substring(f.lastIndexOf('/') + 1))))
  }

  test("null-count skipping: IS NULL, IS NOT NULL, all-null comparisons") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_nullskip")
      .toString + "/tbl"
    // three commits → three files with distinct null profiles in v:
    // clean (0 nulls), mixed, all-NULL
    LakeWriter.commitSnapshot(
      spark.range(0, 10).toDF("k").withColumn("v", $"k" * 2)
        .coalesce(1), t)
    LakeWriter.commitSnapshot(
      spark.range(10, 20).toDF("k")
        .withColumn("v", when($"k" % 2 === 0, $"k" * 2))
        .coalesce(1), t, "append")
    LakeWriter.commitSnapshot(
      spark.range(20, 30).toDF("k")
        .withColumn("v", lit(null).cast("long"))
        .coalesce(1), t, "append")
    def fileOf(lo: Long): String = spark.read
      .parquet(LakeWriter.snapshotFiles(spark, t, 3L): _*)
      .select($"k", regexp_extract(input_file_name(), "[^/]+$", 0).as("f"))
      .where($"k" === lo).head().getString(1)
    val (clean, mixed, allNull) = (fileOf(0), fileOf(10), fileOf(20))
    def corrupt(names: String*): Unit =
      LakeWriter.snapshotFiles(spark, t, 3L)
        .filter(f => names.exists(f.endsWith)).foreach { f =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f.stripPrefix("file:")),
            "not parquet".getBytes)
        }
    // IS NULL opens only files with nulls: corrupt the clean one
    corrupt(clean)
    assert(LakeWriter.readSnapshotWhere(spark, t, $"v".isNull)
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((11L to 19L by 2) ++ (20L to 29L)).sorted)
    // IS NOT NULL and comparisons never open the all-NULL file;
    // the mixed file serves both (restore state: corrupt allNull too)
    corrupt(allNull)
    // clean is corrupt — restrict to the mixed file's k range so the
    // pruned read touches mixed only: nulls prove allNull out, stats
    // prove clean out
    assert(LakeWriter.readSnapshotWhere(spark, t,
        $"v".isNotNull && $"k" >= 10L)
      .collect().map(_.getLong(0)).sorted.toSeq == (10L to 18L by 2))
    assert(LakeWriter.readSnapshotWhere(spark, t, $"v" >= 20L && $"k" >= 10L)
      .collect().map(_.getLong(0)).sorted.toSeq == (10L to 18L by 2))
    // the manifest actually carries the three profiles
    val full = LakeWriter.manifest(spark, t, 3L).stats
    assert(full(clean).cols("v").nulls.contains(0L))
    assert(full(mixed).cols("v").nulls.contains(5L))
    assert(full(allNull).cols("v") ==
      LakeWriter.ColStat(None, None, Some(10L)))
    assert(full.values.forall(_.rows.contains(10L)))
  }

  test("metadata-only row count: exact with every data file corrupted") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_count")
      .toString + "/tbl"
    LakeWriter.commitSnapshot(
      spark.range(0, 100).toDF("k").repartitionByRange(4, $"k"), t)
    LakeWriter.commitSnapshot(spark.range(100, 130).toDF("k"), t, "append")
    LakeWriter.deleteFromSnapshot(spark, t, $"k" < 20L)
    // 130 - 20 deleted = 110, and the answer must come from the
    // MANIFEST alone: corrupt every data file first
    LakeWriter.snapshotFiles(spark, t, 3L).foreach { f =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f.stripPrefix("file:")),
        "not parquet".getBytes)
    }
    assert(LakeWriter.snapshotRowCount(spark, t) == 110L)
    // version pinning: the pre-delete count still answers
    assert(LakeWriter.snapshotRowCount(spark, t, Some(2L)) == 130L)
    assert(LakeWriter.snapshotRowCount(spark, t, Some(1L)) == 100L)
  }

  test("timestamp time travel: as-of resolves the version current at t") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_tt")
      .toString + "/tbl"
    LakeWriter.commitSnapshot(spark.range(0, 5).toDF("k"), t)
    val afterV1 = LakeWriter.snapshotTimestamps(spark, t).last._2
    while (System.currentTimeMillis() <= afterV1) Thread.sleep(1)
    LakeWriter.commitSnapshot(spark.range(5, 9).toDF("k"), t, "append")
    val ts = LakeWriter.snapshotTimestamps(spark, t)
    assert(ts.map(_._1) == Seq(1L, 2L) && ts(1)._2 > ts(0)._2)
    assert(LakeWriter.versionAsOfTimestamp(spark, t, afterV1) == 1L)
    assert(LakeWriter.readSnapshotAsOfTimestamp(spark, t, afterV1)
      .count() == 5)
    assert(LakeWriter.versionAsOfTimestamp(spark, t,
      System.currentTimeMillis()) == 2L)
    // before v1: no version existed — loud failure, not silence
    intercept[IllegalArgumentException] {
      LakeWriter.versionAsOfTimestamp(spark, t, ts(0)._2 - 1)
    }
  }

  test("column mapping: rename/drop are metadata-only, no resurrection") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_colmap")
      .toString + "/tbl"
    LakeWriter.commitSnapshot(
      spark.range(0, 20).toDF("k").withColumn("v", $"k" * 10)
        .repartitionByRange(2, $"k"), t)
    val v1Files = LakeWriter.snapshotFiles(spark, t, 1L).toSet
    // RENAME is metadata-only: same files, new logical name
    assert(LakeWriter.renameColumn(spark, t, "v", "w") == 2L)
    assert(LakeWriter.snapshotFiles(spark, t, 2L).toSet == v1Files)
    assert(LakeWriter.readSnapshot(spark, t).columns.toSeq == Seq("k", "w"))
    assert(LakeWriter.readSnapshot(spark, t).agg(sum($"w")).head.getLong(0)
      == (0 until 20).map(_ * 10).sum)
    // time travel serves the OLD name at the old version
    assert(LakeWriter.readSnapshot(spark, t, Some(1L)).columns.toSeq ==
      Seq("k", "v"))
    // appends + merges keep writing the PHYSICAL name under the hood
    LakeWriter.commitSnapshot(
      spark.range(20, 25).toDF("k").withColumn("w", $"k" * 10), t, "append")
    LakeWriter.mergeSnapshot(
      Seq((24L, 999L)).toDF("k", "w"), t, Seq("k"))
    assert(LakeWriter.readSnapshot(spark, t).where($"k" === 24)
      .head.getLong(1) == 999L)
    assert(LakeWriter.readSnapshotWhere(spark, t, $"w" === 999L)
      .count() == 1)
    // DROP + re-add: the tombstone forces a fresh physical name, so
    // the old bytes must NOT come back
    assert(LakeWriter.dropColumn(spark, t, "w") > 0)
    assert(LakeWriter.readSnapshot(spark, t).columns.toSeq == Seq("k"))
    LakeWriter.commitSnapshot(
      spark.range(25, 30).toDF("k").withColumn("w", lit(7L)), t, "append")
    val rows = LakeWriter.readSnapshot(spark, t)
      .select($"k", $"w").collect()
    assert(rows.filter(_.getLong(0) < 25).forall(_.isNullAt(1)),
      "dropped data resurrected through re-added column name")
    assert(rows.filter(_.getLong(0) >= 25).forall(_.getLong(1) == 7L))
    // a CHECK referencing a column blocks its rename/drop
    LakeWriter.addCheck(spark, t, "w_pos", "w >= 0 OR w IS NULL")
    intercept[IllegalArgumentException] {
      LakeWriter.renameColumn(spark, t, "w", "z") }
    intercept[IllegalArgumentException] { LakeWriter.dropColumn(spark, t, "w") }
    LakeWriter.dropCheck(spark, t, "w_pos")
    // RESTORE across the rename serves that version's schema
    LakeWriter.restoreSnapshot(spark, t, 2L)
    assert(LakeWriter.readSnapshot(spark, t).columns.toSeq == Seq("k", "w"))
    assert(LakeWriter.readSnapshot(spark, t).count() == 20)
    // data skipping prunes on the RENAMED column: stats stay keyed by
    // the physical name and translate — corrupt the low-range file,
    // read the high band through w without opening it
    val lowFile = spark.read.parquet(v1Files.toSeq: _*)
      .select($"k", regexp_extract(input_file_name(), "[^/]+$", 0).as("f"))
      .where($"k" === 0).head().getString(1)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(v1Files.find(_.endsWith(lowFile)).get
        .stripPrefix("file:")), "not parquet".getBytes)
    assert(LakeWriter.readSnapshotWhere(spark, t, $"w" >= 100L)
      .collect().map(_.getLong(0)).sorted.toSeq == (10L to 19L))
  }

  test("OPTIMIZE ZORDER: every listed dimension prunes after rewrite") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_zorder")
      .toString + "/tbl"
    // 64x64 grid committed row-major (range by i ⇒ y-clustered):
    // an x-band intersects EVERY file before z-ordering
    val df = spark.range(0, 4096).toDF("i")
      .withColumn("x", $"i" % 64)
      .withColumn("y", ($"i" / 64).cast("long"))
      .withColumn("payload", md5(concat($"i")))
      .repartitionByRange(16, $"i").drop("i")
    LakeWriter.commitSnapshot(df, t)
    def filesIntersecting(v: Long, c1: String, b1: (Long, Long),
                          c2: String, b2: (Long, Long)): Int =
      minMaxStats(t, v).values.count { m =>
        (m.get(c1), m.get(c2)) match {
          case (Some((lo1, hi1)), Some((lo2, hi2))) =>
            BigDecimal(lo1) <= b1._2 && BigDecimal(hi1) >= b1._1 &&
            BigDecimal(lo2) <= b2._2 && BigDecimal(hi2) >= b2._1
          case _ => true
        }
      }
    assert(filesIntersecting(1L, "x", (0L, 7L), "y", (0L, 63L)) == 16,
      "row-major layout: an x band touches every file")
    val v2 = LakeWriter.optimizeSnapshot(spark, t,
      targetBytes = 16L << 10, zorderBy = Seq("x", "y"))
    assert(v2 == 2L)
    // post-zorder: each file owns a compact Z-range ⇒ a small
    // hyper-rectangle; the same x band now touches a minority
    val nFiles = LakeWriter.snapshotFiles(spark, t, v2).size
    val touched = filesIntersecting(v2, "x", (0L, 7L), "y", (0L, 63L))
    assert(touched <= nFiles / 2,
      s"x band touches $touched of $nFiles post-zorder files")
    // rows survive the rewrite byte-identically
    assert(LakeWriter.readSnapshot(spark, t).count() == 4096)
    assert(LakeWriter.readSnapshot(spark, t)
      .agg(sum(hash($"x", $"y", $"payload"))).head ==
      LakeWriter.readSnapshot(spark, t, Some(1L))
        .agg(sum(hash($"x", $"y", $"payload"))).head)
    // change feed across the zorder version is empty (rows unchanged)
    // — asserted BEFORE corruption: the collapse reads delta files
    assert(LakeWriter.changesBetween(spark, t, 1L, v2).count() == 0)
    // and a 2D box serves correctly through the pruned path: corrupt
    // every file whose stats exclude the box, then read through it
    val box = $"x" >= 0 && $"x" <= 7 && $"y" >= 0 && $"y" <= 7
    val stats = minMaxStats(t, v2)
    LakeWriter.snapshotFiles(spark, t, v2).filter { f =>
      val bn = f.substring(f.lastIndexOf('/') + 1)
      stats.get(bn).exists { m =>
        val (xlo, xhi) = m("x"); val (ylo, yhi) = m("y")
        BigDecimal(xlo) > 7 || BigDecimal(xhi) < 0 ||
        BigDecimal(ylo) > 7 || BigDecimal(yhi) < 0
      }
    }.foreach { f =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f.stripPrefix("file:")),
        "not parquet".getBytes)
    }
    assert(LakeWriter.readSnapshotWhere(spark, t, box).count() == 64)
  }

  test("restoreSnapshot rolls back as a new commit, history intact") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_restore")
      .toString + "/tbl"
    LakeWriter.commitSnapshot(
      spark.range(0, 10).toDF("k").withColumn("v", $"k" * 2), t)
    LakeWriter.commitSnapshot(
      spark.range(10, 20).toDF("k").withColumn("v", $"k" * 2), t, "append")
    LakeWriter.deleteFromSnapshot(spark, t, $"k" < 5)
    assert(LakeWriter.readSnapshot(spark, t).count() == 15)
    val v4 = LakeWriter.restoreSnapshot(spark, t, 1L)
    assert(v4 == 4L)
    // latest is v1's content again
    assert(LakeWriter.readSnapshot(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    // interim history still time-travels
    assert(LakeWriter.readSnapshot(spark, t, Some(3L)).count() == 15)
    // the change feed shows exactly the rollback: resurrected rows as
    // inserts, post-restore-point rows as deletes (5..9 carried in
    // both states cancel)
    val feed = LakeWriter.changesBetween(spark, t, 3L, v4)
    val ins = feed.where($"_change_type" === "insert")
      .select($"k").collect().map(_.getLong(0)).sorted.toSeq
    val del = feed.where($"_change_type" === "delete")
      .select($"k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ins == (0L until 5L), s"inserts: $ins")
    assert(del == (10L until 20L), s"deletes: $del")
    // restore to the current version is a no-op
    assert(LakeWriter.restoreSnapshot(spark, t, v4) == v4)
    // stats survive the restore (metadata-only): a band read prunes
    assert(LakeWriter.readSnapshotWhere(spark, t, $"k" === 3L)
      .count() == 1)
  }

  test("CHECK constraints: enforced on every commit path, droppable") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_check")
      .toString + "/tbl"
    LakeWriter.commitSnapshot(
      spark.range(0, 10).toDF("k").withColumn("v", $"k" * 2), t)
    LakeWriter.addCheck(spark, t, "v_nonneg", "v >= 0")
    // addCheck validates EXISTING data first: a violated add refuses
    intercept[IllegalArgumentException] {
      LakeWriter.addCheck(spark, t, "k_small", "k < 5")
    }
    // conforming append passes; violating append refuses ATOMICALLY
    LakeWriter.commitSnapshot(
      spark.range(10, 15).toDF("k").withColumn("v", $"k" * 2), t, "append")
    val vBefore = LakeWriter.snapshotVersions(spark, t).last
    intercept[IllegalArgumentException] {
      LakeWriter.commitSnapshot(
        spark.range(15, 20).toDF("k").withColumn("v", lit(-1L)), t,
        "append")
    }
    assert(LakeWriter.snapshotVersions(spark, t).last == vBefore)
    assert(LakeWriter.readSnapshot(spark, t).count() == 15)
    // SQL CHECK semantics: a NULL evaluation passes
    LakeWriter.commitSnapshot(
      spark.range(15, 16).toDF("k")
        .withColumn("v", lit(null).cast("long")), t, "append")
    // MERGE enforces on the update rows
    intercept[IllegalArgumentException] {
      LakeWriter.mergeSnapshot(Seq((0L, -5L)).toDF("k", "v"), t, Seq("k"))
    }
    LakeWriter.mergeSnapshot(Seq((0L, 100L)).toDF("k", "v"), t, Seq("k"))
    assert(LakeWriter.readSnapshot(spark, t)
      .where($"k" === 0L).head().getLong(1) == 100L)
    assert(LakeWriter.snapshotChecks(spark, t).keySet == Set("v_nonneg"))
    // dropped -> the same violating batch commits
    LakeWriter.dropCheck(spark, t, "v_nonneg")
    LakeWriter.commitSnapshot(
      spark.range(20, 21).toDF("k").withColumn("v", lit(-1L)), t, "append")
    assert(LakeWriter.snapshotChecks(spark, t).isEmpty)
    assert(LakeWriter.readSnapshot(spark, t).count() == 17)
  }

  test("optimizeSnapshot bin-packs small files, carries big by reference") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_opt")
      .toString + "/tbl"
    // five 1-row appends: the small-file pathology of incremental loads
    (1 to 5).foreach(i => LakeWriter.commitSnapshot(
      Seq((i.toLong, s"v$i")).toDF("k", "v"), t,
      if (i == 1) "overwrite" else "append"))
    val before = LakeWriter.snapshotFiles(spark, t, 5L)
    assert(before.size >= 5)
    val v = LakeWriter.optimizeSnapshot(spark, t)
    assert(v == 6L)
    val after = LakeWriter.snapshotFiles(spark, t, v)
    assert(after.size < before.size && after.size >= 1,
      s"no compaction: ${before.size} -> ${after.size}")
    // byte-identical rows; prior version untouched
    assert(LakeWriter.readSnapshot(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (1 to 5).map(i => (i.toLong, s"v$i")))
    assert(LakeWriter.readSnapshot(spark, t, Some(5L)).count() == 5)
    // the change feed across an optimize is EMPTY (pure rewrite noise)
    assert(LakeWriter.changesBetween(spark, t, 5L, 6L).count() == 0)
    // already-compacted: a second optimize is a no-op version-wise
    assert(LakeWriter.optimizeSnapshot(spark, t) == 6L)

    // partitioned twin: compaction stays within partitions and a big
    // (here: lone-small-file) partition is never opened — corrupt it
    val t2 = java.nio.file.Files.createTempDirectory("graft_optp")
      .toString + "/tbl"
    LakeWriter.commitSnapshotDynamic(
      Seq((1L, "d1"), (2L, "d1")).toDF("k", "day"), t2, Seq("day"))
    LakeWriter.commitSnapshotDynamic(
      Seq((3L, "d2")).toDF("k", "day"), t2, Seq("day"))
    // d1 re-lands as TWO small files (repartition(2) → two writer
    // tasks); d2 stays a lone small file, so it must not compact
    LakeWriter.commitSnapshotDynamic(
      Seq((1L, "d1"), (2L, "d1"), (9L, "d1")).toDF("k", "day")
        .repartition(2), t2, Seq("day"))
    val d1Before = LakeWriter.snapshotFiles(spark, t2, 3L)
      .filter(_.contains("day=d1"))
    val d2files = LakeWriter.snapshotFiles(spark, t2, 3L)
      .filter(_.contains("day=d2"))
    assert(d2files.size == 1)
    d2files.foreach { f =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f.stripPrefix("file:")),
        "not parquet".getBytes)
    }
    val v2 = LakeWriter.optimizeSnapshot(spark, t2)
    assert(v2 == 4L)
    assert(d1Before.size == 2)
    val d1After = LakeWriter.snapshotFiles(spark, t2, v2)
      .filter(_.contains("day=d1"))
    assert(d1After.size == 1, s"d1 not bin-packed: $d1After")
    assert(LakeWriter.snapshotFiles(spark, t2, v2)
      .filter(_.contains("day=d2")) == d2files)
    // partition pruning still reads d1 without touching corrupt d2
    assert(LakeWriter.readSnapshot(spark, t2)
      .where($"day" === "d1").count() == 3)
  }

  test("MV full refresh: extrema MV + cursor-aligned count/sum rebuild") {
    import graft.sources.{LakeWriter, Materialized}
    val dir = java.nio.file.Files.createTempDirectory("graft_mvf").toString
    val src = s"$dir/src"
    LakeWriter.commitSnapshot(
      Seq(("g1", 10L), ("g1", 5L), ("g2", 7L)).toDF("g", "x"), src)
    LakeWriter.deleteFromSnapshot(spark, src, $"x" === 10L)
    // extrema MV: min/max need the full scan after that delete — an
    // incremental merge could never lower the stale max
    Materialized.refreshFull(spark, src, s"$dir/mv_ext", Seq("g"),
      Seq("x"), minMaxCols = Seq("x"))
    val ext = LakeWriter.readSnapshot(spark, s"$dir/mv_ext")
      .orderBy("g").collect()
    assert(ext.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq ==
      Seq(("g1", 1L, 5L, 5L, 5L), ("g2", 1L, 7L, 7L, 7L)))
    // count/sum rebuild with cursor alignment: the next incremental
    // refresh must NOT replay the absorbed commits...
    val mv = s"$dir/mv"; val cur = s"$dir/cursor"
    Materialized.refreshFull(spark, src, mv, Seq("g"), Seq("x"),
      alignCursor = Some(cur))
    assert(Materialized.refreshAgg(spark, src, mv, cur, Seq("g"),
      Seq("x")).isEmpty)
    // ... and a genuinely new commit flows incrementally on top
    LakeWriter.commitSnapshot(Seq(("g2", 3L)).toDF("g", "x"), src,
      "append")
    assert(Materialized.refreshAgg(spark, src, mv, cur, Seq("g"),
      Seq("x")) == Seq(3L))
    val out = LakeWriter.readSnapshot(spark, mv).orderBy("g").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("g1", 1L, 5L), ("g2", 2L, 10L)))
  }

  test("unpartitioned merge works after additive schema evolution") {
    import graft.sources.LakeWriter
    val t = java.nio.file.Files.createTempDirectory("graft_evm")
      .toString + "/tbl"
    LakeWriter.commitSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    // evolve: append adds `score`; old files lack the column on disk
    LakeWriter.commitSnapshot(
      Seq((3L, "c", 7.5)).toDF("k", "v", "score"), t, "append")
    // merging with the evolved schema must succeed (no bogus
    // "predates partition metadata" refusal) and read the mixed-schema
    // file set under the committed schema
    val v = LakeWriter.mergeSnapshot(
      Seq((1L, "a9", 1.5)).toDF("k", "v", "score"), t, Seq("k"))
    assert(v == 3L)
    val out = LakeWriter.readSnapshot(spark, t).orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).getString(1) == "a9" && out(0).getDouble(2) == 1.5)
    assert(out(1).isNullAt(2))   // untouched old row: evolved col null
    assert(out(2).getDouble(2) == 7.5)
  }

  test("enrichStream joins stream rows to a static dim") {
    val dim = Tables.load(spark, TestSpark.sfDir, "events")
      .select($"event_type").distinct()
      .withColumn("type_tag", concat(lit("T_"), $"event_type"))
    val enriched = Speed.runToBatch(spark,
      Speed.enrichStream(Speed.eventStream(spark, TestSpark.sfDir), dim,
        Seq("event_type")),
      "t_enrich", OutputMode.Append())
    assert(enriched.count() == 1000)
    assert(enriched.where($"type_tag".isNull).count() == 0)
  }

  test("per-stage retry + 3-day backfillRange lands each partition exactly once") {
    val out = java.nio.file.Files.createTempDirectory("graft_retry").toString
    val allDates = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "events")
      .select(to_date($"ts").cast("string").as("d")).distinct()
      .collect().map(_.getString(0)).sorted
    val (d1, d2, d3) = (allDates(0), allDates(1), allDates(2))

    // a TRANSIENT fault on day 2's fact stage (fails attempt 0 only):
    // with retries=1 the stage re-runs and the day completes
    var factFaults = 0
    val flaky: (String, Int) => Unit = { (stage, attempt) =>
      if (stage == "fact" && attempt == 0 && factFaults == 0) {
        factFaults += 1
        throw new RuntimeException("injected transient fact failure")
      }
    }
    LakehousePipeline.runDate(spark, TestSpark.sfDir, out, d1)
    val r2 = LakehousePipeline.runDate(spark, TestSpark.sfDir, out, d2,
      retries = 1, probe = flaky)
    assert(factFaults == 1 && !r2.skipped && r2.factRows > 0)

    // retries EXHAUSTED: the failure surfaces, names the stage, and
    // the ledger does NOT record the date — no half-loaded day hides
    val always: (String, Int) => Unit = { (stage, _) =>
      if (stage == "fact")
        throw new RuntimeException("injected persistent fact failure")
    }
    val ex = intercept[RuntimeException] {
      LakehousePipeline.runDate(spark, TestSpark.sfDir, out, d3,
        retries = 1, probe = always)
    }
    assert(ex.getMessage.contains("'fact'"))
    assert(!LakehousePipeline.processedDates(spark, out).contains(d3))

    // 3-day range over [d1, d3]: d1/d2 ledger-skip, d3 loads — then a
    // RE-ISSUED range is all skips. Net effect: exactly one load per
    // date however often the range is submitted.
    val range = LakehousePipeline.backfillRange(spark, TestSpark.sfDir,
      out, d1, d3)
    assert(range.map(r => (r.date, r.skipped)) ==
      Seq((d1, true), (d2, true), (d3, false)))
    val again = LakehousePipeline.backfillRange(spark, TestSpark.sfDir,
      out, d1, d3)
    assert(again.forall(_.skipped))
    // exactly 3 fact partitions, one per date, no duplicates
    val fact = spark.read.parquet(s"$out/curated/fact_events")
    assert(fact.select($"date_sk").distinct().count() == 3)
    val perDay = fact.groupBy($"date_sk").count().collect()
      .map(_.getLong(1)).toSeq
    val expected = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "events")
      .where(to_date($"ts").isin(d1, d2, d3))
      .where($"user_id".isNotNull && $"ts".isNotNull)
      .groupBy(to_date($"ts")).count().collect().map(_.getLong(1)).toSeq
    assert(perDay.sorted == expected.sorted)
  }
}
