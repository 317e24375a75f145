package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics
import graft.sources.Tables
import graft.streaming.Speed

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming windowed agg equals the batch rollup") {
    val streamed = Speed.runToBatch(spark,
      Speed.windowedAgg(Speed.eventStream(spark, TestSpark.sfDir)),
      "t_window_agg", OutputMode.Complete())
    val batch = Tables.load(spark, TestSpark.sfDir, "events")
      .groupBy(date_trunc("day", $"ts").as("window_start"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming top-k serving view ranks the windowed rollup") {
    val streamed = Speed.runToBatch(spark,
      Speed.windowedAgg(Speed.eventStream(spark, TestSpark.sfDir)),
      "t_topk_agg", OutputMode.Complete())
    val out = Speed.topKPerWindow(streamed, k = 3)
    // <= 3 rows per window, ranks dense from 1, ordered by (n desc,
    // event_type asc) within each window
    val perWin = out.groupBy($"window_start")
      .agg(count(lit(1)).as("c"), collect_list($"rank").as("rs"))
      .collect()
    assert(perWin.nonEmpty)
    perWin.foreach { r =>
      val c = r.getAs[Long]("c")
      assert(c <= 3 &&
        r.getAs[scala.collection.Seq[Int]]("rs").sorted == (1 to c.toInt))
    }
    // rank 1 really is each window's max count (compared against the
    // rollup collected directly — a self-join of the memory sink view
    // would alias the same attribute ids)
    val maxN = streamed.collect()
      .groupBy(_.getAs[java.sql.Timestamp]("window_start"))
      .view.mapValues(_.map(_.getAs[Long]("n")).max).toMap
    out.where($"rank" === 1).collect().foreach { r =>
      assert(r.getAs[Long]("n") ==
        maxN(r.getAs[java.sql.Timestamp]("window_start")))
    }
  }

  test("streaming dedup emits each key once") {
    val streamed = Speed.runToBatch(spark,
      Speed.streamingDedup(Speed.eventStream(spark, TestSpark.sfDir),
        Seq("user_id", "event_type")).select($"user_id", $"event_type"),
      "t_dedup", OutputMode.Append())
    val batch = Tables.load(spark, TestSpark.sfDir, "events")
      .select($"user_id", $"event_type").distinct()
    assert(streamed.count() == batch.count())
  }

  test("stateful sessionizeStream emits closed sessions matching batch") {
    val streamed = Speed.runToBatch(spark,
      Speed.sessionizeStream(Speed.eventStream(spark, TestSpark.sfDir),
        gapMillis = 1800000L),
      "t_sessions", OutputMode.Append())
    val batch = Analytics.sessionize(
      Tables.load(spark, TestSpark.sfDir, "events"),
      "user_id", "ts", "value", 1800000L)
    // the open (= last) session per user stays in state; all closed
    // sessions must match the batch result exactly
    val closedBatch = batch.withColumn("__last",
        max($"session_start").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id")))
      .where($"session_start" =!= $"__last")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
    // session_value is compared with tolerance separately (stream and
    // batch accumulate doubles in different orders)
    val streamedSel = streamed.select($"user_id", $"session_start",
      $"session_end", $"n_events")
    assert(streamedSel.count() == closedBatch.count())
    assert(streamedSel.except(closedBatch).isEmpty)
    val valDiff = streamed.alias("s")
      .join(batch.alias("b"), Seq("user_id", "session_start"))
      .where(abs($"s.session_value" - $"b.session_value") > 0.011)
    assert(valDiff.isEmpty)
  }

  test("sessionizeStream with timeout flush emits expired open sessions too") {
    val streamed = Speed.runToBatch(spark,
      Speed.sessionizeStream(Speed.eventStream(spark, TestSpark.sfDir),
        gapMillis = 1800000L, flushOnTimeout = true, watermark = "1 hour"),
      "t_sessions_flush", OutputMode.Append())
    val batch = Analytics.sessionize(
      Tables.load(spark, TestSpark.sfDir, "events"),
      "user_id", "ts", "value", 1800000L)
    // every emitted session must exist in the batch result...
    assert(streamed.select("user_id", "session_start", "session_end",
        "n_events").except(
      batch.select("user_id", "session_start", "session_end", "n_events"))
      .isEmpty)
    // ...and expired open sessions (gap elapsed before the final
    // watermark) must now be included — strictly more than closed-only
    val closedOnly = Speed.runToBatch(spark,
      Speed.sessionizeStream(Speed.eventStream(spark, TestSpark.sfDir),
        gapMillis = 1800000L),
      "t_sessions_noflush", OutputMode.Append())
    assert(streamed.count() > closedOnly.count(),
      s"flush emitted ${streamed.count()} vs closed-only ${closedOnly.count()}")
  }

  test("dropDuplicatesWithinWatermark dedups with bounded state") {
    val streamed = Speed.runToBatch(spark,
      Speed.streamingDedupWithinWatermark(
        Speed.eventStream(spark, TestSpark.sfDir),
        Seq("user_id", "event_type")).select($"user_id", $"event_type"),
      "t_dedup_wm", OutputMode.Append())
    val batch = Tables.load(spark, TestSpark.sfDir, "events")
      .select($"user_id", $"event_type").distinct()
    // single source file = single micro-batch: within one batch the
    // bounded-state dedup sees every duplicate, so it equals DISTINCT
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty)
  }

  test("RocksDB state store provider runs stateful queries") {
    Speed.useRocksDBStateStore(spark)
    try {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
      val streamed = Speed.runToBatch(spark,
        Speed.streamingDedup(Speed.eventStream(spark, TestSpark.sfDir),
          Seq("user_id", "event_type")).select($"user_id", $"event_type"),
        "t_dedup_rocks", OutputMode.Append())
      val batch = Tables.load(spark, TestSpark.sfDir, "events")
        .select($"user_id", $"event_type").distinct()
      assert(streamed.count() == batch.count())
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("left-outer interval join emits unmatched clicks with null fill") {
    val ev = Speed.eventStream(spark, TestSpark.sfDir)
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"))
    val out = Speed.runToBatch(spark,
      Speed.intervalJoinLeft(clicks, purchases, "user_id",
        "click_ts", "purchase_ts", withinMillis = 3600000L),
      "t_interval_left", OutputMode.Append())

    val bev = Tables.load(spark, TestSpark.sfDir, "events")
    val bc = bev.where($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    val bp = bev.where($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"ts".as("purchase_ts"),
        $"event_id".as("purchase_id"))
    val inner = bc.join(bp, $"user_id" === $"p_uid" &&
      $"purchase_ts" > $"click_ts" &&
      $"purchase_ts" <= $"click_ts" + expr("INTERVAL 3600000 MILLISECOND"))
    // every matched pair the batch inner join finds must be present
    assert(out.where($"purchase_id".isNotNull)
      .select($"click_id", $"purchase_id")
      .except(inner.select($"click_id", $"purchase_id")).isEmpty)
    assert(out.where($"purchase_id".isNotNull).count() == inner.count())
    // null-filled rows are exactly clicks with NO purchase in the hour
    // (modulo trailing rows the final watermark cannot release)
    val unmatchedStream = out.where($"purchase_id".isNull)
      .select($"click_id")
    val unmatchedBatch = bc.join(
      inner.select($"click_id".as("m_id")),
      $"click_id" === $"m_id", "left_anti").select($"click_id")
    assert(unmatchedStream.except(unmatchedBatch).isEmpty)
    assert(unmatchedStream.count() > 0,
      "watermark never released any unmatched left rows")
  }

  test("Kafka source path: option wiring and payload decode") {
    val k = Speed.EventSource.Kafka("broker1:9092,broker2:9092", "events",
      startingOffsets = "latest", maxOffsetsPerTrigger = Some(50000L))
    val opts = Speed.kafkaOptions(k)
    assert(opts("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(opts("subscribe") == "events")
    assert(opts("startingOffsets") == "latest")
    assert(opts("maxOffsetsPerTrigger") == "50000")
    assert(opts("failOnDataLoss") == "true")
    assert(!Speed.kafkaOptions(Speed.EventSource.Kafka("b:9092", "t"))
      .contains("maxOffsetsPerTrigger"))
    // decode: Kafka wire records (binary JSON value, ts in ns) come out
    // as the SAME frame shape the file source produces
    val ns = 1704067200L * 1000000000L + 123456789L
    val json = s"""{"event_id":1,"ts":$ns,"user_id":7,""" +
      s""""event_type":"click","value":1.5,"props":"{}"}"""
    val wire = Seq(
      (null: Array[Byte], json.getBytes("UTF-8"), "events", 0, 42L,
        new java.sql.Timestamp(0L), 0),
      (null: Array[Byte], "not json".getBytes("UTF-8"), "events", 0, 43L,
        new java.sql.Timestamp(0L), 0))
      .toDF("key", "value", "topic", "partition", "offset", "timestamp",
        "timestampType")
    val out = Speed.decodeKafkaEvents(wire)
    assert(out.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    val good = out.where($"event_id" === 1L).head()
    assert(good.getLong(2) == 7L && good.getString(3) == "click" &&
      good.getDouble(4) == 1.5)
    // ns -> µs truncation identical to the file path (integer div 1000)
    val ts = good.getTimestamp(1)
    val us = math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    assert(us == ns / 1000L, s"ts drifted: $us vs ${ns / 1000L}")
    // malformed payload -> null row, never a stream-killing exception
    assert(out.where($"event_id".isNull).count() == 1)
    // the file-backed source serves the same schema through the switch
    val fileStream = Speed.eventStreamFrom(spark,
      Speed.EventSource.Files(TestSpark.sfDir))
    assert(fileStream.isStreaming)
    assert(fileStream.schema.map(f => (f.name, f.dataType)) ==
      out.schema.map(f => (f.name, f.dataType)))
  }

  test("history dedup drops cross-batch and replayed keys, keeps new") {
    import spark.implicits._
    val hist = java.nio.file.Files
      .createTempDirectory("graft_hist_test_").resolve("history").toString
    val batchA = Seq((1L, "click"), (1L, "click"), (2L, "view"))
      .toDF("user_id", "event_type")
    val batchB = Seq((1L, "click"), (2L, "buy"), (3L, "view"))
      .toDF("user_id", "event_type")
    // batch A: empty history — every distinct key kept
    assert(Speed.dedupBatchAgainstHistory(batchA,
      Seq("user_id", "event_type"), hist) == 2)
    // batch B: (1,click) already in history — only the 2 new keys land
    assert(Speed.dedupBatchAgainstHistory(batchB,
      Seq("user_id", "event_type"), hist) == 2)
    // replay of batch B (foreachBatch recovery): idempotent, 0 appended
    assert(Speed.dedupBatchAgainstHistory(batchB,
      Seq("user_id", "event_type"), hist) == 0)
    val keys = spark.read.parquet(hist)
      .select($"user_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keys == Set((1L, "click"), (2L, "view"), (2L, "buy"),
      (3L, "view")))
  }

  test("streaming upsert sink merges each micro-batch by key") {
    val land = java.nio.file.Files.createTempDirectory("graft_upsert_land_")
    val table = java.nio.file.Files
      .createTempDirectory("graft_upsert_tbl_").toString + "/tbl"
    // batch A: keys 1-3 at ts 10; batch B: key 2 twice (ts 20 then the
    // winning ts 30), plus a new key 4
    Seq((1L, 10L, "a1"), (2L, 10L, "b1"), (3L, 10L, "c1"))
      .toDF("k", "ts", "v").coalesce(1)
      .write.parquet(land.resolve("a").toString)
    Seq((2L, 20L, "b2"), (2L, 30L, "b3"), (4L, 10L, "d1"))
      .toDF("k", "ts", "v").coalesce(1)
      .write.parquet(land.resolve("b").toString)
    val stream = spark.readStream.schema("k LONG, ts LONG, v STRING")
      .option("maxFilesPerTrigger", 1).parquet(land.toString + "/*")
    Speed.upsertToSnapshot(stream, table, Seq("k"), "ts", "v",
      java.nio.file.Files.createTempDirectory("graft_upsert_ck_").toString)
      .awaitTermination()
    val now = graft.sources.LakeWriter.readSnapshot(spark, table)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // latest-per-key within batch B won (b3), key 1/3 untouched, 4 new
    assert(now == Map(1L -> "a1", 2L -> "b3", 3L -> "c1", 4L -> "d1"))
    // one time-travelable version per landed batch
    assert(graft.sources.LakeWriter
      .snapshotVersions(spark, table) == Seq(1L, 2L))
    assert(graft.sources.LakeWriter.readSnapshot(spark, table, Some(1L))
      .collect().map(_.getString(2)).toSet == Set("a1", "b1", "c1"))
  }

  test("streaming MOR upsert: each batch retires matched rows via " +
      "DVs and appends, standing files never rewrite") {
    val land = java.nio.file.Files
      .createTempDirectory("graft_upsert_mor_land_")
    val table = java.nio.file.Files
      .createTempDirectory("graft_upsert_mor_tbl_").toString + "/tbl"
    Seq((1L, 10L, "a1"), (2L, 10L, "b1"), (3L, 10L, "c1"))
      .toDF("k", "ts", "v").coalesce(1)
      .write.parquet(land.resolve("a").toString)
    Seq((2L, 20L, "b2"), (2L, 30L, "b3"), (4L, 10L, "d1"))
      .toDF("k", "ts", "v").coalesce(1)
      .write.parquet(land.resolve("b").toString)
    val stream = spark.readStream.schema("k LONG, ts LONG, v STRING")
      .option("maxFilesPerTrigger", 1).parquet(land.toString + "/*")
    Speed.upsertToSnapshot(stream, table, Seq("k"), "ts", "v",
      java.nio.file.Files.createTempDirectory("graft_upsert_mck_")
        .toString,
      morDeletes = true)
      .awaitTermination()
    import graft.sources.LakeWriter
    val now = LakeWriter.readSnapshot(spark, table)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(now == Map(1L -> "a1", 2L -> "b3", 3L -> "c1", 4L -> "d1"))
    // batch B's merge was MERGE-ON-READ: v1's file carried verbatim
    // into v2 with a deletion vector, the batch's rows appended
    assert(LakeWriter.snapshotVersions(spark, table) == Seq(1L, 2L))
    assert(LakeWriter.snapshotFiles(spark, table, 1L).toSet.subsetOf(
      LakeWriter.snapshotFiles(spark, table, 2L).toSet),
      "streaming MOR upsert rewrote a standing file")
    assert(LakeWriter.manifest(spark, table, 2L).dvs.nonEmpty,
      "streaming MOR upsert committed no deletion vector")
    // time travel intact under the DV commit
    assert(LakeWriter.readSnapshot(spark, table, Some(1L))
      .collect().map(_.getString(2)).toSet == Set("a1", "b1", "c1"))
  }

  test("torn commit: upsert sink replays a merged-but-unmarked batch") {
    val land = java.nio.file.Files.createTempDirectory("graft_utorn_land_")
    val table = java.nio.file.Files
      .createTempDirectory("graft_utorn_tbl_").toString + "/tbl"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_utorn_ck_").toString
    Seq((1L, 10L, "a1"), (2L, 10L, "b1"), (3L, 10L, "c1"))
      .toDF("k", "ts", "v").coalesce(1)
      .write.parquet(land.resolve("a").toString)
    Seq((2L, 30L, "b3"), (4L, 10L, "d1"))
      .toDF("k", "ts", "v").coalesce(1)
      .write.parquet(land.resolve("b").toString)
    def stream = spark.readStream.schema("k LONG, ts LONG, v STRING")
      .option("maxFilesPerTrigger", 1).parquet(land.toString + "/*")
    val q1 = Speed.upsertToSnapshot(stream, table, Seq("k"), "ts", "v", ckpt)
    q1.awaitTermination()
    // deregistration is async; a restart on the same checkpoint must
    // wait or it is refused as a concurrent query
    while (spark.streams.active.exists(_.id == q1.id)) Thread.sleep(20)
    val want = Map(1L -> "a1", 2L -> "b3", 3L -> "c1", 4L -> "d1")
    def state() = graft.sources.LakeWriter.readSnapshot(spark, table)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(state() == want)
    // SIMULATE the crash window of batch 1: mergeSnapshot committed
    // the table version, the process died before the checkpoint
    // marked the batch done — on disk: commits/1 missing (with its
    // local-FS .crc sidecar, which a real crash never leaves behind)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$ckpt/commits/1"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$ckpt/commits/.1.crc")): Unit
    Speed.upsertToSnapshot(stream, table, Seq("k"), "ts", "v", ckpt)
      .awaitTermination()
    // the replayed merge commits one more version whose CONTENT is
    // identical (idempotent by value): same rows, keys still unique
    assert(state() == want, "replayed merge diverged")
    assert(graft.sources.LakeWriter.readSnapshot(spark, table)
      .groupBy($"k").count().where($"count" > 1).isEmpty,
      "replayed merge duplicated keys")
    assert(graft.sources.LakeWriter.snapshotVersions(spark, table) ==
      Seq(1L, 2L, 3L), "replay re-merges as a new no-op-by-value version")
  }

  test("driver contract: entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("driver contract: every oracleSql key has a queries entry") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("streaming anomaly monitor equals the batch prefix-window derivation") {
    val streamed = Speed.runToBatch(spark,
      Speed.anomalyStream(Speed.eventStream(spark, TestSpark.sfDir)),
      "t_anomaly", OutputMode.Append())
    val e = Tables.load(spark, TestSpark.sfDir, "events")
      .select($"event_id", $"event_type", $"ts",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"ts", $"event_id")
      .rowsBetween(Long.MinValue, -1)
    val batch = e
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", coalesce(sum($"cents").over(w), lit(0L)))
      .withColumn("q2",
        coalesce(sum(($"cents" * $"cents").cast("decimal(38,0)")).over(w),
          lit(0).cast("decimal(38,0)")))
      .select($"event_id", $"n".as("n_prior"),
        when($"n" < 20, lit(null).cast("int")).otherwise(
          when((($"cents" * $"n" - $"s").cast("decimal(38,0)") *
                ($"cents" * $"n" - $"s").cast("decimal(38,0)")) >
               (lit(9).cast("decimal(38,0)") *
                ($"n".cast("decimal(38,0)") * $"q2" -
                 $"s".cast("decimal(38,0)") * $"s".cast("decimal(38,0)"))),
            1).otherwise(0)).as("is_anomaly"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    // the monitor actually fires on this data
    assert(streamed.where($"is_anomaly" === 1).count() > 0)
    // constant state: flags defined exactly where a baseline exists
    assert(streamed.where($"n_prior" < 20 && $"is_anomaly".isNotNull)
      .count() == 0)
  }

  test("q_stream_upsert final state equals batch latest-per-key") {
    val got = SparkEntry.queries("q_stream_upsert")(spark, TestSpark.sfDir)
    val want = graft.operators.Analytics.latestPerKey(
        Tables.load(spark, TestSpark.sfDir, "events"),
        Seq("user_id", "event_type"), $"ts", $"event_id")
      .select($"user_id", $"event_type", $"event_id", $"ts", $"value")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // no sentinel rows leak, and the staged run left a multi-version
    // (time-travelable) table — one commit per micro-batch
    assert(got.where($"user_id" < 0).count() == 0)
    val tbl = "/tmp/graft_stream_upsert_" +
      TestSpark.sfDir.replaceAll("[^A-Za-z0-9]", "_") + "/tbl"
    assert(graft.sources.LakeWriter
      .snapshotVersions(spark, tbl).size >= 2)
  }

  test("streamed CC label snapshot equals batch CC after every fold; replay is identity") {
    import graft.streaming.GraphStream
    import graft.sources.LakeWriter
    val root = java.nio.file.Files
      .createTempDirectory("graft_stream_cc_spec").toString
    val table = s"$root/labels"
    // three batches: islands, a bridge that merges them, a no-op
    // replay — after each fold the snapshot must equal the batch CC
    // over the UNION of everything delivered so far
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq((3L, 10L), (20L, 21L)),           // merges {1,2,3} with {10,11}
      Seq((1L, 2L), (3L, 10L)))             // pure replay: no change
    var delivered = Seq.empty[(Long, Long)]
    for ((edges, i) <- batches.zipWithIndex) {
      val vBefore = LakeWriter.snapshotVersions(spark, table)
      GraphStream.foldBatch(edges.toDF("src", "dst"), table, "src", "dst")
      delivered ++= edges
      val got = LakeWriter.readSnapshot(spark, table)
        .as[(Long, Long)].collect().toMap
      val want = graft.operators.Graph
        .connectedComponents(delivered.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"after batch $i")
      if (i == 2) // the replay batch must not commit a new version
        assert(LakeWriter.snapshotVersions(spark, table) == vBefore)
    }
    // end-to-end through the streaming engine: same edges as two
    // micro-batch files, final table equals the one-shot CC
    val in = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def stage(edges: Seq[(Long, Long)], name: String, mtime: Long): Unit = {
      val dir = s"$root/stage_$name"
      edges.toDF("src", "dst").coalesce(1)
        .write.mode("overwrite").parquet(dir)
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(in, name + ".parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime)): Unit
    }
    val now = System.currentTimeMillis()
    stage(batches(0), "b0", now - 120000)
    stage(batches(1), "b1", now - 60000)
    val stream = spark.readStream
      .schema(batches(0).toDF("src", "dst").schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    GraphStream.run(stream, s"$root/labels2", s"$root/ckpt",
      "src", "dst").awaitTermination()
    val streamed = LakeWriter.readSnapshot(spark, s"$root/labels2")
      .as[(Long, Long)].collect().toMap
    val oneShot = graft.operators.Graph.connectedComponents(
      (batches(0) ++ batches(1)).toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(streamed == oneShot)
  }
}
