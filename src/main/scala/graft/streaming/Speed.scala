package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.functions.CleanFns

/** Speed layer (Structured Streaming) — the lambda architecture's
  * streaming half. The reference lands Kafka ticks beside its batch
  * loads; here the same event schema streams from the lake's files by
  * default, with a Kafka path behind `EventSource.Kafka` (connector
  * jars are a deploy-time dependency — not shipped in this image, so
  * that path's decode/options are unit-tested rather than run
  * end-to-end). All transforms below are source-agnostic.
  */
object Speed extends Serializable {

  /** events wire schema used by the Kafka decode path (the producer
    * mirrors the lake's original physical layout: ts in epoch NANOS). */
  private val eventsRaw = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Footer-schema memo (the Tables.load discipline, r18): every
    * stream construction re-ran parquet inference on the same staged
    * file (~80 ms + one Spark action each). VALIDATED per hit against
    * the file's current (mtime, length) — a RE-STAGED file under the
    * same path (the TsEncodingSpec encoding-flip case) must
    * re-infer, never be served the old physical schema. Keeps the
    * `StagedSchemaMemoMax` most recently used files: staging paths
    * derive from caller-chosen source directories, so an unbounded
    * memo would grow with every directory a process streams. */
  private val StagedSchemaMemoMax = 64
  private val stagedSchemaMemo =
    new java.util.LinkedHashMap[String, (Long, Long, StructType)](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long, StructType)]) =
        size() > StagedSchemaMemoMax
    }

  private[graft] def stagedSchemaMemoSize: Int =
    stagedSchemaMemo.synchronized(stagedSchemaMemo.size())

  /** Physical schema of a staged events file — the generator's `ts`
    * encoding has varied (INT64 nanos / TIMESTAMP_NTZ / TIMESTAMP), so
    * the streaming source discovers it from the file instead of
    * assuming one. The nanos legacy conf makes the INT64-nanos variant
    * readable as long. A missing file raises the AnalysisException
    * (PATH_NOT_FOUND) of a plain `spark.read.parquet`, not the status
    * probe's FileNotFoundException. */
  private[graft] def stagedSchema(spark: SparkSession, file: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = new org.apache.hadoop.fs.Path(file)
    val st =
      try Some(p.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    val phys = st match {
      case None => spark.read.parquet(file).schema
      case Some(f) =>
        stagedSchemaMemo.synchronized(Option(stagedSchemaMemo.get(file))) match {
          case Some((m, l, s))
              if m == f.getModificationTime && l == f.getLen => s
          case _ =>
            val s = spark.read.parquet(file).schema
            stagedSchemaMemo.synchronized(stagedSchemaMemo.put(file,
              (f.getModificationTime, f.getLen, s)))
            s
        }
    }
    // NTZ ts is requested as TimestampType at the scan itself (values
    // are UTC wall-times = UTC instants; same rationale as
    // Tables.load): no post-scan cast, ts predicates stay pushable,
    // and normalizeTs sees nothing left to do.
    StructType(phys.map(f =>
      if (f.name == "ts" && f.dataType == TimestampNTZType)
        f.copy(dataType = TimestampType)
      else f))
  }

  /** Normalize a (possibly streaming) events frame's `ts` to
    * µs-precision `TimestampType` — same contract as the batch loader
    * (graft.sources.Tables.normalizeEventTs), duplicated here because
    * that helper is batch-frame-typed and this one must stay
    * streaming-safe (pure column ops only). */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** File-stream over the events table with µs timestamps.
    *
    * Spark's file stream source wants a DIRECTORY to monitor; the
    * testdata table is a single file, so it is staged (hard-copied
    * once) into a per-sf temp directory — in production this is just
    * the landing directory new files arrive in. */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    // ONE shared staging dir per source dir (bounded: repeat runs
    // reuse the copy instead of leaking one per process). Concurrency
    // safety comes from the write protocol, not isolation: each
    // process copies to its own PID-suffixed temp name, then
    // ATOMIC_MOVEs into place — a reader can only ever open a
    // complete file (an already-open replaced file keeps its inode).
    val stage = Paths.get("/tmp",
      "graft_stream_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    stageAtomically(stage, Paths.get(dir, "events.parquet"),
      "events.parquet")
    val schema = stagedSchema(spark,
      stage.resolve("events.parquet").toString)
    normalizeTs(
      spark.readStream
        .schema(schema)
        .parquet(stage.toString))
  }

  // ---- source selection (file landing dir vs Kafka) ----------------

  /** Where the speed layer's events come from. The downstream
    * transforms are source-agnostic; this ADT is the one switch point.
    * Mirrors the reference's lambda wiring (docker-compose.yaml Kafka
    * broker + speed layer), where ticks land on a topic while batch
    * loads land in the lake. */
  sealed trait EventSource
  object EventSource {
    /** Landing directory of event files (the default here — also the
      * production shape for lake-first ingestion). */
    final case class Files(dir: String) extends EventSource
    /** Kafka topic carrying JSON-encoded event records. Needs the
      * spark-sql-kafka connector on the runtime classpath (not shipped
      * in this image, so the `.load()` is exercised in deployments;
      * the option plumbing and payload decode are unit-tested). */
    final case class Kafka(bootstrapServers: String, topic: String,
                           startingOffsets: String = "earliest",
                           maxOffsetsPerTrigger: Option[Long] = None)
        extends EventSource
  }

  /** Reader options for a Kafka source — pure, so tests can assert the
    * wiring without a broker. `failOnDataLoss=true`: silently skipping
    * expired offsets would corrupt downstream aggregates. */
  def kafkaOptions(k: EventSource.Kafka): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> k.bootstrapServers,
      "subscribe" -> k.topic,
      "startingOffsets" -> k.startingOffsets,
      "failOnDataLoss" -> "true"
    ) ++ k.maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString)

  /** Decode Kafka wire records into the events frame every transform
    * downstream expects: `value` holds one JSON event with `ts` in
    * epoch NANOS (the producer mirrors the lake's physical schema), and
    * the output carries the same columns + µs timestamps as
    * `eventStream`. Malformed payloads decode to an all-null row
    * (from_json PERMISSIVE) rather than killing the stream; route
    * `event_id IS NULL` to a quarantine sink in production. */
  def decodeKafkaEvents(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), eventsRaw).as("e"))
      .select(col("e.*"))
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** The one entry point that hides the source switch: same schema out
    * whether events stream from the landing directory or a topic. */
  def eventStreamFrom(spark: SparkSession, source: EventSource): DataFrame =
    source match {
      case EventSource.Files(dir) => eventStream(spark, dir)
      case k: EventSource.Kafka =>
        decodeKafkaEvents(
          kafkaOptions(k)
            .foldLeft(spark.readStream.format("kafka")) {
              case (r, (key, v)) => r.option(key, v)
            }
            .load())
    }

  /** Copy `src` into `stage/name` if absent or stale, via a
    * PID-suffixed temp + ATOMIC_MOVE (readers only ever see complete
    * files). Returns true if the file was (re)staged. */
  private def stageAtomically(stage: java.nio.file.Path,
                              src: java.nio.file.Path,
                              name: String): Boolean = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.createDirectories(stage)
    val dst = stage.resolve(name)
    val stale = !Files.exists(dst) ||
      Files.size(dst) != Files.size(src) ||
      Files.getLastModifiedTime(dst).compareTo(
        Files.getLastModifiedTime(src)) < 0
    if (stale) {
      val tmp = stage.resolve(s"$name.${ProcessHandle.current().pid()}.tmp")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    stale
  }

  /** File-stream over events PLUS two far-future sentinel batches —
    * for finite runs of operators whose last results are gated on the
    * WATERMARK passing them (outer-join null fills, event-time session
    * timeouts). A single-batch run never flushes those: the watermark
    * is computed from a batch's max event time but only APPLIED while
    * processing a subsequent batch, so the tail of the data stays in
    * state forever and the finite result is silently short.
    *
    * The source takes two files per micro-batch, so the run is exactly
    * two batches (each extra batch costs one state-store commit per
    * partition per stateful operator):
    *  1. the real events PLUS a sentinel click+purchase pair
    *     (user_id = -1) at max(ts) + 30 days — so the watermark
    *     computed from batch 1 is already 30 days past every real
    *     row's horizon;
    *  2. a second sentinel pair at +60 days — processed under that
    *     watermark, which flushes every real row out of state.
    * The sentinels themselves stay gated (the watermark never passes
    * them), so they can only surface through operators that emit
    * WITHOUT a watermark pass (e.g. a gap-closed session of the
    * sentinel user): callers filter `user_id < 0` from results.
    * In production none of this exists — the stream is infinite and
    * later events play the sentinels' role. */
  def eventStreamSentineled(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val stage = Paths.get("/tmp",
      "graft_stream_sent_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    val restaged = stageAtomically(stage, Paths.get(dir, "events.parquet"),
      "a_events.parquet")
    val realFile = stage.resolve("a_events.parquet").toString
    val schema = stagedSchema(spark, realFile)
    // sentinels are stale if absent OR written under a different
    // physical ts encoding than the (possibly regenerated) real file —
    // one readStream schema must cover all three files
    val haveSentinels = Files.exists(stage.resolve("b_sentinel1.parquet")) &&
      Files.exists(stage.resolve("c_sentinel2.parquet")) &&
      stagedSchema(spark, stage.resolve("b_sentinel1.parquet").toString)("ts")
        .dataType == schema("ts").dataType
    if (restaged || !haveSentinels) {
      val base = spark.read.schema(schema).parquet(realFile)
      val tsType = schema("ts").dataType
      // shift max(ts) by N days in the column's own physical encoding
      // (Long = epoch nanos; timestamp flavors take a calendar interval)
      def shifted(days: Int): org.apache.spark.sql.Column = tsType match {
        case LongType => col("mts") + lit(days.toLong * 86400L * 1000000000L)
        case _        => (col("mts") + expr(s"INTERVAL $days DAYS")).cast(tsType)
      }
      // sentinel files must carry the SAME physical schema as the real
      // file (one readStream schema covers all three), so they are
      // derived from it rather than built from hard-coded types
      def writeSentinel(name: String, days: Int, ids: (Long, Long)): Unit = {
        import scala.jdk.CollectionConverters._
        val sent = base.agg(max(col("ts")).as("mts"))
          .select(explode(array(
            struct(lit(ids._1).as("event_id"), lit("click").as("event_type")),
            struct(lit(ids._2).as("event_id"), lit("purchase").as("event_type"))
          )).as("e"), col("mts"))
          .select(
            col("e.event_id").cast(schema("event_id").dataType).as("event_id"),
            shifted(days).as("ts"),
            lit(-1L).cast(schema("user_id").dataType).as("user_id"),
            col("e.event_type").as("event_type"),
            lit(0.0).cast(schema("value").dataType).as("value"),
            lit(null).cast(schema("props").dataType).as("props"))
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
        val build = stage.resolve(s"$name.build.${ProcessHandle.current().pid()}")
        sent.coalesce(1).write.mode("overwrite").parquet(build.toString)
        val part = Files.list(build).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part under $build"))
        Files.move(part, stage.resolve(name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        def deleteRec(p: java.nio.file.Path): Unit = {
          if (Files.isDirectory(p))
            Files.list(p).iterator().asScala.toList.foreach(deleteRec)
          Files.deleteIfExists(p)
        }
        deleteRec(build)
      }
      writeSentinel("b_sentinel1.parquet", 30, (-1L, -2L))
      writeSentinel("c_sentinel2.parquet", 60, (-3L, -4L))
      // the file source processes oldest-modified first: force the
      // batch split (data + sentinel1) -> (sentinel2)
      val t0 = Files.getLastModifiedTime(stage.resolve("a_events.parquet"))
        .toMillis
      Files.setLastModifiedTime(stage.resolve("b_sentinel1.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(t0 + 10000))
      Files.setLastModifiedTime(stage.resolve("c_sentinel2.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(t0 + 20000))
    }
    normalizeTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage.toString))
  }

  /** Tumbling-window aggregation with a watermark — the canonical
    * speed-layer rollup. Returns the STREAMING frame; callers attach a
    * sink. */
  def windowedAgg(events: DataFrame, window_ : String = "1 day",
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), CleanFns.roundRepro(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Lambda serving view over the speed-layer rollup: top-`k` event
    * types per tumbling window by count (ties alphabetical) — the
    * reference's Superset "trending top-N" dashboards over the speed
    * layer. Rank runs on the COMPLETED windowed aggregate (an open
    * streaming window can't be ranked); the input is windows ×
    * event-types — already aggregate-sized, orders of magnitude
    * below the event stream — and the rank window partitions by
    * window_start, so no single-task sort at any scale. */
  def topKPerWindow(agg: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("event_type").asc)
    agg.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  /** Deterministic streaming RESERVOIR SAMPLE: k uniform draws per
    * key from an unbounded stream, in CONSTANT state — the
    * training-data primitive for "keep a fair sample of every domain
    * as the crawl streams in". Efraimidis–Spirakis with the priority
    * derived from md5(id) (u = the first 13 hex digits), so the
    * reservoir is a pure ORDER STATISTIC: the k largest u per key.
    * That makes it exact and reproducible under ANY partitioning,
    * merge order, or micro-batch split (k-min is a semilattice), and
    * it rides a regular streaming aggregation via the native bounded
    * [[graft.plans.KMinPairs]] aggregate — ≤ k pairs of state per
    * partial, no watermark needed. Works identically on a batch
    * frame; the finite stream run EQUALS the batch computation
    * bit-for-bit.
    *
    * @return (keyCol, idCol, rank) — rank 1..k by draw priority. */
  def reservoirPerKey(events: DataFrame, keyCol: String, idCol: String,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    // larger u = smaller E-S key -ln(u)/1 → keep k LARGEST u: k-min
    // over (-u, id), ties to the smaller id — integer-exact (u rides
    // as the 52-bit hex prefix value, never a double)
    val v = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val agg = events
      .select(col(keyCol), (-v).as("__negv"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col(keyCol))
      .agg(GraftColumnBridge.column(
        graft.plans.KMinPairs(
          GraftColumnBridge.expression(col("__negv")),
          GraftColumnBridge.expression(col("__id")), k)
          .toAggregateExpression()).as("__res"))
    agg.select(col(keyCol), posexplode(col("__res")).as(Seq("__pos", "__r")))
      .select(col(keyCol), col("__r.b").as(idCol),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /** Streaming OHLC candles — the speed-layer twin of
    * `Analytics.ohlcResample`: per event type per tumbling window,
    * open/close via min_by/max_by over a (ts, id) struct (supported
    * in streaming aggregation state — the candle stays deterministic
    * under tied timestamps and ARBITRARY micro-batch arrival order,
    * because the struct-argmin is order-insensitive, unlike a
    * first()-based open). Watermark bounds state exactly like
    * [[windowedAgg]]. */
  def ohlcPerWindow(events: DataFrame, window_ : String = "7 days",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_ticks"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n_ticks"))

  /** Streaming exact dedup on a key set within the watermark horizon. */
  def streamingDedup(events: DataFrame, keys: Seq[String],
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates(keys)

  /** Production-friendly streaming dedup: state for a key is evicted
    * once the watermark passes its event time + delay, so state size
    * is bounded by the delay window instead of growing with every key
    * ever seen. The guarantee weakens accordingly: duplicates arriving
    * FARTHER apart than the delay are re-emitted. At 100 TB/day of
    * events this is the only dedup that survives — unbounded
    * dropDuplicates state on a billion keys/day eventually OOMs (or
    * swamps even RocksDB compaction). */
  def streamingDedupWithinWatermark(events: DataFrame, keys: Seq[String],
                                    watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Large-state posture: keep streaming state in RocksDB (off-heap,
    * spills to local disk, incremental checkpoints) instead of the
    * default HDFS-backed store that holds every version on the JVM
    * heap. With millions of open sessions / dedup keys per executor
    * this is the difference between a bounded page cache and an OOM.
    * Call BEFORE starting streaming queries; applies session-wide. */
  def useRocksDBStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // changelog checkpointing: upload only the delta per batch, not a
    // full snapshot — keeps commit latency flat as state grows
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
  }

  /** Stream-static enrichment: join the live stream against a
    * (broadcast) dimension table — the speed layer serving enriched
    * events while the batch layer rebuilds dims behind it. */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** Stream-stream interval join: match right events to left events of
    * the same key within (0, `withinMillis`] after the left event —
    * e.g. purchases within an hour of a click. Both sides need
    * watermarks so Spark can bound the join state. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, withinMillis: Long,
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") > col(s"l.$leftTs") &&
        col(s"r.$rightTs") <=
          col(s"l.$leftTs") + expr(s"INTERVAL $withinMillis MILLISECOND"))
      .drop(col(s"r.$key"))
  }

  /** LEFT OUTER stream-stream interval join: like `intervalJoin`, but
    * a left event with no right match within the bound is still
    * emitted (right columns null) once the watermark passes its
    * interval — e.g. "every click, with its purchase if one followed
    * within the hour". The event-time bound is what lets Spark both
    * expire join state AND know when an unmatched left row is safe to
    * emit; without it a streaming outer join is unbounded. */
  def intervalJoinLeft(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String, withinMillis: Long,
                       watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") > col(s"l.$leftTs") &&
        col(s"r.$rightTs") <=
          col(s"l.$leftTs") + expr(s"INTERVAL $withinMillis MILLISECOND"),
      "leftOuter")
      .drop(col(s"r.$key"))
  }

  /** Speed-layer lake sink: every micro-batch lands in the serving
    * zone via dynamic partition overwrite — an updated aggregate
    * overwrites its partition in place instead of duplicating. This is
    * the foreachBatch bridge between the streaming half and the
    * LakeWriter used by the batch layer.
    *
    * CONTRACT: `partitionCols` must cover the aggregation key (one
    * partition = one update unit). Update-mode batches contain only
    * CHANGED rows; if a partition held rows of several keys, an
    * update touching one key would wipe the others on overwrite. */
  def sinkToLake(streaming: DataFrame, path: String,
                 partitionCols: Seq[String],
                 checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.LakeWriter.dynamicPartitionOverwrite(
          batch.toDF(), path, partitionCols)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming UPSERT sink — the CDC apply-changes shape: every
    * micro-batch is reduced to its latest row per key (change feeds
    * deliver several versions of a key per batch; `tsCol` orders
    * them, ties to the larger `tieBreak`) and MERGED into a snapshot
    * table. Copy-on-write with file pruning comes from
    * [[graft.sources.LakeWriter.mergeSnapshot]]: a batch touching few
    * keys rewrites few files, and every batch that lands is one time-
    * travelable version. Replay-safe: re-merging an already-applied
    * batch replaces rows with identical ones (idempotent by value).
    *
    * `morDeletes = true` applies each batch MERGE-ON-READ
    * ([[graft.sources.LakeWriter.mergeSnapshotMor]]): matched old
    * rows retire via deletion vectors and the batch's rows land as
    * appends — per batch, bitmap bytes + the batch itself, where COW
    * re-lands every unmatched row of every matched file. This is the
    * production shape for a CDC stream into a LARGE table (the
    * reference's daily upsert cadence); the per-file
    * fraction/byte-size policy still falls a pathological batch back
    * to the proven COW path, and maintenance compaction re-lands
    * DV-laden small files through the same DV-aware read. */
  def upsertToSnapshot(stream: DataFrame, table: String, keys: Seq[String],
                       tsCol: String, tieBreak: String,
                       checkpoint: String,
                       maintainEvery: Int = 0, compactFiles: Int = 32,
                       keepVersions: Int = 3, mirrorDelta: Boolean = false,
                       checkpointEvery: Int = 10,
                       logRetainVersions: Int = 0,
                       mirrorIceberg: Boolean = false,
                       icebergRetainSnapshots: Int = 0,
                       deltaChangeDataFeed: Boolean = false,
                       trigger: Trigger = Trigger.AvailableNow(),
                       morDeletes: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // a non-empty batch keeps at least one row per key, so testing
        // the raw batch spares running the window twice
        if (!batch.isEmpty) {
          val latest = graft.operators.Analytics.latestPerKey(
            batch.toDF(), keys, col(tsCol), col(tieBreak))
          if (morDeletes)
            graft.sources.LakeWriter.mergeSnapshotMor(latest, table,
              keys): Unit
          else
            graft.sources.LakeWriter.mergeSnapshot(latest, table,
              keys): Unit
        }
        // every-N-versions compaction + history vacuum, IN the sink —
        // a one-commit-per-batch stream is unbounded without it;
        // mirrorDelta additionally keeps a live `_delta_log`
        // (+ checkpoints) so foreign engines follow the upsert state
        graft.sources.LakeWriter.maintainSnapshotEvery(
          batch.sparkSession, table, maintainEvery, compactFiles,
          keepVersions, mirrorDelta, checkpointEvery,
          logRetainVersions, mirrorIceberg, icebergRetainSnapshots,
          deltaChangeDataFeed): Unit
      }
      .trigger(trigger)
      .start()

  /** One micro-batch of `streamingHistoryDedup`: distinct keys of the
    * batch, minus every key already in the history table, appended to
    * the history. Factored out so tests can drive batch/restart/replay
    * sequences directly. Returns the number of keys appended. */
  def dedupBatchAgainstHistory(batch: DataFrame, keys: Seq[String],
                               historyDir: String): Long = {
    val spark = batch.sparkSession
    val withKey = (df: DataFrame) => df.withColumn("__key",
      to_json(struct(keys.map(col): _*)))
    val fresh = withKey(batch.select(keys.map(col): _*).distinct())
    val p = new org.apache.hadoop.fs.Path(historyDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val kept =
      if (fs.exists(p))
        graft.operators.Curation.bloomAntiJoin(fresh,
          spark.read.parquet(historyDir), "__key")
      else fresh
    // the kept batch is tiny relative to history; count it while it
    // is written (single pass via the returned metrics would need a
    // listener — a cheap count on the (small) kept frame suffices)
    val out = kept.persist()
    try {
      val n = out.count()
      if (n > 0) out.write.mode("append").parquet(historyDir)
      n
    } finally out.unpersist(blocking = false)
  }

  /** Streaming HISTORY dedup — the speed-layer twin of the batch
    * daily-load dedup (`Curation.bloomAntiJoin`): each micro-batch
    * keeps only key combinations absent from a durable history table
    * and appends them to it.
    *
    * vs `dropDuplicates`/`dropDuplicatesWithinWatermark`: the "state"
    * is a LAKE TABLE — unbounded in time, survives restarts, readable
    * by the batch layer — instead of the state store, and the Bloom
    * prefilter keeps the common all-new case nearly join-free (only
    * probable hits reach the exact anti-join, so the result is still
    * EXACT). Replay-safe: foreachBatch may re-run a batch on recovery,
    * and a replayed batch's keys are already in history, so the append
    * is idempotent at key granularity. */
  def streamingHistoryDedup(stream: DataFrame, keys: Seq[String],
                            historyDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          dedupBatchAgainstHistory(batch.toDF(), keys, historyDir): Unit
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Run a streaming frame to completion against the (finite) file
    * source and return the materialized result — used by Verify/tests
    * to oracle-check streaming semantics synchronously. */
  def runToBatch(spark: SparkSession, streaming: DataFrame,
                 name: String, mode: OutputMode): DataFrame = {
    // Streaming state cost scales with the PARTITION COUNT, not the
    // data: every micro-batch commits one state-store checkpoint per
    // shuffle partition per stateful operator (a stream-stream join
    // alone keeps four stores per partition). A finite local run has
    // tiny state, so run the stream narrow — measured 6.7 s → 2.7 s on
    // the interval join at sf0.1 — and restore the session setting
    // after. On a cluster, size shuffle partitions to state VOLUME.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(prev.toInt, 8).toString)
    try {
      val q = streaming.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ------------

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessState(start: Long, last: Long, n: Long, sum: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long,
                     session_value: Double)

  /** µs-precision round trips (Timestamp.getTime alone drops micros). */
  private def toMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming twin of Analytics.sessionize: emits a session when the
    * gap to the next event exceeds `gapMillis` (event-time driven).
    *
    * KNOWN LIMITATION: the open session per user stays in state until
    * a later event for that user closes it — there is no timeout
    * flush, so a user who goes silent forever never emits their last
    * session (finite-run results = all CLOSED sessions, which is what
    * the stream-equals-batch spec asserts). A production deployment
    * should add GroupStateTimeout.EventTimeTimeout + a watermark and
    * emit-on-timeout. */
  def sessionizeStream(events: DataFrame, gapMillis: Long,
                       flushOnTimeout: Boolean = false,
                       watermark: String = "1 hour"): DataFrame = {
    import events.sparkSession.implicits._
    def emit(uid: Long, s: SessState): Session = Session(uid,
      toTs(s.start), toTs(s.last),
      s.n, math.floor(s.sum * 100 + 0.5) / 100)
    val src = if (flushOnTimeout) events.withWatermark("ts", watermark)
              else events
    val typed = src.select(col("user_id"), col("ts"), col("value")).as[Ev]
    val timeout = if (flushOnTimeout) GroupStateTimeout.EventTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessState], Session](
        OutputMode.Append, timeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[List[SessState]]) =>
          if (flushOnTimeout && state.hasTimedOut) {
            // the gap has elapsed in event time: close the open session
            val out = state.getOption.toList.flatten.map(emit(uid, _))
            state.remove()
            out.iterator
          } else {
            // batch-per-trigger: sort this trigger's events, fold sessions
            val sorted = evs.toSeq.sortBy(e => toMicros(e.ts))
            var open = state.getOption.flatMap(_.headOption)
            val closed = scala.collection.mutable.ListBuffer[SessState]()
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              open match {
                case Some(s) if t - s.last <= gapMillis * 1000L =>
                  open = Some(s.copy(last = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed += s
                  open = Some(SessState(t, t, 1, e.value))
                case None =>
                  open = Some(SessState(t, t, 1, e.value))
              }
            }
            state.update(open.toList)
            if (flushOnTimeout) open.foreach(s =>
              state.setTimeoutTimestamp(s.last / 1000L + gapMillis))
            closed.iterator.map(emit(uid, _))
          }
      }.toDF()
  }

  // ---- streaming drift/anomaly monitor (mapGroupsWithState) --------

  case class ZEv(event_id: Long, event_type: String,
                 ts: java.sql.Timestamp, value: Double)
  case class ZState(n: Long, s: Long, q: Long)
  case class ZFlag(event_id: Long, n_prior: Long, is_anomaly: Option[Int])

  /** Streaming z-score anomaly monitor — the speed-layer quality gate
    * that flags each arriving event against the running distribution
    * of everything SEEN SO FAR for its key (here: event_type). State
    * per key is three longs (n, Σcents, Σcents²) — constant size
    * forever, the smallest possible stateful operator. The flag
    * compares squared deviations in exact integer arithmetic,
    * (x·n − S)² > z²·(n·Q − S²), evaluated in BigInt (n·Q and S²
    * overflow int64 at corpus scale), so the decision is bit-exact
    * and an ANSI oracle with prefix window aggregates re-derives
    * every flag (int128 on the oracle side). Events within a
    * micro-batch process in (ts, event_id) order; the finite local
    * source delivers one batch, so the prefix equals the global
    * event-time order the oracle computes. Events with fewer than
    * `minPrior` predecessors emit a NULL flag (no baseline yet).
    * Returns (event_id, n_prior, is_anomaly 0/1/null). */
  def anomalyStream(events: DataFrame, minPrior: Int = 20,
                    zCut: Int = 3): DataFrame = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .as[ZEv]
    typed.groupByKey(_.event_type)
      .flatMapGroupsWithState[ZState, ZFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, evs: Iterator[ZEv], state: GroupState[ZState]) =>
          var st = state.getOption.getOrElse(ZState(0L, 0L, 0L))
          val out = evs.toSeq
            .sortBy(e => (toMicros(e.ts), e.event_id))
            .map { e =>
              val cents = math.floor(e.value * 100 + 0.5).toLong
              val nPrior = st.n
              val flag: Option[Int] =
                if (nPrior < minPrior) None
                else {
                  val dev = BigInt(cents) * nPrior - st.s
                  val lhs = dev * dev
                  val rhs = BigInt(zCut.toLong * zCut) *
                    (BigInt(nPrior) * st.q - BigInt(st.s) * st.s)
                  Some(if (lhs > rhs) 1 else 0)
                }
              st = ZState(st.n + 1, st.s + cents, st.q + cents * cents)
              ZFlag(e.event_id, nPrior, flag)
            }
          state.update(st)
          out.iterator
      }.toDF()
  }
}
