package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** THE commit-log tail: one Structured-Streaming file source over a
  * table's commit log — the Delta `_delta_log`, the Iceberg metadata
  * dir, the native `_manifests` dir — whose every commit is one
  * durably-named file that appears atomically via its publish rename
  * (in-flight tmps are dot-hidden, so the source only ever lists
  * whole commits). Versions come from file NAMES, never bodies; the
  * stream checkpoint is the cursor. Delta's CDF streaming source and
  * Iceberg's incremental changelog scan tail one log the same way.
  * Each format keeps only its version → feed resolution. */
object LogTail {

  /** Drain every file under `dir` matching `glob` that `checkpoint`
    * has not yet seen: each micro-batch `offer`s the versions its
    * file names carry (`versionOf(name)`; None skips the file),
    * ascending. `offer` runs on the OUTER session, so its heavy jobs
    * plan under that session's conf (the stream's cloned session
    * disables AQE); only the file-name collect touches the clone.
    * Runs with `Trigger.AvailableNow` and blocks until every commit
    * present at the start is offered; re-invoke on a live checkpoint
    * to drain later commits. There is no per-trigger rate limit: one
    * version per batch would multiply the micro-batch overhead
    * (offset/commit-log cycles, source listings) by the version
    * count, so at steady state a trigger drains every pending commit
    * in ONE batch. */
  def apply(spark: SparkSession, dir: String, glob: String,
            versionOf: String => Option[Long], checkpoint: String)
           (offer: Seq[Long] => Unit): Unit =
    spark.readStream.format("binaryFile")
      // the source's fixed schema; only the file-metadata column is
      // selected below, so no commit body is ever read
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, " +
        "content BINARY")
      .option("pathGlobFilter", glob)
      // FileStreamSource silently ignores files older than this age
      // (default 7d) relative to the newest seen — a pending commit
      // older than that would be skipped FOREVER (a txn stamp then
      // masks the hole); age-based eviction is wrong for a commit
      // log, so effectively disable it
      .option("maxFileAge", "36500d")
      .load(dir)
      // the file-metadata column resolves only on the streaming scan
      // itself — inside foreachBatch the batch is already materialized
      .select(col("_metadata.file_path"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        offer(batch.collect().toSeq
          .flatMap(r => versionOf(r.getString(0).split('/').last)).sorted)
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The exactly-once sink into graft snapshot table `out`: `drain`
    * receives `sink(v, rows)` and offers each version through it.
    * The sink reads `appId`'s txn stamp on `out` once per drain,
    * SKIPS every version the stamp covers without building its rows
    * (a replayed or re-offered version costs nothing), and appends
    * the rest with `appId -> v` stamped ATOMICALLY with the rows —
    * so a crash, or a fresh stream checkpoint that replays the whole
    * log, never double-appends. The drain must offer versions in
    * ascending order and be the only writer to `out`. Returns the
    * highest absorbed version (-1 = nothing yet). */
  def intoSnapshot(spark: SparkSession, out: String, appId: String)
                  (drain: ((Long, () => DataFrame) => Unit) => Unit)
      : Long = {
    var absorbed: Option[Long] = None
    def stamp: Long = absorbed.getOrElse {
      val s = LakeWriter.lastTxnVersion(spark, out, appId).getOrElse(-1L)
      absorbed = Some(s)
      s
    }
    drain { (v, rows) =>
      if (v > stamp) {
        // a rewrite-only version (compaction) feeds zero rows; the
        // stamp still advances so a replay never re-resolves it
        LakeWriter.commitSnapshot(rows(), out,
          mode = if (LakeWriter.snapshotVersions(spark, out).isEmpty)
            "overwrite" else "append",
          txn = Some(appId -> v)): Unit
        absorbed = Some(v)
      }
    }
    stamp
  }
}
