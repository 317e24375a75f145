package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregates over snapshot
  * tables — the piece that turns the change feed into a 100 TB
  * workflow: a grouped COUNT/SUM rollup stays fresh by reading each
  * commit's DELTA (via `LakeWriter.changesBetween`) and merging the
  * touched groups, never re-scanning the source. Refresh cost is
  * O(delta + touched groups), not O(table): a daily commit touching
  * one day's rows updates the handful of groups that day hits, and
  * the MERGE rewrites only the MV files holding those groups.
  *
  * The maintained aggregates are the SELF-MAINTAINABLE ones under
  * insert+delete deltas — count and sum, where a delete subtracts
  * exactly what the matching insert added (min/max are NOT: a
  * deleted extremum needs a source re-scan to re-derive; compose
  * those on top as a periodic full refresh if needed).
  *
  * The batch refreshes walk versions with a durable cursor
  * (`LakeWriter.processNewVersions`); the streaming refresh tails the
  * source's `_manifests` dir through [[LogTail]], the one commit-log
  * tail graft's Delta and Iceberg change streams share. Both turn a
  * version into its feed by the one native rule,
  * `LakeWriter.versionFeeds`.
  */
object Materialized {

  /** Periodic FULL refresh — the companion for aggregates that are
    * NOT self-maintainable under deletes (min/max): one scan of the
    * source's current snapshot rebuilds the whole MV as the next
    * version (time-travelable like any commit); cost is O(source), so
    * schedule it like a compaction. The MV schema is
    * `groupCols ++ (n_rows, sum_*, min_*, max_*)`. Two postures:
    *  - count/sum MV (minMaxCols empty, same schema as `refreshAgg`):
    *    an occasional full rebuild of the incremental MV — pass
    *    `alignCursor` to fast-forward the `refreshAgg` cursor to the
    *    version just absorbed so the next incremental refresh does
    *    not replay it.
    *  - extrema MV (minMaxCols non-empty): its OWN mvTable on a slow
    *    cadence — min/max columns cannot be incrementally maintained
    *    under deletes, so this table refreshes only via this method
    *    (mixing it with `refreshAgg` on one table would break the
    *    MERGE schema contract, loudly). */
  def refreshFull(spark: SparkSession, srcTable: String, mvTable: String,
                  groupCols: Seq[String], sumCols: Seq[String],
                  minMaxCols: Seq[String] = Seq.empty,
                  alignCursor: Option[String] = None): Long = {
    val versions = LakeWriter.snapshotVersions(spark, srcTable)
    require(versions.nonEmpty, s"no snapshots at $srcTable")
    val src = LakeWriter.readSnapshot(spark, srcTable, Some(versions.last))
    val aggs = (count(lit(1)).as("n_rows") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))) ++
      minMaxCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))
    val mv = src.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // count/sum posture (alignCursor set): stamp the absorbed source
    // version so a crash before the cursor write below cannot make
    // the next refreshAgg re-apply versions this rebuild already
    // contains (the same exactly-once argument as applyDelta)
    val v = LakeWriter.commitSnapshot(mv, mvTable,
      txn = alignCursor.map(_ => MvTxnApp -> versions.last))
    alignCursor.foreach(LakeWriter.writeCursor(spark, _, versions.last))
    v
  }

  /** Seed a MISSING cursor file from the MV's own txn stamp (the
    * lost-cursor recovery that makes the stamp, not the file, the
    * source of truth): with the cursor restored to the stamp,
    * `processNewVersions` feeds only versions past it as DELTAS —
    * and if the source was vacuumed past the stamp it refuses loudly
    * (its own cursor-vs-oldest check) instead of re-feeding a
    * bootstrap full snapshot that a stamped-but-behind MV would
    * absorb as a delta, double-counting every group. */
  private def seedCursorFromStamp(spark: SparkSession, mvTable: String,
                                  cursorPath: String,
                                  appId: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    if (LakeWriter.fsOf(spark, p).exists(p)) return
    LakeWriter.lastTxnVersion(spark, mvTable, appId)
      .foreach(LakeWriter.writeCursor(spark, cursorPath, _))
  }

  /** Refresh (or bootstrap) the COUNT/SUM materialized view of
    * `srcTable` grouped by `groupCols`, consuming every version
    * committed since the cursor last advanced. The MV is itself a
    * snapshot table with schema `groupCols ++ (n_rows, sum_<c>...)`
    * and one row per group; groups whose row count returns to zero
    * are deleted (file-pruned) rather than kept as tombstones.
    *
    * Replays are EXACTLY-ONCE: every merge stamps its source version
    * as an application transaction on the MV manifest (atomic with
    * the merged values — [[applyDelta]]), so a crash after the MV
    * merge but before the cursor advance replays the version and the
    * stamp skips it; the external cursor is a scheduling optimization
    * (don't re-plan absorbed versions), not the correctness
    * mechanism. Group columns must be non-null (the usual MV key
    * contract; enforce upstream or bucket nulls explicitly).
    *
    * @param sumCols numeric source columns to maintain sums for
    * @return versions of `srcTable` processed this call */
  def refreshAgg(spark: SparkSession, srcTable: String, mvTable: String,
                 cursorPath: String, groupCols: Seq[String],
                 sumCols: Seq[String]): Seq[Long] = {
    seedCursorFromStamp(spark, mvTable, cursorPath, MvTxnApp)
    // uncollapsed feed: rewrite noise cancels algebraically in the
    // signed sums — the collapse pass is skipped per version
    LakeWriter.processNewVersions(spark, srcTable, cursorPath,
      collapse = false) {
      (feed, v) => applyDelta(spark, mvTable, feed, groupCols, sumCols, v)
    }
  }

  /** The txn appId MV merges stamp on the MV table — the
    * exactly-once cursor ([[LakeWriter.lastTxnVersion]]). */
  private[graft] val MvTxnApp = "graft.mv"

  /** The txn appId [[refreshHll]] stamps. */
  private[graft] val HllTxnApp = "graft.mv.hll"

  /** One incremental MV merge step from one version's change feed —
    * shared by the batch cursor loop ([[refreshAgg]]) and the
    * streaming consumer ([[refreshAggStream]]). EXACTLY-ONCE on
    * replay: the merge commit stamps `srcVersion` as an application
    * transaction on the MV's own manifest (atomic with the merged
    * values — same manifest rename), and a re-applied version —
    * external-cursor crash window, or a restarted multi-version
    * stream batch — sees the stamp and SKIPS instead of re-adding
    * its delta to totals that already absorbed it. Covers the
    * bootstrap commit too (its replay finds the stamp, not an empty
    * MV). current+delta is NOT idempotent by value; the stamp is
    * what makes the replay algebra safe. */
  private def applyDelta(spark: SparkSession, mvTable: String,
                         feed: => DataFrame, groupCols: Seq[String],
                         sumCols: Seq[String], srcVersion: Long): Unit = {
    if (LakeWriter.lastTxnVersion(spark, mvTable, MvTxnApp)
        .exists(_ >= srcVersion)) {
      // already absorbed (this is a replay). Re-run only the
      // emptied-group sweep: a crash BETWEEN the stamped merge and
      // the delete below would otherwise leave n_rows=0 tombstones
      // served forever. No-op commit-free when nothing matches.
      LakeWriter.deleteFromSnapshot(spark, mvTable,
        col("n_rows") === 0L): Unit
      return
    }
    val txn = Some(MvTxnApp -> srcVersion)
    val sign = when(col("_change_type") === "insert", 1L)
      .otherwise(-1L)
    val delta = feed.groupBy(groupCols.map(col): _*).agg(
      sum(sign).as("n_rows"),
      sumCols.map(c => sum(col(c) * sign).as(s"sum_$c")): _*)
    val valueCols = "n_rows" +: sumCols.map(c => s"sum_$c")
    val outCols = groupCols ++ valueCols
    if (LakeWriter.snapshotVersions(spark, mvTable).isEmpty) {
      LakeWriter.commitSnapshot(
        delta.where(col("n_rows") =!= 0L)
          .select(outCols.map(col): _*), mvTable, txn = txn): Unit
    } else {
      val current = LakeWriter.readSnapshot(spark, mvTable)
      // touched groups only: delta drives, current fills in the
      // prior totals (0 for groups the MV has not seen)
      val merged = delta.alias("d")
        .join(current.alias("m"), groupCols, "left")
        .select(groupCols.map(col) ++ valueCols.map(c =>
          // both sides null-guarded: a commit whose feed values for
          // a sumCol are all NULL yields a NULL delta sum, and an
          // unguarded + would wipe the group's accumulated total
          (coalesce(col(s"m.$c"), lit(0L)) +
            coalesce(col(s"d.$c"), lit(0L))).as(c)): _*)
      LakeWriter.mergeSnapshot(merged, mvTable, groupCols, txn = txn)
      // emptied groups leave the MV; the delete file-prunes
      LakeWriter.deleteFromSnapshot(spark, mvTable,
        col("n_rows") === 0L): Unit
    }
  }

  /** STREAMING incremental MV maintenance — the lambda serving loop
    * closed end to end: [[LogTail]] tails the source table's
    * `_manifests` directory (every committed version's manifest is
    * one `v{N}.json` file, renamed into place atomically; versions
    * come from the file names), and each micro-batch applies the same
    * touched-group merge as [[refreshAgg]]. Versions apply
    * oldest-first (a trigger drains every pending version in one
    * batch), each consuming only its own UNCOLLAPSED delta through
    * [[LakeWriter.versionFeeds]] — rewrite noise cancels
    * algebraically in the signed sums — so refresh stays O(delta +
    * touched groups) per commit at any table size.
    *
    * Exactly-once: each version's merge stamps the source version as
    * an application transaction on the MV manifest (atomic with the
    * merged values — [[applyDelta]]), so a crash anywhere in a
    * multi-version batch replays the batch and every
    * already-absorbed version SKIPS on its stamp, without building
    * its feed, instead of double-counting — the stream checkpoint
    * only bounds how much replays, never whether a replay is safe.
    * Covers the bootstrap commit too; a source vacuumed past the
    * stamp refuses. Blocks until every version committed so far is
    * absorbed; re-invoke on a live checkpoint to drain later
    * commits. */
  def refreshAggStream(spark: SparkSession, srcTable: String,
                       mvTable: String, checkpoint: String,
                       groupCols: Seq[String],
                       sumCols: Seq[String]): Unit =
    LogTail(spark, LakeWriter.manifestDir(srcTable).toString, "v*.json",
        LakeWriter.manifestVersionOf, checkpoint) { batch =>
      val stamp = LakeWriter.lastTxnVersion(spark, mvTable, MvTxnApp)
      LakeWriter.versionFeeds(spark, srcTable, stamp, collapse = false)(
        batch.toSet).foreach { case (v, feed) =>
        applyDelta(spark, mvTable, feed(), groupCols, sumCols, v)
      }
    }

  /** Incrementally-maintained APPROX-DISTINCT materialized view —
    * one HLL sketch (Spark's native DataSketches `hll_sketch_agg`)
    * per group, plus the row count. The 100 TB COUNT DISTINCT
    * answer: the MV holds a few KB per group forever, each refresh
    * unions the delta's sketches into the touched groups
    * (`hll_union` is a per-row scalar — O(delta + touched groups),
    * never a source re-scan), and estimates are mergeable across any
    * grouping, which an exact distinct-count MV can never be.
    *
    * Sketches are NOT self-maintainable under deletes (a sketch
    * cannot subtract) — a version whose feed contains ANY delete
    * triggers a full rebuild from that version's snapshot, the
    * min/max discipline with the trigger automated. Append-only
    * histories stay O(delta) forever. Replays are EXACTLY-ONCE via
    * the same application-transaction stamp as [[refreshAgg]]
    * (`hll_union` alone would be idempotent — sketches are sets —
    * but the ridden `n_rows` count is not).
    *
    * MV schema: groupCols ++ (n_rows, hll) — read estimates with
    * `hll_sketch_estimate(col("hll"))`.
    * @return versions of `srcTable` processed this call */
  def refreshHll(spark: SparkSession, srcTable: String, mvTable: String,
                 cursorPath: String, groupCols: Seq[String],
                 distinctCol: String): Seq[Long] = {
    seedCursorFromStamp(spark, mvTable, cursorPath, HllTxnApp)
    LakeWriter.processNewVersions(spark, srcTable, cursorPath) {
      (feed, v) =>
        if (LakeWriter.lastTxnVersion(spark, mvTable, HllTxnApp)
            .exists(_ >= v)) ()  // replay of an absorbed version
        else {
        val txn = Some(HllTxnApp -> v)
        val hasDeletes =
          !feed.where(col("_change_type") === "delete").isEmpty
        val mvExists = LakeWriter.snapshotVersions(spark, mvTable).nonEmpty
        if (hasDeletes) {
          // full rebuild AS OF this version — deletes invalidate the
          // union-only maintenance argument
          val src = LakeWriter.readSnapshot(spark, srcTable, Some(v))
          val mv = src.groupBy(groupCols.map(col): _*)
            .agg(count(lit(1)).as("n_rows"),
              hll_sketch_agg(col(distinctCol)).as("hll"))
          LakeWriter.commitSnapshot(mv, mvTable, txn = txn): Unit
        } else {
          val delta = feed.where(col("_change_type") === "insert")
            .groupBy(groupCols.map(col): _*)
            .agg(count(lit(1)).as("n_rows"),
              hll_sketch_agg(col(distinctCol)).as("hll"))
          if (!mvExists)
            LakeWriter.commitSnapshot(delta, mvTable, txn = txn): Unit
          else {
            val current = LakeWriter.readSnapshot(spark, mvTable)
            val merged = delta.alias("d")
              .join(current.alias("m"), groupCols, "left")
              .select(groupCols.map(col) ++ Seq(
                (coalesce(col("m.n_rows"), lit(0L)) + col("d.n_rows"))
                  .as("n_rows"),
                when(col("m.hll").isNull, col("d.hll"))
                  .otherwise(hll_union(col("m.hll"), col("d.hll")))
                  .as("hll")): _*)
            LakeWriter.mergeSnapshot(merged, mvTable, groupCols,
              txn = txn): Unit
          }
        }
        }
    }
  }
}
