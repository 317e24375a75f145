package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row,
  SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, concat, lit,
  raise_error, when}
import org.apache.spark.sql.types.{BooleanType, StringType, StructField,
  StructType}

/** The file-keyed scan every merge-on-read reader shares — native
  * snapshots ([[LakeWriter]]), [[DeltaMirror.readDelta]] /
  * `readChangeFeed` and [[IcebergMirror.readIceberg]] /
  * `readIcebergChanges`. Each attaches per-file metadata (deletion
  * vector bytes, partition values, commit version) to its rows by a
  * broadcast LEFT join on Spark's `_metadata.file_path`; this object
  * owns the three pieces that must agree across them: the key's
  * rendering ([[keyOf]]), the deletion-vector row test
  * ([[dvContains]]) and the loud unmatched-file guard
  * ([[joinGuarded]]). What differs per format — how DV bytes load
  * and verify, the DV generation in the kernel's cache key, partition
  * value typing, Iceberg's position and equality deletes — stays with
  * the reader. */
private[graft] object FileScan {

  /** The scan-side file key column ([[tag]]) — also the join key the
    * metadata frame ([[metaFrame]]) leads with. */
  val File = "__graft_file"
  /** The scan-side row-index column ([[tag]] with `rowIndex`). */
  val RowIndex = "__graft_ridx"
  private val Matched = "__graft_matched"

  /** A file path → its key as Spark's `_metadata.file_path` renders
    * it: the url-ENCODED single-slash URI form
    * ("file:/dir/a%20b.parquet" for a file named "a b.parquet") — NOT
    * `Path.toString` (raw space) and NOT `Path.toUri.toString`
    * (triple-slash). Rebuilding it through java.net.URI's quoting from
    * the raw qualified path matches byte for byte (space → %20, '+'
    * stays '+'). One Hadoop conf serves every call of the returned
    * function. */
  def keyOf(spark: SparkSession): String => String = {
    val hconf = spark.sessionState.newHadoopConf()
    p => {
      val abs = new org.apache.hadoop.fs.Path(p)
      val q = abs.getFileSystem(hconf).makeQualified(abs).toUri
      new java.net.URI(q.getScheme, q.getAuthority,
        q.getPath, null, null).toString
    }
  }

  /** `scan` with its [[File]] key (and, with `rowIndex`, the
    * [[RowIndex]] that [[dvContains]] tests). Apply it directly on
    * a parquet scan: the file-metadata columns resolve only there. */
  def tag(scan: DataFrame, rowIndex: Boolean): DataFrame = {
    val keyed = scan.withColumn(File, col("_metadata.file_path"))
    if (rowIndex) keyed.withColumn(RowIndex, col("_metadata.row_index"))
    else keyed
  }

  /** True on rows whose [[RowIndex]] the serialized bitmap in column
    * `dv` marks — the cached-parse [[graft.plans.DvContains]] kernel.
    * `key` names the kernel's parse-cache key column; it must carry
    * the DV GENERATION (native digest, Delta uniqueId, Iceberg puffin
    * path@offset), not just the file: an executor thread's
    * interpreted-mode cache outlives a query, and the same file read
    * under another bitmap would silently serve the first parse. Null
    * when `dv` is null — callers compose their own predicate. */
  def dvContains(key: String, dv: String): Column =
    GraftColumnBridge.column(graft.plans.DvContains(
      GraftColumnBridge.expression(col(key)),
      GraftColumnBridge.expression(col(dv)),
      GraftColumnBridge.expression(col(RowIndex))))

  /** A broadcastable metadata frame: one row per `(key, values)`
    * entry, the [[File]] key column first, then `fields`. */
  def metaFrame(spark: SparkSession, rows: Seq[(String, Seq[Any])],
                fields: Seq[StructField]): DataFrame =
    spark.createDataFrame(
      rows.map { case (k, vs) => Row.fromSeq(k +: vs) }.asJava,
      StructType(StructField(File, StringType, false) +: fields))

  /** Broadcast-LEFT-join the [[tag]]ged `scan` to its per-file
    * metadata (`rows` under `fields`, as [[metaFrame]]) and keep the
    * rows `keep` holds for. A scanned file that matches no entry
    * RAISES, naming `reader` and the file: the key is a
    * re-rendering of a path, and an encoding drift that misses it
    * must be loud — an inner join silently drops the file's rows, and
    * a left join that served them unfiltered would, with deletion
    * vectors, silently serve deleted rows. */
  def joinGuarded(scan: DataFrame, rows: Seq[(String, Seq[Any])],
                  fields: Seq[StructField], keep: Column,
                  reader: String): DataFrame = {
    val meta = metaFrame(scan.sparkSession,
      rows.map { case (k, vs) => k -> (vs :+ java.lang.Boolean.TRUE) },
      fields :+ StructField(Matched, BooleanType, true))
    scan.join(broadcast(meta), Seq(File), "left")
      .where(when(col(Matched).isNotNull, keep)
        .otherwise(raise_error(concat(
          lit(s"$reader: data file "), col(File),
          lit(" failed to match its metadata entry " +
            "(path-encoding regression)"))).cast("boolean")))
  }
}
