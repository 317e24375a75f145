package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row,
  SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, concat, lit,
  raise_error, when}
import org.apache.spark.sql.types.{BinaryType, BooleanType, StringType,
  StructField, StructType}

/** The slice scan every merge-on-read reader shares — native snapshots
  * ([[LakeWriter]]), [[DeltaMirror.readDelta]] / `readChangeFeed` and
  * [[IcebergMirror.readIceberg]] / `readIcebergChanges`. A reader
  * parses its log into [[Slice]]s — a file, the per-file constants
  * its rows carry (partition values, change type, commit version…)
  * and the deletion-vector window that selects them — and [[scan]]
  * turns them into rows: one scan of the distinct files, the
  * constants and bitmaps attached by a broadcast LEFT join on Spark's
  * `_metadata.file_path`, the window applied by the cached-parse
  * [[graft.plans.DvContains]] kernel, and a loud guard on a scanned
  * file that matches no slice. [[transition]] is the one rule by which
  * the change readers turn a file's (DV before, DV after) into insert
  * and delete windows. What differs per format — log parsing, how DV
  * bytes load and verify, partition-value typing, Iceberg's position
  * and equality deletes, the final logical projection — stays with
  * the reader. */
private[graft] object FileScan {

  /** A deletion vector: its portable-roaring bitmap bytes and its
    * GENERATION (native digest, Delta uniqueId, Iceberg puffin
    * path@offset) — what tells two bitmaps of one file apart. */
  final case class Dv(bytes: Array[Byte], generation: String)

  /** One scan unit: the rows of `file` that `enter` holds (when set)
    * and `exit` does not (when set), each carrying `consts` — one
    * value per field [[scan]] is given. A file may be listed in
    * several slices; each yields its own row set. */
  final case class Slice(file: String, consts: Seq[Any] = Nil,
                         enter: Option[Dv] = None, exit: Option[Dv] = None)

  /** The scan-side file key column ([[tag]]). */
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

  /** The change rule of a file between two states, as (change type,
    * enter, exit) windows. Each side is None when the file is absent
    * from that state, Some(dv) when present under `dv`:
    *  - added: insert, minus its DV;
    *  - removed: delete, minus its retired DV (those rows were
    *    reported when the DV appeared);
    *  - re-paired under a new DV: delete in (new \ old), plus insert
    *    in (old \ new) when an old DV exists — deletes normally only
    *    grow the bitmap, but a restore re-pins a smaller one;
    *  - DV retired: the old bitmap's rows come back — insert in old;
    *  - re-added with no DV on either side: whole-file delete + insert,
    *    the net a two-file rewrite reports. */
  def transition(before: Option[Option[Dv]], after: Option[Option[Dv]])
      : Seq[(String, Option[Dv], Option[Dv])] = (before, after) match {
    case (None, Some(nw)) => Seq(("insert", None, nw))
    case (Some(old), None) => Seq(("delete", None, old))
    case (Some(old), Some(Some(nw))) =>
      ("delete", Some(nw), old) +:
        old.map(o => ("insert", Some(o), Some(nw))).toSeq
    case (Some(Some(old)), Some(None)) => Seq(("insert", Some(old), None))
    case (Some(None), Some(None)) =>
      Seq(("delete", None, None), ("insert", None, None))
    case (None, None) => Nil
  }

  /** The rows of `slices`: `read` scans their distinct files (one
    * parquet scan per returned frame, unioned by name), and each
    * slice's [[Slice.consts]] attach under `fields` by a broadcast
    * LEFT join on the file key — a file listed in k slices fans out
    * into k row sets, each filtered to its DV window. The result keeps
    * the scan's columns, the `fields` and, with `rowIndex` or any DV,
    * the [[RowIndex]]. When no slice carries a constant or a DV no
    * join is planned: the scan is returned as read.
    *
    * The DvContains parse-cache key is the file key + the DV
    * generation: an executor thread's interpreted-mode cache outlives
    * a query, and the same file read under another bitmap must never
    * serve the first parse. A scanned file that matches no slice
    * RAISES, naming `reader` and the file: the key is a re-rendering
    * of a path, and an encoding drift that misses it must be loud — an
    * inner join silently drops the file's rows, and a left join that
    * served them unfiltered would silently serve deleted rows. */
  def scan(spark: SparkSession, slices: Seq[Slice], fields: Seq[StructField],
           reader: String, rowIndex: Boolean = false)(
      read: Seq[String] => Seq[DataFrame]): DataFrame = {
    // each DV side some slice sets adds its (bitmap, cache key)
    // columns and one clause of the window: in `enter`, not in `exit`
    val sides = Seq(
      ("__graft_indv", "__graft_inkey", (s: Slice) => s.enter, true),
      ("__graft_dv", "__graft_dvkey", (s: Slice) => s.exit, false))
      .filter(side => slices.exists(side._3(_).nonEmpty))
    val joined = fields.nonEmpty || sides.nonEmpty
    val scans = read(slices.map(_.file).distinct).map(s =>
      if (joined) tag(s, rowIndex || sides.nonEmpty) else s)
      .reduce(_ unionByName _)
    if (!joined) return scans
    val key = keyOf(spark)
    val meta = metaFrame(spark, slices.map { s =>
        val k = key(s.file)
        k -> (s.consts ++ sides.flatMap { case (_, _, dv, _) =>
          Seq(dv(s).map(_.bytes).orNull,
            dv(s).map(k + "\u0000" + _.generation).orNull)
        } :+ java.lang.Boolean.TRUE)
      }, fields ++ sides.flatMap { case (dv, k, _, _) =>
        Seq(StructField(dv, BinaryType, true), StructField(k, StringType, true))
      } :+ StructField(Matched, BooleanType, true))
    val keep = sides.map { case (dv, k, _, enter) =>
        col(dv).isNull || (if (enter) dvContains(k, dv) else !dvContains(k, dv))
      }.reduceOption(_ && _).getOrElse(lit(true))
    scans.join(broadcast(meta), Seq(File), "left")
      .where(when(col(Matched).isNotNull, keep)
        .otherwise(raise_error(concat(
          lit(s"$reader: data file "), col(File),
          lit(" failed to match its metadata entry " +
            "(path-encoding regression)"))).cast("boolean")))
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
    * `dv` marks — the cached-parse [[graft.plans.DvContains]] kernel,
    * `key` naming its parse-cache key column (file key + DV
    * generation, as [[scan]] builds it). Null when `dv` is null. */
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
}
