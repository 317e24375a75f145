package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge,
  GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The slice scan every merge-on-read reader shares — native snapshots
  * ([[LakeWriter]]), [[DeltaMirror.readDelta]] / `readChangeFeed` and
  * [[IcebergMirror.readIceberg]] / `readIcebergChanges`. A reader
  * parses its manifest or log into [[Slice]]s — a file, its length
  * and partition values, the per-file constants its rows carry
  * (partition values, change type, commit version…) and the
  * deletion-vector window that selects them — and [[scan]] plans them
  * as ONE parquet scan over a [[SnapshotIndex]]: no listing, no union
  * of scans, no join. Each slice's constants and DV bitmaps ride as
  * `_metadata` file constants ([[SliceParquetFormat]]), so the window
  * is a plain filter of the cached-parse [[graft.plans.DvContains]]
  * kernel on `_metadata.row_index`, and a file cannot be served
  * without its own slice's bitmap. [[transition]] is the one rule by
  * which the change readers turn a file's (DV before, DV after) into
  * insert and delete windows. What differs per format — log parsing,
  * how DV bytes load and verify, partition-value typing, Iceberg's
  * position and equality deletes, the final logical projection —
  * stays with the reader. */
private[graft] object FileScan {

  /** A deletion vector: its portable-roaring bitmap bytes and its
    * GENERATION (native digest, Delta uniqueId, Iceberg puffin
    * path@offset) — what tells two bitmaps of one file apart. */
  final case class Dv(bytes: Array[Byte], generation: String)

  /** One scan unit: the rows of `file` that `enter` holds (when set)
    * and `exit` does not (when set), each carrying `consts` — one
    * value per field [[scan]] is given. `length` is the file's byte
    * length when the manifest or log knows it (negative: stat it), and
    * `partition` its values for [[scan]]'s partition schema, in
    * Catalyst's internal form. A file
    * may be listed in several slices; each yields its own row set. */
  final case class Slice(file: String, consts: Seq[Any] = Nil,
                         enter: Option[Dv] = None, exit: Option[Dv] = None,
                         length: Long = -1L, partition: Seq[Any] = Nil)

  /** The row-index column [[scan]] adds with `rowIndex`. */
  val RowIndex = "__graft_ridx"

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

  /** The rows of `slices` as one parquet scan: `dataSchema` is read
    * from the files, `partitionSchema` served from each slice's
    * [[Slice.partition]], and each slice's [[Slice.consts]] appear
    * under `fields` — a file listed in k slices fans out into k row
    * sets, each filtered to its DV window. The result keeps the
    * relation's columns (data, then partition), the `fields` and, with
    * `rowIndex`, the [[RowIndex]]; every column is nullable, as a
    * parquet source serves it.
    *
    * The DvContains parse-cache key is the file path + the DV
    * generation: an executor thread's interpreted-mode cache outlives
    * a query, and the same file read under another bitmap must never
    * serve the first parse. A slice whose file is missing fails the
    * scan, also under `spark.sql.files.ignoreMissingFiles`: a manifest
    * entry is a promise, and skipping it would silently drop rows. */
  def scan(spark: SparkSession, slices: Seq[Slice], dataSchema: StructType,
           fields: Seq[StructField] = Nil,
           partitionSchema: StructType = new StructType(),
           rowIndex: Boolean = false): DataFrame = {
    // each DV side some slice sets adds its (bitmap, cache key)
    // constants and one clause of the window: in `enter`, not in `exit`
    val sides = Seq(
      ("__graft_indv", "__graft_inkey", (s: Slice) => s.enter, true),
      ("__graft_dv", "__graft_dvkey", (s: Slice) => s.exit, false))
      .filter(side => slices.exists(side._3(_).nonEmpty))
    val constants = (fields ++ sides.flatMap { case (dv, k, _, _) =>
        Seq(StructField(dv, BinaryType), StructField(k, StringType))
      }).map(_.copy(nullable = true))
    val toCatalyst = fields.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val entries = slices.map { s =>
      val dvs = sides.flatMap { case (_, _, dv, _) =>
        Seq(dv(s).map(_.bytes).orNull, dv(s).map(d =>
          UTF8String.fromString(s.file + "\u0000" + d.generation)).orNull)
      }
      SnapshotIndex.Entry(s.file, s.length,
        InternalRow.fromSeq(s.partition),
        constants.map(_.name).zip(s.consts.zip(toCatalyst).map {
          case (v, c) => c(v) } ++ dvs).toMap)
    }
    val parts = GraftColumnBridge.asNullable(partitionSchema)
    val relation = HadoopFsRelation(new SnapshotIndex(spark, entries, parts),
      parts, GraftColumnBridge.asNullable(dataSchema), None,
      SliceParquetFormat(constants),
      Map("ignoreMissingFiles" -> "false"))(spark)
    val rel = GraftPlanBridge.ofRows(spark, LogicalRelation(relation))
    def meta(n: String): Column = col(s"_metadata.$n")
    val keep = sides.map { case (dv, k, _, enter) =>
        val in = dvContains(meta(k), meta(dv), meta("row_index"))
        meta(dv).isNull || (if (enter) in else !in)
      }.reduceOption(_ && _)
    keep.fold(rel)(k => rel.where(k)).select(col("*") +: (fields.map(f =>
        meta(f.name).as(f.name)) ++
      (if (rowIndex) Seq(meta("row_index").as(RowIndex)) else Nil)): _*)
  }

  /** True on rows whose `rowIndex` the serialized bitmap `dv` marks —
    * the cached-parse [[graft.plans.DvContains]] kernel, `key` naming
    * the parse (file + DV generation, as [[scan]] builds it). Null
    * when `dv` is null. */
  def dvContains(key: Column, dv: Column, rowIndex: Column): Column =
    GraftColumnBridge.column(graft.plans.DvContains(
      GraftColumnBridge.expression(key), GraftColumnBridge.expression(dv),
      GraftColumnBridge.expression(rowIndex)))
}
