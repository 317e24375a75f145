package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, FileSourceConstantMetadataStructField,
  Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** A file index fed from a manifest or a commit log instead of a
  * directory listing — the role Delta's log-planned file index plays:
  * every entry already knows its path, its length, its typed partition
  * values and the per-file constants its rows carry, so planning never
  * lists a directory and never stats a file whose length is known.
  * An entry with an unknown length (a manifest written before lengths
  * were recorded, a foreign log) is stat'ed once, on the driver's IO
  * pool, when the index is first planned.
  *
  * A path may appear in several entries (the change readers list a
  * file once per change window): each entry becomes its own scan unit
  * with its own constants. Partition filters are applied here — Spark
  * does not re-apply them above the scan. */
final class SnapshotIndex(spark: SparkSession,
                          entries: Seq[SnapshotIndex.Entry],
                          override val partitionSchema: StructType)
    extends FileIndex {

  private lazy val statuses: Seq[FileStatusWithMetadata] = {
    val unknown = entries.filter(_.length < 0).map(_.path).distinct
    val stat: Map[String, Long] = unknown.zip(LakeWriter.parMap(spark,
      unknown) { p =>
        val path = new Path(p)
        LakeWriter.fsOf(spark, path).getFileStatus(path).getLen
      }).toMap
    entries.map(e => FileStatusWithMetadata(
      new FileStatus(if (e.length < 0) stat(e.path) else e.length,
        false, 0, 0, 0, new Path(e.path)), e.consts))
  }

  private lazy val partitions: Seq[PartitionDirectory] = {
    val byValues = entries.map(_.partition).zip(statuses)
      .groupBy(_._1)
    entries.map(_.partition).distinct.map(v =>
      PartitionDirectory(v, byValues(v).map(_._2)))
  }

  override def rootPaths: Seq[Path] =
    entries.map(_.path).distinct.map(new Path(_))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty || partitionSchema.isEmpty) partitions
    else {
      val names = partitionSchema.fieldNames
      val keep = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = names.indexWhere(_.equalsIgnoreCase(a.name))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      partitions.filter(d => keep.eval(d.values))
    }

  override def inputFiles: Array[String] =
    entries.map(_.path).distinct.toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum
}

object SnapshotIndex {

  /** One scan unit: `path`, its byte `length` (negative when unknown),
    * its partition values (Catalyst internal form, in the index's
    * partition-schema order) and its constants by `_metadata` field
    * name (internal form; null for none). */
  final case class Entry(path: String, length: Long, partition: InternalRow,
                         consts: Map[String, Any])
}

/** Parquet that serves `constants` as `_metadata` file-constant fields
  * next to `row_index`: each file's values come from its
  * [[SnapshotIndex.Entry.consts]]. */
final case class SliceParquetFormat(constants: Seq[StructField])
    extends ParquetFileFormat {
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields ++ constants.map(f =>
      FileSourceConstantMetadataStructField(f.name, f.dataType, f.nullable))
  override def toString: String = "Parquet"
}
