package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{coalesce, col, expr, greatest,
  least, lit, max, min, shiftleft, shiftright, when}

/** Sink layer: lakehouse-style table maintenance over native parquet.
  *
  * Twin of the reference's `write_iceberg_dynamic_partition`
  * (/root/reference/airflow/dags/utils/init_spark.py:48-115): create a
  * partitioned table if absent, otherwise overwrite ONLY the
  * partitions present in the incoming frame. No Iceberg jars ship in
  * this image, so the same semantics are built on Spark's native
  * `partitionOverwriteMode=dynamic` — which at 100 TB is exactly the
  * behavior you want: a daily load touches one `datadate` partition,
  * never rewrites the table.
  */
object LakeWriter {

  /** Write `df` to `path` partitioned by `partitionCols`; existing
    * partitions not present in `df` are left untouched. The mode is
    * this write's option, so later overwrites in the session keep
    * Spark's static default. */
  def dynamicPartitionOverwrite(df: DataFrame, path: String,
                                partitionCols: Seq[String]): Unit = {
    val missing = partitionCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"partition columns not in frame: $missing")
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Full-table overwrite (initial loads / small dims). */
  def overwrite(df: DataFrame, path: String,
                partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Bucketed + sorted table: co-locates join/aggregation keys at
    * WRITE time so repeated large-to-large joins on `bucketCols` run
    * with NO shuffle on either side — the 100 TB answer to a fact
    * table that is joined on the same key every day. Requires a
    * catalog table (bucketing metadata lives in the catalog). */
  def bucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Small-file compaction: rewrite a partitioned table so each
    * partition holds one file (hash-repartitioning by the partition
    * columns sends each partition's rows to a single task). Streaming
    * sinks and frequent incremental loads accumulate small files that
    * degrade scan planning — schedule this per zone. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              partitionCols: Seq[String]): Unit = {
    val df = spark.read.parquet(path)
    overwriteViaStaging(
      if (partitionCols.isEmpty) df.coalesce(1)
      else df.repartition(partitionCols.map(df.col): _*),
      path, partitionCols)
  }

  /** Overwrite the plain parquet directory `path` with `df`, even when
    * `df` READS from `path` (it cannot be overwritten in place):
    * materialize `df` to `path__staging`, then swap by rename-aside —
    * live -> `__old`, staged -> live, delete `__old` — so a crash never
    * leaves the table missing (between the renames, `__old` is the
    * intact recovery copy). The filesystem is the TABLE's, not the
    * default one (they differ whenever the lake lives on s3a/hdfs).
    * S3-like stores lack atomic rename: swap there through a catalog
    * or a snapshot format instead. The renames bypass the writer path
    * that invalidates Spark's file-listing cache, so the path is
    * refreshed — stale listings would 404 later. */
  private[graft] def overwriteViaStaging(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, dst)
    if (!fs.exists(dst)) return overwrite(df, path, partitionCols)
    val staged =
      new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__staging")
    overwrite(df, staged.toString, partitionCols)
    val old = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(dst, old), s"staging swap: could not move $dst aside")
    require(fs.rename(staged, dst),
      s"staging swap: could not activate $staged at $dst")
    fs.delete(old, true)
    spark.catalog.refreshByPath(path)
  }

  /** Range-clustered rewrite for DATA SKIPPING: `repartitionByRange` +
    * `sortWithinPartitions` on `cols` gives every output file a tight,
    * (near-)disjoint min/max range on those columns, which parquet
    * records as file/row-group statistics. A reader's range predicate
    * then prunes whole files before any IO — on a 100 TB fact table
    * clustered by date/key, a narrow scan touches a handful of files.
    * This is the single-dimension clustering a lakehouse OPTIMIZE
    * performs; schedule it like `compact`. */
  def clusteredWrite(df: DataFrame, path: String, cols: Seq[String],
                     nFiles: Int): Unit =
    df.repartitionByRange(nFiles, cols.map(df.col): _*)
      .sortWithinPartitions(cols.map(df.col): _*)
      .write.mode("overwrite").parquet(path)

  /** Multi-dimension clustering: sort by the Z-ORDER key (bit
    * interleaving of 2-4 columns — graft.plans.InterleaveBits) so
    * every file carries tight min/max statistics on EVERY clustered
    * dimension and a predicate on any one of them prunes files;
    * `clusteredWrite` can only serve a single leading column.
    *
    * Each column is min/max-normalized across the full int domain
    * first — raw interleaving is dominated by whichever column has
    * the larger magnitude (its high bits outrank ALL of the other
    * columns' varying bits), which silently degrades to single-column
    * clustering. One cheap scalar aggregate buys the bounds. */
  def zorderWrite(df: DataFrame, path: String, cols: Seq[String],
                  nFiles: Int): Unit = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.functions.{col, lit, max, min}
    require(cols.size >= 2 && cols.size <= 4,
      s"zorderWrite takes 2-4 cluster columns, got ${cols.size}")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    if (b.anyNull) {
      // empty input (or an all-null cluster column): no bounds to
      // scale by — write as-is, like clusteredWrite on empty input
      df.write.mode("overwrite").parquet(path)
      return
    }
    // spread [lo, hi] across the FULL signed-int range: the kernel
    // keeps each dimension's top 64/n bits, so packing the value into
    // the high bits preserves maximum resolution for n > 2
    def scaled(i: Int): org.apache.spark.sql.Column = {
      val lo = b.getDouble(2 * i); val hi = b.getDouble(2 * i + 1)
      if (hi <= lo) lit(0) // constant column: every row the same cell
      else (((col(cols(i)).cast("double") - lo) / (hi - lo)) * 4294967295.0)
        .cast("long").minus(2147483648L).cast("int")
    }
    val z = GraftColumnBridge.column(graft.plans.InterleaveBits(
      cols.indices.map(i => GraftColumnBridge.expression(scaled(i)))))
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Two-column convenience overload. */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
                  nFiles: Int): Unit =
    zorderWrite(df, path, Seq(colA, colB), nFiles)

  // ---- versioned (snapshot) tables ---------------------------------
  //
  // A minimal snapshot layer over native parquet — the shape Iceberg/
  // Delta give you, built from two primitives:
  //  - data files are IMMUTABLE once written (each commit writes into
  //    a fresh data/v{N} directory, never in place);
  //  - a commit is ONE atomic manifest rename. Readers resolve the
  //    manifest first, so they always see a complete snapshot — a
  //    writer crashing mid-write leaves dangling data files, never a
  //    torn table.
  // Time travel = reading an older manifest. On stores without atomic
  // rename (S3), swap the rename for a conditional PUT.

  /** Guards [[publish]]'s create-if-absent rename: the local-FS
    * fail-if-exists rename is check-then-rename, and this JVM-wide
    * lock closes that TOCTOU for same-process racers. */
  private val commitLock = new Object

  /** One hadoop conf per session for FILESYSTEM ACCESS (r18):
    * `sessionState.newHadoopConf()` clones the full configuration on
    * every call, and fsOf runs on every manifest touch — hundreds of
    * clones per commit cycle, pure driver CPU. FS resolution only
    * ever reads scheme/impl keys, which do not change mid-session;
    * read/write PLANS keep building their own fresh conf. */
  private val fsConfMemo =
    new java.util.WeakHashMap[SparkSession,
      org.apache.hadoop.conf.Configuration]

  private[sources] def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) = {
    val conf = fsConfMemo.synchronized {
      var c = fsConfMemo.get(spark)
      if (c == null) {
        c = spark.sessionState.newHadoopConf()
        fsConfMemo.put(spark, c)
      }
      c
    }
    p.getFileSystem(conf)
  }

  /** A pool for `n` independent driver-side metadata fetches (footers,
    * file statuses, avro manifests, DV blobs — on object stores each
    * is a network round trip), sized from the session like the dedup
    * shuffles: `defaultParallelism`, capped by the item count. The
    * caller shuts it down. */
  private[graft] def ioPool(spark: SparkSession,
                            n: Int): java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(spark.sparkContext.defaultParallelism, n)))

  /** `f` over `items` on an [[ioPool]], results in item order. */
  private[graft] def parMap[A, B](spark: SparkSession, items: Seq[A])
                                 (f: A => B): Seq[B] =
    if (items.isEmpty) Seq.empty
    else {
      val pool = ioPool(spark, items.size)
      try items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(a) })).map(awaitIo)
      finally pool.shutdown()
    }

  /** The result of a task on an [[ioPool]]; a failure surfaces as the
    * exception the task threw (its type and message), not wrapped in
    * an ExecutionException. */
  private[graft] def awaitIo[B](fut: java.util.concurrent.Future[B]): B =
    try fut.get()
    catch { case e: java.util.concurrent.ExecutionException
        if e.getCause != null => throw e.getCause }

  // ---- the two write primitives ------------------------------------
  //
  // Every commit makes two decisions, and each has ONE owner: where a
  // version's data files land ([[land]]) and how a metadata file
  // becomes visible ([[publish]]).

  /** A version's data directory NAME under `data/`:
    * `v{N}-{attempt}[-kind]`. */
  private val DataDirName = """v(\d+)-[^/]+""".r

  /** A data file's path up to and including its version directory. */
  private val VersionDir = ("^(?:.*/)?data/" + DataDirName.regex + "/").r

  /** The version a `data/` directory NAME was landed for, None for
    * any other name. */
  private def dataDirVersion(name: String): Option[Long] = name match {
    case DataDirName(n) => Some(n.toLong)
    case _ => None
  }

  private def newAttempt(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Land `df` as data files of `version` — the one writer of the
    * `data/v{N}-{attempt}[-kind]` layout. A directory per ATTEMPT, so
    * a crashed or conflicted commit leaves an orphan that vacuum
    * collects but that can never block or corrupt a later commit
    * (hence `errorifexists`). Files store PHYSICAL column names
    * (`colmap`) and micros timestamps, hive-partitioned by `partCols`
    * (identity-mapped: rename and drop refuse on them). `kind` names
    * one of several file sets a commit lands under one `attempt`.
    * Callers shape `df` first (repartition, sort, projection).
    * Returns the directory (a refused commit deletes it) and its
    * files, sorted, basenames unique table-wide ([[walkFreshData]]). */
  private[graft] def land(df: DataFrame, table: String, version: Long,
      colmap: ColMapping, partCols: Seq[String],
      attempt: String = newAttempt(), kind: String = "")
      : (org.apache.hadoop.fs.Path, Seq[String]) = {
    val spark = df.sparkSession
    val dir = new org.apache.hadoop.fs.Path(table,
      s"data/v$version-$attempt" + (if (kind.isEmpty) "" else s"-$kind"))
    withMicrosTimestamps(spark) {
      val w = toPhysical(df, colmap).write.mode("errorifexists")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .parquet(dir.toString) }
    (dir, walkFreshData(fsOf(spark, dir), dir).sorted)
  }

  /** The commit point of every metadata file graft writes (manifests,
    * catalog commits, tags and branches, Delta commits and
    * `_last_checkpoint`, Iceberg metadata and hints, change-feed
    * cursors): `bytes` go to a dot-hidden tmp beside `dest`, named
    * for this attempt (racers never share staging bytes; listings
    * skip dot files), and ONE rename makes them visible. No tmp
    * survives the call.
    *
    * `replace = false` is CREATE-IF-ABSENT: false when `dest` already
    * exists (another writer published first). Any other IO failure
    * (disk full, permissions) rethrows — calling it a lost race would
    * claim a concurrent writer published when none did. The local
    * filesystem's fail-if-exists rename is check-then-rename, so the
    * rename runs on [[commitLock]] to close that window for
    * same-process racers; across processes atomicity is the
    * filesystem's (real on HDFS; on object stores swap in a
    * conditional PUT). `replace = true` swaps `dest` atomically — never
    * a window with no `dest` at all.
    *
    * The rename is `FileContext`'s: `FileSystem.rename` reports every
    * failure as a bare `false`, which cannot tell a lost race from any
    * other failure, and has no overwrite mode. */
  private[graft] def publish(fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path, bytes: Array[Byte],
      replace: Boolean): Boolean = {
    val tmp = new org.apache.hadoop.fs.Path(dest.getParent,
      s".${dest.getName}.${newAttempt()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(dest.toUri,
      fs.getConf)
    try {
      if (replace)
        fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      else commitLock.synchronized { fc.rename(tmp, dest) }
      true
    } catch { case e: java.io.IOException =>
      try fs.delete(tmp, false) catch { case _: java.io.IOException => }
      if (!replace && fs.exists(dest)) false else throw e
    }
  }

  private[graft] def manifestDir(table: String) =
    new org.apache.hadoop.fs.Path(table, "_manifests")

  private val ManifestName = """v(\d+)\.json""".r

  /** The version a `_manifests` file NAME commits (`v{N}.json`), None
    * for any other name — the one rule by which version listings and
    * log tails know a table's versions (only [[Manifest]] reads a
    * body). */
  private[graft] def manifestVersionOf(name: String): Option[Long] =
    name match {
      case ManifestName(n) => Some(n.toLong)
      case _ => None
    }

  /** Snapshot versions present for a table, ascending. */
  def snapshotVersions(spark: SparkSession, table: String): Seq[Long] = {
    val dir = manifestDir(table)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => manifestVersionOf(s.getPath.getName)).sorted
  }

  /** Parquet files under `p`, recursively (hive layouts nest them). */
  private[graft] def walk(fs: org.apache.hadoop.fs.FileSystem,
                   p: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) walk(fs, st.getPath)
      else if (st.getPath.getName.endsWith(".parquet"))
        Seq(st.getPath.toString)
      else Seq.empty
    }

  /** The hive partition key of a data file, one value per partition
    * column, derived from the PATH — so two files compare equal iff
    * Spark's hive path formatter put them in the same partition. */
  private[sources] def partitionOf(partitionCols: Seq[String],
                                   file: String): String =
    partitionOfOpt(partitionCols, file).getOrElse(
      sys.error(s"snapshot file not hive-partitioned by " +
        s"${partitionCols.mkString(",")}: $file"))

  /** The part of a data file's path that holds its hive partition:
    * the segments below the version directory it was written into,
    * or, for a file ADOPTED IN PLACE by convertToSnapshot (no version
    * dir), its path from the first `k=v` directory on. A `k=v` segment
    * in the table's own location is never a partition. */
  private def partitionPath(file: String): String =
    VersionDir.findFirstMatchIn(file).map(m => file.substring(m.end))
      .getOrElse {
        val segs = file.split('/')
        segs.drop(math.max(0, segs.indexWhere(_.contains("="))))
          .mkString("/")
      }

  /** Raw (still-escaped) hive path segment value of `col` in `file`'s
    * [[partitionPath]], anchored at a path-segment start: without the
    * anchor, "day=" would also match inside ".../birthday=5/" and
    * extract wrong values. The column is matched as Spark's hive path
    * formatter writes it (escaped). The one rule behind
    * [[partitionOfOpt]], the snapshot reader's partition values, the
    * Iceberg mirror's partition extraction, and the DV changelog's
    * partition resolution — one regex to keep correct. */
  private[graft] def hiveSegmentOf(col: String,
                                   file: String): Option[String] =
    ("(?:^|/)" + java.util.regex.Pattern.quote(
      ExternalCatalogUtils.escapePathName(col)) + "=([^/]*)/").r
      .findFirstMatchIn(partitionPath(file)).map(_.group(1))

  /** Partition values of `file` under `partitionCols`, or None when
    * the file PREDATES the current partition spec (PARTITION SPEC
    * EVOLUTION, Iceberg-style: a later dynamic commit may declare a
    * new spec; files from earlier versions lack the `col=` path
    * segments and carry those columns as ordinary parquet data
    * instead — they read correctly through the committed schema and
    * prune via their footer stats, they just have no PATH-derived
    * values). */
  private[sources] def partitionOfOpt(partitionCols: Seq[String],
                                      file: String): Option[String] = {
    val vals = partitionCols.flatMap { c =>
      hiveSegmentOf(c, file).map(ExternalCatalogUtils.unescapePathName)
      // U+0001 cannot appear unescaped in a hive path value, so the
      // join is unambiguous: mkString("") would collide (a=1,b=11)/(a=11,b=1)
    }
    if (vals.length == partitionCols.length) Some(vals.mkString("\u0001"))
    else None
  }

  /** Read a set of snapshot data files as ONE [[FileScan.scan]] under
    * the committed schema: the manifest, not inference, owns the
    * types. Files store PHYSICAL column names (stable across renames):
    * they scan under the physical schema and alias back to the logical
    * names callers see, in committed order. Partition columns are
    * identity-mapped (rename/drop refuse on them); their values come
    * from each file's path, typed by the committed schema
    * (`__HIVE_DEFAULT_PARTITION__` reads as null). A file that
    * predates the partition spec carries those columns as data and
    * scans in a second scan of its own. MERGE-ON-READ deletion vectors
    * exclude their rows (generation: the bitmap DIGEST); `lengths`
    * (by basename) spares the stat of every file it names. `fields`
    * and `consts` add per-file constant columns, `rowIndex` the
    * [[FileScan.RowIndex]]. */
  private def readFiles(spark: SparkSession, files: Seq[String],
                        schema: org.apache.spark.sql.types.StructType,
                        colmap: ColMapping = ColMapping.empty,
                        dvs: Map[String, InlineDv] = Map.empty,
                        lengths: Map[String, Long] = Map.empty,
                        fields: Seq[org.apache.spark.sql.types.StructField] = Nil,
                        consts: String => Seq[Any] = _ => Nil,
                        rowIndex: Boolean = false): DataFrame = {
    import org.apache.spark.sql.execution.datasources.PartitioningUtils
    import org.apache.spark.sql.types.StructType
    val pSchema = physSchema(schema, colmap)
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val parts = files.map(f => f -> pSchema.fieldNames.toSeq.flatMap(c =>
      hiveSegmentOf(c, f).map(c -> _))).toMap
    files.groupBy(f => parts(f).map(_._1)).toSeq.sortBy(_._1.size)
      .map { case (keys, group) =>
        FileScan.scan(spark, group.map { f =>
            FileScan.Slice(f, consts(f),
              exit = dvs.get(baseName(f)).map(d => FileScan.Dv(d.bytes, d.digest)),
              length = lengths.getOrElse(baseName(f), -1L),
              partition = parts(f).map { case (k, raw) =>
                PartitioningUtils.castPartValueToDesiredType(
                  pSchema(k).dataType, raw, zone) })
          }, StructType(pSchema.filterNot(f => keys.contains(f.name))), fields,
          StructType(keys.map(pSchema(_))), rowIndex)
      }.reduce(_ unionByName _)
      .select(schema.fieldNames.toSeq.map(n => col(colmap.phys(n)).as(n)) ++
        (fields.map(_.name) ++ Seq(FileScan.RowIndex).filter(_ => rowIndex))
          .map(col): _*)
  }

  /** [[readFiles]] of `files` of manifest `m`, under its schema,
    * column mapping, DVs and lengths. */
  private def readManifest(spark: SparkSession, m: Manifest,
                           files: Seq[String]): DataFrame =
    readFiles(spark, files, m.schema, m.colmap, m.dvs, m.lengths)

  /** [[readManifest]] whose rows carry their file's basename, a
    * per-file constant, as [[MorFile]]. */
  private def readKeyed(spark: SparkSession, m: Manifest,
                        files: Seq[String]): DataFrame =
    readFiles(spark, files, m.schema, m.colmap, m.dvs, m.lengths,
      Seq(org.apache.spark.sql.types.StructField(MorFile,
        org.apache.spark.sql.types.StringType)), f => Seq(baseName(f)))

  /** The basenames of the files [[readKeyed]] `rows` come from, in one
    * pass with no exchange: each task yields the distinct [[MorFile]]
    * constants it saw and the driver unions them. */
  private def filesOf(rows: DataFrame): Set[String] = {
    import rows.sparkSession.implicits._
    rows.select(MorFile).as[String].mapPartitions(_.toSet.iterator)
      .collect().toSet
  }

  /** Of `candidates`, the files whose manifest min/max can hold a key
    * of some landed update file. A candidate drops when every landed
    * file has a key column whose range is disjoint from the
    * candidate's (the read path's typed order proof,
    * `GraftDataSkipping.statCompare`). A
    * column without a min/max on either side (no stats, an all-NULL
    * column, a type outside [[statType]], a partition column) proves
    * nothing; an empty landed file holds no key. */
  private def keyCandidates(m: Manifest, candidates: Seq[String],
      keyCols: Seq[String], landed: Iterable[FileStats]): Seq[String] = {
    val types = m.schema.fields.map(f => f.name -> f.dataType).toMap
    def range(st: FileStats, k: String): Option[(String, String)] =
      st.cols.get(m.colmap.phys(k)).collect {
        case ColStat(Some(lo), Some(hi), _) => (lo, hi) }
    val boxes = landed.filterNot(_.rows.contains(0L))
      .map(u => keyCols.map(k => k -> range(u, k)))
    candidates.filter { f =>
      val fst = m.stats.get(baseName(f))
      boxes.exists(_.forall { case (k, ur) =>
        val disjoint = for {
          (ulo, uhi) <- ur
          (flo, fhi) <- fst.flatMap(range(_, k))
        } yield org.apache.spark.sql.GraftDataSkipping
            .statCompare(uhi, flo, types(k)).exists(_ < 0) ||
          org.apache.spark.sql.GraftDataSkipping
            .statCompare(ulo, fhi, types(k)).exists(_ > 0)
        !disjoint.contains(true)
      })
    }
  }

  /** The wider of two types along the lossless promotion chains the
    * parquet reader supports natively (byte→short→int→long,
    * float→double); None when the pair is not a safe widening. */
  private def widerOf(a: org.apache.spark.sql.types.DataType,
                      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val ints: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    if (a == b) Some(a)
    else if (ints.contains(a) && ints.contains(b))
      Some(ints(math.max(ints.indexOf(a), ints.indexOf(b))))
    else if (Set[DataType](a, b) == Set[DataType](FloatType, DoubleType))
      Some(DoubleType)
    else None
  }

  /** Every snapshot data file is written with
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`, scoped
    * to the write and restored after: Spark's legacy INT96 default
    * carries no comparable parquet footer statistics, which would
    * silently disable timestamp DATA SKIPPING on the committed files
    * (readers of either form are unaffected — Spark reads both). */
  private[graft] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "TIMESTAMP_MICROS")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** Commit `df` as the next snapshot of `table`. `mode` "overwrite"
    * makes the new snapshot exactly `df`; "append" makes it the
    * previous snapshot's files plus `df`'s (no data rewrite — append
    * commits are metadata-only on the old files). Returns the new
    * version.
    *
    * Data lands in a UNIQUELY-NAMED directory per attempt, so a
    * crashed or conflicted commit leaves an orphan that a later
    * vacuum can collect but can never block or corrupt future
    * commits. The commit point is a no-overwrite manifest rename
    * (atomic on HDFS; on S3-like stores swap for a conditional PUT).
    *
    * Filesystem caveat: manifest and metadata I/O resolves its
    * FileSystem through `fsOf`, whose hadoop conf is memoized once per
    * SparkSession. `fs.*` settings (credentials, endpoints, impl
    * classes) changed with `spark.conf.set` after the session's first
    * lake call are NOT seen by the commit protocol — set them before
    * the first commit, or commit from a new session. The data write
    * itself builds a fresh conf and does see them. */
  def commitSnapshot(df: DataFrame, table: String,
                     mode: String = "overwrite",
                     txn: Option[(String, Long)] = None): Long = {
    // "compact" IS an overwrite (full replacement of the live set)
    // whose manifest records that rows did not change — the format
    // mirrors stamp it operation="replace" so changelog consumers
    // skip the rewrite instead of reporting the table re-inserted
    require(Seq("overwrite", "append", "compact").contains(mode),
      s"bad mode $mode")
    val spark = df.sparkSession
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    val prevV = snapshotVersions(spark, table).lastOption
    val prev = prevV.map(manifest(spark, table, _))
    val version = prevV.getOrElse(0L) + 1
    val appendTo = prev.filter(_ => mode == "append")
    // COLUMN MAPPING: overwrite starts fresh (identity — no carried
    // files can leak old physical data); append inherits the table's
    // mapping and assigns a FRESH physical name to any genuinely-new
    // column whose name collides with a used or TOMBSTONED physical
    // (re-adding a dropped column must not resurrect old file data)
    val colmap = appendTo.fold(ColMapping.empty) { pm =>
      val cm = pm.colmap
      val prevNames = pm.schema.fieldNames.toSet
      var used = cm.used(pm.schema)
      val add = df.schema.fieldNames.filterNot(prevNames.contains)
        .flatMap { n =>
          if (!used.contains(n)) { used += n; None }
          else {
            var cand = s"${n}_p$version"; var i = 0
            while (used.contains(cand)) { i += 1
              cand = s"${n}_p${version}_$i" }
            used += cand; Some(n -> cand)
          }
        }
      ColMapping(cm.map ++ add, cm.dropped)
    }
    // PARTITION SPEC carries through appends (Delta parity: appending
    // to a partitioned table partitions the write by the table's
    // spec). Without this, a plain append onto a spec-carrying table
    // (dynamic commits, adopted hive layouts) silently DROPPED the
    // spec from the manifest — reads survived (path recovery) but
    // partition-pruned MERGE/overwrite lost their contract. Overwrite
    // still resets the spec, like the column mapping.
    val partCols = appendTo.fold(Seq.empty[String])(_.partCols)
    require(partCols.forall(df.columns.contains),
      s"append to $table must carry its partition column(s) " +
        s"${partCols.filterNot(df.columns.contains).mkString(",")}")
    val (dataDir, newFiles) = land(df, table, version, colmap, partCols)
    val (carried, schema) = appendTo match {
      case Some(pm) =>
        // checked schema EVOLUTION: an append may add columns (old
        // files read them back as null), omit columns (the new files
        // read back null there), or WIDEN a shared column along a
        // lossless promotion (byte→short→int→long, float→double —
        // the Delta "type widening" set the parquet reader promotes
        // natively, SPARK-40876): the committed schema takes the
        // wider type and every file, old or new, reads under it. Any
        // OTHER type change would corrupt carried data and refuses
        // loudly. The committed schema is the ORDERED union: table
        // columns first (possibly widened), genuinely new ones
        // appended.
        val prevSchema = pm.schema
        val dfType = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val drift = prevSchema.fields.flatMap(f => dfType.get(f.name)
          .filter(t => widerOf(f.dataType, t).isEmpty)
          .map(t => s"${f.name}: table ${f.dataType.catalogString} vs " +
            s"append ${t.catalogString} (not a lossless widening)"))
        require(drift.isEmpty,
          "append type mismatch: " + drift.mkString(", "))
        val widened = prevSchema.fields.map { f =>
          dfType.get(f.name) match {
            case Some(t) => f.copy(dataType = widerOf(f.dataType, t).get)
            case None => f
          }
        }
        val prevNames = prevSchema.fieldNames.toSet
        val newFields = df.schema.fields
          .filterNot(f => prevNames.contains(f.name))
        (pm.files,
          org.apache.spark.sql.types.StructType(widened ++ newFields))
      case None => (Seq.empty[String], df.schema)
    }
    enforceChecks(spark, prev.fold(Map.empty[String, String])(_.checks),
      newFiles, schema, fs, Seq(dataDir), colmap)
    writeManifest(spark, fs, table, prev, version, mode, schema,
      carried ++ newFiles, partCols, colmapOverride = Some(colmap),
      txnOverride = txn)
    version
  }

  /** MERGE (upsert by key) into a snapshot table — the Delta-style
    * copy-on-write: every current row whose key appears in `updates`
    * is replaced, every other row survives, and `updates` rows with
    * unseen keys insert. The data rewrite is FILE-PRUNED: only files
    * that actually CONTAIN a matched key are rewritten (their
    * unmatched rows re-land alongside the updates); every untouched
    * file is carried into the new manifest by reference, exactly like
    * an append. A daily upsert touching one day's files rewrites one
    * day, not the table.
    *
    * On a hive-partitioned snapshot (committed via
    * `commitSnapshotDynamic`), the probe is additionally
    * PARTITION-PRUNED when every partition column is a merge key: a
    * matched row can then only live in a partition `updates` touches,
    * so files of untouched partitions carry by reference without ever
    * being opened — a daily upsert against a 100 TB table probes one
    * day's files, not the table's.
    *
    * KEY-RANGE pruning stacks on top: the landed update files' footer
    * stats are read once, and a file whose manifest min/max for some
    * merge key cannot hold a key of any landed file carries without
    * being opened (a one-row upsert of a new key into a table of
    * disjoint key ranges opens no file).
    *
    * Matched-file detection joins only the key columns of each side
    * (plus the file's basename) and folds the touched files inside
    * each scan task — no shuffle of the table side, never payload.
    * Rows in `updates` land verbatim — callers owning
    * a one-row-per-key contract dedupe before merging, as they would
    * for MERGE INTO. Returns the committed version. */
  def mergeSnapshot(updates: DataFrame, table: String,
                    keyCols: Seq[String],
                    txn: Option[(String, Long)] = None): Long = {
    val pm = mergeBase("mergeSnapshot", updates, table, keyCols) match {
      case Some(pm) => pm
      case None => return commitSnapshot(updates, table, "overwrite", txn)
    }
    val (files, cols, partCols) =
      (pm.files, pm.schema.fieldNames.toSeq, pm.partCols)
    val spark = updates.sparkSession
    // a partitioned snapshot committed by a pre-`partcols` manifest
    // keeps partition values in PATHS the flat probe below cannot see —
    // refuse loudly rather than lose those columns. Columns absent
    // from a leaf file but NOT in any path are legitimate schema
    // evolution (added by a later append; null on read), so the check
    // is path-presence, not bare set equality.
    if (partCols.isEmpty) {
      val leafCols = footerSchema(spark, files.head).fieldNames.toSet
      val inPaths = (cols.toSet -- leafCols).filter(c =>
        files.head.contains("/" + c + "="))
      require(inPaths.isEmpty,
        s"mergeSnapshot: snapshot is hive-partitioned (columns " +
          s"$inPaths live in paths) but its manifest " +
          "predates partition metadata; re-commit via commitSnapshotDynamic")
    }
    mergeCopyOnWrite(updates, table, keyCols, pm, txn)
  }

  /** The MERGE input contract [[mergeSnapshot]] and
    * [[mergeSnapshotMor]] share; every message names `op`. A MERGE
    * needs at least one key column, and against a table with files:
    *  - the exact table schema, order-free (a silent column drop would
    *    lose data; MERGE INTO refuses too);
    *  - the table's types, nullability-free like MERGE INTO's check
    *    (catalogString omits nullability at every depth) — drift would
    *    widen or corrupt the persisted schema across versions;
    *  - key columns the table has.
    * Returns the table's latest manifest, None when the table has no
    * files yet (the MERGE is then a plain first commit). */
  private def mergeBase(op: String, updates: DataFrame, table: String,
                        keyCols: Seq[String]): Option[Manifest] = {
    require(keyCols.nonEmpty, s"$op needs at least one key column")
    val spark = updates.sparkSession
    val pm = snapshotVersions(spark, table).lastOption
      .map(manifest(spark, table, _)).filter(_.files.nonEmpty)
    pm.foreach { pm =>
      val cols = pm.schema.fieldNames.toSeq
      require(updates.columns.toSet == cols.toSet,
        s"$op schema mismatch: table has ${cols.sorted}, " +
          s"updates have ${updates.columns.sorted.toSeq}")
      val tblType = pm.schema.fields.map(f =>
        f.name -> f.dataType.catalogString).toMap
      val drift = updates.schema.fields
        .filter(f => f.dataType.catalogString != tblType(f.name))
      require(drift.isEmpty, s"$op type mismatch: " + drift.map(f =>
        s"${f.name}: table ${tblType(f.name)} vs updates " +
          f.dataType.catalogString).mkString(", "))
      require(keyCols.forall(cols.contains),
        s"key columns ${keyCols.filterNot(cols.contains)} not in table")
    }
    pm
  }

  /** MERGE-ON-READ MERGE (upsert by key): the matched old rows retire
    * via DELETION VECTORS while the update rows (replacements AND new
    * keys) land as ordinary APPEND files — one commit, zero data-file
    * rewrites. This is the write shape a recurring CDC upsert into a
    * 100 TB table needs: copy-on-write [[mergeSnapshot]] re-lands
    * every unmatched row of every matched file (a daily upsert
    * touching most files rewrites most of the table), where this
    * commits bitmap bytes + the update rows themselves.
    *
    * Same semantics as [[mergeSnapshot]] (exact schema,
    * partition-pruned when every partition column is a merge key, rows
    * land verbatim — dedupe to one row per key first), and
    * the SAME one-policy fallback as [[deleteFromSnapshotMor]]: any
    * file whose cumulative deleted fraction would exceed
    * `maxDeleteFraction`, or whose bitmap would exceed `maxDvBytes`,
    * sends the WHOLE merge down the copy-on-write path — never a
    * half-MOR commit. The manifest stamps `mergekeys`, so the change
    * feed pairs the DV-retired rows with their replacements as
    * update_preimage/update_postimage exactly like a COW merge.
    *
    * Scale shape: the landed update files' footers are read once; a
    * file whose manifest min/max for some merge key cannot hold a key
    * of any landed file is never opened (a daily upsert into a table
    * clustered by key probes the files its keys fall in). The rest go
    * through ONE shuffle-free pass of the shared DV build
    * ([[morBuildDvs]]): the key sliver is broadcast, each scan task
    * folds its rows into per-file counts and bitmaps, and the driver
    * receives counts plus bounded bitmaps — raw row indexes never
    * leave the executors. */
  def mergeSnapshotMor(updates: DataFrame, table: String,
                       keyCols: Seq[String],
                       maxDeleteFraction: Double = 0.5,
                       maxDvBytes: Int = 1 << 20,
                       txn: Option[(String, Long)] = None): Long = {
    require(maxDeleteFraction > 0 && maxDeleteFraction <= 1,
      s"maxDeleteFraction must be in (0, 1], got $maxDeleteFraction")
    val pm = mergeBase("mergeSnapshotMor", updates, table, keyCols) match {
      case Some(pm) => pm
      case None => return commitSnapshot(updates, table, "overwrite", txn)
    }
    val spark = updates.sparkSession
    val (files, schema, partCols) = (pm.files, pm.schema, pm.partCols)
    val cols = schema.fieldNames.toSeq
    val (colmap, oldDvs) = (pm.colmap, pm.dvs)
    val keyExprs = keyCols.map(col)
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    val version = pm.version + 1
    // the update rows land FIRST (they are needed in every non-COW
    // outcome, and on a partitioned table their paths drive the
    // partition pruning below, exactly like mergeCopyOnWrite)
    val (dataDir, newFiles) = land(updates.select(cols.map(col): _*),
      table, version, colmap, partCols)
    // the landed footers, read once: their key ranges prune the
    // candidates and the commit records them as the new files' stats
    val newStats = footersOf(spark, newFiles, schema, colmap)
    // the merge keys come from the files JUST WRITTEN, not the lazy
    // `updates` plan: a non-deterministic updates frame (rand()
    // sampling, a concurrently-changing source) would otherwise
    // probe/retire a DIFFERENT key set than the rows that landed —
    // reading the delta-sized output back makes retire-and-append
    // agree by construction. Duplicate keys fan a matched row out into
    // adjacent copies, which the DV build counts once.
    lazy val keyD = readFiles(spark, newFiles, schema, colmap,
        lengths = newStats.flatMap { case (bn, (_, len)) => len.map(bn -> _) })
      .select(keyExprs: _*)
    // candidate pruning: partition values (sound only when every
    // partition column is a merge key), then the landed key ranges
    // against each file's manifest min/max; the DV build leaves the
    // candidates no key matches as they are
    val partCandidates =
      if (partCols.nonEmpty && partCols.forall(keyCols.contains)) {
        val touchedParts = newFiles.map(partitionOf(partCols, _)).toSet
        files.filter(f =>
          partitionOfOpt(partCols, f).forall(touchedParts))
      } else files
    val candidates = keyCandidates(pm, partCandidates, keyCols,
      newStats.values.map(_._1))
    def commitMor(fullyDeleted: Set[String],
                  newEntries: Map[String, InlineDv]): Long = {
      val kept = files.filterNot(f => fullyDeleted(baseName(f)))
      enforceChecks(spark, pm.checks,
        newFiles, schema, fs, Seq(dataDir), colmap)
      writeManifest(spark, fs, table, Some(pm), version, "merge", schema,
        kept ++ newFiles, partCols, txnOverride = txn,
        mergeKeys = keyCols,
        dvsOverride = Some(oldDvs ++ newEntries), landed = newStats)
      version
    }
    if (candidates.isEmpty) return commitMor(Set.empty, Map.empty)
    // matched = key membership in the updates (the planner broadcasts
    // the typically-small key side; a genuinely huge update set
    // shuffles, which the DV build detects and clusters by file)
    def flagged(fs: Seq[String]) = morFlaggedBase(spark, pm, fs)
      .join(keyD.withColumn("__graft_m", lit(1)), keyCols, "left")
      .withColumn("__graft_del", col(OldDel) || col("__graft_m").isNotNull)
    morBuildDvs(spark, candidates, flagged, oldDvs,
        maxDeleteFraction, maxDvBytes) match {
      case MorFallbackCow =>
        // one policy, never a half-MOR commit: drop the pre-written
        // update files (they were never in any manifest) and run the
        // proven copy-on-write merge instead
        fs.delete(dataDir, true): Unit
        mergeSnapshot(updates, table, keyCols, txn)
      case MorNoChange => commitMor(Set.empty, Map.empty)
      case MorDvs(fullyDeleted, newEntries) =>
        commitMor(fullyDeleted, newEntries)
    }
  }

  /** Files are matched by BASENAME: parquet part files carry the
    * write job's UUID, so basenames are unique table-wide — within a
    * single output DIRECTORY by Spark's naming, and across the
    * partition directories of one commit by [[walkFreshData]]'s
    * rename pass — and the comparison is immune to scheme/percent-
    * encoding differences between input_file_name() and manifest
    * path strings. */
  private[sources] def baseName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** Enumerate a JUST-WRITTEN data directory, re-establishing the
    * invariant the whole manifest layer is keyed on: basenames
    * unique table-wide ([[baseName]] keys deletion vectors, per-file
    * stats and blooms). Spark names a task's output
    * `part-NNNNN-<job uuid>` in EVERY hive partition directory the
    * task touches, so one partitioned commit writes IDENTICAL
    * basenames under different `k=v` dirs — a basename-keyed DV (or
    * min/max entry, or bloom) would then silently apply to all of
    * them: rows deleted from the wrong partition's file, skipping
    * decisions made on another file's bounds. Collided files are
    * renamed in place with a hash of their partition-relative dir —
    * deterministic, before the paths enter any manifest, and
    * FileSystem.rename moves the .crc sidecars on checksummed
    * filesystems. Unpartitioned writes (one directory) never
    * collide and take the zero-rename fast path. */
  private def walkFreshData(fs: org.apache.hadoop.fs.FileSystem,
                            dir: org.apache.hadoop.fs.Path): Seq[String] = {
    val files = walk(fs, dir)
    val dup = files.groupBy(baseName).filter(_._2.size > 1).keySet
    if (dup.isEmpty) return files
    val base = fs.makeQualified(dir).toString
    val renamed = files.map { f =>
      if (!dup.contains(baseName(f))) f
      else {
        val p = new org.apache.hadoop.fs.Path(f)
        val rel = f.stripPrefix(base).stripPrefix("/")
        val dirRel = rel.substring(0, rel.length - p.getName.length)
        val h = f"${scala.util.hashing.MurmurHash3.stringHash(dirRel)}%08x"
        val np = new org.apache.hadoop.fs.Path(
          p.getParent, s"p$h-${p.getName}")
        require(fs.rename(p, np),
          s"walkFreshData: rename failed $p -> $np")
        np.toString
      }
    }
    // two distinct partition dirs hashing alike would re-collide —
    // vanishingly unlikely (32-bit over one commit's dirs), refused
    // loudly rather than silently corrupted
    require(renamed.map(baseName).distinct.size == renamed.size,
      s"walkFreshData at $dir: basenames still collide after the " +
        "rename pass (partition-dir hash collision)")
    renamed
  }

  /** DELETE WHERE over a snapshot table — the right-to-erasure path.
    * Copy-on-write and FILE-PRUNED like `mergeSnapshot`: only files
    * that CONTAIN a row where `predicate` is true are rewritten
    * (their surviving rows re-land); every other file carries into
    * the new version by reference. On a hive-partitioned snapshot a
    * predicate over partition columns prunes at PLANNING time — files
    * of excluded partitions are never opened at all (their partition
    * values come from paths, not footers).
    *
    * SQL DELETE semantics: a row is deleted iff the predicate
    * evaluates TRUE; rows where it is NULL survive. A delete that
    * matches nothing commits nothing and returns the current version.
    * Older versions still read the deleted rows — physical erasure is
    * `vacuumSnapshots` retiring the pre-delete versions (document
    * that two-step in any compliance workflow). */
  def deleteFromSnapshot(spark: SparkSession, table: String,
                         predicate: org.apache.spark.sql.Column): Long =
    // survivors: predicate FALSE or NULL (plain `!predicate` would
    // also drop the NULL rows — not what DELETE means). No CHECK
    // re-validation: surviving rows re-land from already-validated
    // data.
    cowRewriteByPredicate(spark, table, predicate, "delete",
      checkNewFiles = false) { (rows, schema) =>
      rows.where(org.apache.spark.sql.functions.not(
          org.apache.spark.sql.functions.coalesce(
            predicate, org.apache.spark.sql.functions.lit(false))))
        .select(schema.fieldNames.toSeq.map(col): _*)
    }

  /** The shared copy-on-write rewrite-commit skeleton for
    * predicate-driven DML ([[deleteFromSnapshot]],
    * [[updateSnapshot]]): FILE-PRUNED probe (the readSnapshotWhere
    * pipeline — manifest stats / partition values / blooms disprove
    * the predicate for most files of a clustered table, so a
    * selective DML probes a sliver of the file list instead of
    * scanning 100 TB to discover it must rewrite one day; exactness
    * untouched — the probe's predicate still decides the actual
    * matches), then `transform` re-lands the matched files' rows
    * (READ THROUGH existing DVs, so already-MOR-deleted rows never
    * resurrect) while every other file carries by reference. A
    * predicate matching nothing commits nothing. */
  private def cowRewriteByPredicate(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column, op: String,
      checkNewFiles: Boolean)(
      transform: (DataFrame, org.apache.spark.sql.types.StructType)
        => DataFrame): Long = {
    val prev = snapshotVersions(spark, table)
    require(prev.nonEmpty, s"no snapshots at $table")
    val pm = manifest(spark, table, prev.last)
    val (files, schema, partCols) = (pm.files, pm.schema, pm.partCols)
    if (files.isEmpty) return prev.last
    val colmap = pm.colmap
    val candidates = pruneFilesByPredicate(pm, predicate)
    if (candidates.isEmpty) return prev.last
    val matched = filesOf(readKeyed(spark, pm, candidates).where(predicate))
    if (matched.isEmpty) return prev.last
    val (rewrite, carry) = files.partition(f => matched(baseName(f)))
    val rewritten =
      transform(readManifest(spark, pm, rewrite), schema)
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    val version = prev.last + 1
    val (dataDir, newFiles) = land(rewritten, table, version, colmap, partCols)
    if (checkNewFiles)
      enforceChecks(spark, pm.checks, newFiles, schema, fs, Seq(dataDir),
        colmap)
    writeManifest(spark, fs, table, Some(pm), version, op, schema,
      carry ++ newFiles, partCols)
    version
  }

  /** UPDATE ... SET ... WHERE over a snapshot table — copy-on-write
    * and FILE-PRUNED like [[deleteFromSnapshot]]: only files that
    * CONTAIN a matched row rewrite (matched rows re-land
    * TRANSFORMED, their file-neighbors verbatim, DV-deleted rows
    * never resurrect); every other file carries by reference.
    *
    * SQL UPDATE semantics: a row updates iff `predicate` is TRUE
    * (NULL = untouched), and every `set` right-hand side evaluates
    * against the PRE-update row (standard simultaneous-assignment —
    * swapping two columns works). Set expressions cast to the
    * column's committed type; CHECK constraints run against the
    * rewritten files. An update matching nothing commits nothing. */
  def updateSnapshot(spark: SparkSession, table: String,
                     predicate: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column])
      : Long = {
    require(set.nonEmpty, "updateSnapshot needs at least one SET column")
    // EAGER validation: a typo'd SET column must refuse even when the
    // predicate matches nothing (one extra metadata-only parse)
    val prev = snapshotVersions(spark, table)
    require(prev.nonEmpty, s"no snapshots at $table")
    val fieldNames = manifest(spark, table, prev.last).schema.fieldNames
    require(set.keys.forall(fieldNames.contains),
      s"SET columns ${set.keys.filterNot(fieldNames.contains)} " +
        "not in table")
    cowRewriteByPredicate(spark, table, predicate, "update",
      checkNewFiles = true) { (rows, schema) =>
      rows.select(updateProjection(schema, predicate, set): _*)
    }
  }

  /** The UPDATE row projection: matched rows get their `set`
    * expressions (all evaluated against the pre-update row), others
    * pass through; each assignment casts to the column's committed
    * type so the schema never drifts. */
  private def updateProjection(
      schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column])
      : Seq[org.apache.spark.sql.Column] =
    schema.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(e) =>
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.coalesce(predicate,
              org.apache.spark.sql.functions.lit(false)),
            e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }

  /** MERGE-ON-READ UPDATE: the matched rows retire via DELETION
    * VECTORS (the shared one-pass [[morBuildDvs]] kernel — per-file
    * counts decide the COW fallback, bitmaps serialize executor-side) while
    * their TRANSFORMED images land as ordinary appends — one commit,
    * zero data-file rewrites. The write shape of a broad-but-sparse
    * UPDATE on a 100 TB table (fix a mis-parsed field across every
    * partition): copy-on-write re-lands every unmatched row of every
    * matched file, where this commits bitmap bytes + the updated
    * rows themselves. Same semantics as [[updateSnapshot]]; same
    * one-policy fraction/byte fallback as the other MOR writers —
    * never a half-MOR commit. */
  def updateSnapshotMor(spark: SparkSession, table: String,
                        predicate: org.apache.spark.sql.Column,
                        set: Map[String, org.apache.spark.sql.Column],
                        maxDeleteFraction: Double = 0.5,
                        maxDvBytes: Int = 1 << 20): Long = {
    require(set.nonEmpty,
      "updateSnapshotMor needs at least one SET column")
    require(maxDeleteFraction > 0 && maxDeleteFraction <= 1,
      s"maxDeleteFraction must be in (0, 1], got $maxDeleteFraction")
    val prev = snapshotVersions(spark, table)
    require(prev.nonEmpty, s"no snapshots at $table")
    val v0 = prev.last
    val pm = manifest(spark, table, v0)
    val (files, schema, partCols) = (pm.files, pm.schema, pm.partCols)
    if (files.isEmpty) return v0
    require(set.keys.forall(schema.fieldNames.contains),
      s"SET columns ${set.keys.filterNot(schema.fieldNames.contains)} " +
        "not in table")
    val (colmap, oldDvs) = (pm.colmap, pm.dvs)
    val candidates = pruneFilesByPredicate(pm, predicate)
    if (candidates.isEmpty) return v0
    // the COW twin's matched-file probe (predicate-pushed): narrows
    // BOTH the image read and the DV passes from stat-pruned
    // candidates to files that actually contain a match — a sparse
    // UPDATE on an un-clustered column otherwise re-counts every row
    // of every candidate file for nothing
    val matchedF = filesOf(readKeyed(spark, pm, candidates).where(predicate))
    if (matchedF.isEmpty) return v0
    val matched = candidates.filter(f => matchedF(baseName(f)))
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    val version = v0 + 1
    // the transformed images land FIRST (needed in every non-COW
    // outcome): matched rows read THROUGH the old DVs — an
    // already-deleted row neither re-lands nor re-retires
    val (dataDir, newFiles) = land(
      readManifest(spark, pm, matched)
        .where(predicate)
        .select(updateProjection(schema, predicate, set): _*),
      table, version, colmap, partCols)
    def flagged(fs: Seq[String]) = morFlaggedBase(spark, pm, fs).withColumn(
      "__graft_del", col(OldDel) || coalesce(predicate, lit(false)))
    morBuildDvs(spark, matched, flagged, oldDvs,
        maxDeleteFraction, maxDvBytes) match {
      case MorFallbackCow =>
        fs.delete(dataDir, true): Unit
        updateSnapshot(spark, table, predicate, set)
      case MorNoChange =>
        // the probe saw a match but the DV pass flagged nothing
        // new: only a predicate that changed between jobs does this
        morRequireDeterministic(spark, table, newFiles, schema,
          colmap, 0L, "UPDATE")
        fs.delete(dataDir, true): Unit
        v0
      case MorDvs(fullyDeleted, newEntries) =>
        // INVARIANT — the one hole a split image/DV evaluation
        // leaves: the image pass and the DV pass evaluate `predicate`
        // in SEPARATE jobs, so a non-deterministic predicate could
        // retire rows whose images were never written (silent row
        // loss) or append images for rows never retired (duplicates).
        // Newly-retired live rows per file = committed cardinality −
        // old cardinality (+ full live count for dropped files); it
        // must equal the image rows WRITTEN, footer-counted — a
        // metadata-only check that fails loudly instead of committing
        // a torn update.
        val stats = pm.stats
        def oldCard(bn: String): Long =
          oldDvs.get(bn).map(_.cardinality).getOrElse(0L)
        def liveRows(bn: String): Long = {
          val total = stats.get(bn).flatMap(_.rows).getOrElse {
            val f = matched.find(p => baseName(p) == bn).get
            footerStats(spark.sessionState.newHadoopConf(), f,
              physSchema(schema, colmap))._1.rows.getOrElse(sys.error(
              s"updateSnapshotMor at $table: no row count for $bn"))
          }
          total - oldCard(bn)
        }
        val newlyRetired =
          newEntries.map { case (bn, dv) =>
            dv.cardinality - oldCard(bn) }.sum +
            fullyDeleted.toSeq.map(liveRows).sum
        morRequireDeterministic(spark, table, newFiles, schema,
          colmap, newlyRetired, "UPDATE")
        val kept = files.filterNot(f => fullyDeleted(baseName(f)))
        enforceChecks(spark, pm.checks,
          newFiles, schema, fs, Seq(dataDir), colmap)
        writeManifest(spark, fs, table, Some(pm), version, "update", schema,
          kept ++ newFiles, partCols,
          dvsOverride = Some(oldDvs ++ newEntries))
        version
    }
  }

  /** The torn-update guard: footer-count (metadata IO only) the
    * image files a MOR UPDATE just wrote and require they hold
    * EXACTLY the rows the DV pass newly retired — the two passes
    * evaluate the predicate in separate jobs, and only a predicate
    * that changed between them (current_timestamp(), rand(), a
    * concurrently-mutated input) can make the counts disagree.
    * Refusing loudly beats committing silent row loss/duplication. */
  private def morRequireDeterministic(spark: SparkSession,
      table: String, newFiles: Seq[String],
      schema: org.apache.spark.sql.types.StructType, colmap: ColMapping,
      newlyRetired: Long, op: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val imageRows = newFiles.map(f =>
      footerStats(conf, f, physSchema(schema, colmap))._1.rows
        .getOrElse(sys.error(
          s"$op at $table: unreadable footer for image file $f"))).sum
    require(imageRows == newlyRetired,
      s"merge-on-read $op at $table: wrote $imageRows transformed " +
        s"image rows but the deletion-vector pass retired " +
        s"$newlyRetired — the predicate evaluated differently " +
        "between jobs (non-deterministic predicate or concurrent " +
        "change); refusing to commit a torn update")
  }

  /** MERGE-ON-READ DELETE: instead of rewriting every file a match
    * touches (copy-on-write — a point delete in a 100 TB table
    * rewrites whole files), commit a DELETION VECTOR per touched
    * file — a Z85-inlined roaring-portable bitmap of deleted row
    * indexes, bytes where COW is gigabytes. The new manifest carries
    * the SAME file list with merged DVs (old ∪ new per file — a
    * second MOR delete on a file unions into one bitmap); a file
    * whose every row is deleted drops from the list outright. Readers
    * apply DVs transparently ([[readSnapshot]] / [[readSnapshotWhere]]
    * / [[changesBetween]]); the Delta mirror exports them as spec
    * `deletionVector` descriptors; compaction/COW rewrites clear them.
    *
    * Stays MOR only while cheap and bounded: a file whose cumulative
    * deleted fraction would exceed `maxDeleteFraction`, or whose
    * bitmap would exceed `maxDvBytes`, sends the WHOLE delete down
    * the proven copy-on-write path instead (one policy, never a
    * half-MOR commit). Returns the new version (or the current one
    * when nothing matches).
    *
    * Scale shape — ONE distributed pass over the stat-pruned candidates
    * ([[morBuildDvs]]), driver traffic manifest-scale: each scan task
    * folds its rows into per-file counts and, for the rows this commit
    * deletes, a bitmap serialized executor-side
    * ([[DeletionVectors.StreamingSerializer]], bounded in-flight); the
    * driver's counts alone decide the COW fallback and the
    * fully-deleted files. Raw row indexes never reach the driver — a
    * 49%-of-5-billion-rows delete costs the driver the same few MB a
    * point delete does. */
  def deleteFromSnapshotMor(spark: SparkSession, table: String,
                            predicate: org.apache.spark.sql.Column,
                            maxDeleteFraction: Double = 0.5,
                            maxDvBytes: Int = 1 << 20): Long = {
    require(maxDeleteFraction > 0 && maxDeleteFraction <= 1,
      s"maxDeleteFraction must be in (0, 1], got $maxDeleteFraction")
    val prev = snapshotVersions(spark, table)
    require(prev.nonEmpty, s"no snapshots at $table")
    val v0 = prev.last
    val pm = manifest(spark, table, v0)
    val (files, schema, partCols) = (pm.files, pm.schema, pm.partCols)
    if (files.isEmpty) return v0
    val oldDvs = pm.dvs
    val candidates = pruneFilesByPredicate(pm, predicate)
    if (candidates.isEmpty) return v0
    def flagged(fs: Seq[String]) = morFlaggedBase(spark, pm, fs).withColumn(
      "__graft_del", col(OldDel) || coalesce(predicate, lit(false)))
    morBuildDvs(spark, candidates, flagged, oldDvs,
        maxDeleteFraction, maxDvBytes) match {
      case MorFallbackCow =>
        deleteFromSnapshot(spark, table, predicate)
      case MorNoChange => v0
      case MorDvs(fullyDeleted, newEntries) =>
        val keptFiles = files.filterNot(f => fullyDeleted(baseName(f)))
        val version = v0 + 1
        val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
        writeManifest(spark, fs, table, Some(pm), version, "delete", schema,
          keptFiles, partCols,
          dvsOverride = Some(oldDvs ++ newEntries))
        version
    }
  }

  private sealed trait MorOutcome
  private case object MorFallbackCow extends MorOutcome
  private case object MorNoChange extends MorOutcome
  private final case class MorDvs(fullyDeleted: Set[String],
      newEntries: Map[String, InlineDv]) extends MorOutcome

  /** A file's manifest basename, served as a per-file constant. */
  private val MorFile = "__graft_file"
  /** True on rows the file's current deletion vector deletes. */
  private val OldDel = "__graft_olddel"

  /** Shared scan base for the MERGE-ON-READ writers
    * ([[deleteFromSnapshotMor]], [[mergeSnapshotMor]],
    * [[updateSnapshotMor]]): the candidate files' rows under the
    * LOGICAL schema, NOT filtered by their current deletion vectors,
    * each with its file's basename ([[MorFile]]), its
    * [[FileScan.RowIndex]] and [[OldDel]] — committed bitmaps are
    * UNIONS, so every new bitmap must include the rows the old one
    * deletes. The old bitmap rides as a file constant. */
  private def morFlaggedBase(spark: SparkSession, pm: Manifest,
                             candidates: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, StringType, StructField}
    val anyOldDv = candidates.exists(f => pm.dvs.contains(baseName(f)))
    val dvFields =
      if (!anyOldDv) Nil
      else Seq(StructField("__graft_olddv", BinaryType),
        StructField("__graft_oldkey", StringType))
    val rows = readFiles(spark, candidates, pm.schema, pm.colmap,
      lengths = pm.lengths, fields = StructField(MorFile, StringType) +: dvFields,
      consts = f => baseName(f) +: (if (!anyOldDv) Nil else {
        val d = pm.dvs.get(baseName(f))
        Seq(d.map(_.bytes).orNull, d.map(f + "\u0000" + _.digest).orNull)
      }), rowIndex = true)
    if (!anyOldDv) rows.withColumn(OldDel, lit(false))
    else rows.withColumn(OldDel, col("__graft_olddv").isNotNull &&
        FileScan.dvContains(col("__graft_oldkey"), col("__graft_olddv"),
          col(FileScan.RowIndex)))
      .drop(dvFields.map(_.name): _*)
  }

  /** One scan task's view of one contiguous run of a file's rows, as
    * the MERGE-ON-READ DV build ships it to the driver: the rows seen,
    * how many are deleted after this commit (old-DV rows included) and
    * how many of those this commit deletes (`fresh`). `bitmap` is the
    * serialized roaring bitmap of the deleted row indexes of the run,
    * null when `fresh` is 0 (the old DV already holds them) and empty
    * when it outgrew the bound. */
  private[sources] final case class DvPartial(file: String, rows: Long,
      deleted: Long, fresh: Long, bitmap: Array[Byte])

  /** Roaring headers a contiguous run's bitmap can carry beyond the
    * whole file's: a run restricted to a row range keeps every inner
    * container and shrinks its two boundary containers, but each of
    * its two boundary 32-bit bitmaps may switch between the run and
    * no-run header layouts (at most 8 188 bytes each). A run over
    * `maxDvBytes` + this therefore proves the whole bitmap over
    * `maxDvBytes`. */
  private val DvRunSlack = 16384

  /** The MERGE-ON-READ deletion-vector kernel, shared by
    * [[deleteFromSnapshotMor]], [[updateSnapshotMor]] and
    * [[mergeSnapshotMor]]. `flagged(files)` reads `files` with
    * [[MorFile]], [[FileScan.RowIndex]], [[OldDel]] and boolean
    * `__graft_del` (true = deleted AFTER this commit, old-DV rows
    * included).
    *
    * ONE distributed pass with no exchange: each scan task folds its
    * rows, which arrive in row-index order per file split, into
    * [[DvPartial]]s — per contiguous run of a file: rows, deleted rows,
    * rows this commit deletes, and (only when it deletes some) the
    * run's bitmap, built by a [[DeletionVectors.StreamingSerializer]]
    * that stops at `maxDvBytes` + [[DvRunSlack]] and ships an overflow
    * marker instead. The driver sums each file's partials: the counts
    * decide the COW fallback (`maxDeleteFraction`), the fully-deleted
    * files and the files no live row matched, which stay as they are;
    * a file that needs a bitmap takes its one whole-file partial as is,
    * or unions its runs with the old DV into one bitmap. A bitmap over
    * `maxDvBytes` (or an overflowed run) sends the whole commit down the
    * COW path. So the driver receives counts per file split plus at
    * most one bounded bitmap per run that deletes rows; raw row
    * indexes never reach it. A probe whose join shuffles (an update
    * key set too large to broadcast) is clustered by file and sorted
    * first, so each file still folds into one run. */
  private def morBuildDvs(spark: SparkSession,
      candidates: Seq[String], flagged: Seq[String] => DataFrame,
      oldDvs: Map[String, InlineDv],
      maxDeleteFraction: Double, maxDvBytes: Int): MorOutcome = {
    import spark.implicits._
    val rows = flagged(candidates)
      .select(col(MorFile), col(FileScan.RowIndex), col("__graft_del"),
        col(OldDel))
    val cap = maxDvBytes + DvRunSlack
    def fold(rows: DataFrame) = rows.as[(String, Long, Boolean, Boolean)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer[DvPartial]()
        var file: String = null
        var last, n, del, fresh = 0L
        var ser: DeletionVectors.StreamingSerializer = null
        def close(): Unit = if (file != null)
          out += DvPartial(file, n, del, fresh,
            if (fresh == 0) null
            else ser.result().getOrElse(Array.emptyByteArray))
        it.foreach { case (f, ridx, d, old) =>
          // a matched row fanned out by duplicate update keys repeats
          // its row index at once: it counts once
          if (f != file || ridx != last) {
            if (f != file || ridx != last + 1) {
              close(); file = f; n = 0; del = 0; fresh = 0
              ser = new DeletionVectors.StreamingSerializer(
                runOptimize = true, maxBytes = cap)
            }
            last = ridx; n += 1
            if (d) { del += 1; ser.add(ridx); if (!old) fresh += 1 }
          }
        }
        close()
        out.iterator
      }
    val direct = fold(rows)
    val shuffled = direct.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.joins.ShuffledJoin => true
      case _ => false
    }
    val partials = (if (!shuffled) direct
        else fold(rows.repartition(col(MorFile))
          .sortWithinPartitions(MorFile, FileScan.RowIndex)))
      .collect().toSeq.groupBy(_.file)
    // (file, its partials, deleted rows) of every file this commit
    // changes: del counts oldDel OR the new matches, a superset of the
    // old DV's rows -- equal cardinality therefore means equal SET (no
    // live row matched): the file stays as it is
    val changed = partials.toSeq.map { case (bn, ps) =>
        (bn, ps, ps.map(_.rows).sum, ps.map(_.deleted).sum) }
      .filter { case (bn, _, _, del) =>
        del > oldDvs.get(bn).fold(0L)(_.cardinality) }
    val (full, partial) = changed.partition { case (_, _, n, del) => del == n }
    if (partial.exists { case (_, _, n, del) =>
        del.toDouble / n > maxDeleteFraction }) return MorFallbackCow
    // a file's committed bitmap: its one whole-file run as is, or its
    // runs unioned with the old DV; None = over maxDvBytes
    def bitmapOf(bn: String, ps: Seq[DvPartial]): Option[Array[Byte]] = {
      val runs = ps.filter(_.fresh > 0)
      if (runs.exists(_.bitmap.isEmpty)) None
      else if (ps.length == 1) Some(runs.head.bitmap).filter(_.length <= maxDvBytes)
      else {
        val ser = new DeletionVectors.StreamingSerializer(
          runOptimize = true, maxBytes = maxDvBytes)
        var prev = -1L
        mergeSorted((oldDvs.get(bn).map(_.bytes) ++ runs.map(_.bitmap))
            .map(DeletionVectors.RoaringArray.deserialize(_).iterator).toSeq)
          .foreach { r => if (r != prev) { ser.add(r); prev = r } }
        ser.result()
      }
    }
    val built = partial.map { case (bn, ps, _, del) => (bn, del, bitmapOf(bn, ps)) }
    if (built.exists(_._3.isEmpty)) MorFallbackCow
    else if (changed.isEmpty) MorNoChange
    else MorDvs(full.map(_._1).toSet, built.collect { case (bn, del, Some(b)) =>
      val padded =
        if (b.length % 4 == 0) b
        else java.util.Arrays.copyOf(b, ((b.length + 3) / 4) * 4)
      bn -> InlineDv(DeletionVectors.z85Encode(padded), del, b.length)
    }.toMap)
  }

  /** The ascending merge of ascending `sources` (duplicates kept). */
  private def mergeSorted(sources: Seq[Iterator[Long]]): Iterator[Long] = {
    val heads = scala.collection.mutable.PriorityQueue.empty(
      Ordering.by[scala.collection.BufferedIterator[Long], Long](_.head)
        .reverse)
    sources.map(_.buffered).filter(_.hasNext).foreach(heads.enqueue(_))
    new Iterator[Long] {
      def hasNext: Boolean = heads.nonEmpty
      def next(): Long = {
        val it = heads.dequeue()
        val r = it.next()
        if (it.hasNext) heads.enqueue(it)
        r
      }
    }
  }

  /** Row-level changes between two snapshot versions, derived from
    * the manifests' FILE sets — the change-data-feed role that lets a
    * downstream job process a 100 TB table incrementally: only the
    * DELTA files (added or removed between the versions) are ever
    * read; carried files are never opened.
    *
    * Returns rows tagged `_change_type` ("insert" | "delete"). With
    * `collapse = false` the feed is file-granular, like a
    * copy-on-write log replay: a merge/delete that rewrote a file
    * emits delete+insert for that file's UNCHANGED surviving rows
    * too. `collapse = true` cancels those pairs (one signed count per
    * distinct row over the delta rows only), leaving the exact net row changes —
    * still bounded by delta size, never table size. */
  def changesBetween(spark: SparkSession, table: String,
                     fromVersion: Long, toVersion: Long,
                     collapse: Boolean = true): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween: from $fromVersion > to $toVersion")
    val from = manifest(spark, table, fromVersion)
    val to = manifest(spark, table, toVersion)
    val (fromFiles, toFiles) = (from.files, to.files)
    val fromSet = fromFiles.toSet
    val toSet = toFiles.toSet
    // the feed's unit is (file, deletion vector): a MERGE-ON-READ
    // delete changes a file's DV without touching the file list, so a
    // dv-changed carried file joins BOTH sides — its live rows under
    // the old DV as deletes, under the new DV as inserts; collapse
    // cancels the survivors, leaving exactly the newly-deleted rows.
    // Cost stays bounded by CHANGED (files ∪ DVs), never table size.
    val (fromDvs, toDvs) = (from.dvs, to.dvs)
    val dvChanged = fromFiles.filter(f => toSet.contains(f) &&
      fromDvs.get(baseName(f)) != toDvs.get(baseName(f)))
    val added = toFiles.filterNot(fromSet) ++ dvChanged
    val removed = fromFiles.filterNot(toSet) ++ dvChanged
    val tag = org.apache.spark.sql.functions.lit _
    // each side reads with ITS OWN committed schema (they may differ
    // across an evolving table); the union aligns by name and fills
    // columns the other side predates with nulls
    // each side reads with ITS OWN column mapping too: physical file
    // names are stable, so a renamed column appears under its
    // version's logical name (across a rename the collapsed feed is
    // drop-old-name + insert-new-name, like a column-level CDC)
    val inserts =
      if (added.isEmpty) None
      else Some(readManifest(spark, to, added)
        .withColumn("_change_type", tag("insert")))
    val deletes =
      if (removed.isEmpty) None
      else Some(readManifest(spark, from, removed)
        .withColumn("_change_type", tag("delete")))
    val raw = (inserts, deletes) match {
      case (Some(i), Some(d)) =>
        if (!collapse) i.unionByName(d, allowMissingColumns = true)
        else {
          // cancel rewrite noise in ONE signed aggregate: a surviving
          // row appears on both sides with identical values. Each row
          // counts +1 as an insert and -1 as a delete, grouped over the
          // column superset both sides align to (schemas may differ
          // across an evolving table); a row whose net is n != 0 comes
          // back |n| times, as an insert when n > 0 — the multiset of
          // exceptAll both ways, multiplicity honest for genuine
          // duplicates.
          val n = "__graft_net"
          val signed = i.drop("_change_type").withColumn(n, lit(1L))
            .unionByName(d.drop("_change_type").withColumn(n, lit(-1L)),
              allowMissingColumns = true)
          val order = signed.columns.toSeq.filterNot(_ == n)
          signed.groupBy(order.map(col): _*)
            .agg(org.apache.spark.sql.functions.sum(n).as(n))
            .where(col(n) =!= 0)
            .withColumn("_change_type",
              when(col(n) > 0, tag("insert")).otherwise(tag("delete")))
            .withColumn(n, org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.array_repeat(lit(0),
                org.apache.spark.sql.functions.abs(col(n)).cast("int"))))
            .select((order :+ "_change_type").map(col): _*)
        }
      case (Some(i), None) => i
      case (None, Some(d)) => d
      case (None, None) =>
        // no file changed: an empty, correctly-typed feed
        readSnapshot(spark, table, Some(toVersion))
          .withColumn("_change_type", tag("insert")).limit(0)
    }
    raw
  }

  /** The CANONICAL change feed of `(fromVersion, toVersion]`'s last
    * step — [[changesBetween]] with Delta CDF's UPDATE encoding
    * layered on when `toVersion` was a KEYED MERGE: its recorded
    * merge keys pair the net delete+insert rows key-for-key into
    * `update_preimage` / `update_postimage` (rows whose key appears
    * on only one side stay plain inserts/deletes). One derivation
    * shared by the CDF mirror writer and the gates, so the labels a
    * foreign consumer reads are exactly the labels graft derives —
    * two copies of the pairing would drift. Cost: the pairing adds
    * two delta-sized semi/anti joins on the merge keys, nothing
    * table-sized. */
  def changeFeedBetween(spark: SparkSession, table: String,
                        fromVersion: Long, toVersion: Long): DataFrame = {
    val keys = manifest(spark, table, toVersion).mergeKeys
    // the update encoding is only meaningful for the MERGE's own
    // step: across a wider range, toVersion's keys would pair
    // unrelated net rows from other commits into bogus update images
    if (keys.nonEmpty) {
      val prev = snapshotVersions(spark, table)
        .filter(_ < toVersion).lastOption
      require(prev.contains(fromVersion),
        s"changeFeedBetween($table): version $toVersion is a keyed " +
          s"merge, so the update-image pairing needs the single step " +
          s"from its immediate predecessor ${prev.getOrElse(-1L)} — " +
          s"got fromVersion $fromVersion; derive wider ranges step " +
          "by step")
    }
    val feed0 = changesBetween(spark, table, fromVersion, toVersion)
    if (keys.isEmpty) feed0
    else {
      // the feed subplan (the collapse shuffle + file scans) feeds
      // the key groupBy AND four semi/anti joins — checkpoint it so
      // one materialization computes it once, not five times
      val feed = feed0.localCheckpoint()
      val ct = col("_change_type")
      val ins = feed.where(ct === "insert")
      val del = feed.where(ct === "delete")
      // keys present on BOTH sides are updates; the set is
      // delta-bounded (never table-sized). Key columns RENAME before
      // the join-back — a same-lineage self-join on shared attribute
      // names is Spark's classic ambiguity trap
      val both = feed
        .groupBy(keys.map(col): _*)
        .agg(
          max(when(ct === "insert", 1).otherwise(0)).as("__has_i"),
          max(when(ct === "delete", 1).otherwise(0)).as("__has_d"))
        .where(col("__has_i") === 1 && col("__has_d") === 1)
        .select(keys.map(k => col(k).as(s"__bk_$k")): _*)
      def cond(side: DataFrame) =
        keys.map(k => side(k) <=> both(s"__bk_$k")).reduce(_ && _)
      ins.join(both, cond(ins), "left_semi")
        .withColumn("_change_type", lit("update_postimage"))
        .unionByName(ins.join(both, cond(ins), "left_anti"))
        .unionByName(del.join(both, cond(del), "left_semi")
          .withColumn("_change_type", lit("update_preimage")))
        .unionByName(del.join(both, cond(del), "left_anti"))
    }
  }

  /** The copy-on-write body of [[mergeSnapshot]]. The updates land
    * FIRST, into their own attempt directory (hive-partitioned on a
    * partitioned table), and everything after reads them back from
    * there: the probe and the survivors' anti-join use the keys of the
    * LANDED files, so the `updates` plan runs once and a
    * non-deterministic one (rand() sampling, a concurrently-changing
    * source) retires exactly the keys whose rows landed. On a
    * partitioned table the landed paths also yield the touched
    * partition keys through the exact formatter that wrote the
    * existing files (the `commitSnapshotDynamic` trick; deriving keys
    * from Row values instead diverges on timestamps/empty strings and
    * would silently mis-prune). */
  private def mergeCopyOnWrite(updates: DataFrame, table: String,
      keyCols: Seq[String], prev: Manifest,
      txn: Option[(String, Long)]): Long = {
    val spark = updates.sparkSession
    val (files, schema, partCols) = (prev.files, prev.schema, prev.partCols)
    val cols = schema.fieldNames.toSeq
    val colmap = prev.colmap
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    val version = prev.version + 1
    val attempt = newAttempt()
    def landAs(kind: String, rows: DataFrame) = land(
      rows.select(cols.map(col): _*), table, version, colmap, partCols,
      attempt, kind)
    val (updDir, updFiles) = landAs("u", updates)
    // the landed footers, read once: their key ranges prune the probe
    // and the commit records them as the new files' stats
    val updStats = footersOf(spark, updFiles, schema, colmap)
    lazy val keys = readFiles(spark, updFiles, schema, colmap,
        lengths = updStats.flatMap { case (bn, (_, len)) => len.map(bn -> _) })
      .select(keyCols.map(col): _*)
    // partition pruning is SOUND only when every partition column is a
    // merge key: then a matched row's partition values equal the
    // update row's, so files elsewhere cannot contain a match. With a
    // non-key partition column, every file is a candidate. A pre-spec
    // file (partition spec evolution: no path values) could hold any
    // key — it stays a candidate. No update rows: no candidates.
    val touchedParts = updFiles.map(partitionOf(partCols, _)).toSet
    val (candidates, untouched) =
      if (updFiles.isEmpty) (Seq.empty[String], files)
      else if (partCols.forall(keyCols.contains))
        files.partition(f =>
          partitionOfOpt(partCols, f).forall(touchedParts))
      else (files, Seq.empty[String])
    // the updates key sliver joins UN-deduplicated (r18): the probe's
    // result rides through the per-task file sets regardless of
    // duplicate keys, and a left-anti join is duplicate-insensitive on
    // its right side. Callers own the one-row-per-key contract (rows
    // land verbatim), exactly like MERGE INTO. Only candidates whose
    // key ranges can hold a landed key are opened.
    val probe = keyCandidates(prev, candidates, keyCols, updStats.values.map(_._1))
    val probed =
      if (probe.isEmpty) Set.empty[String]
      else filesOf(readKeyed(spark, prev, probe).join(keys, keyCols))
    val (rewrite, carryRest) = candidates.partition(f => probed(baseName(f)))
    val surv =
      if (rewrite.isEmpty) None
      else Some(landAs("s", readManifest(spark, prev, rewrite)
        .join(keys, keyCols, "left_anti")))
    val survFiles = surv.fold(Seq.empty[String])(_._2)
    // CHECK enforcement: the update rows are the only genuinely new
    // ones — survivors re-land from already-validated data
    enforceChecks(spark, prev.checks, updFiles, schema, fs,
      updDir +: surv.map(_._1).toSeq, colmap)
    // a partitioned table commits the TABLE's schema, so
    // partition-column typing is stable across versions; a flat one
    // commits the landed rows' schema (every column nullable once
    // survivors, read back through the parquet source, land with them)
    val landed = updates.select(cols.map(col): _*).schema
    val committed =
      if (partCols.nonEmpty) schema
      else if (rewrite.isEmpty) landed
      else org.apache.spark.sql.GraftColumnBridge.asNullable(schema)
    writeManifest(spark, fs, table, Some(prev), version, "merge", committed,
      untouched ++ carryRest ++ survFiles ++ updFiles, partCols,
      txnOverride = txn, mergeKeys = keyCols, landed = updStats)
    version
  }

  /** Spark types data skipping stats/compares: integral, floating,
    * string, date, timestamp. (Decimals/binary: conservative scan.)
    * Timestamps canonicalize to epoch MICROS (matching Spark's
    * internal representation), dates to epoch DAYS — INT64/INT32
    * parquet columns only; legacy INT96 carries no usable parquet
    * stats and degrades to a scan. */
  private def statType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** One column's manifest stats: (min, max) over non-null values
    * (absent when any row group lacked usable stats) and the NULL
    * count (absent when any row group predates null accounting).
    * The two halves are independent — an all-NULL file has a null
    * count but no min/max; a poisoned-stats file can still carry
    * null counts. */
  private[graft] final case class ColStat(lo: Option[String],
      hi: Option[String], nulls: Option[Long])

  /** One file's manifest stats: total row count (from footer block
    * counts — always present for post-r8 commits) + per-column
    * ColStat. Pre-r8 manifests parse with rows=None and
    * nulls=None everywhere. */
  private[graft] final case class FileStats(rows: Option[Long],
      cols: Map[String, ColStat])

  /** The Spark schema of one parquet file from its FOOTER, on the
    * driver, converted exactly as Spark's schema inference converts a
    * footer — `spark.read.parquet(file).schema` ran a full
    * schema-inference pass (one Spark job + Catalyst round per call;
    * mergeSnapshot paid it per commit). Metadata-only; no path
    * partitions. */
  private[graft] def footerSchema(spark: SparkSession, file: String)
      : org.apache.spark.sql.types.StructType = {
    val path = new org.apache.hadoop.fs.Path(file)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path,
        spark.sessionState.newHadoopConf()))
    try org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(path, reader.getFooter),
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }

  /** A plain parquet directory, read with its data schema taken from
    * ONE footer on the driver — the file Spark's own inference would
    * pick: the first by path of the files Spark lists — instead of
    * Spark's schema-inference job; partition columns still come from
    * the `k=v` paths. A directory without a data file, one with a
    * `_metadata`/`_common_metadata` summary (which Spark reads first),
    * or a session that merges parquet schemas reads as Spark reads it. */
  def readParquetDir(spark: SparkSession, dir: String): DataFrame = {
    val files = org.apache.spark.sql.GraftPlanBridge.listedFiles(spark,
      new org.apache.hadoop.fs.Path(dir)).sorted
    val footer =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled ||
          files.exists(_.matches(".*/_(common_)?metadata"))) None
      else files.headOption
    footer.fold(spark.read)(f => spark.read.schema(footerSchema(spark, f)))
      .parquet(dir)
  }

  /** Per-column stats and the byte length of one parquet file from
    * its FOOTER — zero data IO: row-group statistics are merged across blocks; a
    * column's (min, max) is omitted when any block lacks stats
    * (older writers) or its type is outside the v1 stat set, its
    * null count when any block left numNulls unset. Values serialize
    * as plain strings (numerics in decimal form, strings verbatim). */
  private def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          file: String,
                          schema: org.apache.spark.sql.types.StructType)
      : (FileStats, Option[Long]) = {
    import scala.jdk.CollectionConverters._
    val wanted = schema.fields.filter(f => statType(f.dataType))
      .map(_.name).take(32).toSet
    val input = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(input)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rowsTotal = blocks.map(_.getRowCount).sum
      val acc = scala.collection.mutable.Map[String, (String, String)]()
      val dead = scala.collection.mutable.Set[String]()
      // NULL counts account independently of min/max health: an
      // all-NULL column has no min/max but an exact null count, and
      // that count is precisely what proves IS NOT NULL (and every
      // comparison) empty on the file
      val nullAcc = scala.collection.mutable.Map[String, Long]()
      val nullDead = scala.collection.mutable.Set[String]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val path = c.getPath.toArray
          if (path.length == 1 && wanted(path(0))) {
            val name = path(0)
            val st = c.getStatistics
            if (st == null || !st.isNumNullsSet) nullDead += name
            else nullAcc(name) = nullAcc.getOrElse(name, 0L) + st.getNumNulls
          }
          if (path.length == 1 && wanted(path(0)) && !dead(path(0))) {
            val name = path(0)
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) {
              // a block with rows but no stats poisons the column;
              // an all-null block simply contributes nothing
              if (st == null || st.getNumNulls != b.getRowCount) dead += name
            } else {
              // temporal canonicalization: the stat value for a
              // timestamp column is the raw INT64 in the file's own
              // unit — normalize to micros so the evaluator compares
              // one time scale. Integer division floors, exactly how
              // Spark itself narrows NANOS on read, so floor(min)/
              // floor(max) remain true bounds of the values Spark
              // sees. INT96 (deprecated) never reaches here: parquet
              // writes no comparable stats for it, so the column
              // poisons above and the reader scans.
              import org.apache.spark.sql.types.{DateType, TimestampType,
                TimestampNTZType}
              val timeScale: Long = schema(name).dataType match {
                case TimestampType | TimestampNTZType =>
                  c.getPrimitiveType.getLogicalTypeAnnotation match {
                    case t: org.apache.parquet.schema
                        .LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                      t.getUnit match {
                        case org.apache.parquet.schema.LogicalTypeAnnotation
                            .TimeUnit.MILLIS => 1000L       // ms -> us
                        case org.apache.parquet.schema.LogicalTypeAnnotation
                            .TimeUnit.MICROS => 1L
                        case org.apache.parquet.schema.LogicalTypeAnnotation
                            .TimeUnit.NANOS => -1000L       // ns / 1000
                      }
                    case _ => 0L // unexpected physical form: no proof
                  }
                case DateType => 1L // INT32 epoch days verbatim
                case _ => 1L
              }
              def canon(v: Any): Option[String] = (v, timeScale) match {
                case (_, 0L) => None
                case (l: java.lang.Long, s) =>
                  Some((if (s < 0) Math.floorDiv(l, -s) else l * s).toString)
                case (i: java.lang.Integer, _) => Some(i.toString)
                case (a: org.apache.parquet.io.api.Binary, _) =>
                  Some(a.toStringUsingUTF8)
                case (other, _) => Some(other.toString)
              }
              val pair = for {
                lo <- canon(st.genericGetMin)
                hi <- canon(st.genericGetMax)
              } yield (lo, hi)
              if (pair.isEmpty) { dead += name } else {
              val (lo, hi) = pair.get
              acc(name) = acc.get(name) match {
                case None => (lo, hi)
                case Some((plo, phi)) =>
                  val dt = schema(name).dataType
                  (if (statLt(lo, plo, dt)) lo else plo,
                   if (statLt(phi, hi, dt)) hi else phi)
              }
              }
            }
          }
        }
      }
      val mm = acc.toMap -- dead
      val nn = nullAcc.toMap -- nullDead
      val cols = (mm.keySet ++ nn.keySet).map { n =>
        n -> ColStat(mm.get(n).map(_._1), mm.get(n).map(_._2), nn.get(n))
      }.toMap
      (FileStats(Some(rowsTotal), cols), Some(input.getLength))
    } finally reader.close()
  }

  /** [[footerStats]] of `files` under `schema`'s physical names, by
    * basename: footer reads are independent metadata fetches, run on
    * an [[ioPool]] (on object stores each is a network call). Files
    * store PHYSICAL names; stats stay keyed by them (stable across
    * renames) and translate to logical at read time. An unreadable
    * footer yields no stats. */
  private def footersOf(spark: SparkSession, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType, colmap: ColMapping)
      : Map[String, (FileStats, Option[Long])] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map(baseName).zip(parMap(spark, files) { f =>
      try footerStats(conf, f, physSchema(schema, colmap))
      catch { case scala.util.control.NonFatal(_) =>
        (FileStats(None, Map.empty), None) }
    }).toMap
  }

  /** stat-string ordering under a Spark type: numeric as BigDecimal,
    * string lexicographic. */
  private def statLt(a: String, b: String,
                     dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.StringType => a < b
      case _ => BigDecimal(a) < BigDecimal(b)
    }

  /** Declare (or reconfigure) the table's BLOOM FILE INDEX: from this
    * commit on, every data file carries a per-file bloom filter over
    * `xxhash64(col)` for each listed LOGICAL column (expected items →
    * sketch size, Spark's default 3% fpp), and
    * `readSnapshotWhere` prunes files whose blooms prove an equality
    * / IN conjunct empty. This commit BACKFILLS blooms for all
    * current files (one distributed pass); subsequent commits pay
    * only their delta. Files, schema, stats, checks, and column
    * mapping carry forward untouched — a metadata(+index) commit like
    * OPTIMIZE, invisible to the change feed. Returns the committed
    * version. */
  def setBloomIndex(spark: SparkSession, table: String,
                    colItems: Map[String, Long]): Long = {
    require(colItems.nonEmpty, "setBloomIndex: no columns given")
    require(colItems.values.forall(_ > 0),
      s"setBloomIndex: expected items must be positive: $colItems")
    val pm = latestManifest(spark, table)
    val known = pm.schema.fieldNames.toSet
    val missing = colItems.keySet.diff(known)
    require(missing.isEmpty,
      s"setBloomIndex: unknown columns $missing (schema: $known)")
    metaCommit(spark, table, pm, "bloomindex")(
      bloomCfgOverride = Some(colItems))
  }

  /** COLUMN MAPPING (Delta name-mode parity): the manifest's logical
    * schema can diverge from the PHYSICAL column names stored in the
    * parquet files, making RENAME and DROP COLUMN metadata-only
    * commits — no data rewrite, ever. A column's physical name is
    * fixed at its introduction and never changes; `map` holds only
    * the non-identity entries (logical -> physical), `dropped` the
    * physical names of dropped columns — tombstones that stop a
    * later re-add of the same name from resurrecting old file data
    * (the re-add gets a FRESH physical name instead). */
  private[graft] final case class ColMapping(map: Map[String, String],
      dropped: Seq[String]) {
    def phys(c: String): String = map.getOrElse(c, c)
    def isIdentity: Boolean = map.isEmpty
    /** Physical names in use or tombstoned — what a NEW column's
      * physical name must avoid. */
    def used(schema: org.apache.spark.sql.types.StructType): Set[String] =
      schema.fieldNames.map(phys).toSet ++ dropped
  }
  private[graft] object ColMapping {
    val empty: ColMapping = ColMapping(Map.empty, Seq.empty)
  }

  /** Rename a DataFrame's (logical) columns to their physical names
    * right before a data-file write — identity mappings cost
    * nothing. */
  private[graft] def toPhysical(df: DataFrame, colmap: ColMapping): DataFrame =
    if (colmap.isIdentity) df
    else df.select(df.columns.map(n => df(n).as(colmap.phys(n))).toSeq: _*)

  /** The schema as stored in the files: logical field names replaced
    * by their physical names. */
  private def physSchema(schema: org.apache.spark.sql.types.StructType,
      colmap: ColMapping): org.apache.spark.sql.types.StructType =
    if (colmap.isIdentity) schema
    else org.apache.spark.sql.types.StructType(
      schema.fields.map(f => f.copy(name = colmap.phys(f.name))))

  /** The highest `txnVersion` writer `appId` has committed to `table`
    * (None before its first stamped commit). THE idempotent-replay
    * gate: an incremental consumer that stamps each merge with
    * `txn = Some(appId -> srcVersion)` checks this BEFORE re-applying
    * a delta — a crash between its commit and its own cursor advance
    * replays the version, and the stamp (atomic with the data, it
    * rode the same manifest rename) says "already absorbed, skip"
    * instead of double-counting. Exactly Delta's
    * `txnVersion(appId)` / SetTransaction contract, O(1) per check
    * (one manifest read, no data IO). */
  def lastTxnVersion(spark: SparkSession, table: String,
                     appId: String): Option[Long] =
    snapshotVersions(spark, table).lastOption
      .flatMap(v => manifest(spark, table, v).txns.get(appId))

  /** Enforce CHECK constraints over `files` (the rows a commit is
    * about to publish) in ONE aggregate scan — SQL CHECK semantics:
    * a row passes when the expression is TRUE or NULL. On violation
    * the in-flight data dirs are deleted (they were inert until the
    * manifest rename — the table is untouched) and the commit throws
    * with every failed constraint named. */
  private def enforceChecks(spark: SparkSession,
      checks: Map[String, String], files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      fs: org.apache.hadoop.fs.FileSystem,
      cleanup: Seq[org.apache.hadoop.fs.Path],
      colmap: ColMapping = ColMapping.empty): Unit = {
    if (checks.isEmpty || files.isEmpty) return
    val ordered = checks.toSeq.sortBy(_._1)
    val aggs = ordered.map { case (n, e) =>
      max(org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.not(
          coalesce(expr(e).cast("boolean"), lit(true))), 1).otherwise(0))
        .as(n) }
    val row = readFiles(spark, files, schema, colmap)
      .agg(aggs.head, aggs.tail: _*)
      .head()
    val violated = ordered.zipWithIndex.collect {
      case ((n, e), i) if !row.isNullAt(i) && row.getInt(i) == 1 =>
        s"$n CHECK ($e)" }
    if (violated.nonEmpty) {
      cleanup.foreach(d => try fs.delete(d, true)
        catch { case _: java.io.IOException => })
      throw new IllegalArgumentException(
        "commit rejected, CHECK constraint(s) violated: " +
          violated.mkString("; "))
    }
  }

  /** ADD CONSTRAINT ... CHECK (Delta parity): `exprSql` must hold on
    * every EXISTING row (one full validation scan, like Delta) and is
    * then enforced on the delta rows of every future commit. The
    * constraint lands as a metadata-only commit (files carried by
    * reference). */
  def addCheck(spark: SparkSession, table: String, name: String,
               exprSql: String): Long = {
    val pm = latestManifest(spark, table)
    require(!pm.checks.contains(name), s"check '$name' already exists")
    enforceChecks(spark, Map(name -> exprSql), pm.files, pm.schema,
      fsOf(spark, new org.apache.hadoop.fs.Path(table)), Nil)
    metaCommit(spark, table, pm, "meta")(
      checksOverride = Some(pm.checks + (name -> exprSql)))
  }

  /** DROP CONSTRAINT — metadata-only commit without the named check. */
  def dropCheck(spark: SparkSession, table: String, name: String): Long = {
    val pm = latestManifest(spark, table)
    require(pm.checks.contains(name), s"no check '$name' on $table")
    metaCommit(spark, table, pm, "meta")(
      checksOverride = Some(pm.checks - name))
  }

  /** Every CHECK must still ANALYZE under a changed schema — the
    * guard that makes rename/drop refuse instead of committing a
    * manifest whose constraints can never evaluate again. */
  private def requireChecksAnalyze(spark: SparkSession,
      checks: Map[String, String],
      schema: org.apache.spark.sql.types.StructType, what: String): Unit =
    checks.foreach { case (n, e) =>
      try spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .where(expr(e)).queryExecution.analyzed
      catch { case scala.util.control.NonFatal(_) =>
        throw new IllegalArgumentException(
          s"$what refused: CHECK constraint $n ($e) references the " +
            "column; drop the constraint first")
      }
    }

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta column-mapping
    * name mode): no file is rewritten — the column keeps its original
    * PHYSICAL name in every parquet file, and the manifest's mapping
    * translates on read/write from now on. Old versions still read
    * under their own names; stats keep working (they are keyed by
    * physical name). Partition columns refuse (their names live in
    * hive paths); a CHECK referencing the column refuses (drop it
    * first). */
  def renameColumn(spark: SparkSession, table: String,
                   oldName: String, newName: String): Long = {
    require(oldName != newName, "rename to the same name")
    val pm = latestManifest(spark, table)
    val (schema, partCols, cm) = (pm.schema, pm.partCols, pm.colmap)
    require(schema.fieldNames.contains(oldName),
      s"no column '$oldName' on $table")
    require(!schema.fieldNames.contains(newName),
      s"column '$newName' already exists on $table")
    require(!partCols.contains(oldName),
      s"cannot rename partition column '$oldName' (values live in paths)")
    val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map(
      f => if (f.name == oldName) f.copy(name = newName) else f))
    requireChecksAnalyze(spark, pm.checks, newSchema,
      s"rename $oldName -> $newName")
    // identity entries prune themselves (a rename BACK to the
    // physical name needs no mapping)
    val newMap = ((cm.map - oldName) + (newName -> cm.phys(oldName)))
      .filter { case (l, p) => l != p }
    metaCommit(spark, table, pm, "rename")(newSchema,
      colmapOverride = Some(ColMapping(newMap, cm.dropped)))
  }

  /** DROP COLUMN as a METADATA-ONLY commit: files keep the physical
    * data (older versions still read it; physical erasure = rewrite
    * via optimizeSnapshot + vacuum), reads project it away, and the
    * physical name is TOMBSTONED — a later append re-adding the same
    * logical name gets a fresh physical name instead of resurrecting
    * the old bytes. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val pm = latestManifest(spark, table)
    val (schema, partCols, cm) = (pm.schema, pm.partCols, pm.colmap)
    require(schema.fieldNames.contains(name), s"no column '$name' on $table")
    require(!partCols.contains(name),
      s"cannot drop partition column '$name' (values live in paths)")
    require(schema.fields.length > 1, "cannot drop the last column")
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    requireChecksAnalyze(spark, pm.checks, newSchema, s"drop $name")
    metaCommit(spark, table, pm, "drop")(newSchema, colmapOverride =
      Some(ColMapping(cm.map - name, cm.dropped :+ cm.phys(name))))
  }

  /** The CHECK constraints currently in force. */
  def snapshotChecks(spark: SparkSession, table: String)
      : Map[String, String] = {
    snapshotVersions(spark, table).lastOption
      .fold(Map.empty[String, String])(manifest(spark, table, _).checks)
  }

  /** A METADATA-ONLY commit on top of `prev`: its files and partition
    * spec carry by reference; `schema` and the given overrides change.
    * Returns the committed version. */
  private def metaCommit(spark: SparkSession, table: String,
      prev: Manifest, mode: String)(
      schema: org.apache.spark.sql.types.StructType = prev.schema,
      checksOverride: Option[Map[String, String]] = None,
      colmapOverride: Option[ColMapping] = None,
      bloomCfgOverride: Option[Map[String, Long]] = None): Long = {
    val version = prev.version + 1
    writeManifest(spark, fsOf(spark, new org.apache.hadoop.fs.Path(table)),
      table, Some(prev), version, mode, schema, prev.files, prev.partCols,
      checksOverride, colmapOverride, bloomCfgOverride)
    version
  }

  /** Write + atomically activate the manifest of `version`, carrying
    * every table-level field (column mapping, DVs, CHECKs, stats, bloom
    * index, txns) from `prev` — the manifest the caller already read —
    * unless this commit overrides it. Per-file metadata is computed
    * only for files NEW to this version (footer stats, blooms), so
    * commit cost stays O(delta). Partitioned commits also record
    * `partcols`: later merges and dynamic commits then know the
    * table's partition layout from the MANIFEST alone; per-file
    * partition keys derive deterministically from the hive paths
    * (`partitionOf`). */
  private def writeManifest(spark: SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem,
                            table: String, prev: Option[Manifest],
                            version: Long, mode: String,
                            schema: org.apache.spark.sql.types.StructType,
                            files: Seq[String],
                            partCols: Seq[String] = Nil,
                            checksOverride: Option[Map[String, String]] =
                              None,
                            colmapOverride: Option[ColMapping] =
                              None,
                            bloomCfgOverride: Option[Map[String, Long]] =
                              None,
                            txnOverride: Option[(String, Long)] =
                              None,
                            mergeKeys: Seq[String] = Nil,
                            dvsOverride: Option[Map[String, InlineDv]] =
                              None,
                            landed: Map[String, (FileStats, Option[Long])] =
                              Map.empty): Unit = {
    // BACKSTOP for the invariant every per-file map below is keyed
    // on (DVs, stats, blooms — see [[baseName]]): a collision here
    // means a write path skipped [[walkFreshData]]'s rename pass.
    // Refuse loudly — committing would let one file's deletion
    // vector or bounds silently govern another partition's file
    val collided = files.groupBy(baseName).filter(_._2.size > 1)
    require(collided.isEmpty,
      s"writeManifest at $table v$version: file basenames collide " +
        s"across directories (${collided.keys.take(3).mkString(", ")}" +
        "...) — per-file metadata (DVs, stats, blooms) is basename-" +
        "keyed, so committing would let one file's entry govern " +
        "another's. Either a write path skipped walkFreshData's " +
        "rename pass (graft bug), or this table's CARRIED files " +
        "predate the unique-basename invariant — those tables' " +
        "per-file metadata was already unreliable; rebuild with a " +
        "full overwrite (commitSnapshot of readSnapshot output)")
    // column mapping carries forward verbatim unless this commit
    // changes it (rename/drop/overwrite)
    val colmap = colmapOverride.getOrElse(
      prev.fold(ColMapping.empty)(_.colmap))
    // MERGE-ON-READ deletion vectors: carried files keep their DVs
    // verbatim unless this commit changes them (deleteFromSnapshotMor
    // passes the merged map); a file REWRITTEN or dropped by this
    // commit leaves the map via the membership filter, so COW
    // rewrites / compaction / full-table overwrites clear DVs with no
    // special casing
    val present = files.map(baseName).toSet
    val dvs = dvsOverride.getOrElse(prev.fold(Map.empty[String, InlineDv])(
      _.dvs)).filter { case (bn, _) => present(bn) }
    // DATA SKIPPING stats: carried files inherit their (min, max)
    // from the previous manifest; only files NEW to this version pay
    // a footer read (metadata IO, never data) — commit cost stays
    // O(delta)
    val prevStats = prev.fold(Map.empty[String, FileStats])(_.stats)
    // the same pass records each new file's byte LENGTH, so readers
    // plan the file without a stat; a file carried from a manifest
    // that predates lengths stays unrecorded (readers stat it). Files
    // whose footers the caller already read (`landed`) are not read
    // again.
    val newFiles = files.filterNot(f =>
      prevStats.contains(baseName(f)) || landed.contains(baseName(f)))
    val fresh = landed ++ footersOf(spark, newFiles, schema, colmap)
    val stats = files.map(baseName).flatMap(bn =>
      prevStats.get(bn).orElse(fresh.get(bn).map(_._1)).map(bn -> _)).toMap
    val prevLengths = prev.fold(Map.empty[String, Long])(_.lengths)
    val lengths = files.map(baseName).flatMap(bn =>
      prevLengths.get(bn).orElse(fresh.get(bn).flatMap(_._2))
        .map(bn -> _)).toMap
    // BLOOM FILE INDEX (Delta bloom-filter-index parity): per-file
    // bloom filters over xxhash64(col) for the configured columns —
    // the point-lookup complement to min/max stats (equality on a
    // high-cardinality column scattered across files prunes to the
    // files that MIGHT contain the key). Config carries forward like
    // checks; carried files inherit their blooms; only files NEW to
    // this version pay ONE distributed pass over exactly those files
    // — commit cost stays O(delta). A bloom proves absence, never
    // presence, so a false positive costs a scan, never correctness.
    val bloomCfg = bloomCfgOverride.getOrElse(
      prev.fold(Map.empty[String, Long])(_.bloomCfg))
    val blooms: Map[String, Map[String, String]] =
      if (bloomCfg.isEmpty) Map.empty
      else {
        val prevBlooms =
          prev.fold(Map.empty[String, Map[String, String]])(_.blooms)
        val physCfg = bloomCfg.map { case (lc, n) => colmap.phys(lc) -> n }
        val pSchema = physSchema(schema, colmap)
        // hive partition columns live in paths, not file data — their
        // equality pruning is the stats path's exact-partition-value
        // job, never a bloom's
        val indexed = physCfg.keySet.intersect(pSchema.fieldNames.toSet)
          .diff(partCols.map(colmap.phys).toSet).toSeq.sorted
        val newFiles = files.filterNot(f => prevBlooms.contains(baseName(f)))
        val fresh: Map[String, Map[String, String]] =
          if (newFiles.isEmpty || indexed.isEmpty) Map.empty
          else {
            import org.apache.spark.sql.functions.{col, input_file_name,
              xxhash64, regexp_extract}
            val df = spark.read.schema(pSchema).parquet(newFiles: _*)
            val aggs = indexed.map { pc =>
              org.apache.spark.sql.GraftColumnBridge.column(
                new org.apache.spark.sql.catalyst.expressions.aggregate
                  .BloomFilterAggregate(
                    org.apache.spark.sql.GraftColumnBridge.expression(
                      xxhash64(col(pc))), physCfg(pc))
                  .toAggregateExpression()).as(s"__bf_$pc")
            }
            df.groupBy(regexp_extract(input_file_name(), "[^/]+$", 0)
                .as("__f"))
              .agg(aggs.head, aggs.tail: _*)
              .collect().map { r =>
                r.getString(0) -> indexed.zipWithIndex.flatMap {
                  case (pc, i) =>
                    if (r.isNullAt(i + 1)) None
                    else Some(pc -> java.util.Base64.getEncoder
                      .encodeToString(r.getAs[Array[Byte]](i + 1)))
                }.toMap
              }.toMap
          }
        files.map(baseName).flatMap(bn =>
          prevBlooms.get(bn).orElse(fresh.get(bn)).filter(_.nonEmpty)
            .map(bn -> _)).toMap
      }
    // APPLICATION TRANSACTIONS (Delta's SetTransaction rebuilt):
    // {appId -> version} rides the manifest, carried forward verbatim
    // and merged with this commit's txn, so the highest applied
    // version per writer is atomic WITH the data it applied — the
    // exactly-once cursor a replaying incremental consumer (MV
    // refresh, streaming upsert) checks before re-merging a delta.
    // Map size is O(#writers), never data-scaled.
    val txns = prev.fold(Map.empty[String, Long])(_.txns) ++ txnOverride
    // the commit wall-clock (driver clock, epoch millis) — what
    // TIMESTAMP AS OF resolves against. Like Delta, monotonicity
    // across writers is the deployment's clock discipline, not the
    // format's; readers resolve with "latest version at or before t"
    val m = Manifest(version, mode, Some(System.currentTimeMillis()), txns,
      schema, partCols, mergeKeys, dvs,
      checksOverride.getOrElse(prev.fold(Map.empty[String, String])(_.checks)),
      colmap, stats, lengths, bloomCfg, blooms, files)
    commitManifestBody(fs, table, version, m.render)
  }

  /** The create-if-absent [[publish]] of a fully-assembled manifest
    * body — the single commit point every manifest-writing path
    * (normal commits and [[cloneSnapshot]]) shares. Losing to an
    * existing manifest is a CONFLICT. */
  private def commitManifestBody(fs: org.apache.hadoop.fs.FileSystem,
                                 table: String, version: Long,
                                 body: String): Unit =
    if (!publish(fs, new org.apache.hadoop.fs.Path(manifestDir(table),
        s"v$version.json"), body.getBytes("UTF-8"), replace = false))
      throw new IllegalStateException(
        s"snapshot conflict: version $version already committed at $table " +
          "(this attempt's data directory is an inert orphan)")

  /** The data files of one snapshot version. */
  def snapshotFiles(spark: SparkSession, table: String,
                    version: Long): Seq[String] =
    manifest(spark, table, version).files

  /** The partition columns a snapshot was committed with (empty for
    * unpartitioned snapshots). */
  def snapshotPartitionCols(spark: SparkSession, table: String,
                            version: Long): Seq[String] =
    manifest(spark, table, version).partCols

  /** Parsed-manifest memo (r18): one commit reads the SAME previous
    * manifest for its schema, colmap, DVs, checks, stats, blooms and
    * txns, and read paths re-read the current one per call — each
    * read paying an open + full read + parse. The memo is VALIDATED,
    * never trusted blind: entries are keyed by qualified path and
    * checked against the file's current (mtime, length) on every hit,
    * so a table directory that is wiped and re-created between
    * queries (the bench fixtures do exactly this) can never be served
    * a stale manifest. Bounded; cleared wholesale when oversized
    * (manifests are KB-scale). */
  private val manifestMemo =
    new scala.collection.concurrent.TrieMap[String, (Long, Long, Manifest)]

  /** The manifest of `version` — EVERY manifest read goes through
    * here. A version missing from the manifest directory (never
    * committed, or vacuumed since it was listed) raises
    * `no snapshot v{N} at {table}`. */
  private[graft] def manifest(spark: SparkSession, table: String,
                              version: Long): Manifest = {
    val p = new org.apache.hadoop.fs.Path(manifestDir(table), s"v$version.json")
    val fs = fsOf(spark, p)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        manifestMemo.remove(p.toString)
        sys.error(s"no snapshot v$version at $table")
      }
    manifestMemo.get(p.toString) match {
      case Some((m, l, parsed))
          if m == st.getModificationTime && l == st.getLen => parsed
      case _ =>
        val in = fs.open(p)
        val body =
          try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          finally in.close()
        val parsed = Manifest.parse(body)
        if (manifestMemo.size > 512) manifestMemo.clear()
        manifestMemo.put(p.toString,
          (st.getModificationTime, st.getLen, parsed))
        parsed
    }
  }

  /** The latest version's manifest; refuses a table with no history. */
  private def latestManifest(spark: SparkSession,
                             table: String): Manifest = {
    val vs = snapshotVersions(spark, table)
    require(vs.nonEmpty, s"no snapshots at $table")
    manifest(spark, table, vs.last)
  }

  /** SHALLOW CLONE (Delta parity): materialize `target` as a new
    * snapshot table whose first version references the SOURCE
    * table's data files at `version` (default: latest) BY REFERENCE —
    * a metadata-only commit that copies zero data bytes and reads
    * zero footers (schema, partition columns, column mapping, CHECK
    * constraints, and per-file skipping stats all carry verbatim
    * from the source manifest). Application transactions do NOT
    * carry: a writer's exactly-once cursor belongs to the table it
    * wrote into.
    * From then on the two tables evolve
    * independently: appends/MERGE/DELETE/OPTIMIZE on the clone write
    * new files under the clone's own directory (manifests store
    * absolute paths, so mixed-directory file sets read natively),
    * and copy-on-write rewrites never touch the source's files.
    * Delta's shallow-clone caveat applies here too: vacuuming the
    * SOURCE can remove files the clone still references — retention
    * policy must span clones, which is the deployment's
    * responsibility, as documented in docs/snapshot_format.md.
    * Refuses if `target` already has any committed version. Returns
    * the clone's first version number. */
  def cloneSnapshot(spark: SparkSession, source: String, target: String,
                    version: Option[Long] = None): Long = {
    val versions = snapshotVersions(spark, source)
    require(versions.nonEmpty, s"no snapshot history at $source")
    val v = version.getOrElse(versions.last)
    require(versions.contains(v), s"no snapshot v$v at $source")
    require(snapshotVersions(spark, target).isEmpty,
      s"clone target $target already has snapshot history")
    val cloneV = 1L
    val cloned = manifest(spark, source, v).copy(version = cloneV,
      mode = "clone", ts = Some(System.currentTimeMillis()),
      txns = Map.empty)
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(target))
    commitManifestBody(fs, target, cloneV, cloned.render)
    cloneV
  }

  /** One file's MERGE-ON-READ deletion vector, stored INLINE in the
    * manifest: Z85-encoded roaring-portable bitmap of deleted row
    * indexes (`sizeInBytes` = unpadded serialized length — Z85 pads
    * to a multiple of 4), plus its cardinality. Inline-only by
    * design: [[deleteFromSnapshotMor]] caps DV size and falls back
    * to copy-on-write above it, so a manifest never balloons and
    * vacuum needs no extra reference counting. */
  final case class InlineDv(z85: String, cardinality: Long,
                            sizeInBytes: Int) {
    def bytes: Array[Byte] = {
      val raw = DeletionVectors.z85Decode(z85)
      if (raw.length == sizeInBytes) raw
      else java.util.Arrays.copyOf(raw, sizeInBytes)
    }
    /** Cache/identity key component: same file under a DIFFERENT
      * bitmap must never share a cached parse. */
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(z85.getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** Durable consumer cursor over a table's version history: run
    * `fn` once per version committed since the cursor last advanced,
    * each call receiving that version's feed ([[versionFeeds]];
    * COLLAPSED unless `collapse = false`), oldest first; the cursor
    * file advances by atomic rename AFTER each call returns. Crash
    * between `fn` and the advance ⇒ that version replays —
    * at-least-once; a consumer that commits its output keyed on the
    * version (or idempotently, like `Materialized.refreshAgg`'s
    * merge) gets effective exactly-once. Returns the versions
    * processed. */
  def processNewVersions(spark: SparkSession, table: String,
      cursorPath: String, collapse: Boolean = true)
      (fn: (DataFrame, Long) => Unit): Seq[Long] = {
    val cursor = new org.apache.hadoop.fs.Path(cursorPath)
    val fs = fsOf(spark, cursor)
    val last: Option[Long] =
      if (!fs.exists(cursor)) None
      else {
        val in = fs.open(cursor)
        val s = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        in.close()
        Some(s.trim.toLong)
      }
    versionFeeds(spark, table, last, collapse)(v => last.forall(v > _))
      .map { case (v, feed) =>
        fn(feed(), v)
        writeCursor(spark, cursorPath, v)
        v
      }
  }

  /** THE native version → change-feed rule, shared by the cursor loop
    * ([[processNewVersions]]) and the streaming MV
    * (`Materialized.refreshAggStream`). Lists the table's versions
    * ONCE and returns, for each listed version `pick` accepts
    * (ascending), a lazy feed:
    *  - its predecessor survives → [[changesBetween]] the two;
    *  - no predecessor and the consumer has absorbed nothing at or
    *    past it (`absorbed` is the consumer's cursor or txn stamp) →
    *    bootstrap: the full snapshot as inserts;
    *  - no predecessor but the consumer absorbed an earlier version →
    *    the history between was vacuumed; a delta is impossible and a
    *    full feed would double-count everything absorbed before, so
    *    the feed refuses and the consumer must re-bootstrap.
    * `collapse = false` serves the feed WITHOUT the
    * row-cancellation pass — for consumers whose state update is a
    * signed linear fold (sum·sign, count·sign) copy-on-write rewrite
    * noise cancels algebraically, so the delta-sized shuffle per
    * version buys nothing (`Materialized.refreshAgg`). Consumers that
    * BRANCH on delete presence (refreshHll's rebuild trigger) keep
    * the collapsed default. */
  private[graft] def versionFeeds(spark: SparkSession, table: String,
      absorbed: Option[Long], collapse: Boolean)
      (pick: Long => Boolean): Seq[(Long, () => DataFrame)] = {
    val vs = snapshotVersions(spark, table)
    vs.zip(None +: vs.map(Some(_))).filter(x => pick(x._1)).map {
      case (v, prior) => v -> (() => prior match {
        case Some(p) => changesBetween(spark, table, p, v, collapse)
        case None if absorbed.forall(_ >= v) =>
          readSnapshot(spark, table, Some(v)).withColumn(
            "_change_type", org.apache.spark.sql.functions.lit("insert"))
        case None =>
          sys.error(s"consumer of $table absorbed v${absorbed.get} but " +
            s"the oldest surviving version is $v after vacuum: delta " +
            "lost, re-bootstrap the consumer (fresh cursor + rebuilt " +
            "state)")
      })
    }
  }

  /** Point the cursor file at `cursorPath` to `version`: write a
    * dot-hidden tmp, then ONE atomic overwrite-rename. A
    * delete-then-rename pair has a crash window with NO cursor file at
    * all, and the next run would take the bootstrap full-feed path and
    * double-count everything. */
  private[graft] def writeCursor(spark: SparkSession, cursorPath: String,
                                 version: Long): Unit = {
    val cursor = new org.apache.hadoop.fs.Path(cursorPath)
    publish(fsOf(spark, cursor), cursor, version.toString.getBytes("UTF-8"),
      replace = true): Unit
  }

  /** Partition-aware snapshot commit — dynamic partition overwrite
    * WITH time travel: the new snapshot keeps every prior file whose
    * partition `df` does not touch, and replaces the touched
    * partitions with `df`'s files. Like `dynamicPartitionOverwrite`,
    * a daily load writes one day's files; unlike it, yesterday's
    * state of the overwritten partition remains readable via the
    * previous version. Data files are laid out hive-style
    * (`col=value/`), so partition pruning works on reads.
    *
    * PARTITION SPEC EVOLUTION caveat (Iceberg-matching semantics):
    * when this commit DECLARES a new spec over a table whose earlier
    * files were laid out differently, the commit is an
    * APPEND-UNDER-NEW-SPEC — every pre-spec file carries by
    * reference, INCLUDING files whose rows fall in partitions this
    * batch writes (they have no path values under the new spec, so
    * partition replacement cannot see them; a warning is logged with
    * the carried count). Rows meant to be replaced are therefore
    * retained alongside their replacements until
    * [[migratePartitionSpec]] unifies the layout — run it right
    * after evolving if replacement semantics are needed. LATER
    * same-spec dynamic commits refuse loudly while pre-spec files
    * remain. */
  def commitSnapshotDynamic(df: DataFrame, table: String,
                            partitionCols: Seq[String]): Long = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    val missing = partitionCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"partition columns not in frame: $missing")
    val spark = df.sparkSession
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    val prevV = snapshotVersions(spark, table).lastOption
    val prev = prevV.map(manifest(spark, table, _))
    val version = prevV.getOrElse(0L) + 1
    val colmap = prev.fold(ColMapping.empty)(_.colmap)
    // a dynamic commit REPLACES the schema with df's; re-introducing
    // a DROPPED column would resurrect its old data from carried
    // partitions — refuse loudly (a full overwrite resets the table)
    val revived = df.columns.map(colmap.phys).filter(colmap.dropped.contains)
    require(revived.isEmpty,
      s"dynamic commit re-introduces dropped column(s) $revived; " +
        "overwrite the table instead")
    val (dataDir, newFiles) = land(df, table, version, colmap, partitionCols)
    // touched partitions are derived from the files SPARK JUST WROTE,
    // so old and new partition strings go through the identical
    // formatter (hive path encoding). Deriving them from Row values
    // instead diverges for timestamps (Timestamp.toString's trailing
    // fraction vs the path format) and empty strings (written as
    // __HIVE_DEFAULT_PARTITION__), silently carrying stale files
    // alongside their replacements.
    val touched = newFiles.map(partitionOf(partitionCols, _)).toSet
    val carried = prev.fold(Seq.empty[String]) { pm =>
      val prevFiles = pm.files
      // PARTITION SPEC EVOLUTION: a dynamic commit may declare a
      // new spec over a table whose earlier files were laid out
      // differently (or not at all). Pre-spec files have no path
      // values under the new spec, so no new partition can replace
      // them — on the EVOLUTION commit itself (previous manifest's
      // spec differs) that is correct append-under-new-spec
      // semantics and they all carry. But a LATER same-spec dynamic
      // commit would silently keep pre-spec rows of partitions it
      // claims to replace (duplicate/stale data) — refuse loudly
      // until migratePartitionSpec has unified the layout.
      val prevPartCols = pm.partCols
      val preSpec =
        prevFiles.filter(f => partitionOfOpt(partitionCols, f).isEmpty)
      require(preSpec.isEmpty || prevPartCols != partitionCols,
        s"dynamic commit on $table: ${preSpec.size} file(s) predate " +
          s"the ${partitionCols.mkString(",")} partition spec and " +
          "cannot be replaced partition-wise — run " +
          "migratePartitionSpec first (or overwrite the table)")
      // on the evolution commit itself the carry is the designed
      // append-under-new-spec semantics, but it is easy to miss
      // that touched partitions do NOT replace pre-spec rows — say
      // so loudly once (the scaladoc documents the contract)
      if (preSpec.nonEmpty && prevPartCols != partitionCols)
        System.err.println(
          s"[lake] $table: partition spec evolved " +
            s"${prevPartCols.mkString(",")} -> " +
            s"${partitionCols.mkString(",")}; ${preSpec.size} " +
            "pre-spec file(s) carry by reference and are NOT " +
            "replaced by this batch's partitions — run " +
            "migratePartitionSpec to unify the layout")
      prevFiles.filterNot(f =>
        partitionOfOpt(partitionCols, f).exists(touched.contains))
    }
    enforceChecks(spark, prev.fold(Map.empty[String, String])(_.checks),
      newFiles, df.schema, fs, Seq(dataDir), colmap)
    writeManifest(spark, fs, table, prev, version, "dynamic", df.schema,
      carried ++ newFiles, partitionCols)
    version
  }

  /** Snapshot-aware compaction: rewrite the LATEST snapshot into
    * `nFiles` files and commit the rewrite as a NEW version — readers
    * of older versions are untouched (no rename-swap window at all;
    * reclaim superseded data with `vacuumSnapshots`). */
  def compactSnapshot(spark: SparkSession, table: String,
                      nFiles: Int): Long =
    commitSnapshot(readSnapshot(spark, table).repartition(nFiles), table,
      mode = "compact")

  /** STREAMING-SINK maintenance cadence — the hook a
    * one-commit-per-micro-batch sink (GraphStream, upsertToSnapshot)
    * calls after each batch: when the table's latest version is a
    * multiple of `everyVersions`, compact the current snapshot to
    * `nFiles` and vacuum history to `keepVersions`. A long-lived
    * stream otherwise accrues one manifest + one small file-set per
    * batch without bound; with the hook, manifest count and live
    * bytes stay O(everyVersions + keepVersions) forever. Row-content
    * neutral (compaction rewrites the same rows; vacuum only drops
    * history), so the sink's replay algebra is untouched. Versions
    * that commit nothing (empty-diff batches) don't advance the
    * cadence — no growth, no maintenance. `everyVersions <= 0`
    * disables. Returns the compacted version when maintenance ran. */
  def maintainSnapshotEvery(spark: SparkSession, table: String,
                            everyVersions: Int, nFiles: Int = 32,
                            keepVersions: Int = 3,
                            mirrorDelta: Boolean = false,
                            checkpointEvery: Int = 10,
                            logRetainVersions: Int = 0,
                            mirrorIceberg: Boolean = false,
                            icebergRetainSnapshots: Int = 0,
                            deltaChangeDataFeed: Boolean = false,
                            icebergAllowV3: Boolean = false)
      : Option[Long] = {
    // retention alignment with vacuum: an Iceberg snapshot expiring
    // SLOWER than vacuum's keepVersions window would keep serving
    // manifests whose data files vacuum reclaimed. With expiry on,
    // the window must fit inside vacuum's; with expiry OFF
    // (icebergRetainSnapshots = 0) old snapshots simply outlive their
    // files and reads of them refuse loudly on the missing file —
    // the same posture as Delta time travel past the retention window.
    require(!(mirrorIceberg && everyVersions > 0 &&
        icebergRetainSnapshots > keepVersions),
      s"maintainSnapshotEvery($table): icebergRetainSnapshots " +
        s"($icebergRetainSnapshots) > keepVersions ($keepVersions) — " +
        "retained Iceberg snapshots would reference data files vacuum " +
        "reclaims; shrink the Iceberg window or widen keepVersions")
    val vs = snapshotVersions(spark, table)
    // `logRetainVersions` > 0 completes the mirror's own maintenance
    // story: after mirroring, JSON commits a checkpoint covers AND
    // the retention window has outgrown are deleted
    // (DeltaMirror.cleanupLog, non-strict — between checkpoints the
    // call is a routine no-op), so the `_delta_log` stays
    // O(checkpointEvery + logRetainVersions) files forever, matching
    // what vacuum does for the manifest side
    def mirrorAndClean(): Unit = {
      if (mirrorDelta) {
        // deltaChangeDataFeed rides through (sticky once enabled):
        // the per-batch mirror then also publishes the net row
        // changes as cdc actions + _change_data files, and cleanupLog
        // reclaims them with their covered commits
        DeltaMirror.mirror(spark, table,
          checkpointEvery = checkpointEvery,
          changeDataFeed = deltaChangeDataFeed): Unit
        if (logRetainVersions > 0)
          DeltaMirror.cleanupLog(spark, table, logRetainVersions,
            strict = false): Unit
      }
      // the Iceberg twin: one snapshot per graft version, and
      // `icebergRetainSnapshots` > 0 expires what the window has
      // outgrown so the metadata tree stays O(retain) forever. The
      // entry require pins the window inside vacuum's keepVersions;
      // with expiry disabled (0) a retained-but-outlived snapshot
      // read refuses loudly on its first missing file
      if (mirrorIceberg) {
        // icebergAllowV3 rides through: a MOR-deleting stream's DVs
        // need the explicit v3 opt-in (see IcebergMirror.mirror)
        IcebergMirror.mirror(spark, table, allowV3 = icebergAllowV3): Unit
        if (icebergRetainSnapshots > 0)
          IcebergMirror.expireSnapshots(spark, table,
            icebergRetainSnapshots): Unit
      }
    }
    val anyMirror = mirrorDelta || mirrorIceberg
    val maintained =
      if (everyVersions > 0 && vs.nonEmpty && vs.last % everyVersions == 0) {
        val v = compactSnapshot(spark, table, nFiles)
        // mirror BEFORE vacuum (the CurationPipeline.maintain
        // discipline): the log must record the compacted version's
        // adds/removes while every referenced file still exists — a
        // foreign reader mid-sequence must never see adds pointing at
        // reclaimed files
        if (anyMirror) mirrorAndClean()
        vacuumSnapshots(spark, table, keepLast = keepVersions)
        Some(v)
      } else None
    // the mirror flags keep the foreign-format metadata CURRENT every
    // call, not just on maintenance versions — per call each is
    // O(new manifests) of metadata (one commit per new graft
    // version), and the checkpoint/expiry cadences bound what a
    // foreign reader replays, so a per-micro-batch stream sink can
    // leave them on permanently
    if (anyMirror && maintained.isEmpty && vs.nonEmpty)
      mirrorAndClean()
    maintained
  }

  /** PARTITION SPEC MIGRATION — the rewrite half of spec evolution
    * (Iceberg's rewrite_data_files): every file that predates the
    * table's CURRENT partition spec (no path-encoded values — its
    * partition columns live as data) is rewritten under the current
    * layout; spec-conformant files carry by reference, untouched.
    * After migration the layout is uniform again, so dynamic
    * partition REPLACEMENT sees every row (a pre-spec file is an
    * immutable carry that dynamic overwrite cannot match — the
    * documented evolution caveat this call retires). Cost is
    * O(pre-spec files), run once after an evolution, not per load.
    * Returns the committed version (the current one when the layout
    * is already uniform). */
  def migratePartitionSpec(spark: SparkSession, table: String): Long = {
    val pm = latestManifest(spark, table)
    val (files, schema, partCols, colmap) =
      (pm.files, pm.schema, pm.partCols, pm.colmap)
    require(partCols.nonEmpty,
      s"$table has no partition spec to migrate to")
    val (pre, conformant) =
      files.partition(f => partitionOfOpt(partCols, f).isEmpty)
    if (pre.isEmpty) return pm.version
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    val version = pm.version + 1
    val (_, newFiles) = land(readManifest(spark, pm, pre), table, version,
      colmap, partCols)
    writeManifest(spark, fs, table, Some(pm), version, "migrate", schema,
      conformant ++ newFiles, partCols)
    version
  }

  /** OPTIMIZE (bin-packing compaction) — the small-file antidote for
    * tables built by many incremental commits: every file under
    * `smallBytes` is rewritten into ~`targetBytes` files; every file
    * already big enough carries into the new version BY REFERENCE
    * (never opened, never moved). Hive-partitioned snapshots compact
    * within partitions (a partition with fewer than two small files
    * is left alone), and the rewrite re-lands hive-laid-out so
    * partition pruning survives. Data is byte-identical row-wise, so
    * the change feed across an optimize version is EMPTY (the rewrite
    * noise collapses) — downstream incremental consumers see nothing,
    * exactly like Delta OPTIMIZE. At 100 TB this is the compaction
    * a daily-append table schedules weekly: cost is O(small files),
    * not O(table). Returns the committed version (the current one if
    * nothing needed compacting). */
  def optimizeSnapshot(spark: SparkSession, table: String,
                       smallBytes: Long = 32L << 20,
                       targetBytes: Long = 128L << 20,
                       zorderBy: Seq[String] = Nil): Long = {
    val pm = latestManifest(spark, table)
    val (files, schema, partCols, colmap) =
      (pm.files, pm.schema, pm.partCols, pm.colmap)
    if (files.isEmpty) return pm.version
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    if (zorderBy.nonEmpty)
      return zorderRewrite(spark, fs, table, pm, zorderBy, targetBytes)
    val sized = files.map(f => f -> pm.lengths.getOrElse(baseName(f),
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen))
    val rewrite = sized
      .groupBy { case (f, _) =>
        // pre-spec files (spec evolution) compact as one group; the
        // rewrite re-lands them under the CURRENT spec (their rows
        // carry the partition columns as data)
        if (partCols.isEmpty) ""
        else partitionOfOpt(partCols, f).getOrElse("\u0000pre-spec") }
      .values.flatMap { group =>
        val small = group.filter(_._2 < smallBytes)
        // one small file alone gains nothing from a rewrite
        if (small.size >= 2) small.map(_._1) else Nil
      }.toSet
    if (rewrite.isEmpty) return pm.version
    val carry = files.filterNot(rewrite)
    val df = readManifest(spark, pm, rewrite.toSeq.sorted)
    val totalBytes = sized.collect { case (f, n) if rewrite(f) => n }.sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val version = pm.version + 1
    val (_, newFiles) = land(
      if (partCols.isEmpty) df.repartition(n)
      else df.repartition(n, partCols.map(col): _*),
      table, version, colmap, partCols)
    writeManifest(spark, fs, table, Some(pm), version, "optimize", schema,
      carry ++ newFiles, partCols)
    version
  }

  /** OPTIMIZE ZORDER BY — rewrite the whole snapshot clustered on the
    * Morton (Z-order) interleaving of up to 4 numeric/temporal
    * columns, so DATA SKIPPING prunes on EVERY listed dimension at
    * once (a range-clustered layout serves only its leading column).
    * Each dimension is scaled to 16 bits by linear min–max
    * width_bucket (skewed value distributions coarsen bucket balance
    * — skipping effectiveness degrades, correctness never does), the
    * bits interleave into one long, and files land via
    * repartitionByRange + sortWithinPartitions on it: every file owns
    * a compact Z-range, i.e. a small hyper-rectangle of the value
    * space, and its footer (min,max) per dimension are tight. All
    * compute is one agg (driver-tiny bounds row) + one range shuffle
    * of codegen'd bit arithmetic — no UDFs, no collect of data. */
  private def zorderRewrite(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, table: String, prev: Manifest,
      zorderBy: Seq[String], targetBytes: Long): Long = {
    import org.apache.spark.sql.types._
    val (files, schema, partCols, colmap) =
      (prev.files, prev.schema, prev.partCols, prev.colmap)
    require(partCols.isEmpty,
      "ZORDER v1 rewrites unpartitioned snapshots (partitioned tables: " +
        "z-order before commitSnapshotDynamic, or drop partitioning)")
    require(zorderBy.size >= 2 && zorderBy.size <= 4,
      s"zorderBy wants 2..4 columns, got ${zorderBy.size}")
    zorderBy.foreach { c =>
      val dt = schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType ||
        dt == TimestampType || dt == TimestampNTZType,
        s"zorder column $c: need numeric/date/timestamp, got $dt")
    }
    val df = readManifest(spark, prev, files)
    val aggs = zorderBy.zipWithIndex.flatMap { case (c, i) =>
      val cd = col(c).cast("double")
      Seq(min(cd).as(s"lo$i"), max(cd).as(s"hi$i")) }
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val bits = 16
    val scaled = zorderBy.indices.map { i =>
      if (bounds.isNullAt(2 * i)) lit(0L) // all-NULL dimension
      else {
      val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      if (!(hi > lo)) lit(0L)
      else {
        // width_bucket yields 0..n+1 over (lo, hi); clamp into
        // 0..2^bits-1 and send NULLs to bucket 0
        val wb = expr(s"width_bucket(CAST(`${zorderBy(i)}` AS DOUBLE), " +
          s"${lo}d, ${hi}d, ${(1 << bits) - 1})")
        coalesce(least(greatest(wb - 1L, lit(0L)),
          lit((1L << bits) - 1)), lit(0L))
      }
      }
    }
    val d = zorderBy.size
    val zcol = scaled.zipWithIndex.flatMap { case (c, i) =>
      (0 until bits).map(j =>
        shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), j * d + i))
    }.reduce(_.bitwiseOR(_))
    val totalBytes = files.map(f => prev.lengths.getOrElse(baseName(f),
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val version = prev.version + 1
    val (_, newFiles) = land(df.withColumn("__graft_z", zcol)
        .repartitionByRange(n, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z"), table, version, colmap, partCols)
    writeManifest(spark, fs, table, Some(prev), version, "optimize", schema,
      newFiles, partCols)
    version
  }

  /** RESTORE (Delta RESTORE TABLE ... TO VERSION): make the LATEST
    * state that of `toVersion` again, as a NEW commit — history stays
    * append-only, the interim versions remain time-travelable until
    * vacuum retires them, and the change feed across the restore
    * shows exactly the rollback (post-`toVersion` additions as
    * deletes, resurrected rows as inserts). Metadata-only: the
    * restored files carry by reference, no data is copied. */
  def restoreSnapshot(spark: SparkSession, table: String,
                      toVersion: Long): Long = {
    val vs = snapshotVersions(spark, table)
    require(vs.contains(toVersion),
      s"version $toVersion not in snapshot history $vs")
    if (toVersion == vs.last) return vs.last
    val target = manifest(spark, table, toVersion)
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(table))
    // checks, stats, bloom config and txns carry from the tip; the
    // restored schema needs ITS version's column mapping (the latest
    // mapping describes the latest logical schema, not this one)
    writeManifest(spark, fs, table, Some(manifest(spark, table, vs.last)),
      vs.last + 1, "restore", target.schema, target.files, target.partCols,
      colmapOverride = Some(target.colmap),
      // the restored files need THEIR version's deletion vectors too —
      // the tip's map could pair the same file with a later (wider)
      // bitmap and silently keep rows deleted that the restore target
      // still served
      dvsOverride = Some(target.dvs))
    vs.last + 1
  }

  /** Vacuum: drop all but the last `keepLast` snapshot versions and
    * delete every data directory no kept manifest references —
    * including orphans from crashed or conflicted commits. Safe order:
    * old manifests first (the table never references deleted data),
    * then unreferenced directories.
    *
    * `catalogs`: catalog dirs whose pins are RETENTION ROOTS (the
    * Nessie-GC role, reference config/nessie.properties — refs are GC
    * roots): a version of THIS table pinned by any catalog
    * commit/tag/branch is kept ON TOP of the recency window, so a
    * tagged release keeps resolving however long the stream lives;
    * unpinned interim versions reclaim as before. An unreadable
    * catalog refuses loudly (treating it as pin-free would reclaim
    * everything it protects). */
  def vacuumSnapshots(spark: SparkSession, table: String,
                      keepLast: Int = 1,
                      catalogs: Seq[String] = Nil): Unit = {
    require(keepLast >= 1, "must keep at least one version")
    val vs = snapshotVersions(spark, table)
    if (vs.isEmpty) return // nothing committed: any data dir may be in-flight
    val pinned: Set[Long] =
      catalogs.flatMap(c => Catalog.pinnedVersionsOf(spark, c, table))
        .toSet
    val recent = vs.takeRight(keepLast).toSet
    val kept = vs.filter(v => pinned.contains(v) || recent.contains(v))
    val referenced = kept.flatMap(v => snapshotFiles(spark, table, v)).toSet
    val mdir = manifestDir(table)
    val fs = fsOf(spark, mdir)
    val keptSet = kept.toSet
    vs.filterNot(keptSet).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(mdir, s"v$v.json"), false)
    }
    val dataRoot = new org.apache.hadoop.fs.Path(table, "data")
    // liveness must look at the version dir's files RECURSIVELY:
    // dynamic commits nest them under hive col=value/ directories, so
    // checking direct children only would mark every dynamic version
    // dead and delete live (even latest-version) data
    def anyFileReferenced(p: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(p).exists { st =>
        if (st.isDirectory) anyFileReferenced(st.getPath)
        else referenced.contains(st.getPath.toString)
      }
    // retention guard: a data dir versioned PAST the newest kept
    // manifest belongs to an IN-FLIGHT commit (data lands before the
    // manifest rename) — deleting it would let that commit succeed
    // pointing at vanished files. Dirs at or below the newest kept
    // version that nothing references are superseded or lost-conflict
    // orphans, safe to drop.
    val latestKept = kept.last
    if (fs.exists(dataRoot)) fs.listStatus(dataRoot).foreach { d =>
      val inFlight = dataDirVersion(d.getPath.getName).forall(_ > latestKept)
      if (!inFlight && !anyFileReferenced(d.getPath))
        fs.delete(d.getPath, true)
    }
  }

  /** Read a snapshot (default: latest). Time travel = pass an older
    * version. An empty snapshot reads as a zero-row frame with the
    * schema it was committed with. */
  def readSnapshot(spark: SparkSession, table: String,
                   version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse {
      val vs = snapshotVersions(spark, table)
      require(vs.nonEmpty, s"no snapshots at $table")
      vs.last
    }
    val m = manifest(spark, table, v)
    if (m.files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else readManifest(spark, m, m.files)
  }

  /** The schema [[readSnapshot]] serves for manifest `m`, without
    * planning a read: a version with files scans through the parquet
    * source, which serves every column nullable (nested fields and
    * partition columns too); an empty version serves the committed
    * schema as is. */
  private[graft] def readSchema(m: Manifest)
      : org.apache.spark.sql.types.StructType =
    if (m.files.isEmpty) m.schema
    else org.apache.spark.sql.GraftColumnBridge.asNullable(m.schema)

  /** Read a snapshot FILE-PRUNED by manifest column stats — data
    * skipping, the scan-side payoff of the footer stats every commit
    * records: files whose (min, max) prove the predicate empty are
    * never opened (on a 100 TB table with clustered commits — daily
    * loads, optimizeSnapshot output, Z-ordered rewrites — a selective
    * predicate reads a sliver of the file list). Hive partition
    * values prune too (exact-stat treatment). The predicate is ALSO
    * applied to the surviving rows, so results are exact regardless
    * of stats coverage; unsupported predicate shapes or stat-less
    * columns simply scan. */
  def readSnapshotWhere(spark: SparkSession, table: String,
                        predicate: org.apache.spark.sql.Column,
                        version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse {
      val vs = snapshotVersions(spark, table)
      require(vs.nonEmpty, s"no snapshots at $table")
      vs.last
    }
    val m = manifest(spark, table, v)
    val keptB = pruneFilesByPredicate(m, predicate)
    if (keptB.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
        .where(predicate)
    else readManifest(spark, m, keptB).where(predicate)
  }

  /** The stat/partition/bloom FILE-PRUNING pipeline shared by
    * [[readSnapshotWhere]] and [[deleteFromSnapshot]]: of `files`,
    * keep only those whose manifest evidence cannot DISPROVE
    * `predicate`. Pure metadata — no data IO; callers still apply
    * the predicate to surviving rows, so results stay exact whatever
    * the stats coverage. */
  private def pruneFilesByPredicate(m: Manifest,
      predicate: org.apache.spark.sql.Column): Seq[String] = {
    val (files, schema, partCols, colmap, statsFull) =
      (m.files, m.schema, m.partCols, m.colmap, m.stats)
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val kept = files.filter { f =>
      val fstPhys = statsFull.getOrElse(baseName(f), FileStats(None, Map.empty))
      // stats are keyed by PHYSICAL column name (stable across
      // renames) — translate to the logical names the predicate uses
      val fst =
        if (colmap.isIdentity) fstPhys
        else FileStats(fstPhys.rows, schema.fieldNames.flatMap(n =>
          fstPhys.cols.get(colmap.phys(n)).map(n -> _)).toMap)
      val minmax = fst.cols.collect {
        case (c, ColStat(Some(lo), Some(hi), _)) => c -> (lo, hi) }
      // a hive partition value is an exact stat: min == max == value,
      // zero nulls; the default partition is the all-NULL case
      // pre-spec files (partition spec evolution) contribute no
      // PATH-derived stats — their partition columns live as data and
      // prune through the footer stats already in `fst`
      val pstats = partCols.flatMap { c =>
        partitionOfOpt(Seq(c), f) match {
          case Some("__HIVE_DEFAULT_PARTITION__") | None => None
          case Some(raw) => Some(c -> (raw, raw))
        }
      }.toMap
      val pnulls = partCols.flatMap { c =>
        partitionOfOpt(Seq(c), f) match {
          case Some("__HIVE_DEFAULT_PARTITION__") =>
            fst.rows.map(c -> _) // every row's value is NULL
          case Some(_) => Some(c -> 0L)
          case None => None
        }
      }.toMap
      val nulls = fst.cols.collect {
        case (c, ColStat(_, _, Some(n))) => c -> n } ++ pnulls
      org.apache.spark.sql.GraftDataSkipping.mayMatchColumn(predicate,
        minmax ++ pstats, types, nulls, fst.rows)
    }
    // BLOOM pruning on top of min/max: an equality / IN conjunct on a
    // bloom-indexed column whose literals are ALL absent from a
    // file's bloom proves that file empty for the whole predicate
    // (AND semantics). A bloom only ever proves absence — a false
    // positive costs a scan, never a wrong skip; any literal that
    // doesn't coerce to the column type yields no proof.
    val bloomCfg = m.bloomCfg
    val keptB =
      if (bloomCfg.isEmpty) kept
      else {
        val eqs = org.apache.spark.sql.GraftDataSkipping
          .equalityConjuncts(predicate)
          .filter { case (c, _) => bloomCfg.contains(c) }
          .flatMap { case (c, lits) =>
            types.get(c).flatMap { dt =>
              val hashes = lits.flatMap(
                org.apache.spark.sql.GraftDataSkipping
                  .xxhash64Literal(dt, _))
              if (hashes.size == lits.size) Some(colmap.phys(c) -> hashes)
              else None // an uncoercible literal: no proof for this conjunct
            }
          }
        if (eqs.isEmpty) kept
        else {
          val blooms = m.blooms
          kept.filter { f =>
            val fb = blooms.getOrElse(baseName(f), Map.empty)
            !eqs.exists { case (pc, hashes) =>
              fb.get(pc).exists { b64 =>
                val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(
                    java.util.Base64.getDecoder.decode(b64)))
                hashes.forall(h => !bf.mightContainLong(h))
              }
            }
          }
        }
      }
    keptB
  }

  /** Exact row count of a snapshot, metadata-first: every post-r8
    * commit records per-file row counts in the manifest (parquet
    * footer block counts — exact, not estimates), so the common case
    * answers from the MANIFEST ALONE — zero data IO, the Delta
    * `SELECT COUNT(*)` shortcut. Files a pre-stats manifest carried
    * without a count (and only those) are scanned. */
  def snapshotRowCount(spark: SparkSession, table: String,
                       version: Option[Long] = None): Long = {
    val v = version.getOrElse {
      val vs = snapshotVersions(spark, table)
      require(vs.nonEmpty, s"no snapshots at $table")
      vs.last
    }
    val m = manifest(spark, table, v)
    val (files, full, dvs) = (m.files, m.stats, m.dvs)
    if (files.isEmpty) return 0L
    // a merge-on-read DV shrinks a file's LIVE rows below its footer
    // count — the descriptor's cardinality is exact, so the metadata
    // shortcut stays exact: live = footer rows - deleted
    val (known, unknown) = files.partition(f =>
      full.get(baseName(f)).exists(_.rows.isDefined))
    val metaSum = known.map { f =>
      full(baseName(f)).rows.get -
        dvs.get(baseName(f)).map(_.cardinality).getOrElse(0L)
    }.sum
    if (unknown.isEmpty) metaSum
    else metaSum + readManifest(spark, m, unknown).count()
  }

  /** (version, commit epoch-millis) pairs of a table's history,
    * version-ascending. Manifests that predate the `ts` field fall
    * back to the manifest file's modification time — same resolution
    * contract, weaker provenance. */
  def snapshotTimestamps(spark: SparkSession, table: String)
      : Seq[(Long, Long)] = {
    val dir = manifestDir(table)
    snapshotVersions(spark, table).map { v =>
      v -> manifest(spark, table, v).ts.getOrElse {
        val p = new org.apache.hadoop.fs.Path(dir, s"v$v.json")
        fsOf(spark, p).getFileStatus(p).getModificationTime
      }
    }
  }

  /** TIMESTAMP AS OF resolution: the latest version committed at or
    * before `epochMillis` (Delta semantics). Requires the table to
    * have at least one such version. */
  def versionAsOfTimestamp(spark: SparkSession, table: String,
                           epochMillis: Long): Long = {
    val at = snapshotTimestamps(spark, table).filter(_._2 <= epochMillis)
    require(at.nonEmpty,
      s"no snapshot at $table committed at or before $epochMillis")
    at.map(_._1).max
  }

  /** Read the snapshot that was current at `epochMillis`. */
  def readSnapshotAsOfTimestamp(spark: SparkSession, table: String,
                                epochMillis: Long): DataFrame =
    readSnapshot(spark, table,
      Some(versionAsOfTimestamp(spark, table, epochMillis)))

  /** Append (raw-zone landing). */
  def append(df: DataFrame, path: String,
             partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("append")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Open-format EXPORT BRIDGE: materialize snapshot `version`
    * (default latest) of `table` as PLAIN hive-partitioned parquet
    * plus a queryable manifest TABLE — the consumer-facing half of
    * the reference's "external engines read the lake" property (its
    * Iceberg tables are read by Trino,
    * /root/reference/airflow/dags/spark_code/write_iceberg_sample.py:28-43)
    * rebuilt without Iceberg jars: any engine (DuckDB, Trino, Hive,
    * pandas) reads `outDir/data` natively, no graft code required.
    *
    * Layout written under `outDir`:
    *   - `data/[p1=v1/.../]part-*.parquet` — the snapshot's CURRENT
    *     rows under their LOGICAL column names (column mapping
    *     resolved, timestamps as TIMESTAMP_MICROS — the encoding
    *     every engine's reader and stats path understands), hive-
    *     partitioned by `partitionBy` when given;
    *   - `manifest/` (parquet) — one ROW PER DATA FILE with
    *     (file, bytes, rows, min/max per column) — the skipping
    *     stats as an ordinary table any engine can join/filter,
    *     not a bespoke JSON format.
    *
    * The export is a COPY with its own lifecycle (like Delta's
    * deep-clone-to-parquet / Iceberg's rewrite to an external
    * location): later commits to the source don't touch it, and
    * vacuuming the source can't break it. Scale shape: one
    * distributed write of the snapshot (partition-parallel), one
    * footer-metadata pass for the manifest — no driver-side data.
    * Returns the exported version. */
  def exportSnapshot(spark: SparkSession, table: String, outDir: String,
                     version: Option[Long] = None,
                     partitionBy: Seq[String] = Seq.empty): Long = {
    val v = version.getOrElse {
      val vs = snapshotVersions(spark, table)
      require(vs.nonEmpty, s"no snapshots at $table")
      vs.last
    }
    val df = readSnapshot(spark, table, Some(v))
    val dataDir = s"$outDir/data"
    withMicrosTimestamps(spark) {
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(dataDir)
    }
    // manifest TABLE from the exported files' FOOTERS (metadata IO
    // only): stats are keyed by the export's own column names — the
    // source's column mapping is already resolved in the data
    val p = new org.apache.hadoop.fs.Path(dataDir)
    val fs = fsOf(spark, p)
    val conf = spark.sessionState.newHadoopConf()
    val schema = df.schema
    // footer reads are independent metadata fetches — bounded pool,
    // like writeManifest's stats sweep (serial driver IO would pay
    // one object-store round-trip per file); lengths piggyback on the
    // footer read, a file whose footer fails is stat'ed instead
    val exportFiles = walkFreshData(fs, p).sorted
    val pooled: Seq[(String, Long, FileStats)] =
      parMap(spark, exportFiles) { f =>
        val (st, len) = try footerStats(conf, f, schema)
                 catch { case scala.util.control.NonFatal(_) =>
                   (FileStats(None, Map.empty), None) }
        (f, len.getOrElse(
          fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen), st)
      }
    val rows = pooled.map { case (f, len, st) =>
      val rel = f.stripPrefix(
        fs.makeQualified(p).toString).stripPrefix("/")
      val stats = st.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
        org.apache.spark.sql.Row(c, cs.lo.orNull, cs.hi.orNull,
          cs.nulls.map(java.lang.Long.valueOf).orNull)
      }
      org.apache.spark.sql.Row(rel, len,
        st.rows.map(java.lang.Long.valueOf).orNull, stats)
    }
    val manSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("bytes",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rows",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("col_stats",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("column",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("min",
              org.apache.spark.sql.types.StringType, nullable = true),
            org.apache.spark.sql.types.StructField("max",
              org.apache.spark.sql.types.StringType, nullable = true),
            org.apache.spark.sql.types.StructField("null_count",
              org.apache.spark.sql.types.LongType, nullable = true)))),
        nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      manSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/manifest")
    v
  }

  /** Open-format IMPORT bridge — Delta's `CONVERT TO DELTA` rebuilt
    * for this snapshot layer: ADOPT an existing plain-parquet
    * directory (flat or hive-partitioned `col=value/`) as version 1
    * of `table`, METADATA-ONLY. No byte of data is read beyond
    * parquet FOOTERS (schema + skipping stats) and no file moves:
    * the manifest references the source files in place by absolute
    * path, exactly how append/merge commits carry untouched files.
    * After conversion the table is a first-class snapshot — append,
    * MERGE, DELETE, CDC, time travel, constraints all work; rewrites
    * land under the table's own data dir while untouched adopted
    * files keep carrying by reference. (`vacuumSnapshots` only ever
    * deletes under `table/data`, so adopted source files are never
    * collected — dropping v1 from history leaves them in place.)
    *
    * Partition columns derive from the `col=value` directory layout
    * (types inferred once from the path set, then OWNED by the
    * committed manifest schema like every snapshot); per-file
    * partition values re-derive from paths at read, giving adopted
    * files the same exact-stat partition pruning as native commits.
    *
    * The export/import pair closes the interop loop the reference
    * delegates to Iceberg: external engines read graft tables via
    * [[exportSnapshot]], and graft adopts any engine's parquet output
    * without a rewrite — at 100 TB, conversion cost is one bounded-
    * parallel footer sweep, not a data copy. Adoption takes
    * OWNERSHIP: files whose basenames collide across partition dirs
    * (any multi-partition task's output) are RENAMED in place —
    * metadata-only, no byte moves — because the manifest's per-file
    * metadata is basename-keyed ([[baseName]]). Returns the
    * committed version (always 1). */
  def convertToSnapshot(spark: SparkSession, sourceDir: String,
                        table: String): Long = {
    require(snapshotVersions(spark, table).isEmpty,
      s"convertToSnapshot requires a fresh table, but $table has commits")
    val p = new org.apache.hadoop.fs.Path(sourceDir)
    val fs = fsOf(spark, p)
    val qualified = fs.makeQualified(p).toString
    // adoption takes OWNERSHIP of the tree: a foreign partitioned
    // write reuses part-NNNNN-<job uuid> basenames across hive dirs,
    // which the basename-keyed manifest metadata cannot represent —
    // the same rename pass native commits run restores the
    // invariant (file contents untouched; on a read-only source the
    // rename fails loudly instead of adopting corrupt keying)
    val files = walkFreshData(fs, p).sorted
    require(files.nonEmpty, s"no parquet files under $sourceDir")
    // partition columns from the hive layout — identical (possibly
    // empty) k=v directory chain required for every file
    def partColsOf(f: String): Seq[String] = {
      val rel = f.stripPrefix(qualified).stripPrefix("/")
      val segs = rel.split('/')
      segs.take(segs.length - 1).toSeq.filter(_.contains("="))
        .map(_.takeWhile(_ != '='))
    }
    val partCols = partColsOf(files.head)
    files.find(f => partColsOf(f) != partCols).foreach { f =>
      sys.error(s"inconsistent hive layout under $sourceDir: $f " +
        s"(expected partition chain ${partCols.mkString("/")})")
    }
    // schema via the standard reader (footer metadata + partition
    // inference under basePath); committed explicitly so later reads
    // never re-infer
    val schema = spark.read.option("basePath", qualified)
      .parquet(files: _*).schema
    writeManifest(spark, fsOf(spark, new org.apache.hadoop.fs.Path(table)),
      table, None, 1L, "convert", schema, files, partCols)
    1L
  }
}
