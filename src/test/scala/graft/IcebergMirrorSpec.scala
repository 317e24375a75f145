package graft

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IcebergMirror, LakeWriter}

/** Iceberg-format mirror: metadata-tree shape under an INDEPENDENT
  * parser (json4s + raw avro DataFileReader — never IcebergMirror's
  * own reader), fidelity vs readSnapshot at every snapshot, resume,
  * bounds serialization, the import direction over a hand-built
  * foreign tree, and the refusal guards. */
class IcebergMirrorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def docs(n: Int) =
    spark.range(0, n.toLong).toDF("id")
      .withColumn("lang",
        when(pmod($"id", lit(3)) === 0, "en")
          .when(pmod($"id", lit(3)) === 1, "de").otherwise("fr"))
      .withColumn("v", $"id" * 10)

  // ---- independent tree resolution (the ustar-parser discipline) ----

  private def readBytes(p: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      p.stripPrefix("file:")))

  private def avroRecords(bytes: Array[Byte])
      : (Schema, Vector[GenericRecord]) = {
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes),
      new GenericDatumReader[GenericRecord]())
    val out = Vector.newBuilder[GenericRecord]
    while (r.hasNext) out += r.next()
    val s = r.getSchema
    r.close()
    (s, out.result())
  }

  private def currentMetadata(table: String): JValue = {
    val hint = new String(readBytes(s"$table/metadata/version-hint.text"),
      "UTF-8").trim.toInt
    JsonMethods.parse(new String(
      readBytes(s"$table/metadata/v$hint.metadata.json"), "UTF-8"))
  }

  private def jstr(j: JValue): String =
    j match { case JString(s) => s; case o => fail(s"not a string: $o") }
  private def jlong(j: JValue): Long = j match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case o => fail(s"not a number: $o")
  }

  /** Resolve live file paths + typed partition values of a snapshot
    * with raw avro reads only — entries with status != 2 across the
    * snapshot's manifest list. */
  private def resolveLive(meta: JValue, snapshotId: Long)
      : Seq[(String, Map[String, Any])] = {
    val snap = (meta \ "snapshots") match {
      case JArray(ss) => ss.find(s =>
        jlong(s \ "snapshot-id") == snapshotId).get
      case _ => fail("no snapshots")
    }
    val (_, mlRows) = avroRecords(readBytes(jstr(snap \ "manifest-list")))
    mlRows.flatMap { m =>
      val (_, entries) = avroRecords(readBytes(
        m.get("manifest_path").toString))
      entries.flatMap { e =>
        if (e.get("status").asInstanceOf[Number].intValue == 2) None
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val part = df.get("partition").asInstanceOf[GenericRecord]
          val pvs = part.getSchema.getFields.asScala.map { f =>
            f.name -> (part.get(f.pos) match {
              case u: org.apache.avro.util.Utf8 => u.toString
              case o => o
            })
          }.toMap
          Some(df.get("file_path").toString -> pvs)
        }
      }
    }
  }

  private def snapshotIdOfGraft(meta: JValue, gv: Long): Long =
    (meta \ "snapshots") match {
      case JArray(ss) => jlong(ss.find(s =>
        (s \ "summary" \ "graft-version") == JString(gv.toString)).get
        \ "snapshot-id")
      case _ => fail("no snapshots")
    }

  // --------------------------------------------------------------
  // export direction
  // --------------------------------------------------------------

  test("mirrored tree resolves to readSnapshot at every snapshot " +
      "(independent avro parse)") {
    val t = freshDir("graft_ice_fid") + "/t"
    LakeWriter.commitSnapshotDynamic(
      docs(90).where($"id" < 60), t, Seq("lang"))
    LakeWriter.commitSnapshotDynamic(
      docs(90).where($"id" >= 60 && $"lang" === "en"), t, Seq("lang"))
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 100)
    assert(IcebergMirror.mirror(spark, t) == 3L)
    val meta = currentMetadata(t)
    assert(jlong(meta \ "format-version") == 2L)
    LakeWriter.snapshotVersions(spark, t).foreach { gv =>
      val sid = snapshotIdOfGraft(meta, gv)
      val live = resolveLive(meta, sid)
      val viaIce = spark.read
        .schema("id long, v long") // files lack the partition column
        .parquet(live.map(_._1): _*)
        .withColumn("__f", col("_metadata.file_path"))
      val pv = live.map { case (p, m) =>
        val key = spark.sessionState.newHadoopConf()
        val hp = new org.apache.hadoop.fs.Path(p)
        val q = hp.getFileSystem(key).makeQualified(hp).toUri
        (new java.net.URI(q.getScheme, q.getAuthority, q.getPath,
          null, null).toString, String.valueOf(m("lang")))
      }.toDF("__f", "lang")
      val got = viaIce.join(pv, Seq("__f"))
        .select($"id", $"lang", $"v")
      val want = LakeWriter.readSnapshot(spark, t, Some(gv))
        .select($"id", $"lang", $"v")
      assert(rows(got) == rows(want), s"rows at graft v$gv")
    }
  }

  test("a partition value needing hive path escaping round-trips " +
      "through the snapshot and the mirror's partition tuple") {
    val t = freshDir("graft_ice_esc") + "/t"
    // a non-ASCII value only where the JVM can name such a file
    // (sun.jnu.encoding follows the process locale; POSIX cannot)
    val utf8Names = System.getProperty("sun.jnu.encoding", "")
      .equalsIgnoreCase("UTF-8")
    val odd = "a/b=c%d: e" + (if (utf8Names) " é" else "")
    LakeWriter.commitSnapshotDynamic(
      docs(6).withColumn("lang", when($"id" < 3, lit(odd))
        .otherwise(lit("plain"))), t, Seq("lang"))
    val back = LakeWriter.readSnapshot(spark, t)
    assert(back.where($"lang" === odd).count() == 3L)
    // the partition value is an exact pruning stat: it must unescape
    // to the written value, or the matching file would be skipped
    assert(LakeWriter.readSnapshotWhere(spark, t, $"lang" === odd)
      .count() == 3L)
    assert(IcebergMirror.mirror(spark, t) == 1L)
    val meta = currentMetadata(t)
    val live = resolveLive(meta, snapshotIdOfGraft(meta, 1L))
    assert(live.map(_._2("lang")).toSet == Set(odd, "plain"))
    assert(rows(IcebergMirror.readIceberg(spark, t)) == rows(back))
  }

  test("metadata tree carries the spec's pinned shape: field ids, " +
      "identity spec, name mapping, manifest avro field-id props") {
    val t = freshDir("graft_ice_shape") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(30), t, Seq("lang"))
    IcebergMirror.mirror(spark, t)
    val meta = currentMetadata(t)
    // schema: ids 1..n in field order, all fields optional
    val fields = (meta \ "schemas") match {
      case JArray(List(s0)) => (s0 \ "fields") match {
        case JArray(fs) => fs
        case _ => fail("no fields")
      }
      case o => fail(s"expected one schema, got $o")
    }
    assert(fields.map(f => jlong(f \ "id")) == List(1L, 2L, 3L))
    assert(fields.map(f => jstr(f \ "name")) == List("id", "lang", "v"))
    assert(fields.map(f => jstr(f \ "type")) ==
      List("long", "string", "long"))
    // spec: identity on lang, source-id = lang's field id, partition
    // field ids from 1000
    val spec = (meta \ "partition-specs") match {
      case JArray(List(p)) => (p \ "fields") match {
        case JArray(List(f)) => f
        case o => fail(s"expected one spec field: $o")
      }
      case o => fail(s"expected one spec: $o")
    }
    assert(jstr(spec \ "transform") == "identity")
    assert(jlong(spec \ "source-id") == 2L)
    assert(jlong(spec \ "field-id") == 1000L)
    // name mapping present and full-tree (id-less graft parquet needs
    // it for conforming readers)
    val nm = JsonMethods.parse(jstr(
      meta \ "properties" \ "schema.name-mapping.default"))
    val nmIds = nm match {
      case JArray(es) => es.map { e =>
        val n = (e \ "names") match {
          case JArray(JString(x) :: _) => x
          case o => fail(s"no names: $o")
        }
        n -> jlong(e \ "field-id")
      }.toMap
      case _ => fail("no mapping")
    }
    assert(nmIds == Map("id" -> 1L, "lang" -> 2L, "v" -> 3L))
    // manifest list avro: spec field ids on the avro schema itself
    val snap = (meta \ "snapshots") match {
      case JArray(List(s)) => s
      case o => fail(s"expected one snapshot: $o")
    }
    val (mlSchema, mlRows) = avroRecords(
      readBytes(jstr(snap \ "manifest-list")))
    def fid(s: Schema, name: String): Int =
      s.getField(name).getObjectProp("field-id")
        .asInstanceOf[Number].intValue
    assert(fid(mlSchema, "manifest_path") == 500)
    assert(fid(mlSchema, "manifest_length") == 501)
    assert(fid(mlSchema, "partition_spec_id") == 502)
    assert(fid(mlSchema, "content") == 517)
    assert(fid(mlSchema, "sequence_number") == 515)
    assert(fid(mlSchema, "added_snapshot_id") == 503)
    assert(mlRows.size == 1)
    assert(mlRows.head.get("content").asInstanceOf[Number].intValue == 0)
    // manifest avro: entry + data_file field ids per the spec table
    val (meSchema, entries) = avroRecords(readBytes(
      mlRows.head.get("manifest_path").toString))
    assert(fid(meSchema, "status") == 0)
    assert(fid(meSchema, "snapshot_id") == 1)
    assert(fid(meSchema, "data_file") == 2)
    val dfS = meSchema.getField("data_file").schema()
    assert(fid(dfS, "file_path") == 100)
    assert(fid(dfS, "file_format") == 101)
    assert(fid(dfS, "partition") == 102)
    assert(fid(dfS, "record_count") == 103)
    assert(fid(dfS, "file_size_in_bytes") == 104)
    assert(fid(dfS, "lower_bounds") == 125)
    assert(fid(dfS, "upper_bounds") == 128)
    val partS = dfS.getField("partition").schema()
    assert(fid(partS, "lang") == 1000)
    // every entry ADDED by this snapshot, parquet, rows accounted
    assert(entries.forall(e =>
      e.get("status").asInstanceOf[Number].intValue == 1))
    val total = entries.map(_.get("data_file")
      .asInstanceOf[GenericRecord].get("record_count")
      .asInstanceOf[Number].longValue).sum
    assert(total == 30L)
  }

  test("column bounds use the single-value serialization (LE ints, " +
      "UTF-8 strings) keyed by field id") {
    val t = freshDir("graft_ice_bounds") + "/t"
    Seq((5L, "alpha", 17), (9L, "omega", 3), (7L, "mid", 11))
      .toDF("id", "s", "n")
      .coalesce(1).write.parquet(s"$t/raw")
    LakeWriter.convertToSnapshot(spark, s"$t/raw", s"$t/tbl")
    IcebergMirror.mirror(spark, s"$t/tbl")
    val meta = currentMetadata(s"$t/tbl")
    val snap = (meta \ "snapshots") match {
      case JArray(List(s)) => s; case o => fail(s"$o")
    }
    val (_, mlRows) = avroRecords(readBytes(jstr(snap \ "manifest-list")))
    val (_, entries) = avroRecords(readBytes(
      mlRows.head.get("manifest_path").toString))
    val df0 = entries.head.get("data_file").asInstanceOf[GenericRecord]
    def bmap(field: String): Map[Int, Array[Byte]] =
      df0.get(field).asInstanceOf[java.util.List[_]].asScala.map { kv =>
        val r = kv.asInstanceOf[GenericRecord]
        val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer]
        val a = new Array[Byte](bb.remaining); bb.duplicate.get(a)
        r.get("key").asInstanceOf[Number].intValue -> a
      }.toMap
    def leLong(a: Array[Byte]): Long =
      a.zipWithIndex.map { case (b, i) => (b.toLong & 0xff) << (8 * i) }.sum
    val lower = bmap("lower_bounds"); val upper = bmap("upper_bounds")
    // ids: 1=id(long, 8 bytes), 2=s(string, UTF-8), 3=n(int, 4 bytes)
    assert(lower(1).length == 8 && leLong(lower(1)) == 5L)
    assert(leLong(upper(1)) == 9L)
    assert(new String(lower(2), "UTF-8") == "alpha")
    assert(new String(upper(2), "UTF-8") == "omega")
    assert(lower(3).length == 4 && leLong(lower(3)) == 3L)
    assert(leLong(upper(3)) == 17L)
  }

  test("removed files rewrite their manifest with status-2 tombstones; " +
      "untouched manifests carry forward by path") {
    val t = freshDir("graft_ice_rm") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(60), t, Seq("lang"))
    IcebergMirror.mirror(spark, t)
    val m1 = currentMetadata(t)
    val paths1 = {
      val snap = (m1 \ "snapshots") match {
        case JArray(List(s)) => s; case o => fail(s"$o")
      }
      avroRecords(readBytes(jstr(snap \ "manifest-list")))._2
        .map(_.get("manifest_path").toString)
    }
    // overwrite ONE partition: its file leaves, others stay
    LakeWriter.commitSnapshotDynamic(
      docs(60).where($"lang" === "en").withColumn("v", $"v" + 1),
      t, Seq("lang"))
    IcebergMirror.mirror(spark, t)
    val m2 = currentMetadata(t)
    val snap2 = (m2 \ "snapshots") match {
      case JArray(ss) => ss.last; case _ => fail("no snapshots")
    }
    val sid2 = jlong(snap2 \ "snapshot-id")
    val ml2 = avroRecords(readBytes(jstr(snap2 \ "manifest-list")))._2
    // the original manifest was rewritten (new path), and the rewrite
    // carries both EXISTING survivors and the DELETED tombstone
    // stamped with the deleting snapshot
    val rewritten = ml2.filter(r =>
      r.get("deleted_data_files_count").asInstanceOf[Number]
        .intValue > 0)
    assert(rewritten.size == 1)
    assert(!paths1.contains(
      rewritten.head.get("manifest_path").toString))
    val (_, entries) = avroRecords(readBytes(
      rewritten.head.get("manifest_path").toString))
    val byStatus = entries.groupBy(
      _.get("status").asInstanceOf[Number].intValue)
    // every en-partition file left, each tombstoned by THIS snapshot
    assert(byStatus(2).nonEmpty)
    byStatus(2).foreach { e =>
      assert(e.get("data_file").asInstanceOf[GenericRecord]
        .get("file_path").toString.contains("lang=en"))
      assert(e.get("snapshot_id").asInstanceOf[Number].longValue == sid2)
    }
    assert(byStatus(0).nonEmpty)  // de/fr survivors carried EXISTING
    byStatus(0).foreach { e =>
      assert(e.get("snapshot_id").asInstanceOf[Number].longValue != sid2,
        "existing entries keep their adding snapshot id")
    }
  }

  test("incremental resume mirrors only new versions and keeps ids " +
      "stable across a rename") {
    val t = freshDir("graft_ice_resume") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(30), t, Seq("lang"))
    assert(IcebergMirror.mirror(spark, t) == 1L)
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 50)
    LakeWriter.renameColumn(spark, t, "v", "val")
    assert(IcebergMirror.mirror(spark, t) == 2L)
    assert(IcebergMirror.mirror(spark, t) == 0L) // idempotent at tip
    val meta = currentMetadata(t)
    // rename = new schema, SAME field id under the new name; the name
    // mapping still carries the PHYSICAL (file) name
    val schemas = (meta \ "schemas") match {
      case JArray(ss) => ss; case _ => fail("no schemas")
    }
    assert(schemas.size == 2)
    def nameOfId(s: JValue, id: Long): Option[String] =
      (s \ "fields") match {
        case JArray(fs) => fs.find(f => jlong(f \ "id") == id)
          .map(f => jstr(f \ "name"))
        case _ => None
      }
    assert(nameOfId(schemas.head, 3L).contains("v"))
    assert(nameOfId(schemas.last, 3L).contains("val"))
    val nm = JsonMethods.parse(jstr(
      meta \ "properties" \ "schema.name-mapping.default"))
    val physNames = nm match {
      case JArray(es) => es.map(e => (e \ "names") match {
        case JArray(JString(n) :: _) => n; case _ => fail("names")
      }).toSet
      case _ => fail("mapping")
    }
    assert(physNames == Set("id", "lang", "v"), // v = physical name
      "name mapping must key by the names IN the files")
    // round trip through graft's own reader serves the renamed schema
    val got = IcebergMirror.readIceberg(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("id", "lang", "val"))
    assert(rows(got) == rows(LakeWriter.readSnapshot(spark, t)))
  }

  test("readIceberg serves every snapshot of graft's own mirror " +
      "(snapshot-id + timestamp travel)") {
    val t = freshDir("graft_ice_read") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(60), t, Seq("lang"))
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 200)
    LakeWriter.commitSnapshotDynamic(
      docs(60).where($"lang" === "de").withColumn("v", $"v" * 2),
      t, Seq("lang"))
    IcebergMirror.mirror(spark, t)
    val meta = currentMetadata(t)
    LakeWriter.snapshotVersions(spark, t).foreach { gv =>
      val sid = snapshotIdOfGraft(meta, gv)
      val got = IcebergMirror.readIceberg(spark, t, Some(sid))
      val want = LakeWriter.readSnapshot(spark, t, Some(gv))
      assert(got.schema.fieldNames.toSeq ==
        want.schema.fieldNames.toSeq, s"schema at v$gv")
      assert(rows(got) == rows(want), s"rows at v$gv")
    }
    // timestamp travel: each snapshot's own timestamp resolves to it
    val snaps = IcebergMirror.icebergSnapshots(spark, t)
    assert(snaps.size == 3)
    val atFirst = IcebergMirror.readIcebergTimestamp(spark, t,
      snaps.head._2)
    assert(rows(atFirst) == rows(
      LakeWriter.readSnapshot(spark, t,
        Some(LakeWriter.snapshotVersions(spark, t).head))))
  }

  test("expireSnapshots bounds the metadata tree; the mirror resumes " +
      "past an expiry; expired travel refuses loudly") {
    val t = freshDir("graft_ice_expire") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(60), t, Seq("lang"))
    (1 to 4).foreach(i =>
      LakeWriter.deleteFromSnapshot(spark, t, $"v" < (i * 100)))
    assert(IcebergMirror.mirror(spark, t) == 5L)
    val before = IcebergMirror.icebergSnapshots(spark, t)
    assert(before.size == 5)
    assert(IcebergMirror.expireSnapshots(spark, t, 2) == 3L)
    val after = IcebergMirror.icebergSnapshots(spark, t)
    assert(after == before.takeRight(2))
    // tip still serves; expired travel refuses
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    val e = intercept[RuntimeException](
      IcebergMirror.readIceberg(spark, t, Some(before.head._1)))
    assert(e.getMessage.contains("no snapshot"))
    // expired manifest lists deleted, old metadata JSONs pruned
    val mdFiles = new java.io.File(s"$t/metadata").listFiles()
      .map(_.getName).toSet
    before.dropRight(2).foreach(s =>
      assert(!mdFiles.exists(_.startsWith(s"snap-${s._1}-")),
        s"expired manifest list of ${s._1} must be deleted"))
    after.foreach(s =>
      assert(mdFiles.exists(_.startsWith(s"snap-${s._1}-")),
        s"retained manifest list of ${s._1} must survive"))
    assert(mdFiles.count(_.matches("v\\d+\\.metadata\\.json")) <= 3)
    // idempotent at the bound; resume continues past the expiry
    assert(IcebergMirror.expireSnapshots(spark, t, 2) == 0L)
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 500)
    assert(IcebergMirror.mirror(spark, t) == 1L)
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    assert(IcebergMirror.icebergSnapshots(spark, t).size == 3)
  }

  test("expireSnapshots: tags are retention roots — a pinned snapshot " +
      "survives the recency window") {
    val t = freshDir("graft_ice_tag") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(60), t, Seq("lang"))
    (1 to 4).foreach(i =>
      LakeWriter.deleteFromSnapshot(spark, t, $"v" < (i * 100)))
    IcebergMirror.mirror(spark, t)
    val snaps = IcebergMirror.icebergSnapshots(spark, t)
    val oldest = snaps.head._1
    // hand-pin a tag at the OLDEST snapshot (a foreign writer's audit
    // tag; the mirror itself only writes the main branch)
    val hint = new String(readBytes(s"$t/metadata/version-hint.text"),
      "UTF-8").trim.toInt
    val mp = s"$t/metadata/v$hint.metadata.json"
    val body0 = new String(readBytes(mp), "UTF-8")
    val marker = Seq("\"refs\" : {", "\"refs\": {", "\"refs\":{")
      .find(body0.contains).getOrElse(fail("no refs field in metadata"))
    val body = body0.replace(marker,
      marker + s""""audit-tag":{"snapshot-id":$oldest,"type":"tag"},""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mp), body.getBytes("UTF-8"))
    // the rewrite bypassed hadoop's local FS: drop its crc sidecar
    new java.io.File(s"$t/metadata/.v$hint.metadata.json.crc").delete()
    // recency window of 2, but the tag pins the oldest: 2 expire
    assert(IcebergMirror.expireSnapshots(spark, t, 2) == 2L)
    val after = IcebergMirror.icebergSnapshots(spark, t).map(_._1)
    assert(after == Seq(oldest) ++ snaps.takeRight(2).map(_._1))
    // the tag still resolves, and so does direct travel to it
    assert(IcebergMirror.readIcebergRef(spark, t, "audit-tag")
      .count() == 60L)
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
  }

  test("expireSnapshots: catalog pins are retention roots — a graft " +
      "version pinned by a catalog commit survives the recency " +
      "window through its mirrored snapshot") {
    val root = freshDir("graft_ice_catroot")
    val t = s"$root/t"; val cat = s"$root/cat"
    LakeWriter.commitSnapshotDynamic(docs(60), t, Seq("lang")) // v1
    graft.sources.Catalog.commit(spark, cat, Map("t" -> t)) // pins v1
    (1 to 4).foreach(i =>
      LakeWriter.deleteFromSnapshot(spark, t, $"v" < (i * 100)))
    IcebergMirror.mirror(spark, t)
    val snaps = IcebergMirror.icebergSnapshots(spark, t)
    val oldest = snaps.head._1 // = the mirrored graft v1
    // recency window of 2, but the catalog pin roots v1: 2 expire
    assert(IcebergMirror.expireSnapshots(spark, t, 2,
      catalogs = Seq(cat)) == 2L)
    val after = IcebergMirror.icebergSnapshots(spark, t).map(_._1)
    assert(after == Seq(oldest) ++ snaps.takeRight(2).map(_._1))
    assert(IcebergMirror.readIceberg(spark, t, Some(oldest))
      .count() == 60L)
    // an unreadable catalog refuses rather than expiring the pin
    val e = intercept[IllegalArgumentException](
      IcebergMirror.expireSnapshots(spark, t, 1,
        catalogs = Seq(s"$cat-nope")))
    assert(e.getMessage.contains("retention roots"))
  }

  test("maintainSnapshotEvery(mirrorIceberg) keeps the tree current " +
      "and bounded alongside compaction + vacuum") {
    val t = freshDir("graft_ice_maint") + "/t"
    (1 to 6).foreach { i =>
      LakeWriter.commitSnapshotDynamic(
        docs(60).where($"id" % 6 === i % 6), t, Seq("lang"))
      LakeWriter.maintainSnapshotEvery(spark, t, everyVersions = 2,
        keepVersions = 3, mirrorIceberg = true,
        icebergRetainSnapshots = 3)
      // the Iceberg tip tracks the graft tip THROUGH compaction —
      // adds/removes of the compacted rewrite land in the tree while
      // the files still exist (mirror-before-vacuum)
      assert(rows(IcebergMirror.readIceberg(spark, t)) ==
        rows(LakeWriter.readSnapshot(spark, t)), s"tip after load $i")
      assert(IcebergMirror.icebergSnapshots(spark, t).size <= 3)
    }
  }

  test("readIcebergWhere prunes files by bounds, null counts and " +
      "identity partition values — exactly") {
    val t = freshDir("graft_ice_prune") + "/t"
    (0 to 2).foreach { k =>
      spark.range(k * 10L, k * 10L + 10L).toDF("id")
        .withColumn("v", $"id" * 2)
        .coalesce(1).write.parquet(s"$t/raw/f$k")
    }
    LakeWriter.convertToSnapshot(spark, s"$t/raw", s"$t/tbl")
    IcebergMirror.mirror(spark, s"$t/tbl")
    // range pruning through the mirrored manifest bounds: only the
    // [20,30) file survives
    val pruned = IcebergMirror.readIcebergWhere(spark, s"$t/tbl",
      col("id") >= 20)
    assert(pruned.inputFiles.length == 1, pruned.inputFiles.toSeq)
    assert(rows(pruned) == rows(
      LakeWriter.readSnapshot(spark, s"$t/tbl").where($"id" >= 20)))
    // IS NULL with zero null counts proves every file empty
    val none = IcebergMirror.readIcebergWhere(spark, s"$t/tbl",
      col("id").isNull)
    assert(none.inputFiles.isEmpty)
    assert(none.count() == 0)
    // identity-partition pruning on a partitioned mirror
    val t2 = freshDir("graft_ice_prune2") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(90), t2, Seq("lang"))
    IcebergMirror.mirror(spark, t2)
    val en = IcebergMirror.readIcebergWhere(spark, t2,
      col("lang") === "en")
    assert(en.inputFiles.nonEmpty &&
      en.inputFiles.forall(_.contains("lang=en")), en.inputFiles.toSeq)
    assert(rows(en) == rows(
      LakeWriter.readSnapshot(spark, t2).where($"lang" === "en")))
  }

  // --------------------------------------------------------------
  // import direction: hand-built foreign tree
  // --------------------------------------------------------------

  /** Write avro bytes with the given schema/records to `path`. */
  private def writeAvro(path: String, schema: Schema,
      recs: Seq[GenericRecord]): Long = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    w.create(schema, f)
    recs.foreach(w.append)
    w.close()
    f.length
  }

  private val foreignEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","type":{"type":"record","name":"r102","fields":[
          {"name":"bucket","type":["null","int"],"default":null,"field-id":1000}
        ]},"field-id":102},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
      ]},"field-id":2}
    ]}""")

  private val foreignListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_data_files_count","type":"int","field-id":504},
      {"name":"existing_data_files_count","type":"int","field-id":505},
      {"name":"deleted_data_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514}
    ]}""")

  private def foreignEntry(status: Int, sid: Long, seq: Long,
      path: String, bucket: Integer, n: Long): GenericRecord = {
    val e = new GenericData.Record(foreignEntrySchema)
    e.put("status", Integer.valueOf(status))
    e.put("snapshot_id", java.lang.Long.valueOf(sid))
    e.put("sequence_number", java.lang.Long.valueOf(seq))
    val dfS = foreignEntrySchema.getField("data_file").schema()
    val df = new GenericData.Record(dfS)
    df.put("content", Integer.valueOf(0))
    df.put("file_path", path)
    df.put("file_format", "PARQUET")
    val p = new GenericData.Record(dfS.getField("partition").schema())
    p.put("bucket", bucket)
    df.put("partition", p)
    df.put("record_count", java.lang.Long.valueOf(n))
    df.put("file_size_in_bytes", java.lang.Long.valueOf(1L))
    e.put("data_file", df)
    e
  }

  private def foreignListRec(path: String, len: Long, sid: Long,
      seq: Long, content: Int = 0): GenericRecord = {
    val r = new GenericData.Record(foreignListSchema)
    r.put("manifest_path", path)
    r.put("manifest_length", java.lang.Long.valueOf(len))
    r.put("partition_spec_id", Integer.valueOf(0))
    r.put("content", Integer.valueOf(content))
    r.put("sequence_number", java.lang.Long.valueOf(seq))
    r.put("min_sequence_number", java.lang.Long.valueOf(1L))
    r.put("added_snapshot_id", java.lang.Long.valueOf(sid))
    Seq("added_data_files_count", "existing_data_files_count",
      "deleted_data_files_count").foreach(f =>
        r.put(f, Integer.valueOf(0)))
    Seq("added_rows_count", "existing_rows_count", "deleted_rows_count")
      .foreach(f => r.put(f, java.lang.Long.valueOf(0L)))
    r
  }

  private def foreignSchemaJson: String =
    """{"type":"struct","schema-id":0,"fields":[
      {"id":1,"name":"doc_id","required":false,"type":"long"},
      {"id":2,"name":"payload","required":false,"type":"string"},
      {"id":3,"name":"bucket","required":false,"type":"int"}]}"""

  /** Two-snapshot foreign v2 tree: snap 101 adds fa(bucket=7) +
    * fc(bucket=8); snap 202 rewrites m1 (fc deleted, fa existing) and
    * adds fb(bucket=9). Data files do NOT materialize `bucket` — the
    * column-projection rule must supply it. Returns the table dir. */
  private def buildForeignTree(): String = {
    val t = freshDir("graft_ice_foreign") + "/t"
    def slice(name: String, lo: Long, hi: Long): (String, Long) = {
      spark.range(lo, hi).toDF("doc_id")
        .withColumn("payload", concat(lit("p"), $"doc_id"))
        .coalesce(1).write.parquet(s"$t/data/$name")
      val f = new java.io.File(s"$t/data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, hi - lo)
    }
    val (fa, nA) = slice("fa", 0, 10)
    val (fc, nC) = slice("fc", 100, 104)
    val (fb, nB) = slice("fb", 200, 206)
    val m1 = s"$t/metadata/m1.avro"
    val m1len = writeAvro(m1, foreignEntrySchema, Seq(
      foreignEntry(1, 101L, 1L, fa, 7, nA),
      foreignEntry(1, 101L, 1L, fc, 8, nC)))
    val m1r = s"$t/metadata/m1r.avro"
    val m1rLen = writeAvro(m1r, foreignEntrySchema, Seq(
      foreignEntry(0, 101L, 1L, fa, 7, nA),
      foreignEntry(2, 202L, 1L, fc, 8, nC)))
    val m2 = s"$t/metadata/m2.avro"
    val m2len = writeAvro(m2, foreignEntrySchema, Seq(
      foreignEntry(1, 202L, 2L, fb, 9, nB)))
    val ml1 = s"$t/metadata/snap-101.avro"
    writeAvro(ml1, foreignListSchema,
      Seq(foreignListRec(m1, m1len, 101L, 1L)))
    val ml2 = s"$t/metadata/snap-202.avro"
    writeAvro(ml2, foreignListSchema, Seq(
      foreignListRec(m1r, m1rLen, 202L, 2L),
      foreignListRec(m2, m2len, 202L, 2L)))
    val meta = s"""{
      "format-version": 2,
      "table-uuid": "00000000-0000-0000-0000-00000000feed",
      "location": "$t",
      "last-sequence-number": 2,
      "last-updated-ms": 1700000002000,
      "last-column-id": 3,
      "current-schema-id": 0,
      "schemas": [$foreignSchemaJson],
      "default-spec-id": 0,
      "partition-specs": [{"spec-id":0,"fields":[
        {"name":"bucket","transform":"identity","source-id":3,"field-id":1000}]}],
      "last-partition-id": 1000,
      "default-sort-order-id": 0,
      "sort-orders": [{"order-id":0,"fields":[]}],
      "properties": {},
      "current-snapshot-id": 202,
      "refs": {
        "main": {"snapshot-id": 202, "type": "branch"},
        "v1-tag": {"snapshot-id": 101, "type": "tag"}},
      "snapshots": [
        {"snapshot-id":101,"sequence-number":1,"timestamp-ms":1700000001000,
         "manifest-list":"$ml1","summary":{"operation":"append"},"schema-id":0},
        {"snapshot-id":202,"parent-snapshot-id":101,"sequence-number":2,
         "timestamp-ms":1700000002000,"manifest-list":"$ml2",
         "summary":{"operation":"overwrite"},"schema-id":0}],
      "snapshot-log": [
        {"timestamp-ms":1700000001000,"snapshot-id":101},
        {"timestamp-ms":1700000002000,"snapshot-id":202}],
      "metadata-log": []
    }"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
      meta.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    t
  }

  test("foreign v2 tree: live resolution, status-2 skip, identity " +
      "partition projection from metadata, snapshot travel") {
    val t = buildForeignTree()
    val cur = IcebergMirror.readIceberg(spark, t)
    assert(cur.schema.fieldNames.toSeq ==
      Seq("doc_id", "payload", "bucket"))
    // fa (bucket 7) + fb (bucket 9); fc tombstoned by the rewrite
    val got = cur.select($"doc_id", $"bucket").as[(Long, Int)]
      .collect().toSet
    val want = ((0L until 10L).map((_, 7)) ++
      (200L until 206L).map((_, 9))).toSet
    assert(got == want)
    // snapshot 101: fa + fc, no fb
    val v1 = IcebergMirror.readIceberg(spark, t, Some(101L))
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toSet
    assert(v1 == ((0L until 10L).map((_, 7)) ++
      (100L until 104L).map((_, 8))).toSet)
    // timestamp travel lands on the first snapshot
    assert(IcebergMirror.readIcebergTimestamp(spark, t, 1700000001500L)
      .count() == 14L)
    assert(IcebergMirror.icebergSnapshots(spark, t)
      .map(_._1) == Seq(101L, 202L))
    // ref travel: a TAG resolves its pinned snapshot, the branch the
    // tip; an unknown ref refuses naming what exists
    assert(IcebergMirror.readIcebergRef(spark, t, "v1-tag")
      .count() == 14L)
    assert(rows(IcebergMirror.readIcebergRef(spark, t, "main")) ==
      rows(cur))
    val er = intercept[RuntimeException](
      IcebergMirror.readIcebergRef(spark, t, "nope"))
    assert(er.getMessage.contains("v1-tag"))
  }

  test("position deletes (merge-on-read) apply by (file, row index) " +
      "with the sequence-number applicability guard") {
    val t = freshDir("graft_ice_posdel") + "/t"
    def slice(name: String, lo: Long, hi: Long): (String, Long) = {
      spark.range(lo, hi).toDF("doc_id")
        .withColumn("payload", concat(lit("p"), $"doc_id"))
        .coalesce(1).sortWithinPartitions("doc_id")
        .write.parquet(s"$t/data/$name")
      val f = new java.io.File(s"$t/data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, hi - lo)
    }
    val (fa, nA) = slice("fa", 0, 10)   // data seq 1
    val (fb, nB) = slice("fb", 200, 206) // data seq 2
    def delFile(name: String, target: String, poss: Seq[Long]): String = {
      poss.map(p => (target, p)).toDF("file_path", "pos")
        .coalesce(1).write.parquet(s"$t/data/$name")
      new java.io.File(s"$t/data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    val da = delFile("da", fa, Seq(0L, 3L, 6L, 9L)) // seq 2 -> applies
    val db = delFile("db", fb, Seq(1L))             // seq 1 < fb's 2 -> no
    def delEntry(sid: Long, seq: Long, path: String): GenericRecord = {
      val e = foreignEntry(1, sid, seq, path, null, 1L)
      e.get("data_file").asInstanceOf[GenericRecord]
        .put("content", Integer.valueOf(1))
      e
    }
    val m1 = s"$t/metadata/m1.avro"
    val m1len = writeAvro(m1, foreignEntrySchema,
      Seq(foreignEntry(1, 101L, 1L, fa, 7, nA)))
    val m2 = s"$t/metadata/m2.avro"
    val m2len = writeAvro(m2, foreignEntrySchema,
      Seq(foreignEntry(1, 202L, 2L, fb, 9, nB)))
    val md = s"$t/metadata/md.avro"
    val mdLen = writeAvro(md, foreignEntrySchema,
      Seq(delEntry(202L, 2L, da), delEntry(202L, 1L, db)))
    val ml = s"$t/metadata/snap-301.avro"
    writeAvro(ml, foreignListSchema, Seq(
      foreignListRec(m1, m1len, 101L, 1L),
      foreignListRec(m2, m2len, 202L, 2L),
      foreignListRec(md, mdLen, 202L, 2L, content = 1)))
    val meta = s"""{
      "format-version": 2,
      "table-uuid": "00000000-0000-0000-0000-00000000beef",
      "location": "$t",
      "last-sequence-number": 2,
      "last-updated-ms": 1700000002000,
      "last-column-id": 3,
      "current-schema-id": 0,
      "schemas": [$foreignSchemaJson],
      "default-spec-id": 0,
      "partition-specs": [{"spec-id":0,"fields":[
        {"name":"bucket","transform":"identity","source-id":3,"field-id":1000}]}],
      "last-partition-id": 1000,
      "default-sort-order-id": 0,
      "sort-orders": [{"order-id":0,"fields":[]}],
      "properties": {},
      "current-snapshot-id": 301,
      "snapshots": [
        {"snapshot-id":301,"sequence-number":2,"timestamp-ms":1700000002000,
         "manifest-list":"$ml","summary":{"operation":"overwrite"},"schema-id":0}],
      "snapshot-log": [
        {"timestamp-ms":1700000002000,"snapshot-id":301}],
      "metadata-log": []
    }"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
      meta.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val got = IcebergMirror.readIceberg(spark, t)
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toSet
    // fa loses rows 0,3,6,9 (files sorted: row_index == doc_id rank);
    // db's delete does NOT apply (seq 1 < fb's data seq 2)
    val want = ((0L until 10L).filterNot(i => i % 3 == 0).map((_, 7)) ++
      (200L until 206L).map((_, 9))).toSet
    assert(got == want)
  }

  test("equality deletes apply null-safe by value with strict " +
      "sequence ordering and partition scoping") {
    val t = freshDir("graft_ice_eqdel") + "/t"
    def slice(name: String, lo: Long, hi: Long): (String, Long) = {
      spark.range(lo, hi).toDF("doc_id")
        .withColumn("payload", concat(lit("p"), $"doc_id"))
        .coalesce(1).write.parquet(s"$t/data/$name")
      val f = new java.io.File(s"$t/data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, hi - lo)
    }
    val (fa, nA) = slice("fa", 0, 10)    // bucket 7, data seq 1
    val (fb, nB) = slice("fb", 200, 206) // bucket 9, data seq 2
    def eqFile(name: String, ids: Seq[Long]): String = {
      ids.toDF("doc_id").coalesce(1).write.parquet(s"$t/data/$name")
      new java.io.File(s"$t/data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    val e1 = eqFile("e1", Seq(2L, 5L))   // global, seq 2 -> fa loses
    val e2 = eqFile("e2", Seq(4L, 202L)) // scoped bucket 7, seq 2
    val e3 = eqFile("e3", Seq(201L))     // global, seq 2 vs fb seq 2 -> no
    def eqEntry(sid: Long, seq: Long, path: String,
        bucket: Integer): GenericRecord = {
      val e = foreignEntry(1, sid, seq, path, bucket, 1L)
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      df.put("content", Integer.valueOf(2))
      val l = new java.util.ArrayList[Integer](1)
      l.add(Integer.valueOf(1)) // equality on field id 1 = doc_id
      df.put("equality_ids", l)
      e
    }
    val m1 = s"$t/metadata/m1.avro"
    val m1len = writeAvro(m1, foreignEntrySchema, Seq(
      foreignEntry(1, 101L, 1L, fa, 7, nA),
      foreignEntry(1, 202L, 2L, fb, 9, nB)))
    // global deletes ride an UNPARTITIONED spec (spec-id 1); the
    // scoped delete rides spec 0 with its partition tuple
    val mg = s"$t/metadata/mg.avro"
    val mgLen = writeAvro(mg, foreignEntrySchema, Seq(
      eqEntry(202L, 2L, e1, null), eqEntry(202L, 2L, e3, null)))
    val ms = s"$t/metadata/ms.avro"
    val msLen = writeAvro(ms, foreignEntrySchema,
      Seq(eqEntry(202L, 2L, e2, 7)))
    val ml = s"$t/metadata/snap-401.avro"
    val mgRec = foreignListRec(mg, mgLen, 202L, 2L, content = 1)
    mgRec.put("partition_spec_id", Integer.valueOf(1))
    writeAvro(ml, foreignListSchema, Seq(
      foreignListRec(m1, m1len, 101L, 1L), mgRec,
      foreignListRec(ms, msLen, 202L, 2L, content = 1)))
    val meta = s"""{
      "format-version": 2,
      "table-uuid": "00000000-0000-0000-0000-00000000cafe",
      "location": "$t",
      "last-sequence-number": 2,
      "last-updated-ms": 1700000002000,
      "last-column-id": 3,
      "current-schema-id": 0,
      "schemas": [$foreignSchemaJson],
      "default-spec-id": 0,
      "partition-specs": [
        {"spec-id":0,"fields":[
          {"name":"bucket","transform":"identity","source-id":3,"field-id":1000}]},
        {"spec-id":1,"fields":[]}],
      "last-partition-id": 1000,
      "default-sort-order-id": 0,
      "sort-orders": [{"order-id":0,"fields":[]}],
      "properties": {},
      "current-snapshot-id": 401,
      "snapshots": [
        {"snapshot-id":401,"sequence-number":2,"timestamp-ms":1700000002000,
         "manifest-list":"$ml","summary":{"operation":"overwrite"},"schema-id":0}],
      "snapshot-log": [
        {"timestamp-ms":1700000002000,"snapshot-id":401}],
      "metadata-log": []
    }"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
      meta.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val got = IcebergMirror.readIceberg(spark, t)
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toSet
    // fa loses 2,5 (global, 1<2) and 4 (scoped to ITS bucket, 1<2);
    // fb keeps 202 (scope mismatch: delete is bucket-7-scoped) and
    // 201 (strict ordering: fb's data seq 2 is NOT < delete seq 2)
    val want = (Seq(0L, 1L, 3L, 6L, 7L, 8L, 9L).map((_, 7)) ++
      (200L until 206L).map((_, 9))).toSet
    assert(got == want)
    // an equality delete under a NON-identity spec (bucket) scopes to
    // a partition this reader cannot reconstruct — applying it
    // globally would over-delete rows in other buckets: refuse
    val mgRec2 = foreignListRec(mg, mgLen, 202L, 2L, content = 1)
    mgRec2.put("partition_spec_id", Integer.valueOf(2))
    writeAvro(s"$t/metadata/snap-402.avro", foreignListSchema, Seq(
      foreignListRec(m1, m1len, 101L, 1L), mgRec2))
    val meta2 = meta
      .replace("""{"spec-id":1,"fields":[]}""",
        """{"spec-id":1,"fields":[]},
           {"spec-id":2,"fields":[{"name":"idb","transform":"bucket[4]",
             "source-id":1,"field-id":1001}]}""")
      .replace(s""""manifest-list":"$ml"""",
        s""""manifest-list":"$t/metadata/snap-402.avro"""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
      meta2.getBytes("UTF-8"))
    val eb = intercept[IllegalArgumentException](
      IcebergMirror.readIceberg(spark, t))
    assert(eb.getMessage.contains("non-identity"))
  }

  test("refusals: format v4, equality deletes, rename without " +
      "name mapping") {
    val t = buildForeignTree()
    // v4 metadata refuses (v3 is whitelisted for the DV surface)
    val v1 = new String(readBytes(s"$t/metadata/v1.metadata.json"),
      "UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v2.metadata.json"),
      v1.replace("\"format-version\": 2", "\"format-version\": 4")
        .getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
      "2".getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException](
      IcebergMirror.readIceberg(spark, t))
    assert(e1.getMessage.contains("format v4"))
    // back to v2, but with an EQUALITY delete manifest in the list
    // (position deletes are SERVED; equality deletes refuse)
    val meq = s"$t/metadata/meq.avro"
    val eqEntry = foreignEntry(1, 202L, 2L, s"$t/data/eq.parquet", 7, 1L)
    eqEntry.get("data_file").asInstanceOf[GenericRecord]
      .put("content", Integer.valueOf(2))
    val meqLen = writeAvro(meq, foreignEntrySchema, Seq(eqEntry))
    val m1Len = new java.io.File(s"$t/metadata/m1.avro").length
    writeAvro(s"$t/metadata/snap-202.avro", foreignListSchema, Seq(
      foreignListRec(s"$t/metadata/m1.avro", m1Len, 101L, 1L),
      foreignListRec(meq, meqLen, 202L, 2L, content = 1)))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](
      IcebergMirror.readIceberg(spark, t))
    assert(e2.getMessage.contains("equality_ids"))
    // rename in schema history without a name mapping refuses
    val renamed = v1
      .replace("\"current-schema-id\": 0", "\"current-schema-id\": 1")
      .replace(
        """"schemas": [""",
        """"schemas": [{"type":"struct","schema-id":1,"fields":[
           {"id":1,"name":"document_id","required":false,"type":"long"},
           {"id":2,"name":"payload","required":false,"type":"string"},
           {"id":3,"name":"bucket","required":false,"type":"int"}]}, """)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v3.metadata.json"),
      renamed.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
      "3".getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException](
      IcebergMirror.readIceberg(spark, t))
    assert(e3.getMessage.contains("renamed column"))
  }

  test("nested-field renames refuse: with no mapping, with a mapping " +
      "naming the member differently, and with a mapping gap") {
    val t = buildForeignTree()
    val v1 = new String(readBytes(s"$t/metadata/v1.metadata.json"),
      "UTF-8")
    def schemaWith(id: Int, nested: String): String =
      s"""{"type":"struct","schema-id":$id,"fields":[
         {"id":1,"name":"doc_id","required":false,"type":"long"},
         {"id":2,"name":"payload","required":false,"type":"string"},
         {"id":3,"name":"bucket","required":false,"type":"int"},
         {"id":4,"name":"meta","required":false,"type":{"type":"struct",
           "fields":[{"id":5,"name":"$nested","required":false,
             "type":"long"}]}}]}"""
    def publish(body: String, hint: Int): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$t/metadata/v$hint.metadata.json"),
        body.getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
        hint.toString.getBytes("UTF-8"))
    }
    // history renamed meta.score -> meta.rank, no mapping published
    // (schema 0 keeps its original fields plus the nested struct;
    // schema 7 is current with the member renamed)
    val noMap2 = v1
      .replace("\"current-schema-id\": 0", "\"current-schema-id\": 7")
      .replace(""""schemas": [""",
        s""""schemas": [${schemaWith(0, "score")}, ${schemaWith(7, "rank")}, """)
    publish(noMap2, 4)
    val e1 = intercept[IllegalArgumentException](
      IcebergMirror.readIceberg(spark, t))
    assert(e1.getMessage.contains("renamed nested field"))
    // a mapping that names the nested member by its OLD file name:
    // top-level ids resolve, the nested one cannot — refuse
    val mapped = noMap2.replace(""""properties": {}""",
      """"properties": {"schema.name-mapping.default": "[{\"field-id\":1,\"names\":[\"doc_id\"]},{\"field-id\":2,\"names\":[\"payload\"]},{\"field-id\":3,\"names\":[\"bucket\"]},{\"field-id\":4,\"names\":[\"meta\"],\"fields\":[{\"field-id\":5,\"names\":[\"score\"]}]}]"}""")
    publish(mapped, 5)
    val e2 = intercept[IllegalArgumentException](
      IcebergMirror.readIceberg(spark, t))
    assert(e2.getMessage.contains("NESTED"))
    // a mapping that does NOT cover the renamed nested id at all
    val gap = noMap2.replace(""""properties": {}""",
      """"properties": {"schema.name-mapping.default": "[{\"field-id\":1,\"names\":[\"doc_id\"]},{\"field-id\":2,\"names\":[\"payload\"]},{\"field-id\":3,\"names\":[\"bucket\"]},{\"field-id\":4,\"names\":[\"meta\"]}]"}""")
    publish(gap, 6)
    val e3 = intercept[IllegalArgumentException](
      IcebergMirror.readIceberg(spark, t))
    assert(e3.getMessage.contains("no entry for it"))
    // control: the mapping naming the member by its CURRENT name
    // passes the schema checks (resolution proceeds to the data scan)
    val ok = noMap2.replace(""""properties": {}""",
      """"properties": {"schema.name-mapping.default": "[{\"field-id\":1,\"names\":[\"doc_id\"]},{\"field-id\":2,\"names\":[\"payload\"]},{\"field-id\":3,\"names\":[\"bucket\"]},{\"field-id\":4,\"names\":[\"meta\"],\"fields\":[{\"field-id\":5,\"names\":[\"rank\"]}]}]"}""")
    publish(ok, 7)
    // the struct column is absent from the data files (added after
    // they were written) — it must read as nulls, not refuse
    val served = IcebergMirror.readIceberg(spark, t)
    assert(served.where($"meta".isNotNull).count() == 0L)
    assert(served.count() == 16L)
  }

  test("scoped equality deletes never cross partition-spec ids even " +
      "when every shared identity value is null on both sides") {
    val t = freshDir("graft_ice_eqspec") + "/t"
    def slice(name: String, lo: Long, hi: Long): (String, Long) = {
      spark.range(lo, hi).toDF("doc_id")
        .withColumn("payload", concat(lit("p"), $"doc_id"))
        .coalesce(1).write.parquet(s"$t/data/$name")
      val f = new java.io.File(s"$t/data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, hi - lo)
    }
    val (fa, nA) = slice("fa", 0, 10)    // spec 0, bucket=7, seq 1
    val (fb, nB) = slice("fb", 200, 206) // spec 3, pay=null, seq 1
    def eqFile(name: String, ids: Seq[Long]): String = {
      ids.toDF("doc_id").coalesce(1).write.parquet(s"$t/data/$name")
      new java.io.File(s"$t/data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    // both deletes ride SPEC-0 manifests: one scoped to bucket=null
    // (the ADVICE scenario — must NOT leak into fb under spec 3),
    // one scoped to bucket=7 (must apply to fa)
    val eNull = eqFile("enull", Seq(201L))
    val eSeven = eqFile("eseven", Seq(3L))
    // entry schema whose partition record carries spec 3's field
    // (pay, field-id 1001)
    val payEntrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int","field-id":0},
        {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
        {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
        {"name":"data_file","type":{"type":"record","name":"r2","fields":[
          {"name":"content","type":"int","field-id":134},
          {"name":"file_path","type":"string","field-id":100},
          {"name":"file_format","type":"string","field-id":101},
          {"name":"partition","type":{"type":"record","name":"r102","fields":[
            {"name":"pay","type":["null","string"],"default":null,"field-id":1001}
          ]},"field-id":102},
          {"name":"record_count","type":"long","field-id":103},
          {"name":"file_size_in_bytes","type":"long","field-id":104}
        ]},"field-id":2}
      ]}""")
    def payEntry(path: String, n: Long): GenericRecord = {
      val e = new GenericData.Record(payEntrySchema)
      e.put("status", Integer.valueOf(1))
      e.put("snapshot_id", java.lang.Long.valueOf(101L))
      e.put("sequence_number", java.lang.Long.valueOf(1L))
      val dfS = payEntrySchema.getField("data_file").schema()
      val df = new GenericData.Record(dfS)
      df.put("content", Integer.valueOf(0))
      df.put("file_path", path)
      df.put("file_format", "PARQUET")
      df.put("partition",
        new GenericData.Record(dfS.getField("partition").schema()))
      df.put("record_count", java.lang.Long.valueOf(n))
      df.put("file_size_in_bytes", java.lang.Long.valueOf(1L))
      e.put("data_file", df)
      e
    }
    def eqEntry(seq: Long, path: String, bucket: Integer)
        : GenericRecord = {
      val e = foreignEntry(1, 202L, seq, path, bucket, 1L)
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      df.put("content", Integer.valueOf(2))
      val l = new java.util.ArrayList[Integer](1)
      l.add(Integer.valueOf(1))
      df.put("equality_ids", l)
      e
    }
    val mA = s"$t/metadata/ma.avro"
    val mALen = writeAvro(mA, foreignEntrySchema,
      Seq(foreignEntry(1, 101L, 1L, fa, 7, nA)))
    val mB = s"$t/metadata/mb.avro"
    val mBLen = writeAvro(mB, payEntrySchema, Seq(payEntry(fb, nB)))
    val mD = s"$t/metadata/md.avro"
    val mDLen = writeAvro(mD, foreignEntrySchema, Seq(
      eqEntry(5L, eNull, null), eqEntry(5L, eSeven, 7)))
    val mBRec = foreignListRec(mB, mBLen, 101L, 1L)
    mBRec.put("partition_spec_id", Integer.valueOf(3))
    val mDRec = foreignListRec(mD, mDLen, 202L, 5L, content = 1)
    val ml = s"$t/metadata/snap-501.avro"
    writeAvro(ml, foreignListSchema,
      Seq(foreignListRec(mA, mALen, 101L, 1L), mBRec, mDRec))
    val meta = s"""{
      "format-version": 2,
      "table-uuid": "00000000-0000-0000-0000-00000000beef",
      "location": "$t",
      "last-sequence-number": 5,
      "last-updated-ms": 1700000002000,
      "last-column-id": 3,
      "current-schema-id": 0,
      "schemas": [$foreignSchemaJson],
      "default-spec-id": 0,
      "partition-specs": [
        {"spec-id":0,"fields":[
          {"name":"bucket","transform":"identity","source-id":3,"field-id":1000}]},
        {"spec-id":3,"fields":[
          {"name":"pay","transform":"identity","source-id":2,"field-id":1001}]}],
      "last-partition-id": 1001,
      "default-sort-order-id": 0,
      "sort-orders": [{"order-id":0,"fields":[]}],
      "properties": {},
      "current-snapshot-id": 501,
      "snapshots": [
        {"snapshot-id":501,"sequence-number":5,"timestamp-ms":1700000002000,
         "manifest-list":"$ml","summary":{"operation":"overwrite"},"schema-id":0}],
      "snapshot-log": [
        {"timestamp-ms":1700000002000,"snapshot-id":501}],
      "metadata-log": []
    }"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
      meta.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val got = IcebergMirror.readIceberg(spark, t)
      .select($"doc_id").as[Long].collect().toSet
    // fa loses 3 (same spec, bucket 7 matches); fb KEEPS 201 — the
    // bucket=null-scoped delete is spec-0-scoped and fb rides spec 3
    // (pre-fix, null <=> null on both shared identity columns leaked
    // it across specs)
    val want = (Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L) ++
      (200L until 206L)).toSet
    assert(got == want)
  }

  test("incremental changelog: per-snapshot entry statuses resolve " +
      "inserts+deletes with ordinals; MOR deletes and expired chains " +
      "refuse") {
    val t = buildForeignTree()
    // (101 -> 202]: m1r tombstones fc at sid 202, m2 adds fb at 202
    val ch = IcebergMirror.readIcebergChanges(spark, t, 101L, 202L)
    assert(ch.columns.toSeq == Seq("doc_id", "payload", "bucket",
      "_change_type", "_change_ordinal", "_commit_snapshot_id"))
    val got = ch.select($"doc_id", $"bucket", $"_change_type",
      $"_change_ordinal").as[(Long, Int, String, Int)].collect().toSet
    val want = ((100L until 104L).map((_, 8, "delete", 1)) ++
      (200L until 206L).map((_, 9, "insert", 1))).toSet
    assert(got == want)
    // empty range: from == to
    assert(IcebergMirror.readIcebergChanges(spark, t, 202L, 202L)
      .count() == 0L)
    // v2 inheritance: an entry with NULL snapshot_id inherits the
    // manifest's added_snapshot_id — Iceberg-core-written manifests
    // leave it null routinely, and dropping them would be a silently
    // partial feed
    val (fx, nX) = {
      spark.range(300, 304).toDF("doc_id")
        .withColumn("payload", concat(lit("p"), $"doc_id"))
        .coalesce(1).write.parquet(s"$t/data/fx")
      val f = new java.io.File(s"$t/data/fx").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, 4L)
    }
    val eNull = foreignEntry(1, 101L, 2L, fx, 7, nX)
    eNull.put("snapshot_id", null)
    val mx = s"$t/metadata/mx.avro"
    val mxLen = writeAvro(mx, foreignEntrySchema, Seq(eNull))
    val m1rLen0 = new java.io.File(s"$t/metadata/m1r.avro").length
    val m2Len0 = new java.io.File(s"$t/metadata/m2.avro").length
    writeAvro(s"$t/metadata/snap-202.avro", foreignListSchema, Seq(
      foreignListRec(s"$t/metadata/m1r.avro", m1rLen0, 202L, 2L),
      foreignListRec(s"$t/metadata/m2.avro", m2Len0, 202L, 2L),
      foreignListRec(mx, mxLen, 202L, 2L)))
    val got2 = IcebergMirror.readIcebergChanges(spark, t, 101L, 202L)
      .select($"doc_id", $"_change_type").as[(Long, String)]
      .collect().toSet
    assert(got2 == want.map(x => (x._1, x._3)) ++
      (300L until 304L).map((_, "insert")).toSet)
    // an unknown / expired base snapshot refuses loudly
    val e1 = intercept[RuntimeException](
      IcebergMirror.readIcebergChanges(spark, t, 999L, 202L))
    assert(e1.getMessage.contains("never reaches 999") ||
      e1.getMessage.contains("no snapshot 999"))
    // a parquet (position) delete file changing in-range refuses —
    // only v3 DVs diff to a row-level feed; pos/eq membership is data
    val delE = foreignEntry(1, 202L, 2L, s"$t/data/fake.parquet", 7, 1L)
    delE.get("data_file").asInstanceOf[GenericRecord]
      .put("content", Integer.valueOf(1))
    val mdel = s"$t/metadata/mdel.avro"
    val mdelLen = writeAvro(mdel, foreignEntrySchema, Seq(delE))
    val m1rLen = new java.io.File(s"$t/metadata/m1r.avro").length
    val m2Len = new java.io.File(s"$t/metadata/m2.avro").length
    writeAvro(s"$t/metadata/snap-202.avro", foreignListSchema, Seq(
      foreignListRec(s"$t/metadata/m1r.avro", m1rLen, 202L, 2L),
      foreignListRec(s"$t/metadata/m2.avro", m2Len, 202L, 2L),
      foreignListRec(mdel, mdelLen, 202L, 2L, content = 1)))
    val e2 = intercept[IllegalArgumentException](
      IcebergMirror.readIcebergChanges(spark, t, 101L, 202L))
    assert(e2.getMessage.contains(
      "only v3 deletion vectors are changelog-representable"))
    // ... and a CARRIED one (added before the range) refuses too: its
    // rows may shape any changed file's visible state
    writeAvro(s"$t/metadata/snap-202.avro", foreignListSchema, Seq(
      foreignListRec(s"$t/metadata/m1r.avro", m1rLen, 202L, 2L),
      foreignListRec(s"$t/metadata/m2.avro", m2Len, 202L, 2L),
      foreignListRec(mdel, mdelLen, 101L, 1L, content = 1)))
    val e3 = intercept[IllegalArgumentException](
      IcebergMirror.readIcebergChanges(spark, t, 101L, 202L))
    assert(e3.getMessage.contains(
      "only v3 deletion vectors are changelog-representable"))
  }

  test("changelog skips row-neutral rewrites: a mirrored graft " +
      "compaction stamps operation=replace and contributes no " +
      "changelog rows; real changes around it keep consecutive " +
      "ordinals") {
    val t = freshDir("graft_ice_chlog_replace") + "/t"
    LakeWriter.commitSnapshot(docs(40).repartition(8), t)        // v1
    LakeWriter.commitSnapshot(
      docs(45).where($"id" >= 40), t, mode = "append")           // v2
    LakeWriter.compactSnapshot(spark, t, 1)                      // v3
    LakeWriter.commitSnapshot(
      docs(50).where($"id" >= 45), t, mode = "append")           // v4
    IcebergMirror.mirror(spark, t)
    val meta = currentMetadata(t)
    // the compaction snapshot carries the spec's replace operation
    val ops = (meta \ "snapshots") match {
      case JArray(ss) => ss.map(s =>
        jlong(s \ "snapshot-id") -> jstr(s \ "summary" \ "operation"))
      case _ => fail("no snapshots")
    }
    assert(ops.toMap.apply(snapshotIdOfGraft(meta, 3L)) == "replace")
    // changelog (v1 -> v4]: the appends at v2 and v4 report; the v3
    // compaction (whole table rewritten, zero rows changed)
    // contributes NOTHING — pre-fix it reported the entire table
    // deleted+reinserted. Ordinals number EMITTING snapshots
    // consecutively: v2=1, v4=2.
    val ch = IcebergMirror.readIcebergChanges(spark, t,
      snapshotIdOfGraft(meta, 1L), snapshotIdOfGraft(meta, 4L))
    val got = ch.select($"id", $"_change_type", $"_change_ordinal")
      .as[(Long, String, Int)].collect().toSet
    val want = ((40L until 45L).map((_, "insert", 1)) ++
      (45L until 50L).map((_, "insert", 2))).toSet
    assert(got == want)
    // compaction-only range is an EMPTY feed, not a table-sized one
    assert(IcebergMirror.readIcebergChanges(spark, t,
      snapshotIdOfGraft(meta, 2L), snapshotIdOfGraft(meta, 3L))
      .count() == 0L)
  }

  /** v3 manifest entry schema: the base fields + 143/144/145. */
  private val dvEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","type":{"type":"record","name":"r102","fields":[]},"field-id":102},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}
      ]},"field-id":2}]}""")

  /** An added (status 1) v3 manifest entry stamped `sid`: a parquet
    * data file, or with `refd` a puffin DV blob at (`off`, `sz`)
    * deleting from data file `refd`; `n` is its record_count. */
  private def dvEntry(sid: Long, seq: Long, path: String, n: Long,
      refd: String = null, off: Long = -1, sz: Long = -1): GenericRecord = {
    val e = new GenericData.Record(dvEntrySchema)
    e.put("status", Integer.valueOf(1))
    e.put("snapshot_id", java.lang.Long.valueOf(sid))
    e.put("sequence_number", java.lang.Long.valueOf(seq))
    val dfS = dvEntrySchema.getField("data_file").schema()
    val df = new GenericData.Record(dfS)
    df.put("content", Integer.valueOf(if (refd != null) 1 else 0))
    df.put("file_path", path)
    df.put("file_format", if (refd != null) "PUFFIN" else "PARQUET")
    df.put("partition",
      new GenericData.Record(dfS.getField("partition").schema()))
    df.put("record_count", java.lang.Long.valueOf(n))
    df.put("file_size_in_bytes", java.lang.Long.valueOf(1L))
    if (refd != null) {
      df.put("referenced_data_file", refd)
      df.put("content_offset", java.lang.Long.valueOf(off))
      df.put("content_size_in_bytes", java.lang.Long.valueOf(sz))
    }
    e.put("data_file", df)
    e
  }

  /** A puffin file holding one deletion-vector blob (at offset 4)
    * deleting `rows` of data file `refd`; returns the blob's length. */
  private def writePuffin(path: String, refd: String,
                          rows: Array[Long]): Long = {
    val vec = graft.sources.DeletionVectors.serialize(rows)
    val crc = new java.util.zip.CRC32(); crc.update(vec)
    val blob = java.nio.ByteBuffer.allocate(vec.length + 8)
    blob.putInt(vec.length); blob.put(vec)
    blob.putInt(crc.getValue.toInt)
    val magic = Array[Byte]('P', 'F', 'A', '1')
    val payload =
      (s"""{"blobs":[{"type":"deletion-vector-v1","fields":[],""" +
        s""""snapshot-id":101,"sequence-number":2,"offset":4,""" +
        s""""length":${vec.length + 8},"properties":{""" +
        s""""referenced-data-file":"$refd","cardinality":""" +
        s""""${rows.length}"}}],"properties":{}}""").getBytes("UTF-8")
    val footer = java.nio.ByteBuffer
      .allocate(4 + payload.length + 12)
    footer.put(magic).put(payload)
    footer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(payload.length)
    footer.putInt(0); footer.put(magic)
    val out = new java.io.FileOutputStream(path)
    out.write(magic); out.write(blob.array()); out.write(footer.array())
    out.close()
    vec.length + 8L
  }

  test("v3 deletion vectors: puffin blob parse + row filter, at-most-" +
      "one and CRC refusals, row-lineage/initial-default refusals") {
    val t = freshDir("graft_ice_v3dv") + "/t"
    def slice(name: String, lo: Long, hi: Long): (String, Long) = {
      spark.range(lo, hi).toDF("doc_id")
        .withColumn("payload", concat(lit("p"), $"doc_id"))
        .coalesce(1).write.parquet(s"$t/data/$name")
      val f = new java.io.File(s"$t/data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      (f.getAbsolutePath, hi - lo)
    }
    val (fa, nA) = slice("fa", 0, 20)
    // puffin with one DV blob deleting rows 3, 7, 15 of fa
    val puffin = s"$t/data/dv.puffin"
    val blobLen = writePuffin(puffin, fa, Array(3L, 7L, 15L))
    val m1 = s"$t/metadata/m1.avro"
    val m1len = writeAvro(m1, dvEntrySchema,
      Seq(dvEntry(101L, 1L, fa, nA)))
    val md = s"$t/metadata/md.avro"
    val mdLen = writeAvro(md, dvEntrySchema, Seq(
      dvEntry(101L, 2L, puffin, 3L, fa, 4L, blobLen)))
    val ml = s"$t/metadata/snap-101.avro"
    val mdRec = foreignListRec(md, mdLen, 101L, 2L, content = 1)
    writeAvro(ml, foreignListSchema,
      Seq(foreignListRec(m1, m1len, 101L, 1L), mdRec))
    def publish(extra: String): Unit = {
      val meta = s"""{
        "format-version": 3,
        "table-uuid": "00000000-0000-0000-0000-00000000d3d3",
        "location": "$t",
        "last-sequence-number": 2,
        "last-updated-ms": 1700000002000,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{"type":"struct","schema-id":0,"fields":[
          {"id":1,"name":"doc_id","required":false,"type":"long"},
          {"id":2,"name":"payload","required":false,"type":"string"}]}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id":0,"fields":[]}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id":0,"fields":[]}],
        "properties": {},$extra
        "current-snapshot-id": 101,
        "snapshots": [
          {"snapshot-id":101,"sequence-number":2,
           "timestamp-ms":1700000002000,"manifest-list":"$ml",
           "summary":{"operation":"overwrite"},"schema-id":0}],
        "snapshot-log": [
          {"timestamp-ms":1700000002000,"snapshot-id":101}],
        "metadata-log": []
      }"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
        meta.getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
        "1".getBytes("UTF-8"))
    }
    publish("")
    val got = IcebergMirror.readIceberg(spark, t)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == (0L until 20L).toSet -- Set(3L, 7L, 15L))
    // row lineage refuses
    publish(""""row-lineage": true,""")
    val e1 = intercept[IllegalArgumentException](
      IcebergMirror.readIceberg(spark, t))
    assert(e1.getMessage.contains("row lineage"))
    // initial-default refuses
    publish("")
    val v1 = new String(readBytes(s"$t/metadata/v1.metadata.json"),
      "UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
      v1.replace(
        """{"id":2,"name":"payload","required":false,"type":"string"}""",
        """{"id":2,"name":"payload","required":false,"type":"string",
           "initial-default":"x"}""").getBytes("UTF-8"))
    val e2 = intercept[RuntimeException](
      IcebergMirror.readIceberg(spark, t))
    assert(e2.getMessage.contains("initial-default"))
    // a second DV for the same data file refuses (v3: at most one)
    publish("")
    val md2 = s"$t/metadata/md2.avro"
    val md2Len = writeAvro(md2, dvEntrySchema, Seq(
      dvEntry(101L, 2L, puffin, 3L, fa, 4L, blobLen),
      dvEntry(101L, 2L, puffin, 3L, fa, 4L, blobLen)))
    val md2Rec = foreignListRec(md2, md2Len, 101L, 2L, content = 1)
    writeAvro(ml, foreignListSchema,
      Seq(foreignListRec(m1, m1len, 101L, 1L), md2Rec))
    val e3 = intercept[RuntimeException](
      IcebergMirror.readIceberg(spark, t))
    assert(e3.getMessage.contains("more than one"))
    // corrupt vector bytes refuse on CRC
    writeAvro(ml, foreignListSchema,
      Seq(foreignListRec(m1, m1len, 101L, 1L), mdRec))
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(puffin))
    raw(10) = (raw(10) ^ 0x7f).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(puffin), raw)
    val e4 = intercept[RuntimeException](
      IcebergMirror.readIceberg(spark, t))
    assert(e4.getMessage.contains("checksum"))
  }

  test("changelog refuses a deletion vector whose cardinality differs " +
      "from its manifest entry's record_count, as readIceberg does") {
    val t = freshDir("graft_ice_cdf_dvbad") + "/t"
    spark.range(0, 20).toDF("doc_id")
      .withColumn("payload", concat(lit("p"), $"doc_id"))
      .coalesce(1).write.parquet(s"$t/data/fa")
    val fa = new java.io.File(s"$t/data/fa").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    // snapshot 100 adds fa; snapshot 101 adds a DV deleting 3 rows of
    // it whose entry declares record_count 5
    val puffin = s"$t/data/dv.puffin"
    val blobLen = writePuffin(puffin, fa, Array(3L, 7L, 15L))
    val m1 = s"$t/metadata/m1.avro"
    val m1Len = writeAvro(m1, dvEntrySchema,
      Seq(dvEntry(100L, 1L, fa, 20L)))
    val md = s"$t/metadata/md.avro"
    val mdLen = writeAvro(md, dvEntrySchema,
      Seq(dvEntry(101L, 2L, puffin, 5L, fa, 4L, blobLen)))
    val ml0 = s"$t/metadata/snap-100.avro"
    writeAvro(ml0, foreignListSchema,
      Seq(foreignListRec(m1, m1Len, 100L, 1L)))
    val ml1 = s"$t/metadata/snap-101.avro"
    writeAvro(ml1, foreignListSchema, Seq(
      foreignListRec(m1, m1Len, 100L, 1L),
      foreignListRec(md, mdLen, 101L, 2L, content = 1)))
    val meta = s"""{
      "format-version": 3,
      "table-uuid": "00000000-0000-0000-0000-00000000d4d4",
      "location": "$t",
      "last-sequence-number": 2,
      "last-updated-ms": 1700000002000,
      "last-column-id": 2,
      "current-schema-id": 0,
      "schemas": [{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"doc_id","required":false,"type":"long"},
        {"id":2,"name":"payload","required":false,"type":"string"}]}],
      "default-spec-id": 0,
      "partition-specs": [{"spec-id":0,"fields":[]}],
      "last-partition-id": 999,
      "default-sort-order-id": 0,
      "sort-orders": [{"order-id":0,"fields":[]}],
      "properties": {},
      "current-snapshot-id": 101,
      "snapshots": [
        {"snapshot-id":100,"sequence-number":1,
         "timestamp-ms":1700000001000,"manifest-list":"$ml0",
         "summary":{"operation":"append"},"schema-id":0},
        {"snapshot-id":101,"parent-snapshot-id":100,"sequence-number":2,
         "timestamp-ms":1700000002000,"manifest-list":"$ml1",
         "summary":{"operation":"delete"},"schema-id":0}],
      "snapshot-log": [
        {"timestamp-ms":1700000001000,"snapshot-id":100},
        {"timestamp-ms":1700000002000,"snapshot-id":101}],
      "metadata-log": []
    }"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/v1.metadata.json"),
      meta.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/metadata/version-hint.text"),
      "1".getBytes("UTF-8"))
    val e1 = intercept[Exception](IcebergMirror.readIceberg(spark, t))
    assert(e1.getMessage.contains("holds 3 rows"), e1.getMessage)
    val e2 = intercept[Exception](
      IcebergMirror.readIcebergChanges(spark, t, 100L, 101L).collect())
    assert(e2.getMessage.contains("holds 3 rows"), e2.getMessage)
  }

  test("maxLiveFiles ceiling refuses loudly before the driver holds " +
      "an unbounded foreign file list") {
    val t = buildForeignTree()
    spark.conf.set("spark.graft.iceberg.maxLiveFiles", "1")
    try {
      val e = intercept[RuntimeException](
        IcebergMirror.readIceberg(spark, t))
      assert(e.getMessage.contains("maxLiveFiles"))
    } finally spark.conf.unset("spark.graft.iceberg.maxLiveFiles")
    // at the default ceiling the same tree serves
    assert(IcebergMirror.readIceberg(spark, t).count() == 16L)
  }

  // ---- v3 deletion-vector WRITE (merge-on-read export) ----

  /** Live + tombstoned DV entries of the current snapshot's DELETE
    * manifests, by raw avro reads only: (referenced, puffin, offset,
    * size, cardinality, status). */
  private def resolveDvEntries(meta: JValue)
      : Seq[(String, String, Long, Long, Long, Int)] = {
    val sid = jlong(meta \ "current-snapshot-id")
    val snap = (meta \ "snapshots") match {
      case JArray(ss) => ss.find(s =>
        jlong(s \ "snapshot-id") == sid).get
      case _ => fail("no snapshots")
    }
    val (_, mlRows) = avroRecords(readBytes(jstr(snap \ "manifest-list")))
    mlRows.filter(_.get("content").asInstanceOf[Number].intValue == 1)
      .flatMap { m =>
        val (_, entries) = avroRecords(readBytes(
          m.get("manifest_path").toString))
        entries.map { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          assert(df.get("file_format").toString == "PUFFIN")
          (df.get("referenced_data_file").toString,
            df.get("file_path").toString,
            df.get("content_offset").asInstanceOf[Number].longValue,
            df.get("content_size_in_bytes").asInstanceOf[Number].longValue,
            df.get("record_count").asInstanceOf[Number].longValue,
            e.get("status").asInstanceOf[Number].intValue)
        }
      }
  }

  test("v3 DV write: MOR deletes mirror as puffin blobs + DELETE " +
      "manifests; a second delete replaces (add+tombstone) shared " +
      "files' entries; unchanged DVs carry forward; every snapshot " +
      "serves its own DV state") {
    val t = freshDir("ice_dvw_") + "/t"
    // range-partitioned files (ids 0-149 | 150-299 | 300-449 |
    // 450-599): deletes target specific files deterministically
    LakeWriter.commitSnapshot(docs(600).repartitionByRange(4, $"id"), t)
    IcebergMirror.mirror(spark, t) // plain v2 first — DVs must UPGRADE
    assert(jlong(currentMetadata(t) \ "format-version") == 2L)

    // delete #1 touches files 1 (ids<30) and 4 (ids 460-469)
    val v2 = LakeWriter.deleteFromSnapshotMor(spark, t,
      $"v" < 300 || ($"v" >= 4600 && $"v" < 4700))
    // resume onto the v2 tree: the v3 upgrade is an EXPLICIT opt-in
    // (this writer emits no row lineage) — without it, loud refusal
    // and an untouched tree
    val refuse = intercept[Exception](IcebergMirror.mirror(spark, t))
    assert(refuse.getMessage.contains("allowV3"))
    assert(jlong(currentMetadata(t) \ "format-version") == 2L)
    assert(IcebergMirror.mirror(spark, t, allowV3 = true) == 1L)
    val meta2 = currentMetadata(t)
    assert(jlong(meta2 \ "format-version") == 3L)
    val dv2 = resolveDvEntries(meta2)
    assert(dv2.size == 2 && dv2.forall(_._6 == 1)) // both freshly added
    // one puffin for the whole version, blobs at distinct offsets
    assert(dv2.map(_._2).distinct.size == 1)
    assert(dv2.map(_._3).distinct.size == dv2.size)
    val snapOp2 = (meta2 \ "snapshots") match {
      case JArray(ss) => jstr(ss.last \ "summary" \ "operation")
      case _ => fail("no snapshots")
    }
    assert(snapOp2 == "delete") // files unchanged, DVs grew
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(v2))))

    // delete #2 UNIONS into file 1's bitmap (ids 10-59) and leaves
    // file 4's untouched: exactly one replaced entry, one carried
    val v3 = LakeWriter.deleteFromSnapshotMor(spark, t,
      $"v" >= 100 && $"v" < 600)
    assert(IcebergMirror.mirror(spark, t) == 1L)
    val meta3 = currentMetadata(t)
    val dv3 = resolveDvEntries(meta3)
    val live3 = dv3.filter(_._6 != 2)
    // the spec's at-most-one rule: one LIVE DV per referenced file,
    // and each replaced file shows a tombstone for its old pairing
    assert(live3.groupBy(_._1).forall(_._2.size == 1))
    val replaced = dv3.filter(_._6 == 2).map(_._1).toSet
    assert(replaced.size == 1)
    replaced.foreach { r =>
      val l = live3.filter(_._1 == r)
      assert(l.size == 1 && l.head._2 != dv3.filter(e =>
        e._1 == r && e._6 == 2).head._2) // new blob, new puffin
      // the union grew the bitmap: higher cardinality than the old
      assert(l.head._5 > dv3.filter(e =>
        e._1 == r && e._6 == 2).head._5)
    }
    // untouched files' DVs carried forward: same puffin, same offset
    val prevByRef = dv2.map(e => e._1 -> e).toMap
    val carried = live3.filter(e => !replaced.contains(e._1))
    assert(carried.nonEmpty)
    carried.foreach { e =>
      val p = prevByRef(e._1)
      assert(e._2 == p._2 && e._3 == p._3 && e._4 == p._4)
    }
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(v3))))
    // time travel: the older snapshot still serves delete-#1 state
    val sid2 = (meta3 \ "snapshots") match {
      case JArray(ss) => jlong(ss(ss.size - 2) \ "snapshot-id")
      case _ => fail("no snapshots")
    }
    assert(rows(IcebergMirror.readIceberg(spark, t, Some(sid2))) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(v2))))

    // compaction clears DVs: mirrored as replace, zero live DV
    // entries, rows unchanged
    val v4 = LakeWriter.compactSnapshot(spark, t, 2)
    assert(IcebergMirror.mirror(spark, t) == 1L)
    val meta4 = currentMetadata(t)
    val op4 = (meta4 \ "snapshots") match {
      case JArray(ss) => jstr(ss.last \ "summary" \ "operation")
      case _ => fail("no snapshots")
    }
    assert(op4 == "replace")
    assert(resolveDvEntries(meta4).filter(_._6 != 2).isEmpty)
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(v4))))
  }

  test("v3 DV write: a COW delete removing a DV-bearing file " +
      "tombstones its DV entry; expireSnapshots reclaims puffins " +
      "only expired snapshots reference") {
    val t = freshDir("ice_dvw2_") + "/t"
    LakeWriter.commitSnapshot(docs(400).repartition(4), t)
    LakeWriter.deleteFromSnapshotMor(spark, t, $"v" < 200)
    IcebergMirror.mirror(spark, t, allowV3 = true)
    val puffin1 = resolveDvEntries(currentMetadata(t)).head._2
    // COW delete: rewrites every surviving file — the old files (and
    // their DV pairings) leave the table
    val v3 = LakeWriter.deleteFromSnapshot(spark, t, $"lang" === "de")
    IcebergMirror.mirror(spark, t)
    val after = resolveDvEntries(currentMetadata(t))
    assert(after.forall(_._6 == 2)) // tombstones only, nothing live
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(v3))))
    // expire down to the current snapshot: the puffin no retained
    // snapshot references is swept, the tree still serves
    assert(new java.io.File(puffin1.stripPrefix("file:")).exists)
    IcebergMirror.expireSnapshots(spark, t, 1)
    assert(!new java.io.File(puffin1.stripPrefix("file:")).exists)
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(v3))))
  }

  test("streamIcebergChangesInto: oldest-first drain with the " +
      "sequence stamp, live-checkpoint incremental drain, and a " +
      "fresh-checkpoint replay that skips absorbed sequences WITHOUT " +
      "resolving them (expired parents never refuse)") {
    val root = freshDir("ice_stream_")
    val t = s"$root/t"; val out = s"$root/out"
    LakeWriter.commitSnapshot(docs(90), t)
    LakeWriter.commitSnapshot(docs(90).where($"lang" =!= "de"), t)
    IcebergMirror.mirror(spark, t)
    assert(IcebergMirror.streamIcebergChangesInto(
      spark, t, out, s"$root/ck1") == 2L)
    val got = LakeWriter.readSnapshot(spark, out)
    assert(got.where($"_commit_sequence" === 1).count() == 90L)
    assert(got.where($"_commit_sequence" === 2 &&
      $"_change_type" === "delete").count() == 90L)
    assert(got.where($"_commit_sequence" === 2 &&
      $"_change_type" === "insert").count() == 60L)
    // one more commit; the LIVE checkpoint drains just it
    LakeWriter.commitSnapshot(docs(12), t, "append")
    IcebergMirror.mirror(spark, t)
    assert(IcebergMirror.streamIcebergChangesInto(
      spark, t, out, s"$root/ck1") == 3L)
    val n3 = LakeWriter.readSnapshot(spark, out).count()
    assert(LakeWriter.readSnapshot(spark, out)
      .where($"_commit_sequence" === 3).count() == 12L)
    // EXPIRE the early history, then replay from a FRESH checkpoint:
    // every surviving metadata version's tip is already absorbed and
    // must skip on its stamp — lazily, since sequence 3's parent
    // snapshot no longer exists to resolve changes against
    IcebergMirror.expireSnapshots(spark, t, 1)
    assert(IcebergMirror.streamIcebergChangesInto(
      spark, t, out, s"$root/ck2") == 3L)
    assert(LakeWriter.readSnapshot(spark, out).count() == n3)
  }

  test("streamIcebergChangesInto absorbs a sequence whose metadata " +
      "version was never observed: the next version's ancestor chain " +
      "carries it — no silent hole behind the stamp") {
    // the hole-masking scenario: v2.metadata.json disappears (swept,
    // or simply never listed) before a consumer's first drain while
    // its SNAPSHOT stays live in v3's tree. A tip-only consumer would
    // absorb sequence 3 and the stamp would strand sequence 2
    // forever, silently. The chain offer closes it.
    val root = freshDir("ice_stream_hole_")
    val t = s"$root/t"; val out = s"$root/out"
    LakeWriter.commitSnapshot(docs(60), t)                    // seq 1
    IcebergMirror.mirror(spark, t)
    LakeWriter.commitSnapshot(docs(20), t, "append")          // seq 2
    IcebergMirror.mirror(spark, t)
    LakeWriter.commitSnapshot(docs(10), t, "append")          // seq 3
    IcebergMirror.mirror(spark, t)
    val gone = java.nio.file.Paths.get(s"$t/metadata/v2.metadata.json")
    assert(java.nio.file.Files.deleteIfExists(gone))
    java.nio.file.Files.deleteIfExists(
      gone.resolveSibling(".v2.metadata.json.crc"))
    assert(IcebergMirror.streamIcebergChangesInto(
      spark, t, out, s"$root/ck") == 3L)
    val got = LakeWriter.readSnapshot(spark, out)
    // every sequence present exactly once, including the unobserved 2
    assert(got.where($"_commit_sequence" === 1).count() == 60L)
    assert(got.where($"_commit_sequence" === 2 &&
      $"_change_type" === "insert").count() == 20L)
    assert(got.where($"_commit_sequence" === 3 &&
      $"_change_type" === "insert").count() == 10L)
  }

  test("changelog diffs deletion vectors: a MOR delete emits exactly " +
      "the newly-deleted rows, a second delete only the union " +
      "increment, a COW remove excludes already-reported rows, and a " +
      "restore re-inserts the resurrected ones") {
    val t = freshDir("ice_dvcl_") + "/t"
    LakeWriter.commitSnapshot(docs(600).repartitionByRange(4, $"id"), t)
    LakeWriter.deleteFromSnapshotMor(spark, t, $"v" < 300) // ids 0-29
    LakeWriter.deleteFromSnapshotMor(spark, t,
      $"v" >= 100 && $"v" < 600)                           // union 0-59
    LakeWriter.restoreSnapshot(spark, t, 2L)               // back to 0-29
    LakeWriter.deleteFromSnapshot(spark, t, $"id" < 150)   // COW: file 1 out
    IcebergMirror.mirror(spark, t, allowV3 = true)
    val snaps = IcebergMirror.icebergSnapshots(spark, t).map(_._1)
    def feed(a: Long, b: Long) =
      IcebergMirror.readIcebergChanges(spark, t, a, b)
    def ids(df: org.apache.spark.sql.DataFrame, ct: String): Set[Long] =
      df.where($"_change_type" === ct).select($"id")
        .collect().map(_.getLong(0)).toSet
    // MOR delete #1: exactly the newly-deleted rows
    val f12 = feed(snaps(0), snaps(1))
    assert(ids(f12, "delete") == (0L until 30L).toSet)
    assert(ids(f12, "insert").isEmpty)
    // MOR delete #2: only the union INCREMENT (ids 30-59), never the
    // already-reported 0-29; the shrink-side insert unit is empty
    val f23 = feed(snaps(1), snaps(2))
    assert(ids(f23, "delete") == (30L until 60L).toSet)
    assert(ids(f23, "insert").isEmpty)
    // RESTORE to the v2 DV state: ids 30-59 come back as inserts
    val f34 = feed(snaps(2), snaps(3))
    assert(ids(f34, "insert") == (30L until 60L).toSet)
    assert(ids(f34, "delete").isEmpty)
    // COW remove of the DV-bearing file: its delete rows EXCLUDE the
    // rows the DV already reported (survivors 30-149 at that point)
    val f45 = feed(snaps(3), snaps(4))
    assert(ids(f45, "delete") == (30L until 150L).toSet)
    // and the full range telescopes: net deletes = ids 0-149
    val all = feed(snaps(0), snaps(4))
    val net = all.groupBy($"id").agg(
      sum(when($"_change_type" === "insert", 1).otherwise(-1)).as("n"))
    assert(net.where($"n" < 0).select($"id")
      .collect().map(_.getLong(0)).toSet == (0L until 150L).toSet)
    assert(net.where($"n" > 0).count() == 0L)
  }

  test("property: random MOR/COW/compact/restore histories mirror " +
      "with per-snapshot fidelity (DV carry/tombstone under every " +
      "interleaving, incremental resume at random cut points)") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 3) {
      val t = freshDir(s"ice_dvprop$trial") + "/t"
      LakeWriter.commitSnapshot(
        docs(300).repartitionByRange(3, $"id"), t)
      var mirrored = 1
      def maybeMirror(): Unit =
        if (rnd.nextBoolean()) {
          IcebergMirror.mirror(spark, t, allowV3 = true)
          mirrored += 1
        }
      (1 to 6).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 =>
            val lo = rnd.nextInt(250) * 10
            LakeWriter.deleteFromSnapshotMor(spark, t,
              $"v" >= lo && $"v" < lo + 300,
              maxDeleteFraction = 0.95): Unit
          case 1 =>
            LakeWriter.deleteFromSnapshot(spark, t,
              $"id" % 97 === rnd.nextInt(97)): Unit
          case 2 => LakeWriter.compactSnapshot(spark, t, 2): Unit
          case 3 =>
            val vs = LakeWriter.snapshotVersions(spark, t)
            LakeWriter.restoreSnapshot(spark, t,
              vs(rnd.nextInt(vs.size))): Unit
        }
        maybeMirror()
      }
      IcebergMirror.mirror(spark, t, allowV3 = true)
      // every graft version serves identically through the tree
      val versions = LakeWriter.snapshotVersions(spark, t)
      val meta = currentMetadata(t)
      val byGv: Map[Long, Long] = (meta \ "snapshots") match {
        case JArray(ss) => ss.map(s =>
          jstr(s \ "summary" \ "graft-version").toLong ->
            jlong(s \ "snapshot-id")).toMap
        case _ => fail("no snapshots")
      }
      versions.foreach { gv =>
        assert(rows(IcebergMirror.readIceberg(spark, t,
          Some(byGv(gv)))) ==
          rows(LakeWriter.readSnapshot(spark, t, Some(gv))),
          s"trial $trial graft v$gv")
      }
    }
  }

  test("v3 DV write: a base-name collision between live files " +
      "refuses — a DV keyed by base name must never re-key to the " +
      "wrong data file") {
    val t = freshDir("ice_dvw4_") + "/t"
    LakeWriter.commitSnapshot(docs(100).repartition(2), t)
    LakeWriter.deleteFromSnapshotMor(spark, t, $"v" < 100)
    // doctor the manifest: a second live file with the SAME base name
    // in a sibling directory (the shape a partition-dir layout can
    // produce); its bytes are a real parquet so planning could read it
    val mp = java.nio.file.Paths.get(s"$t/_manifests/v2.json")
    val body = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
    val filesRe = """"files":\["([^"\]]+)"""".r
    val first = java.net.URLDecoder.decode(
      filesRe.findFirstMatchIn(body).get.group(1), "UTF-8")
    val src = java.nio.file.Paths.get(
      new java.net.URI(first).getPath)
    val dupDir = src.getParent.resolve("dup")
    java.nio.file.Files.createDirectories(dupDir)
    val dup = dupDir.resolve(src.getFileName)
    java.nio.file.Files.copy(src, dup)
    val dupUri = "file:" + dup.toString
    val enc = java.net.URLEncoder.encode(dupUri, "UTF-8")
      .replace("+", "%20")
    val doctored = body.replaceFirst(""""files":\[""",
      s""""files":["$enc",""")
    java.nio.file.Files.write(mp, doctored.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      mp.resolveSibling(".v2.json.crc"))
    val e = intercept[Exception](
      IcebergMirror.mirror(spark, t, allowV3 = true))
    assert(e.getMessage.contains("base names"), e.getMessage)
  }

  test("v3 DV write: extending a tree that enables row lineage " +
      "refuses (the mirror never assigns row ids)") {
    val t = freshDir("ice_dvw3_") + "/t"
    LakeWriter.commitSnapshot(docs(60), t)
    IcebergMirror.mirror(spark, t)
    // doctor the published metadata into a lineage-bearing v3 tree —
    // the shape a foreign v3 writer would leave behind
    val hintP = java.nio.file.Paths.get(s"$t/metadata/version-hint.text")
    val hint = new String(java.nio.file.Files.readAllBytes(hintP),
      "UTF-8").trim.toInt
    val mp = java.nio.file.Paths.get(s"$t/metadata/v$hint.metadata.json")
    val doctored = new String(java.nio.file.Files.readAllBytes(mp),
      "UTF-8").replaceFirst("""\"format-version\"\s*:\s*2""",
        "\"format-version\":3,\"next-row-id\":17")
    java.nio.file.Files.write(mp, doctored.getBytes("UTF-8"))
    // drop the Hadoop local-FS checksum sidecar the nio rewrite broke
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      s"$t/metadata/.v$hint.metadata.json.crc"))
    LakeWriter.commitSnapshot(docs(30), t, "append")
    val e = intercept[Exception](IcebergMirror.mirror(spark, t))
    assert(e.getMessage.contains("row lineage"))
  }
}
