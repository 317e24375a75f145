package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LakeWriter, Manifest}

/** Local filesystem that counts `open` calls per path — installed in
  * one session only (`fs.file.impl`, cache disabled), so the counts
  * see exactly that session's lake I/O. */
class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.computeIfAbsent(f.toUri.getPath,
      _ => new AtomicInteger).incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val opens = new ConcurrentHashMap[String, AtomicInteger]
}

/** The snapshot manifest wire format. `manifest_golden/` holds the
  * `v*.json` bodies one table wrote through append, partitioned
  * dynamic overwrite, keyed upsert, MOR delete, addCheck, rename
  * column, setBloomIndex and a txn-stamped append (`tbl/`), plus the
  * shallow clone of its last version (`cln/`): every one must parse
  * to its expected fields and re-render byte for byte. */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/manifest_golden/$name")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def baseName(f: String): String = f.substring(f.lastIndexOf('/') + 1)

  test("golden manifests re-render byte for byte") {
    val names = (1 to 9).map(v => s"tbl/v$v.json") :+ "cln/v1.json"
    names.foreach { n =>
      val body = golden(n)
      assert(Manifest.parse(body).render == body, n)
    }
  }

  test("golden manifests parse to their committed fields") {
    val ms = (1 to 9).map(v => Manifest.parse(golden(s"tbl/v$v.json")))
    assert(ms.map(_.version) == (1L to 9L))
    assert(ms.map(_.mode) == Seq("dynamic", "append", "dynamic", "merge",
      "delete", "meta", "rename", "bloomindex", "append"))
    assert(ms.map(_.files.size) == Seq(2, 3, 3, 4, 4, 4, 4, 4, 5))
    assert(ms.forall(_.ts.isDefined))
    assert(ms.forall(_.partCols == Seq("day")))
    ms.foreach { m =>
      assert(m.files.forall(_.startsWith("file:/")))
      // every file carries footer stats with its row count
      assert(m.stats.keySet == m.files.map(baseName).toSet)
      assert(m.stats.values.forall(_.rows.exists(_ > 0)))
      assert(m.stats.values.forall(_.cols.keySet ==
        m.schema.fieldNames.map(m.colmap.phys).toSet - "day"))
    }
    assert(ms(0).schema.fieldNames.toSeq == Seq("k", "day", "v", "s", "t"))
    assert(ms(0).stats.values.map(_.rows.get).toSet == Set(10L))
    assert(ms(0).stats.values.flatMap(_.cols.get("k")).forall(
      _.nulls.contains(0L)))
    // keyed upsert records its merge keys on its own commit only
    assert(ms.map(_.mergeKeys) ==
      Seq.fill(3)(Nil) ++ Seq(Seq("day", "k")) ++ Seq.fill(5)(Nil))
    // MOR delete: one file carries a one-row DV from v5 on
    assert(ms.take(4).forall(_.dvs.isEmpty))
    ms.drop(4).foreach { m =>
      assert(m.dvs.size == 1)
      val dv = m.dvs.values.head
      assert(dv.cardinality == 1L && dv.sizeInBytes == 34)
      assert(m.files.map(baseName).contains(m.dvs.keys.head))
    }
    assert(ms.take(5).forall(_.checks.isEmpty))
    assert(ms.drop(5).forall(_.checks == Map("v_nonneg" -> "v >= 0")))
    assert(ms.take(6).forall(_.colmap.isIdentity))
    ms.drop(6).foreach { m =>
      assert(m.colmap.map == Map("label" -> "s") && m.colmap.dropped.isEmpty)
      assert(m.schema.fieldNames.toSeq == Seq("k", "day", "v", "label", "t"))
    }
    assert(ms.take(7).forall(m => m.bloomCfg.isEmpty && m.blooms.isEmpty))
    ms.drop(7).foreach { m =>
      assert(m.bloomCfg == Map("k" -> 100L))
      assert(m.blooms.keySet == m.files.map(baseName).toSet)
      assert(m.blooms.values.forall(_.keySet == Set("k")))
    }
    assert(ms.take(8).forall(_.txns.isEmpty))
    assert(ms(8).txns == Map("app-1" -> 7L))
    // the clone: version 1, mode clone, the source's v9 minus its txns
    val cln = Manifest.parse(golden("cln/v1.json"))
    assert(cln.version == 1L && cln.mode == "clone")
    assert(cln.copy(version = 9L, mode = "append", ts = ms(8).ts,
      txns = ms(8).txns) == ms(8))
  }

  test("absent fields take their defaults") {
    val schema = """{"type":"struct","fields":[]}"""
    val m = Manifest.parse(
      s"""{"version":3,"schema":"${java.net.URLEncoder.encode(schema,
        "UTF-8")}","files":[]}""")
    assert(m.version == 3L && m.mode == "overwrite" && m.ts.isEmpty)
    assert(m.txns.isEmpty && m.partCols.isEmpty && m.mergeKeys.isEmpty &&
      m.dvs.isEmpty && m.checks.isEmpty && m.colmap.isIdentity &&
      m.colmap.dropped.isEmpty && m.stats.isEmpty && m.bloomCfg.isEmpty &&
      m.blooms.isEmpty && m.files.isEmpty)
  }

  test("one mergeSnapshot commit opens the previous manifest at most once") {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    val t = java.nio.file.Files.createTempDirectory("graft_manifest_opens")
      .toString + "/t"
    def rows(lo: Long, hi: Long) =
      s.range(lo, hi, 1, 2).toDF("k").withColumn("v", col("k") * 2)
    LakeWriter.commitSnapshot(rows(0, 20), t)
    LakeWriter.addCheck(s, t, "v_nonneg", "v >= 0")
    LakeWriter.commitSnapshot(rows(20, 30), t, "append",
      txn = Some("app" -> 1L))
    val prev = LakeWriter.snapshotVersions(s, t).last
    CountingLocalFs.opens.clear()
    val v = LakeWriter.mergeSnapshot(rows(5, 8), t, Seq("k"))
    assert(v == prev + 1)
    val prevOpens = CountingLocalFs.opens.asScala.collect {
      case (p, n) if p.endsWith(s"/_manifests/v$prev.json") => n.get
    }.sum
    assert(prevOpens <= 1, s"previous manifest opened $prevOpens times")
    // everything the commit carried is still there
    val m = LakeWriter.manifest(s, t, v)
    assert(m.checks == Map("v_nonneg" -> "v >= 0"))
    assert(m.txns == Map("app" -> 1L))
    assert(LakeWriter.readSnapshot(s, t).count() == 30L)
  }

  test("a commit records each new file's byte length, carried files " +
      "keep theirs, and a body without lengths reads through a stat " +
      "fallback") {
    val t = java.nio.file.Files.createTempDirectory("graft_manifest_len")
      .toString + "/t"
    def onDisk(f: String): Long =
      new java.io.File(new java.net.URI(f).getPath).length
    LakeWriter.commitSnapshot(spark.range(0, 20, 1, 2).toDF("k"), t)
    LakeWriter.commitSnapshot(spark.range(20, 30, 1, 1).toDF("k"), t,
      "append")
    val (m1, m2) = (LakeWriter.manifest(spark, t, 1L),
      LakeWriter.manifest(spark, t, 2L))
    assert(m1.lengths == m1.files.map(f => baseName(f) -> onDisk(f)).toMap)
    assert(m2.lengths == m2.files.map(f => baseName(f) -> onDisk(f)).toMap)
    assert(m1.lengths.forall { case (bn, n) => m2.lengths(bn) == n })
    assert(Manifest.parse(m2.render) == m2)
    // the same version without its lengths: every file is stat'ed
    val p = java.nio.file.Paths.get(s"$t/_manifests/v2.json")
    java.nio.file.Files.write(p,
      m2.copy(lengths = Map.empty).render.getBytes("UTF-8"))
    new java.io.File(s"$t/_manifests/.v2.json.crc").delete(): Unit
    assert(!new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .contains("\"lengths\""))
    assert(LakeWriter.manifest(spark, t, 2L).lengths.isEmpty)
    assert(LakeWriter.readSnapshot(spark, t).as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq ==
      (0L until 30L))
  }

  test("a manifest vacuumed after listing raises, never reads as empty") {
    val t = java.nio.file.Files.createTempDirectory("graft_manifest_gone")
      .toString + "/t"
    LakeWriter.commitSnapshot(spark.range(0, 5).toDF("k"), t)
    new java.io.File(s"$t/_manifests/v1.json").delete()
    val e = intercept[RuntimeException](LakeWriter.manifest(spark, t, 1L))
    assert(e.getMessage.contains(s"no snapshot v1 at $t"))
  }
}
