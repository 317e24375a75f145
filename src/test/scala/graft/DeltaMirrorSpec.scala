package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaMirror, LakeWriter}

/** Delta-format live mirror: log shape, fidelity vs readSnapshot at
  * every version, incremental resume, idempotence, and the refusal
  * guards. */
class DeltaMirrorSpec extends AnyFunSuite {
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

  test("mirrored log resolves to readSnapshot at every version") {
    val t = freshDir("graft_delta_fid") + "/t"
    LakeWriter.commitSnapshotDynamic(
      docs(90).where($"id" < 60), t, Seq("lang"))
    // dynamic overwrite of ONE partition: removes + adds in the log
    LakeWriter.commitSnapshotDynamic(
      docs(90).where($"id" >= 60 && $"lang" === "en"), t, Seq("lang"))
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 100)
    assert(DeltaMirror.mirror(spark, t) == 3L)
    val gvs = LakeWriter.snapshotVersions(spark, t)
    assert(DeltaMirror.deltaVersions(spark, t) == Seq(0L, 1L, 2L))
    gvs.zipWithIndex.foreach { case (gv, dv) =>
      val viaDelta = DeltaMirror.readDelta(spark, t, Some(dv.toLong))
      val viaGraft = LakeWriter.readSnapshot(spark, t, Some(gv))
      assert(viaDelta.schema.fieldNames.toSeq ==
        viaGraft.schema.fieldNames.toSeq, s"schema order at v$gv")
      assert(rows(viaDelta) == rows(viaGraft), s"rows at v$gv")
    }
    // the dynamic overwrite and the delete both retired files: the
    // log must carry remove actions (resolution is non-trivial)
    val logBody = new java.io.File(s"$t/_delta_log").listFiles()
      .filter(_.getName.endsWith(".json"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)))
      .mkString("\n")
    assert(logBody.contains("\"remove\""))
    assert(logBody.contains("\"partitionValues\":{\"lang\":"))
    // stats is a JSON STRING per the Delta spec — numRecords appears
    // escaped inside it
    assert(logBody.contains("numRecords"))
  }

  test("first commit carries protocol + metaData; partition spec declared") {
    val t = freshDir("graft_delta_meta") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(30), t, Seq("lang"))
    DeltaMirror.mirror(spark, t)
    val c0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 20}.json")))
    assert(c0.contains("\"protocol\""))
    assert(c0.contains("\"minReaderVersion\":1"))
    assert(c0.contains("\"schemaString\""))
    assert(c0.contains("\"partitionColumns\":[\"lang\"]"))
    // schemaString is Spark's schema JSON — Delta's own encoding
    val meta = c0.split('\n').find(_.contains("metaData")).get
    import org.json4s.jackson.JsonMethods
    val sj = (JsonMethods.parse(meta) \ "metaData" \ "schemaString")
      .asInstanceOf[org.json4s.JString].s
    val st = org.apache.spark.sql.types.DataType.fromJson(sj)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSet == Set("id", "lang", "v"))
  }

  test("incremental mirror: resume picks up only new versions; idempotent") {
    val t = freshDir("graft_delta_incr") + "/t"
    LakeWriter.commitSnapshot(docs(50), t)
    assert(DeltaMirror.mirror(spark, t) == 1L)
    assert(DeltaMirror.mirror(spark, t) == 0L) // no-op, byte-stable
    val before = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 20}.json")))
    LakeWriter.commitSnapshot(docs(80).where($"id" >= 50), t, "append")
    LakeWriter.deleteFromSnapshot(spark, t, $"id" === 10)
    assert(DeltaMirror.mirror(spark, t) == 2L)
    val after = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 20}.json")))
    assert(before == after, "resume must not rewrite mirrored commits")
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    // unpartitioned: adds carry empty partitionValues
    val c1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"$t/_delta_log/${"0" * 19}1.json")))
    assert(c1.contains("\"partitionValues\":{}"))
  }

  test("metaData re-emits on schema widening, not on every commit") {
    val t = freshDir("graft_delta_schema") + "/t"
    LakeWriter.commitSnapshot(docs(20), t)
    LakeWriter.commitSnapshot(docs(40).where($"id" >= 20), t, "append")
    LakeWriter.commitSnapshot(
      docs(60).where($"id" >= 40).withColumn("extra", lit(1L)), t,
      "append")
    DeltaMirror.mirror(spark, t)
    def commit(i: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/" +
        ("0" * 19) + i + ".json")))
    assert(commit(0).contains("metaData"))
    assert(!commit(1).contains("metaData"))
    assert(commit(2).contains("metaData"), "widened schema re-declares")
    val viaDelta = DeltaMirror.readDelta(spark, t)
    assert(viaDelta.schema.fieldNames.contains("extra"))
    assert(rows(viaDelta) == rows(LakeWriter.readSnapshot(spark, t)))
  }

  test("column mapping mirrors natively: rename + drop resolve via physicalName") {
    val t = freshDir("graft_delta_cm") + "/t"
    LakeWriter.commitSnapshot(docs(20), t)          // v1: identity
    LakeWriter.renameColumn(spark, t, "v", "value") // v2: colmap on
    LakeWriter.commitSnapshot(                      // v3: append under rename
      docs(30).where($"id" >= 20)
        .withColumnRenamed("v", "value"), t, "append")
    LakeWriter.dropColumn(spark, t, "lang")         // v4: drop
    assert(DeltaMirror.mirror(spark, t) == 4L)
    def commit(i: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/" + ("0" * 19) + i + ".json")))
    // plain protocol at dv0; the UPGRADE rides the rename commit
    assert(commit(0).contains("\"minReaderVersion\":1"))
    assert(commit(1).contains("\"minReaderVersion\":2"))
    assert(commit(1).contains("delta.columnMapping.mode"))
    // physicalName lives INSIDE the escaped schemaString
    assert(commit(1).contains("physicalName\\\":\\\"v\\\""))
    // fidelity at every version through the mapped reader
    val gvs = LakeWriter.snapshotVersions(spark, t)
    gvs.zipWithIndex.foreach { case (gv, dv) =>
      val viaDelta = DeltaMirror.readDelta(spark, t, Some(dv.toLong))
      val viaGraft = LakeWriter.readSnapshot(spark, t, Some(gv))
      assert(viaDelta.schema.fieldNames.toSeq ==
        viaGraft.schema.fieldNames.toSeq, s"schema order at v$gv")
      assert(rows(viaDelta) == rows(viaGraft), s"rows at v$gv")
    }
    assert(DeltaMirror.readDelta(spark, t).columns.toSeq ==
      Seq("id", "value")) // renamed present, dropped gone
  }

  test("refusals: mixed layout (atomic), rewritten history") {
    val t2 = freshDir("graft_delta_refuse2") + "/t"
    LakeWriter.commitSnapshot(docs(20), t2) // unpartitioned v1
    LakeWriter.commitSnapshotDynamic( // evolution: pre-spec files carry
      docs(40).where($"id" >= 20), t2, Seq("lang"))
    // a spec change over carried files is not Delta-expressible —
    // and the refusal is ATOMIC: no partial log wedges the cursor
    val e2 = intercept[RuntimeException](DeltaMirror.mirror(spark, t2))
    assert(e2.getMessage.contains("migratePartitionSpec"))
    assert(!new java.io.File(s"$t2/_delta_log").exists() ||
      DeltaMirror.deltaVersions(spark, t2).isEmpty)
    // the designed escape: migrate to a uniform layout, mirror from
    // the migrated version (pre-evolution history stays graft-only)
    val mv = LakeWriter.migratePartitionSpec(spark, t2)
    assert(DeltaMirror.mirror(spark, t2, fromVersion = Some(mv)) == 1L)
    assert(rows(DeltaMirror.readDelta(spark, t2)) ==
      rows(LakeWriter.readSnapshot(spark, t2)))
    // and later commits resume as diffs on the fromVersion mirror
    LakeWriter.deleteFromSnapshot(spark, t2, $"id" === 5)
    assert(DeltaMirror.mirror(spark, t2) == 1L)
    assert(rows(DeltaMirror.readDelta(spark, t2)) ==
      rows(LakeWriter.readSnapshot(spark, t2)))
  }

  test("checkpoint bounds replay: resolution and resume survive JSON cleanup") {
    val t = freshDir("graft_delta_cp") + "/t"
    LakeWriter.commitSnapshot(docs(10), t)
    // 11 full overwrites: every delta commit carries adds AND removes,
    // so the checkpoint's reconciliation is non-trivial
    (1 to 11).foreach(i =>
      LakeWriter.commitSnapshot(docs(10).withColumn("v", $"v" + i), t))
    assert(DeltaMirror.mirror(spark, t, checkpointEvery = 10) == 12L)
    val log = new java.io.File(s"$t/_delta_log")
    assert(log.listFiles().exists(
      _.getName == ("0" * 18) + "11.checkpoint.parquet"))
    assert(log.listFiles().exists(_.getName == "_last_checkpoint"))
    // the pointer carries the protocol's optional sizing fields
    val lc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint")))
    assert(lc.contains("\"sizeInBytes\":"))
    assert(lc.contains("\"numOfAddFiles\":"))
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    // standard log retention: every JSON commit the checkpoint covers
    // is cleaned up — a month-old streaming mirror. Resolution must
    // come from the checkpoint alone.
    log.listFiles().filter(_.getName.endsWith(".json")).foreach(f =>
      assert(f.delete()))
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    // resume after cleanup: the cursor rides _last_checkpoint's
    // graftVersion, so only the NEW graft version mirrors (JSON tail)
    LakeWriter.commitSnapshot(docs(12), t)
    assert(DeltaMirror.mirror(spark, t, checkpointEvery = 10) == 1L)
    assert(DeltaMirror.deltaVersions(spark, t) == Seq(12L))
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    assert(DeltaMirror.mirror(spark, t, checkpointEvery = 10) == 0L)
    // time travel BELOW the checkpoint with its JSONs gone must
    // refuse loudly, never resolve a partial file set
    val e = intercept[Exception](DeltaMirror.readDelta(spark, t, Some(5L)))
    assert(e.getMessage.contains("cannot resolve"))
  }

  test("contiguity: cleaned-up early commits with no checkpoint refuse loudly") {
    val t = freshDir("graft_delta_gap") + "/t"
    LakeWriter.commitSnapshot(docs(10), t)
    LakeWriter.commitSnapshot(docs(20).where($"id" >= 10), t, "append")
    LakeWriter.commitSnapshot(docs(30).where($"id" >= 20), t, "append")
    assert(DeltaMirror.mirror(spark, t) == 3L)
    assert(new java.io.File(s"$t/_delta_log/${"0" * 20}.json").delete())
    val e = intercept[Exception](DeltaMirror.readDelta(spark, t))
    assert(e.getMessage.contains("cannot resolve"))
    // ...and the metaData lives in the deleted v0, so a silent partial
    // resolution would also have lost the schema — the refusal is
    // what stands between that and wrong rows
  }

  test("add.stats round-trips the manifest's min/max/null stats") {
    val t = freshDir("graft_delta_stats") + "/t"
    LakeWriter.commitSnapshot(
      docs(50).withColumn("maybe",
        when(pmod($"id", lit(5)) === 0, $"id")
          .otherwise(lit(null).cast("long"))), t)
    assert(DeltaMirror.mirror(spark, t) == 1L)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val adds = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 20}.json")))
      .split('\n').toSeq.map(JsonMethods.parse(_))
      .filter(j => (j \ "add") != JNothing)
    assert(adds.nonEmpty)
    val stats = adds.map(j => JsonMethods.parse(
      (j \ "add" \ "stats").asInstanceOf[JString].s))
    def long(j: JValue): Long = j match {
      case JInt(n) => n.toLong
      case other => fail(s"expected int, got $other")
    }
    // per-file stats aggregate back to the table's true stats
    assert(stats.map(s => long(s \ "numRecords")).sum == 50L)
    assert(stats.map(s => long(s \ "minValues" \ "id")).min == 0L)
    assert(stats.map(s => long(s \ "maxValues" \ "id")).max == 49L)
    assert(stats.map(s => long(s \ "nullCount" \ "maybe")).sum == 40L)
    // string stats ride too (foreign engines skip on lang predicates)
    val langs = stats.map(s => (s \ "minValues" \ "lang")
      .asInstanceOf[JString].s)
    assert(langs.forall(Set("de", "en", "fr").contains))
  }

  test("absolute-path adds: converted foreign files mirror without rewrite") {
    val root = freshDir("graft_delta_abs")
    docs(30).coalesce(2).write.parquet(s"$root/external")
    val t = s"$root/t"
    LakeWriter.convertToSnapshot(spark, s"$root/external", t)
    assert(DeltaMirror.mirror(spark, t) == 1L)
    val c0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 20}.json")))
    // adopted files live OUTSIDE the table root: the protocol's
    // absolute-URI add.path form, zero data copied
    assert(c0.contains("\"path\":\"file:"))
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    // a COW DELETE rewrites survivors INTO the table dir: the mirror
    // now carries mixed absolute (untouched adopted) + relative
    // (rewritten) adds, and removes by the absolute name it added
    LakeWriter.deleteFromSnapshot(spark, t, $"id" < 10)
    assert(DeltaMirror.mirror(spark, t) == 1L)
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    assert(DeltaMirror.readDelta(spark, t).count() == 20L)
  }

  test("SetTransaction: txn stamps mirror, persist through checkpoints, no re-emit") {
    val t = freshDir("graft_delta_txn") + "/t"
    LakeWriter.commitSnapshot(docs(10), t, txn = Some("writerA" -> 5L))
    assert(DeltaMirror.mirror(spark, t) == 1L)
    def commit(i: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/" + ("0" * 19) + i + ".json")))
    assert(commit(0).contains("\"txn\""))
    assert(commit(0).contains("\"appId\":\"writerA\""))
    assert(commit(0).contains("\"version\":5"))
    // a commit that does not move the cursor re-emits NOTHING (the
    // map carries forward verbatim on the manifest side)
    LakeWriter.commitSnapshot(docs(20).where($"id" >= 10), t, "append")
    assert(DeltaMirror.mirror(spark, t) == 1L)
    assert(!commit(1).contains("\"txn\""))
    LakeWriter.commitSnapshot(docs(25).where($"id" >= 20), t, "append",
      txn = Some("writerA" -> 6L))
    assert(DeltaMirror.mirror(spark, t) == 1L)
    assert(commit(2).contains("\"version\":6"))
    assert(LakeWriter.lastTxnVersion(spark, t, "writerA").contains(6L))
    // the checkpoint must preserve writer cursors (spec: SetTransaction
    // is part of the reconciled state)
    DeltaMirror.checkpoint(spark, t)
    val cp = spark.read.parquet(
      s"$t/_delta_log/${"0" * 19}2.checkpoint.parquet")
    val txns = cp.where(col("txn").isNotNull)
      .select("txn.appId", "txn.version").collect()
    assert(txns.map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("writerA", 6L)))
    // retention cleanup + resume: an unchanged cursor stays silent, a
    // moved one emits exactly its delta
    new java.io.File(s"$t/_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    LakeWriter.commitSnapshot(docs(28).where($"id" >= 25), t, "append",
      txn = Some("writerB" -> 1L))
    assert(DeltaMirror.mirror(spark, t) == 1L)
    assert(commit(3).contains("\"appId\":\"writerB\""))
    assert(!commit(3).contains("writerA"))
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
  }

  test("column-mapping ids stay monotone across resume after a drop") {
    val t = freshDir("graft_delta_colid") + "/t"
    LakeWriter.commitSnapshot(docs(20), t)           // id, lang, v
    LakeWriter.renameColumn(spark, t, "v", "value")  // colmap on: ids 1,2,3
    assert(DeltaMirror.mirror(spark, t) == 2L)
    LakeWriter.dropColumn(spark, t, "value")         // drops the HIGHEST id
    assert(DeltaMirror.mirror(spark, t) == 1L)
    // resume in a FRESH mirror invocation: the allocator must seed
    // from delta.columnMapping.maxColumnId (3), not the live-field max
    // (2) — the spec forbids reusing a dropped column's id
    LakeWriter.commitSnapshot(
      docs(25).where($"id" >= 20).drop("v").withColumn("extra", lit(1L)),
      t, "append")
    assert(DeltaMirror.mirror(spark, t) == 1L)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 19}3.json")))
      .split('\n').find(_.contains("metaData")).get
    val md = JsonMethods.parse(meta) \ "metaData"
    val schema = org.apache.spark.sql.types.DataType.fromJson(
      (md \ "schemaString").asInstanceOf[JString].s)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val extraId = schema.fields.find(_.name == "extra").get
      .metadata.getLong("delta.columnMapping.id")
    assert(extraId == 4L, s"dropped id 3 must not be reused (got $extraId)")
    assert((md \ "configuration" \ "delta.columnMapping.maxColumnId")
      .asInstanceOf[JString].s == "4")
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
  }

  test("foreign non-hive layout: partition values from add.partitionValues, not paths") {
    // delta-rs and compacted Databricks tables store data files under
    // flat names with NO col= path segments — the protocol makes
    // add.partitionValues authoritative, and a reader inferring from
    // paths would serve silently NULL partition columns here
    val d = freshDir("graft_delta_nonhive")
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    df.coalesce(1).write.parquet(s"$d/f1")
    val df2 = Seq((3L, "z")).toDF("k", "s")
    df2.coalesce(1).write.parquet(s"$d/f2")
    def partOf(sub: String) = new java.io.File(s"$d/$sub").listFiles()
      .map(_.getName).find(_.endsWith(".parquet")).get
    import org.apache.spark.sql.types._
    val full = StructType(df.schema.fields ++ Seq(
      StructField("lang", StringType, true),
      StructField("pid", IntegerType, true)))
    val schema = full.json.replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$d/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$d/_delta_log/${"0" * 20}.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
          |{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["lang","pid"],"configuration":{}}}
          |{"add":{"path":"f1/${partOf("f1")}","partitionValues":{"lang":"en","pid":"7"},"size":1,"modificationTime":0,"dataChange":true}}
          |{"add":{"path":"f2/${partOf("f2")}","partitionValues":{"lang":null,"pid":"9"},"size":1,"modificationTime":0,"dataChange":true}}
          |""").stripMargin.getBytes("UTF-8")): Unit
    val got = DeltaMirror.readDelta(spark, d)
    assert(got.schema.fieldNames.toSeq == Seq("k", "s", "lang", "pid"))
    assert(got.schema("pid").dataType == IntegerType)
    assert(rows(got) == Set("1|x|en|7", "2|y|en|7", "3|z|null|9"))
  }

  test("multi-part checkpoints resolve; a missing part refuses") {
    val t = freshDir("graft_delta_mp") + "/t"
    LakeWriter.commitSnapshot(docs(40), t)
    LakeWriter.commitSnapshot(docs(60).where($"id" >= 40), t, "append")
    LakeWriter.deleteFromSnapshot(spark, t, $"id" < 5)
    assert(DeltaMirror.mirror(spark, t, checkpointEvery = 2) == 3L)
    val log = s"$t/_delta_log"
    val single = s"$log/${"0" * 19}2.checkpoint.parquet"
    // split the classic checkpoint into a 2-part one (the protocol's
    // %020d.checkpoint.%010d.%010d.parquet naming, disjoint actions)
    val cp = spark.read.parquet(single)
    val all = cp.collect().toSeq
    val cut = all.size / 2
    import scala.jdk.CollectionConverters._
    def writePart(rows: Seq[org.apache.spark.sql.Row], i: Int): Unit = {
      val tmp = s"$log/.mp$i"
      spark.createDataFrame(rows.asJava, cp.schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(log,
        f"${2L}%020d.checkpoint.${i}%010d.${2}%010d.parquet")
      assert(part.renameTo(dest))
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete(): Unit
    }
    writePart(all.take(cut), 1)
    writePart(all.drop(cut), 2)
    assert(new java.io.File(single).delete())
    // raw rewrite of the pointer: drop the Hadoop checksum sidecar the
    // mirror's own write left, or LocalFileSystem flags a mismatch
    new java.io.File(log, "._last_checkpoint.crc").delete()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$log/_last_checkpoint"),
      s"""{"version":2,"size":${all.size},"parts":2}"""
        .getBytes("UTF-8")): Unit
    // retention cleanup of everything the checkpoint covers: the two
    // parts are now the only resolution source
    new java.io.File(log).listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    // a missing part must refuse — a partial parse would silently
    // drop that part's live files
    assert(new java.io.File(log,
      f"${2L}%020d.checkpoint.${2}%010d.${2}%010d.parquet").delete())
    val e = intercept[Exception](DeltaMirror.readDelta(spark, t))
    assert(e.getMessage.contains("missing"))
  }

  test("reader conformance: unknown-feature / v2-checkpoint / id-mapping tables refuse loudly") {
    // serving these would be silently WRONG (state this reader cannot
    // resolve, columns misresolve) — the spec's reader contract is to
    // refuse
    def foreignLog(sub: String, protocol: String, extraActs: Seq[String],
                   config: String = "{}"): String = {
      val d = freshDir(s"graft_delta_conf_$sub")
      val df = Seq((1L, "a")).toDF("k", "s")
      df.coalesce(1).write.parquet(s"$d/files")
      val part = new java.io.File(s"$d/files").listFiles()
        .map(_.getName).find(_.endsWith(".parquet")).get
      val schema = df.schema.json.replace("\"", "\\\"")
      new java.io.File(s"$d/_delta_log").mkdirs()
      val add = s"""{"add":{"path":"files/$part","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$d/_delta_log/${"0" * 20}.json"),
        (Seq(protocol,
          s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":$config}}""")
          ++ (if (extraActs.isEmpty) Seq(add) else extraActs))
          .mkString("", "\n", "\n").getBytes("UTF-8")): Unit
      d
    }
    // a reader feature this reader does not implement (protocol v3)
    val v2Table = foreignLog("v2cp",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint","someFutureFeature"],"writerFeatures":["v2Checkpoint"]}}""",
      Seq.empty)
    val e1 = intercept[Exception](DeltaMirror.readDelta(spark, v2Table))
    assert(e1.getMessage.contains("someFutureFeature"))
    // id-mode column mapping: files match by parquet field id
    val idTable = foreignLog("idmode",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      Seq.empty, config = """{"delta.columnMapping.mode":"id"}""")
    val e3 = intercept[Exception](DeltaMirror.readDelta(spark, idTable))
    assert(e3.getMessage.contains("mode=id"))
    // ...and a v3 table whose features we DO implement reads fine
    val okTable = foreignLog("okfeat",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz","deletionVectors"],"writerFeatures":["timestampNtz"]}}""",
      Seq.empty)
    assert(rows(DeltaMirror.readDelta(spark, okTable)) == Set("1|a"))
  }

  test("space-carrying foreign paths: url-encoded add.path joins its partitionValues") {
    // the Delta spec url-encodes add.path ("a b.parquet" rides as
    // "a%20b.parquet"); the partition-value attach joins on Spark's
    // _metadata.file_path, which is ALSO url-encoded — a raw-string
    // key silently dropped every row of such a file (left join), so
    // this pins the encoding end to end
    val d = freshDir("graft_delta_space")
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "s")
    df.coalesce(1).write.parquet(s"$d/sub dir")
    val part = new java.io.File(s"$d/sub dir").listFiles()
      .map(_.getName).find(_.endsWith(".parquet")).get
    import org.apache.spark.sql.types._
    val full = StructType(df.schema.fields :+
      StructField("lang", StringType, true))
    val schema = full.json.replace("\\", "\\\\").replace("\"", "\\\"")
    new java.io.File(s"$d/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$d/_delta_log/${"0" * 20}.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
          |{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["lang"],"configuration":{}}}
          |{"add":{"path":"sub%20dir/$part","partitionValues":{"lang":"en US"},"size":1,"modificationTime":0,"dataChange":true}}
          |""").stripMargin.getBytes("UTF-8")): Unit
    val got = DeltaMirror.readDelta(spark, d)
    assert(rows(got) == Set("1|x|en US", "2|y|en US"))
  }

  test("readDelta honors re-added files (per-action ordering)") {
    // hand-written foreign log: add f1, remove f1, re-add f1 — a
    // set-difference resolution would drop it; per-action order keeps it
    val d = freshDir("graft_delta_foreign")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    df.coalesce(1).write.parquet(s"$d/files")
    val part = new java.io.File(s"$d/files").listFiles()
      .map(_.getName).find(_.endsWith(".parquet")).get
    val schema = df.schema.json.replace("\"", "\\\"")
    new java.io.File(s"$d/_delta_log").mkdirs()
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$d/_delta_log/$name"),
        body.getBytes("UTF-8")): Unit
    write("0" * 20 + ".json",
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{}}}
         |{"add":{"path":"files/$part","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
         |""".stripMargin)
    write("0" * 19 + "1.json",
      s"""{"remove":{"path":"files/$part","dataChange":true}}
         |{"add":{"path":"files/$part","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}
         |""".stripMargin)
    assert(rows(DeltaMirror.readDelta(spark, d)) == rows(df))
    // and at version 0 too
    assert(rows(DeltaMirror.readDelta(spark, d, Some(0L))) == rows(df))
  }

  // ------------------------------------------------------------------
  // deletion vectors (read direction)
  // ------------------------------------------------------------------

  import graft.sources.DeletionVectors

  /** Single-part parquet files of (k, s) rows over the given ranges,
    * in range order (coalesce(1) of a local Seq preserves it, so
    * `_metadata.row_index` == position in the range). Returns
    * (tableDir, relative add paths positionally). */
  private def dvDataFiles(sub: String, ranges: Seq[Range])
      : (String, Seq[String]) = {
    val d = freshDir(sub)
    val rels = ranges.zipWithIndex.map { case (r, i) =>
      r.map(k => (k.toLong, s"s$k")).toDF("k", "s")
        .coalesce(1).write.parquet(s"$d/f$i")
      val part = new java.io.File(s"$d/f$i").listFiles()
        .map(_.getName).find(_.endsWith(".parquet")).get
      s"f$i/$part"
    }
    (d, rels)
  }

  private def dvSchemaJson: String =
    Seq((1L, "a")).toDF("k", "s").schema.json.replace("\"", "\\\"")

  private val dvProtocol =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""

  private def dvMeta: String =
    s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$dvSchemaJson","partitionColumns":[],"configuration":{}}}"""

  private def addJson(rel: String, dv: Option[String]): String =
    s"""{"add":{"path":"$rel","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true${dv.map(d => s""","deletionVector":$d""").getOrElse("")}}}"""

  private def dvJson(storageType: String, pid: String, offset: Option[Int],
                     size: Int, card: Long): String =
    s"""{"storageType":"$storageType","pathOrInlineDv":"$pid"${offset.map(o => s""","offset":$o""").getOrElse("")},"sizeInBytes":$size,"cardinality":$card}"""

  private def inlineDv(deleted: Seq[Long]): String = {
    val bm = DeletionVectors.serialize(deleted.toArray)
    val padded =
      if (bm.length % 4 == 0) bm
      else java.util.Arrays.copyOf(bm, bm.length + 4 - bm.length % 4)
    dvJson("i", DeletionVectors.z85Encode(padded), None, bm.length,
      deleted.size.toLong)
  }

  private def writeLog(d: String, v: Int, lines: Seq[String]): Unit = {
    new java.io.File(s"$d/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$d/_delta_log/$v%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8")): Unit
  }

  test("deletion vectors: on-disk (u, shared .bin), inline and plain files resolve") {
    val (d, rels) = dvDataFiles("graft_delta_dv",
      Seq(0 until 10, 10 until 20, 20 until 30, 30 until 40))
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    // f0 and f3 share one deletion_vector .bin at distinct offsets
    val bm0 = DeletionVectors.serialize(Array(0L, 3L, 7L))
    val bm3 = DeletionVectors.serialize(Array(5L))
    val uuid = java.util.UUID.fromString(
      "0c8cbf3a-88a4-4aae-9ee5-9d2cbe5d12a7")
    new java.io.File(d, "ab").mkdirs()
    val offs = DeletionVectors.writeDvFile(lfs,
      new org.apache.hadoop.fs.Path(s"$d/ab", s"deletion_vector_$uuid.bin"),
      Seq(bm0, bm3))
    val uDv = (bm: Array[Byte], off: Int, card: Long) =>
      dvJson("u", "ab" + DeletionVectors.encodeUuid(uuid), Some(off),
        bm.length, card)
    writeLog(d, 0, Seq(dvProtocol, dvMeta,
      addJson(rels(0), Some(uDv(bm0, offs(0), 3))),
      addJson(rels(1), Some(inlineDv(Seq(1L, 2L, 3L, 4L)))),
      addJson(rels(2), None),
      addJson(rels(3), Some(uDv(bm3, offs(1), 1)))))
    val expected =
      (Seq(1, 2, 4, 5, 6, 8, 9) ++           // f0 minus idx {0,3,7}
        (Seq(10) ++ (15 until 20)) ++        // f1 minus idx {1,2,3,4}
        (20 until 30) ++                     // f2 intact
        ((30 until 40).filterNot(_ == 35)))  // f3 minus idx {5}
        .map(k => s"$k|s$k").toSet
    assert(rows(DeltaMirror.readDelta(spark, d)) == expected)
  }

  test("DV reconciliation keys on (path, dv uniqueId); DVs survive checkpoints") {
    val (d, rels) = dvDataFiles("graft_delta_dvrec", Seq(0 until 10))
    writeLog(d, 0, Seq(dvProtocol, dvMeta, addJson(rels(0), None)))
    // the DELETE commit lists the new-DV add BEFORE the bare remove —
    // path-keyed reconciliation would drop the file entirely
    val dv1 = inlineDv(Seq(0L, 1L))
    writeLog(d, 1, Seq(
      addJson(rels(0), Some(dv1)),
      s"""{"remove":{"path":"${rels(0)}","dataChange":true}}"""))
    val afterDv1 = (2 until 10).map(k => s"$k|s$k").toSet
    assert(rows(DeltaMirror.readDelta(spark, d)) == afterDv1)
    // checkpoint the DV state, clean the covered JSONs: the bitmap
    // descriptor and the feature protocol must ride the checkpoint
    assert(DeltaMirror.checkpoint(spark, d) == 1L)
    new java.io.File(s"$d/_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(rows(DeltaMirror.readDelta(spark, d)) == afterDv1)
    val cp = spark.read.parquet(
      s"$d/_delta_log/${"0" * 19}1.checkpoint.parquet")
    assert(cp.schema("add").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames
      .contains("deletionVector"))
    assert(cp.where(col("protocol").isNotNull)
      .select(col("protocol.readerFeatures")).collect().head
      .getSeq[String](0) == Seq("deletionVectors"))
    // a later DELETE rewrites the DV: remove the old (path, dv1)
    // pairing, add (path, dv2) — resolved through checkpoint + tail
    writeLog(d, 2, Seq(
      s"""{"remove":{"path":"${rels(0)}","dataChange":true,"deletionVector":$dv1}}""",
      addJson(rels(0), Some(inlineDv(Seq(0L, 1L, 2L, 3L, 4L))))))
    assert(rows(DeltaMirror.readDelta(spark, d)) ==
      (5 until 10).map(k => s"$k|s$k").toSet)
  }

  test("DV refusals: cardinality mismatch, duplicate live generations") {
    val (d, rels) = dvDataFiles("graft_delta_dvbad", Seq(0 until 10))
    val bm = DeletionVectors.serialize(Array(0L, 1L))
    val padded = java.util.Arrays.copyOf(bm,
      bm.length + (4 - bm.length % 4) % 4)
    writeLog(d, 0, Seq(dvProtocol, dvMeta, addJson(rels(0), Some(
      dvJson("i", DeletionVectors.z85Encode(padded), None, bm.length, 5)))))
    val e1 = intercept[Exception](DeltaMirror.readDelta(spark, d))
    assert(e1.getMessage.contains("cardinality"))
    // two DV generations of one file live at once: double-serve refusal
    val (d2, rels2) = dvDataFiles("graft_delta_dvdup", Seq(0 until 10))
    writeLog(d2, 0, Seq(dvProtocol, dvMeta,
      addJson(rels2(0), Some(inlineDv(Seq(0L)))),
      addJson(rels2(0), Some(inlineDv(Seq(1L))))))
    val e2 = intercept[Exception](DeltaMirror.readDelta(spark, d2))
    assert(e2.getMessage.contains("more than one"))
  }

  test("change data feed refuses a deletion vector whose bitmap " +
      "cardinality differs from its descriptor, as readDelta does") {
    val (d, rels) = dvDataFiles("graft_delta_cdf_dvbad", Seq(0 until 10))
    val cdfMeta = dvMeta.replace(""""configuration":{}""",
      """"configuration":{"delta.enableChangeDataFeed":"true"}""")
    writeLog(d, 0, Seq(dvProtocol, cdfMeta, addJson(rels(0), None)))
    // a DELETE re-pairs the file under an inline DV of two rows whose
    // descriptor declares five
    val bm = DeletionVectors.serialize(Array(0L, 1L))
    val padded = java.util.Arrays.copyOf(bm,
      bm.length + (4 - bm.length % 4) % 4)
    writeLog(d, 1, Seq(
      s"""{"remove":{"path":"${rels(0)}","dataChange":true}}""",
      addJson(rels(0), Some(dvJson("i", DeletionVectors.z85Encode(padded),
        None, bm.length, 5)))))
    assert(DeltaMirror.readChangeFeed(spark, d, 0, Some(0)).count() == 10L)
    val e = intercept[Exception](
      DeltaMirror.readChangeFeed(spark, d, 1, Some(1)).collect())
    assert(e.getMessage.contains("cardinality"), e.getMessage)
  }

  test("DVs compose with partition columns off the same broadcast") {
    val (d, rels) = dvDataFiles("graft_delta_dvpart",
      Seq(0 until 10, 10 until 20))
    val schema = org.apache.spark.sql.types.StructType(
      Seq((1L, "a")).toDF("k", "s").schema.fields :+
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType, true))
      .json.replace("\"", "\\\"")
    writeLog(d, 0, Seq(dvProtocol,
      s"""{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":["lang"],"configuration":{}}}""",
      s"""{"add":{"path":"${rels(0)}","partitionValues":{"lang":"en"},"size":1,"modificationTime":0,"dataChange":true,"deletionVector":${inlineDv(Seq(0L, 9L))}}}""",
      s"""{"add":{"path":"${rels(1)}","partitionValues":{"lang":"de"},"size":1,"modificationTime":0,"dataChange":true}}"""))
    val expected = ((1 until 9).map(k => s"$k|s$k|en") ++
      (10 until 20).map(k => s"$k|s$k|de")).toSet
    assert(rows(DeltaMirror.readDelta(spark, d)) == expected)
  }

  test("checkpoint preserves writerFeatures + domainMetadata; unknown actions refuse") {
    val (d, rels) = dvDataFiles("graft_delta_wf", Seq(0 until 5))
    writeLog(d, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata","appendOnly"]}}""",
      dvMeta, addJson(rels(0), None),
      """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"c\":1}","removed":false}}"""))
    assert(DeltaMirror.checkpoint(spark, d) == 0L)
    val cp = spark.read.parquet(
      s"$d/_delta_log/${"0" * 20}.checkpoint.parquet")
    assert(cp.where(col("protocol").isNotNull)
      .select(col("protocol.writerFeatures")).collect().head
      .getSeq[String](0) == Seq("appendOnly", "domainMetadata"))
    val dm = cp.where(col("domainMetadata").isNotNull)
      .select("domainMetadata.domain", "domainMetadata.configuration",
        "domainMetadata.removed").collect()
    assert(dm.map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSeq == Seq(("delta.clustering", """{"c":1}""", false)))
    // cleaned-up JSONs: the checkpointed state still serves, and a
    // REPLAY from it still carries the domain + features forward
    new java.io.File(s"$d/_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(rows(DeltaMirror.readDelta(spark, d)) ==
      (0 until 5).map(k => s"$k|s$k").toSet)
    // an action kind replay does not model refuses to checkpoint —
    // a flattened base would silently drop it
    val (d2, rels2) = dvDataFiles("graft_delta_unk", Seq(0 until 5))
    writeLog(d2, 0, Seq(dvProtocol,
      dvMeta, addJson(rels2(0), None),
      """{"fancyNewAction":{"x":1}}"""))
    val e = intercept[Exception](DeltaMirror.checkpoint(spark, d2))
    assert(e.getMessage.contains("fancyNewAction"))
  }

  test("in-commit timestamps: monotone stamps, TIMESTAMP AS OF, cleanup-safe floor") {
    val t = freshDir("graft_delta_ict") + "/t"
    LakeWriter.commitSnapshot(docs(10), t)
    LakeWriter.commitSnapshot(docs(20).where($"id" >= 10), t, "append")
    LakeWriter.commitSnapshot(docs(30).where($"id" >= 20), t, "append")
    DeltaMirror.mirror(spark, t)
    def commitJson(i: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/" + f"$i%020d" + ".json")),
      "UTF-8")
    // the feature is declared, not just stamped: writer v7 + the full
    // writerFeatures list + the enablement table property
    assert(commitJson(0).contains("\"minWriterVersion\":7"))
    assert(commitJson(0).contains("\"writerFeatures\":[\"inCommitTimestamp\"]"))
    assert(commitJson(0).contains("delta.enableInCommitTimestamps"))
    def ictOf(i: Int): Long =
      "\"inCommitTimestamp\":(\\d+)".r.findFirstMatchIn(commitJson(i))
        .getOrElse(fail(s"commit $i carries no inCommitTimestamp"))
        .group(1).toLong
    val icts = (0 to 2).map(ictOf)
    assert(icts(0) < icts(1) && icts(1) < icts(2),
      s"ICTs not strictly increasing: $icts")
    // TIMESTAMP AS OF resolves against the stamps themselves
    assert(rows(DeltaMirror.readDeltaTimestamp(spark, t, icts(1))) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(2L))))
    assert(rows(DeltaMirror.readDeltaTimestamp(spark, t, icts(2) + 5)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    val e = intercept[Exception](
      DeltaMirror.readDeltaTimestamp(spark, t, icts(0) - 1))
    assert(e.getMessage.contains("no surviving commit"))
    // the monotonicity floor survives checkpoint + covered-JSON
    // cleanup: the next commit's stamp still exceeds every prior one
    DeltaMirror.checkpoint(spark, t)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint")), "UTF-8")
      .contains("\"ict\":"))
    DeltaMirror.cleanupLog(spark, t, 1)
    LakeWriter.commitSnapshot(docs(35).where($"id" >= 30), t, "append")
    DeltaMirror.mirror(spark, t)
    assert(ictOf(3) > icts(2), "ICT floor lost across cleanup")
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
  }

  test("resumed pre-ICT mirrors stay legacy: no mid-history enablement") {
    val t = freshDir("graft_delta_ictleg") + "/t"
    LakeWriter.commitSnapshot(docs(5), t)
    val root = new java.io.File(t)
    def parquets(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquets)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val rels = parquets(root).map(_.getAbsolutePath
      .stripPrefix(root.getAbsolutePath + "/"))
    val schema = LakeWriter.readSnapshot(spark, t).schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    // a hand-written legacy (pre-ICT) mirror commit for graft v1
    new java.io.File(s"$t/_delta_log").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 20}.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"leg","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{}}}""") ++
        rels.map(r =>
          s"""{"add":{"path":"$r","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""") :+
        """{"commitInfo":{"timestamp":1000,"graftVersion":1}}""")
        .mkString("", "\n", "\n").getBytes("UTF-8")): Unit
    LakeWriter.commitSnapshot(docs(8).where($"id" >= 5), t, "append")
    DeltaMirror.mirror(spark, t) // resume extends the LEGACY log
    val c1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 19}1.json")), "UTF-8")
    assert(!c1.contains("inCommitTimestamp"),
      "legacy mirror must not stamp ICT without the feature enabled")
    assert(!c1.contains("minWriterVersion"),
      "legacy mirror must not upgrade protocol mid-history")
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
  }

  test("hive-escaped partition dirs: add.path RFC-encodes, values decode logically") {
    // '=' hive-escapes to %3D in the partition DIRECTORY name; the
    // Delta spec says a reader URL-DECODES add.path, so the mirror
    // must write the dir's '%' as %25 for the decode to land back on
    // the real file — and the partitionValues map must carry the
    // decoded LOGICAL value. Spaces ride the same path.
    val t = freshDir("graft_delta_esc") + "/t"
    val df = Seq((1L, "a=b"), (2L, "a=b"), (3L, "c d"), (4L, "p+q"))
      .toDF("id", "lang")
    LakeWriter.commitSnapshotDynamic(df, t, Seq("lang"))
    DeltaMirror.mirror(spark, t)
    val c0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_delta_log/${"0" * 20}.json")), "UTF-8")
    assert(c0.contains("%253D"), "on-disk %3D not re-encoded to %253D")
    assert(c0.contains("\"lang\":\"a=b\""))
    assert(c0.contains("\"lang\":\"c d\"") && c0.contains("\"lang\":\"p+q\""))
    // round-trip: graft's own reader resolves the encoded paths AND
    // attaches the logical values
    val got = DeltaMirror.readDelta(spark, t)
    assert(rows(got) == Set("1|a=b", "2|a=b", "3|c d", "4|p+q"))
    // resume stays stable: no new versions => byte-identical log
    assert(DeltaMirror.mirror(spark, t) == 0L)
    // and a COW delete over the escaped partitions mirrors cleanly
    LakeWriter.deleteFromSnapshot(spark, t, $"id" === 2L)
    assert(DeltaMirror.mirror(spark, t) == 1L)
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      Set("1|a=b", "3|c d", "4|p+q"))
  }

  test("a partition COLUMN name needing hive path escaping mirrors: " +
      "values come from the escaped on-disk segment") {
    // Spark escapes the column name in the directory too (`a:b` lands
    // in `a%3Ab=…`), so a raw-name match finds no segment and would
    // take every file for one that predates the partition spec
    val t = freshDir("graft_delta_esccol") + "/t"
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y z"), (4L, "p=q"))
      .toDF("id", "a:b")
    LakeWriter.commitSnapshotDynamic(df, t, Seq("a:b"))
    assert(new java.io.File(s"$t/data").listFiles().head.list()
      .exists(_.startsWith("a%3Ab=")))
    assert(DeltaMirror.mirror(spark, t) == 1L)
    LakeWriter.deleteFromSnapshot(spark, t, $"id" === 2L)
    assert(DeltaMirror.mirror(spark, t) == 1L)
    LakeWriter.snapshotVersions(spark, t).zipWithIndex.foreach {
      case (gv, dv) =>
        assert(rows(DeltaMirror.readDelta(spark, t, Some(dv.toLong))) ==
          rows(LakeWriter.readSnapshot(spark, t, Some(gv))), s"rows at v$gv")
    }
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      Set("1|x", "3|y z", "4|p=q"))
  }

  test("cleanupLog cdc reclaim is layout-safe: foreign hive-nested " +
      "cdc files delete file-by-file (a shared partition dir " +
      "survives); graft's own per-commit dirs reclaim whole") {
    val t = freshDir("graft_delta_cdc_clean") + "/t"
    val log = java.nio.file.Paths.get(s"$t/_delta_log")
    java.nio.file.Files.createDirectories(log)
    // FOREIGN layout: cdc files of DIFFERENT commits share one hive
    // partition dir. GRAFT layout: per-commit v<dv>-<8 hex> dir.
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$t/_change_data/lang=en"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$t/_change_data/v0-0123abcd/lang=en"))
    Seq("lang=en/cdc-0.parquet", "lang=en/cdc-1.parquet",
      "v0-0123abcd/lang=en/cdc.parquet").foreach(p =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$t/_change_data/$p"),
        "x".getBytes("UTF-8")))
    def commit(v: Long, cdcPaths: Seq[String]): Unit =
      java.nio.file.Files.write(log.resolve(f"$v%020d.json"),
        (Seq("""{"commitInfo":{"operation":"WRITE"}}""") ++
          cdcPaths.map(p => s"""{"cdc":{"path":"_change_data/$p",""" +
            """"partitionValues":{},"size":1,"dataChange":false}}"""))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    commit(0L, Seq("lang=en/cdc-0.parquet",
      "v0-0123abcd/lang=en/cdc.parquet"))
    commit(1L, Seq("lang=en/cdc-1.parquet"))
    commit(2L, Seq.empty)
    // name-discovered checkpoint at 0 (content never read by cleanup)
    java.nio.file.Files.write(
      log.resolve(f"${0L}%020d.checkpoint.parquet"),
      Array.emptyByteArray)
    // retain 2 of tip 2 => only commit 0 (covered by the cp) deletes
    assert(DeltaMirror.cleanupLog(spark, t, retainVersions = 2) == 1)
    def exists(p: String) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$t/_change_data/$p"))
    assert(!exists("lang=en/cdc-0.parquet"), "commit 0's cdc survives")
    assert(!exists("v0-0123abcd"), "graft per-commit dir not reclaimed")
    // the fix: commit 1 STILL references this file — pre-fix the
    // recursive delete of the shared lang=en dir destroyed it
    assert(exists("lang=en/cdc-1.parquet"),
      "a surviving commit's cdc file was destroyed by dir-wide reclaim")
  }

  test("cleanupLog: deletes only covered-and-expired commits; strict refusals spell the fix") {
    val t = freshDir("graft_delta_clean") + "/t"
    LakeWriter.commitSnapshot(docs(20), t)
    (1 to 4).foreach(i =>
      LakeWriter.commitSnapshot(docs(20 + i * 5).where($"id" >= 20 + (i - 1) * 5),
        t, "append"))
    DeltaMirror.mirror(spark, t) // delta 0..4, no checkpoint yet
    // nothing is covered: strict refuses with the fix, non-strict no-ops
    val e1 = intercept[Exception](DeltaMirror.cleanupLog(spark, t, 2))
    assert(e1.getMessage.contains("no checkpoint"))
    assert(DeltaMirror.cleanupLog(spark, t, 2, strict = false) == 0)
    DeltaMirror.checkpoint(spark, t) // cp at tip (4)
    // the only checkpoint sits ABOVE the floor retain=3 implies:
    // deleting sub-floor commits would strand versions 2..3
    val e2 = intercept[Exception](DeltaMirror.cleanupLog(spark, t, 3))
    assert(e2.getMessage.contains("no checkpoint"))
    // retain=1: everything the tip checkpoint covers deletes
    assert(DeltaMirror.cleanupLog(spark, t, 1) == 5)
    assert(DeltaMirror.deltaVersions(spark, t).isEmpty)
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    val e3 = intercept[Exception](
      DeltaMirror.readDelta(spark, t, Some(1L)))
    assert(e3.getMessage.contains("cannot resolve"))
    // second era: two more versions, a second checkpoint, one tail
    // version — cleanup keeps the newest boundary checkpoint, prunes
    // the superseded one, and every surviving version still resolves
    LakeWriter.commitSnapshot(docs(45).where($"id" >= 40), t, "append")
    LakeWriter.commitSnapshot(docs(50).where($"id" >= 45), t, "append")
    DeltaMirror.mirror(spark, t) // delta 5, 6
    DeltaMirror.checkpoint(spark, t) // cp at 6 (cp 4 still on disk)
    LakeWriter.commitSnapshot(docs(55).where($"id" >= 50), t, "append")
    DeltaMirror.mirror(spark, t) // delta 7
    // time travel below the newest checkpoint resolves via the OLDER
    // surviving checkpoint (4) + tail — discovery is listing-based
    assert(rows(DeltaMirror.readDelta(spark, t, Some(5L))) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(6L))))
    assert(DeltaMirror.cleanupLog(spark, t, 2) == 2) // drops JSONs 5,6
    assert(!new java.io.File(
      s"$t/_delta_log/${"0" * 19}4.checkpoint.parquet").exists(),
      "superseded checkpoint not pruned")
    assert(rows(DeltaMirror.readDelta(spark, t, Some(6L))) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(7L))))
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    val e4 = intercept[Exception](
      DeltaMirror.readDelta(spark, t, Some(5L)))
    assert(e4.getMessage.contains("cannot resolve"))
  }

  test("v2 checkpoints resolve: parquet top + sidecars, inline adds, json top") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val t = freshDir("graft_delta_v2cp") + "/t"
    LakeWriter.commitSnapshot(docs(10), t)
    LakeWriter.commitSnapshot(docs(20).where($"id" >= 10), t, "append")
    LakeWriter.commitSnapshot(docs(30).where($"id" >= 20), t, "append")
    DeltaMirror.mirror(spark, t)
    val cv = DeltaMirror.checkpoint(spark, t)
    val log = s"$t/_delta_log"
    val classic = s"$log/" + f"$cv%020d" + ".checkpoint.parquet"
    val cpDf = spark.read.parquet(classic)
    val all = cpDf.collect().toSeq
    val addIdx = cpDf.schema.fieldIndex("add")
    val (addRows, nonFile) = all.partition(r => !r.isNullAt(addIdx))
    // --- build the v2 layout: 2 sidecars + 1 inline add + top ---
    val scDir = new java.io.File(s"$log/_sidecars"); scDir.mkdirs()
    def writeSidecar(rows: Seq[org.apache.spark.sql.Row],
                     name: String): Unit = {
      val tmp = s"$log/.sc_$name"
      spark.createDataFrame(rows.asJava, cpDf.schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      assert(part.renameTo(new java.io.File(scDir, name)))
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete(): Unit
    }
    val inlineAdd = addRows.head
    val scAdds = addRows.tail
    val half = scAdds.size / 2
    writeSidecar(scAdds.take(half), "sc1.parquet")
    writeSidecar(scAdds.drop(half), "sc2.parquet")
    val cpMetaT = StructType(Seq(
      StructField("version", LongType, true),
      StructField("tags", MapType(StringType, StringType, true), true)))
    val sidecarT = StructType(Seq(
      StructField("path", StringType, true),
      StructField("sizeInBytes", LongType, true)))
    val topSchema = StructType(cpDf.schema.fields ++ Seq(
      StructField("checkpointMetadata", cpMetaT, true),
      StructField("sidecar", sidecarT, true)))
    def pad(r: org.apache.spark.sql.Row) =
      org.apache.spark.sql.Row.fromSeq(r.toSeq ++ Seq(null, null))
    def extraRow(i: Int, v: Any) = org.apache.spark.sql.Row.fromSeq(
      Seq.fill[Any](cpDf.schema.length)(null) ++
        (if (i == 0) Seq(v, null) else Seq(null, v)))
    val topRows = (nonFile :+ inlineAdd).map(pad) ++ Seq(
      extraRow(0, org.apache.spark.sql.Row(cv, null)),
      extraRow(1, org.apache.spark.sql.Row("sc1.parquet", 1L)),
      extraRow(1, org.apache.spark.sql.Row("sc2.parquet", 1L)))
    val topTmp = s"$log/.v2top"
    spark.createDataFrame(topRows.asJava, topSchema)
      .coalesce(1).write.mode("overwrite").parquet(topTmp)
    val topName = f"$cv%020d" + ".checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.parquet"
    assert(new java.io.File(topTmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
      .renameTo(new java.io.File(log, topName)))
    new java.io.File(topTmp).listFiles().foreach(_.delete())
    new java.io.File(topTmp).delete()
    // retire the classic artifacts: v2 is now the only base
    assert(new java.io.File(classic).delete())
    new java.io.File(log).listFiles()
      .filter(_.getName.endsWith(".json")).foreach(f => assert(f.delete()))
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    // resume RIDES the v2 base: a new graft version mirrors as a tail
    LakeWriter.commitSnapshot(docs(35).where($"id" >= 30), t, "append")
    assert(DeltaMirror.mirror(spark, t) == 1L)
    assert(rows(DeltaMirror.readDelta(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    // --- json-format v2 top, second table from the same actions ---
    val t2 = freshDir("graft_delta_v2json") + "/t"
    LakeWriter.commitSnapshot(docs(30), t2)
    DeltaMirror.mirror(spark, t2)
    val log2 = s"$t2/_delta_log"
    val c2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$log2/${"0" * 20}.json")), "UTF-8")
      .split('\n').toSeq
    val cp2 = DeltaMirror.checkpoint(spark, t2)
    val cpDf2 = spark.read.parquet(
      s"$log2/" + f"$cp2%020d" + ".checkpoint.parquet")
    new java.io.File(s"$log2/_sidecars").mkdirs()
    val adds2 = cpDf2.collect().toSeq
      .filter(r => !r.isNullAt(cpDf2.schema.fieldIndex("add")))
    val tmp2 = s"$log2/.sc"
    spark.createDataFrame(adds2.asJava, cpDf2.schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp2)
    assert(new java.io.File(tmp2).listFiles()
      .find(_.getName.endsWith(".parquet")).get
      .renameTo(new java.io.File(s"$log2/_sidecars", "a.parquet")))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$log2/" + f"$cp2%020d" + ".checkpoint.b1b2.json"),
      (c2.filter(l => l.contains("\"protocol\"") ||
        l.contains("\"metaData\"")) ++ Seq(
        s"""{"checkpointMetadata":{"version":$cp2}}""",
        """{"sidecar":{"path":"a.parquet","sizeInBytes":1}}"""))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(new java.io.File(
      s"$log2/" + f"$cp2%020d" + ".checkpoint.parquet").delete())
    new java.io.File(log2).listFiles()
      .filter(f => f.getName.matches("\\d{20}\\.json"))
      .foreach(f => assert(f.delete()))
    assert(rows(DeltaMirror.readDelta(spark, t2)) ==
      rows(LakeWriter.readSnapshot(spark, t2)))
    // --- a missing sidecar refuses loudly ---
    assert(new java.io.File(scDir, "sc2.parquet").delete())
    val e = intercept[Exception](DeltaMirror.readDelta(spark, t))
    assert(e.getMessage.contains("sidecar") &&
      e.getMessage.contains("missing"))
  }

  test("readDeltaWhere prunes files by add.stats bounds, nullCount " +
      "and partitionValues — exactly") {
    import org.apache.spark.sql.functions.col
    // range pruning: three disjoint-range files adopted + mirrored
    val t = freshDir("graft_delta_prune") + "/t"
    (0 to 2).foreach { k =>
      spark.range(k * 10L, k * 10L + 10L).toDF("id")
        .withColumn("v", $"id" * 2)
        .coalesce(1).write.parquet(s"$t/raw/f$k")
    }
    LakeWriter.convertToSnapshot(spark, s"$t/raw", s"$t/tbl")
    DeltaMirror.mirror(spark, s"$t/tbl")
    val pruned = DeltaMirror.readDeltaWhere(spark, s"$t/tbl",
      col("id") >= 20)
    assert(pruned.inputFiles.length == 1, pruned.inputFiles.toSeq)
    assert(rows(pruned) == rows(
      LakeWriter.readSnapshot(spark, s"$t/tbl").where($"id" >= 20)))
    // IS NULL with zero null counts proves every file empty
    val none = DeltaMirror.readDeltaWhere(spark, s"$t/tbl",
      col("id").isNull)
    assert(none.inputFiles.isEmpty)
    assert(none.count() == 0)
    // partitionValues pruning on a partitioned mirror
    val t2 = freshDir("graft_delta_prune2") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(90), t2, Seq("lang"))
    DeltaMirror.mirror(spark, t2)
    val en = DeltaMirror.readDeltaWhere(spark, t2, col("lang") === "en")
    assert(en.inputFiles.nonEmpty &&
      en.inputFiles.forall(_.contains("lang=en")), en.inputFiles.toSeq)
    assert(rows(en) == rows(
      LakeWriter.readSnapshot(spark, t2).where($"lang" === "en")))
  }

  test("driver-resident log state: live-file ceiling refuses loudly") {
    val d = freshDir("graft_delta_ceiling")
    new java.io.File(s"$d/_delta_log").mkdirs()
    writeLog(d, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      dvMeta) ++ (0 until 25).map(i =>
      s"""{"add":{"path":"f$i.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}"""))
    spark.conf.set("spark.graft.delta.maxLiveFiles", "10")
    try {
      val e = intercept[Exception](DeltaMirror.readDelta(spark, d))
      assert(e.getMessage.contains("maxLiveFiles"))
    } finally spark.conf.unset("spark.graft.delta.maxLiveFiles")
  }

  // ----------------------------------------------------------------
  // change data feed
  // ----------------------------------------------------------------

  test("change data feed: cdc files on mixed commits, synthesis on " +
      "pure ones, feed == changesBetween per version") {
    val t = freshDir("graft_delta_cdf") + "/t"
    val base = docs(60)
    val v1 = LakeWriter.commitSnapshot(base, t)
    // merge: rewrite some rows + insert new ones (mixed commit -> cdc)
    val v2 = LakeWriter.mergeSnapshot(
      docs(70).where($"id" >= 50).withColumn("v", $"id" * 100),
      t, Seq("id"))
    // delete (mixed: rewrites survivors)
    val v3 = LakeWriter.deleteFromSnapshot(spark, t, $"v" >= 5000)
    // append-only commit (no cdc file; synthesized inserts)
    val v4 = LakeWriter.commitSnapshot(
      docs(80).where($"id" >= 70), t, "append")
    assert(DeltaMirror.mirror(spark, t, changeDataFeed = true) == 4L)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def acts(dv: Long): Seq[JValue] = {
      val p = java.nio.file.Paths.get(t, "_delta_log", f"$dv%020d.json")
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .split('\n').toSeq.filter(_.trim.nonEmpty)
        .map(JsonMethods.parse(_))
    }
    def kinds(dv: Long): Set[String] = acts(dv).flatMap {
      case JObject(fs) => fs.map(_._1)
      case _ => Nil
    }.toSet
    // protocol announces the feature; metaData carries the config
    val p0 = acts(0).flatMap(j => j \ "protocol" match {
      case JNothing => Nil; case p => List(p) }).head
    assert((p0 \ "writerFeatures").values.asInstanceOf[List[_]]
      .contains("changeDataFeed"))
    val md0 = acts(0).flatMap(j => j \ "metaData" match {
      case JNothing => Nil; case m => List(m) }).head
    assert((md0 \ "configuration" \ "delta.enableChangeDataFeed")
      == JString("true"))
    // v0 insert-only and v3 append-only carry NO cdc action; the two
    // mixed commits (merge, delete) do
    assert(!kinds(0).contains("cdc"))
    assert(kinds(1).contains("cdc"))
    assert(kinds(2).contains("cdc"))
    assert(!kinds(3).contains("cdc"))
    // feed fidelity per version: readChangeFeed == the canonical
    // derivation (update-image pairing included for the merge)
    val graftVs = Seq(v1, v2, v3, v4)
    graftVs.zipWithIndex.drop(1).foreach { case (gv, dv) =>
      val want = rows(LakeWriter.changeFeedBetween(
        spark, t, graftVs(dv - 1), gv))
      val got = rows(DeltaMirror.readChangeFeed(spark, t,
        dv.toLong, Some(dv.toLong)).drop("_commit_version").drop("_commit_timestamp"))
      assert(got == want, s"feed at delta v$dv (graft v$gv)")
    }
    // the MERGE commit (delta v1) pairs rewritten keys into update
    // images: ids 50-59 existed and were updated (pre+post), 60-69
    // are fresh inserts
    val mf = DeltaMirror.readChangeFeed(spark, t, 1, Some(1))
    val byType = mf.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType.get("update_preimage").contains(10L), byType)
    assert(byType.get("update_postimage").contains(10L), byType)
    assert(byType.get("insert").contains(10L), byType)
    assert(mf.where($"_change_type" === "update_postimage" &&
      $"id" === 55L).select("v").as[Long].head() == 5500L)
    assert(mf.where($"_change_type" === "update_preimage" &&
      $"id" === 55L).select("v").as[Long].head() == 550L)
    // initial commit synthesizes the full base as inserts
    assert(rows(DeltaMirror.readChangeFeed(spark, t, 0, Some(0))
      .drop("_commit_version").drop("_commit_timestamp")) ==
      rows(base.withColumn("_change_type", lit("insert"))))
    // whole-range read carries the per-commit versions and the
    // ICT-resolved _commit_timestamp, strictly monotone per commit
    val all = DeltaMirror.readChangeFeed(spark, t, 0)
    assert(all.select("_commit_version").distinct.as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 3L))
    val ts = all.select($"_commit_version", $"_commit_timestamp")
      .distinct.orderBy($"_commit_version").collect()
    assert(ts.length == 4 && ts.forall(_.get(1) != null))
    assert(ts.map(_.getTimestamp(1).getTime).sliding(2)
      .forall(a => a.length < 2 || a(0) < a(1)))
  }

  test("streaming CDF consumption: AvailableNow drains pending " +
      "versions == batch feed; fresh-checkpoint replay skips on the " +
      "txn stamp; a later commit drains incrementally") {
    val d = freshDir("graft_delta_cdf_stream")
    val t = s"$d/t"; val out = s"$d/out"
    val base = docs(60)
    LakeWriter.commitSnapshot(base, t)
    LakeWriter.mergeSnapshot(
      docs(70).where($"id" >= 50).withColumn("v", $"id" * 100),
      t, Seq("id"))
    LakeWriter.deleteFromSnapshot(spark, t, $"v" >= 5000)
    DeltaMirror.mirror(spark, t, changeDataFeed = true)
    // drain deltas 0..2 in one AvailableNow invocation
    assert(DeltaMirror.streamChangeFeedInto(spark, t, out,
      s"$d/ckpt1") == 2L)
    val want02 = rows(DeltaMirror.readChangeFeed(spark, t, 0, Some(2))
      .drop("_commit_timestamp"))
    assert(rows(LakeWriter.readSnapshot(spark, out)) == want02)
    // same checkpoint again: nothing pending, nothing double-applied
    assert(DeltaMirror.streamChangeFeedInto(spark, t, out,
      s"$d/ckpt1") == 2L)
    assert(rows(LakeWriter.readSnapshot(spark, out)) == want02)
    // FRESH checkpoint = worst-case replay (crash lost the cursor):
    // every version replays and SKIPS on its stamp — no double rows
    assert(DeltaMirror.streamChangeFeedInto(spark, t, out,
      s"$d/ckpt2") == 2L)
    assert(rows(LakeWriter.readSnapshot(spark, out)) == want02)
    // a later commit drains incrementally on the live checkpoint
    LakeWriter.commitSnapshot(
      docs(80).where($"id" >= 70), t, "append")
    DeltaMirror.mirror(spark, t, changeDataFeed = true)
    assert(DeltaMirror.streamChangeFeedInto(spark, t, out,
      s"$d/ckpt1") == 3L)
    assert(rows(LakeWriter.readSnapshot(spark, out)) ==
      rows(DeltaMirror.readChangeFeed(spark, t, 0, Some(3))
        .drop("_commit_timestamp")))
  }

  test("streaming CDF: commits older than the file source's default " +
      "7-day maxFileAge still drain (age-based eviction is disabled " +
      "— a skipped commit would be masked by the stamp forever)") {
    val d = freshDir("graft_delta_cdf_oldage")
    val t = s"$d/t"; val out = s"$d/out"
    LakeWriter.commitSnapshot(docs(40), t)
    DeltaMirror.mirror(spark, t, changeDataFeed = true)
    // first drain establishes a LIVE checkpoint (the first batch is
    // exempt from maxFileAge, so the eviction only bites on later
    // drains — exactly the shape exercised here)
    assert(DeltaMirror.streamChangeFeedInto(spark, t, out,
      s"$d/ckpt") == 0L)
    // two more commits land; v1's JSON carries an mtime 30 days older
    // than v2's — with the stock 7-day maxFileAge the live-checkpoint
    // drain would list only v2, and the txn stamp (2 > absorbed)
    // would hide v1 forever
    LakeWriter.commitSnapshot(docs(50).where($"id" >= 40), t, "append")
    LakeWriter.commitSnapshot(docs(60).where($"id" >= 50), t, "append")
    DeltaMirror.mirror(spark, t, changeDataFeed = true)
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    assert(new java.io.File(s"$t/_delta_log", f"${1L}%020d.json")
      .setLastModified(old))
    assert(DeltaMirror.streamChangeFeedInto(spark, t, out,
      s"$d/ckpt") == 2L)
    assert(rows(LakeWriter.readSnapshot(spark, out)) ==
      rows(DeltaMirror.readChangeFeed(spark, t, 0, Some(2))
        .drop("_commit_timestamp")))
  }

  test("change data feed: compaction encodes as dataChange=false and " +
      "contributes nothing; feed range below the log floor refuses") {
    val t = freshDir("graft_delta_cdf2") + "/t"
    LakeWriter.commitSnapshot(docs(40), t)
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 50)
    // compaction: files rewrite, rows do not
    LakeWriter.compactSnapshot(spark, t, 2)
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 80)
    assert(DeltaMirror.mirror(spark, t, changeDataFeed = true,
      checkpointEvery = 3) == 4L)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def acts(dv: Long): Seq[JValue] = {
      val p = java.nio.file.Paths.get(t, "_delta_log", f"$dv%020d.json")
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .split('\n').toSeq.filter(_.trim.nonEmpty)
        .map(JsonMethods.parse(_))
    }
    // the compaction commit (delta v2): adds+removes all
    // dataChange=false, no cdc action
    val a2 = acts(2)
    val addDc = a2.flatMap(j => j \ "add" \ "dataChange" match {
      case JBool(b) => List(b); case _ => Nil })
    val remDc = a2.flatMap(j => j \ "remove" \ "dataChange" match {
      case JBool(b) => List(b); case _ => Nil })
    assert(addDc.nonEmpty && addDc.forall(_ == false))
    assert(remDc.nonEmpty && remDc.forall(_ == false))
    assert(!a2.exists(j => (j \ "cdc") != JNothing))
    // ... so the feed at v2 is EMPTY, and the v1/v3 deletes carry
    // exactly the net changes
    assert(DeltaMirror.readChangeFeed(spark, t, 2, Some(2)).count() == 0L)
    val f3 = DeltaMirror.readChangeFeed(spark, t, 3, Some(3))
    assert(rows(f3.drop("_commit_version").drop("_commit_timestamp")) ==
      rows(LakeWriter.changesBetween(spark, t, 3, 4)))
    // retention-clean the early commits (checkpoint at 3 covers
    // them); the cdc files they referenced are reclaimed with them
    val cdc1 = acts(1).flatMap(j => j \ "cdc" \ "path" match {
      case JString(p) => List(p); case _ => Nil })
    assert(cdc1.nonEmpty)
    assert(DeltaMirror.cleanupLog(spark, t, retainVersions = 1) > 0)
    cdc1.foreach { rel =>
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(t, rel)), s"cdc file $rel leaked")
      // the whole per-commit _change_data dir reclaims with it — a
      // streaming cadence must not leak one empty dir tree per commit
      val dir = rel.split('/').take(2).mkString("/")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(t, dir)), s"cdc dir $dir leaked")
    }
    // the feed below the floor is gone — refuse, never partial
    val e = intercept[Exception](
      DeltaMirror.readChangeFeed(spark, t, 1, Some(3)))
    assert(e.getMessage.contains("retention"))
    // resumed mirroring keeps the feed alive past the cleanup
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 120)
    DeltaMirror.mirror(spark, t, changeDataFeed = true)
    assert(rows(DeltaMirror.readChangeFeed(spark, t, 4, Some(4))
      .drop("_commit_version").drop("_commit_timestamp")) ==
      rows(LakeWriter.changesBetween(spark, t, 4, 5)))
  }

  test("maintainSnapshotEvery(deltaChangeDataFeed) keeps a CDF mirror " +
      "current per call, and the feed stays on once enabled (sticky)") {
    val t = freshDir("graft_delta_cdf_maint") + "/t"
    LakeWriter.commitSnapshot(docs(40), t)
    LakeWriter.maintainSnapshotEvery(spark, t, 0, mirrorDelta = true,
      deltaChangeDataFeed = true)
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 60)
    LakeWriter.maintainSnapshotEvery(spark, t, 0, mirrorDelta = true,
      deltaChangeDataFeed = true)
    assert(rows(DeltaMirror.readChangeFeed(spark, t, 1, Some(1))
      .drop("_commit_version").drop("_commit_timestamp")) ==
      rows(LakeWriter.changesBetween(spark, t, 1, 2)))
    // sticky: a later maintenance call WITHOUT the flag must keep the
    // feed alive (a CDF consumer must never see it silently stop)
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 100)
    LakeWriter.maintainSnapshotEvery(spark, t, 0, mirrorDelta = true)
    assert(rows(DeltaMirror.readChangeFeed(spark, t, 2, Some(2))
      .drop("_commit_version").drop("_commit_timestamp")) ==
      rows(LakeWriter.changesBetween(spark, t, 2, 3)))
  }

  test("change data feed: a mid-range re-partitioning with an " +
      "identical schemaString refuses loudly") {
    // hand-built foreign CDF log: REPLACE TABLE ... PARTITIONED BY
    // keeps schemaString identical but changes partitionColumns — the
    // final partCols would misattach values for pre-change slices
    val t = freshDir("graft_delta_cdf_repart") + "/t"
    val log = java.nio.file.Paths.get(t, "_delta_log")
    java.nio.file.Files.createDirectories(log)
    val schemaStr = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    def meta(parts: String): String =
      s"""{"metaData":{"id":"m1","format":{"provider":"parquet","options":{}},"schemaString":"$schemaStr","partitionColumns":[$parts],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1}}"""
    // one real parquet file so the synthesized insert can scan
    spark.range(0, 5).toDF("id").coalesce(1)
      .write.parquet(s"$t/files")
    val f = new java.io.File(s"$t/files").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getName
    def add(path: String): String =
      s"""{"add":{"path":"$path","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    java.nio.file.Files.write(log.resolve("00000000000000000000.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        meta("\"lang\""), add(s"files/$f"))
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    java.nio.file.Files.write(log.resolve("00000000000000000001.json"),
      (Seq(meta(""), add(s"files/$f"))
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      DeltaMirror.readChangeFeed(spark, t, 0, Some(1)).collect())
    assert(e.getMessage.contains("partitionColumns changed"))
    // each side of the split reads fine on its own (v1's REPLACE
    // governs its own adds)
    assert(DeltaMirror.readChangeFeed(spark, t, 1, Some(1))
      .count() == 5L)
    // ... but a range-start REPLACE that also REMOVES files written
    // under the previous partitioning refuses: their delete rows
    // cannot be synthesized with the new state
    java.nio.file.Files.write(log.resolve("00000000000000000002.json"),
      (Seq(meta("\"lang\""),
        s"""{"remove":{"path":"files/$f","deletionTimestamp":1,"dataChange":true}}""",
        add(s"files/$f"))
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    val e2 = intercept[RuntimeException](
      DeltaMirror.readChangeFeed(spark, t, 2, Some(2)).collect())
    assert(e2.getMessage.contains("removes files"))
    // ... and the hole is closed for LATER commits too: a range whose
    // FIRST commit replaces the partitioning must also refuse when a
    // SUBSEQUENT commit removes a pre-range file (its delete rows
    // would read with a state it was never written under)
    val t2 = freshDir("graft_delta_cdf_repart2") + "/t"
    val log2 = java.nio.file.Paths.get(t2, "_delta_log")
    java.nio.file.Files.createDirectories(log2)
    spark.range(0, 5).toDF("id").coalesce(1)
      .write.parquet(s"$t2/files")
    spark.range(5, 9).toDF("id").coalesce(1)
      .write.parquet(s"$t2/files2")
    val g1 = new java.io.File(s"$t2/files").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getName
    val g2 = new java.io.File(s"$t2/files2").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getName
    java.nio.file.Files.write(log2.resolve("00000000000000000000.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        meta("\"lang\""), add(s"files/$g1"), add(s"files2/$g2"))
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    java.nio.file.Files.write(log2.resolve("00000000000000000001.json"),
      (Seq(meta(""), add(s"files/$g1"))
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    java.nio.file.Files.write(log2.resolve("00000000000000000002.json"),
      (s"""{"remove":{"path":"files2/$g2","deletionTimestamp":1,"dataChange":true}}""" +
        "\n").getBytes("UTF-8"))
    val e3 = intercept[RuntimeException](
      DeltaMirror.readChangeFeed(spark, t2, 1, Some(2)).collect())
    assert(e3.getMessage.contains("removes files"))
    // the same range is fine when the removed file was added by the
    // range itself (post-replacement era)
    java.nio.file.Files.write(log2.resolve("00000000000000000002.json"),
      (s"""{"remove":{"path":"files/$g1","deletionTimestamp":1,"dataChange":true}}""" +
        "\n").getBytes("UTF-8"))
    assert(DeltaMirror.readChangeFeed(spark, t2, 1, Some(2))
      .where($"_change_type" === "delete").count() == 5L)
  }

  test("change data feed: partitioned tables attach partition values " +
      "from cdc partitionValues; legacy resumed mirror refuses CDF") {
    val t = freshDir("graft_delta_cdf3") + "/t"
    LakeWriter.commitSnapshotDynamic(docs(60), t, Seq("lang"))
    LakeWriter.deleteFromSnapshot(spark, t, $"v" < 100 && $"lang" === "en")
    DeltaMirror.mirror(spark, t, changeDataFeed = true)
    val f1 = DeltaMirror.readChangeFeed(spark, t, 1, Some(1))
    assert(rows(f1.drop("_commit_version").drop("_commit_timestamp")) ==
      rows(LakeWriter.changesBetween(spark, t, 1, 2)))
    // every feed row resolved its lang (partition values attached)
    assert(f1.where($"lang".isNull).count() == 0L)
  }
}
