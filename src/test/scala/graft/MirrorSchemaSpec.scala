package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MetadataBuilder,
  StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaMirror, IcebergMirror, LakeWriter}

/** The mirrors take each version's logical schema from its manifest
  * (`LakeWriter.readSchema`) instead of planning a whole-snapshot
  * read for `.schema`; what they publish must be exactly what
  * `readSnapshot(v).schema` serves. */
class MirrorSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lastDeltaSchema(t: String): StructType = {
    val log = new java.io.File(s"$t/_delta_log")
    val metas = log.listFiles().map(_.getName)
      .filter(_.matches("\\d{20}\\.json")).sorted
      .flatMap(n => java.nio.file.Files.readAllLines(
        new java.io.File(log, n).toPath).toArray(Array.empty[String])
        .filter(_.startsWith("{\"metaData\"")))
    val JString(s) = JsonMethods.parse(metas.last) \ "metaData" \
      "schemaString": @unchecked
    val st = DataType.fromJson(s).asInstanceOf[StructType]
    // strip the column-mapping keys the mirror adds on a renamed table
    StructType(st.fields.map { f =>
      val b = new MetadataBuilder().withMetadata(f.metadata)
      b.remove("delta.columnMapping.id")
      b.remove("delta.columnMapping.physicalName")
      f.copy(metadata = b.build())
    })
  }

  private def icebergFields(t: String): Seq[JValue] = {
    val md = new java.io.File(s"$t/metadata")
    val n = md.listFiles().map(_.getName)
      .collect { case s if s.matches("v\\d+\\.metadata\\.json") =>
        s.drop(1).takeWhile(_.isDigit).toInt }.max
    val j = JsonMethods.parse(new java.io.File(md, s"v$n.metadata.json"))
    val JInt(id) = j \ "current-schema-id": @unchecked
    val JArray(schemas) = j \ "schemas": @unchecked
    val JArray(fields) = schemas.find(_ \ "schema-id" == JInt(id)).get \
      "fields": @unchecked
    fields
  }

  test("manifest-derived schema equals readSnapshot's at every version, " +
      "and both mirrors publish it (empty version, non-nullable and " +
      "partition columns, nested nullability, renamed column)") {
    val t = java.nio.file.Files.createTempDirectory("graft_mirror_schema")
      .toString + "/t"
    val df = spark.range(0, 30).toDF("id")
      .withColumn("p", coalesce($"id" % 3, lit(0L)))
      .withColumn("arr", array($"id"))
      .withColumn("x", lit("a").as("x",
        new MetadataBuilder().putString("comment", "kept").build()))
    assert(!df.schema("id").nullable && !df.schema("p").nullable)
    assert(!df.schema("arr").dataType.asInstanceOf[ArrayType].containsNull)
    val steps: Seq[() => Unit] = Seq(
      () => LakeWriter.commitSnapshotDynamic(df, t, Seq("p")): Unit,
      () => LakeWriter.renameColumn(spark, t, "x", "y"): Unit,
      () => LakeWriter.deleteFromSnapshotMor(spark, t, $"id" < 3): Unit,
      () => LakeWriter.deleteFromSnapshot(spark, t, lit(true)): Unit)
    var sawEmpty = false
    steps.foreach { step =>
      step()
      val v = LakeWriter.snapshotVersions(spark, t).last
      val m = LakeWriter.manifest(spark, t, v)
      sawEmpty ||= m.files.isEmpty
      val served = LakeWriter.readSnapshot(spark, t, Some(v)).schema
      assert(LakeWriter.readSchema(m) == served, s"v$v")
      DeltaMirror.mirror(spark, t)
      assert(lastDeltaSchema(t) == served, s"delta schemaString at v$v")
      IcebergMirror.mirror(spark, t, allowV3 = true)
      val ice = icebergFields(t)
      assert(ice.map(f => (f \ "name").values) ==
        served.fieldNames.toSeq, s"iceberg fields at v$v")
      val arrNullable = served("arr").dataType
        .asInstanceOf[ArrayType].containsNull
      assert(ice.find(f => (f \ "name") == JString("arr")).get \ "type" \
        "element-required" == JBool(!arrNullable),
        s"iceberg element-required at v$v")
    }
    assert(sawEmpty, "the fixture must reach a version with no files")
  }
}
