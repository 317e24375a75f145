package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeWriter

/** The copy-on-write MERGE evaluates its `updates` plan once: the
  * rows land first, and the probe and the survivors' anti-join read
  * the landed keys back, so a non-deterministic input can neither
  * duplicate a key nor lose one. */
class CowMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a copy-on-write MERGE of a non-deterministic updates frame " +
      "keeps exactly one row per key and loses none, flat and " +
      "partitioned") {
    val coin = udf(() => scala.util.Random.nextDouble()).asNondeterministic()
    Seq(false, true).foreach { partitioned =>
      val t = java.nio.file.Files.createTempDirectory("graft_cow_merge")
        .toString + "/t"
      val base = spark.range(1, 1001).toDF("id")
        .withColumn("v", lit("old")).withColumn("p", $"id" % 4)
        .repartition(4)
      if (partitioned) LakeWriter.commitSnapshotDynamic(base, t, Seq("p"))
      else LakeWriter.commitSnapshot(base, t)
      val updates = spark.range(1, 1001).toDF("id").where(coin() < 0.5)
        .withColumn("v", lit("new")).withColumn("p", $"id" % 4)
      LakeWriter.mergeSnapshot(updates, t,
        if (partitioned) Seq("id", "p") else Seq("id"))
      val got = LakeWriter.readSnapshot(spark, t)
      val dup = got.groupBy("id").count().where($"count" > 1).count()
      val keys = got.select("id").distinct().count()
      assert((got.count(), dup, keys) == ((1000L, 0L, 1000L)),
        s"partitioned=$partitioned")
    }
  }
}
