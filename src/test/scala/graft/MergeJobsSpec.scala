package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeWriter
import graft.streaming.Speed

/** The small commits of a lambda day run few Spark jobs: a MERGE probes
  * only the files whose manifest key ranges can hold an update key,
  * in one shuffle-free pass. Each bound is one below the count the
  * two-pass build ran (recorded in `parent`), so a probe that regains
  * a job fails here. */
class MergeJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Spark jobs the two-pass build ran for each case. */
  private val parent = Map("cow" -> 3, "mor" -> 9, "speed" -> 9)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString

  /** Every job the context starts while `body` runs, on any thread (a
    * streaming drain runs its batches on the query's own thread). */
  private def jobs(spark: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      n.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a one-row MERGE of a new key into a table of disjoint key " +
      "ranges runs only its landing job") {
    val t = tmp("jobs_cow") + "/t"
    LakeWriter.commitSnapshot(spark.range(0, 1000, 1, 20).toDF("id")
      .withColumn("v", $"id" * 10), t)
    assert(LakeWriter.snapshotFiles(spark, t, 1L).size == 20)
    val n = jobs(spark) {
      LakeWriter.mergeSnapshot(Seq((5000L, 1L)).toDF("id", "v"), t,
        Seq("id")): Unit
    }
    info(s"$n jobs (two-pass build: ${parent("cow")})")
    assert(n == 1 && n < parent("cow"), s"$n jobs")
    // every old file carried by reference, the new key appended
    val m = LakeWriter.manifest(spark, t, 2L)
    assert(LakeWriter.snapshotFiles(spark, t, 1L).toSet.subsetOf(m.files.toSet))
    assert(LakeWriter.readSnapshot(spark, t).count() == 1001L)
  }

  test("an 8-row MOR upsert into a multi-file table runs fewer jobs") {
    val t = tmp("jobs_mor") + "/t"
    LakeWriter.commitSnapshot(spark.range(0, 800, 1, 8).toDF("id")
      .withColumn("v", $"id" * 10), t)
    val u = Seq(5L, 105L, 205L, 305L, 405L, 505L, 605L, 9000L)
      .map(i => (i, -i)).toDF("id", "v")
    val n = jobs(spark) {
      LakeWriter.mergeSnapshotMor(u, t, Seq("id")): Unit
    }
    info(s"$n jobs (two-pass build: ${parent("mor")})")
    assert(n < parent("mor"), s"$n jobs")
    assert(LakeWriter.manifest(spark, t, 2L).dvs.size == 7)
    val back = LakeWriter.readSnapshot(spark, t)
    assert(back.count() == 801L)
    assert(back.where($"v" < 0).select("id").as[Long].collect().sorted
      .toSeq == Seq(5L, 105L, 205L, 305L, 405L, 505L, 605L, 9000L))
  }

  test("one speed-layer drain runs fewer jobs") {
    val dir = tmp("jobs_speed")
    val landing = s"$dir/landing"
    val schema = "user_id long, ts timestamp, event_id long, v long"
    def land(rows: Seq[(Long, Long, Long)]): Unit =
      rows.toDF("user_id", "sec", "event_id")
        .select($"user_id", timestamp_seconds($"sec").as("ts"), $"event_id",
          ($"event_id" * 2).as("v"))
        .coalesce(1).write.mode("append").parquet(landing)
    def drain(): Unit =
      Speed.upsertToSnapshot(spark.readStream.schema(schema).parquet(landing),
        s"$dir/t", Seq("user_id"), "ts", "event_id", s"$dir/ckpt")
        .awaitTermination()
    land((0L until 40L).map(u => (u, 100L, u)))
    drain()
    land(Seq((3L, 200L, 1003L), (3L, 300L, 2003L), (7L, 200L, 1007L),
      (77L, 200L, 1077L)))
    val n = jobs(spark)(drain())
    info(s"$n jobs (two-pass build: ${parent("speed")})")
    assert(n < parent("speed"), s"$n jobs")
    val back = LakeWriter.readSnapshot(spark, s"$dir/t")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(back.size == 41)
    assert(back(3L) == 2003L && back(7L) == 1007L && back(77L) == 1077L &&
      back(5L) == 5L)
  }
}
