package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaMirror, IcebergMirror, LakeWriter}

/** Every snapshot read plans ONE parquet scan over a manifest-fed file
  * index: no union of per-directory scans, no broadcast join of
  * deletion vectors, no listing job, and a manifest entry whose file
  * is gone fails the read instead of being skipped. */
class SnapshotScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString + "/t"

  /** The executed plan's nodes, AQE stages included, after running
    * the frame's own execution. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p.children.flatMap(walk)
    })
    walk(df.queryExecution.executedPlan)
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    nodes(df).collect { case s: FileSourceScanExec => s }

  private def noBroadcast(df: DataFrame): Unit =
    assert(!nodes(df).exists {
      case _: BroadcastExchangeExec | _: BroadcastHashJoinExec => true
      case _ => false
    }, df.queryExecution.executedPlan.toString)

  /** v1 dynamic commit (partitions 0..3), v2 dynamic commit of new
    * partitions 4, 5, v3 append (partition 6), v4 a merge-on-read
    * delete landing a DV on one file of each version directory. */
  private lazy val table: String = {
    val t = tmp("scan")
    LakeWriter.commitSnapshotDynamic(spark.range(0, 40).toDF("id")
      .withColumn("p", $"id" % 4).coalesce(1), t, Seq("p"))
    LakeWriter.commitSnapshotDynamic(spark.range(100, 120).toDF("id")
      .withColumn("p", lit(4L) + $"id" % 2).coalesce(1), t, Seq("p"))
    LakeWriter.commitSnapshot(spark.range(200, 220).toDF("id")
      .withColumn("p", lit(6L)).coalesce(1), t, "append")
    LakeWriter.deleteFromSnapshotMor(spark, t, $"id".isin(1, 101, 201))
    t
  }

  test("readSnapshot, readSnapshotWhere and changesBetween on a " +
      "partitioned table with DVs in three version dirs each scan every " +
      "file of a side in one scan node: no union of scans, no broadcast") {
    val files = LakeWriter.snapshotFiles(spark, table, 4L)
    val dirs = files.map(f => "/data/v\\d+-[^/]+/".r.findFirstIn(f).get)
    assert(dirs.distinct.size == 3, dirs)
    val dvFiles = graft.sources.Manifest.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"$table/_manifests/v4.json")), "UTF-8")).dvs.keySet
    assert(dvFiles.size == 3, dvFiles)

    val snap = LakeWriter.readSnapshot(spark, table)
    val one = scans(snap)
    assert(one.size == 1, snap.queryExecution.executedPlan)
    assert(one.head.relation.location.inputFiles.length == files.size)
    assert(!nodes(snap).exists(_.isInstanceOf[UnionExec]))
    noBroadcast(snap)
    assert(snap.count() == 77L)
    assert(snap.where($"id".isin(1, 101, 201)).count() == 0L)

    val where = LakeWriter.readSnapshotWhere(spark, table, $"id" >= 0)
    assert(scans(where).size == 1, where.queryExecution.executedPlan)
    assert(!nodes(where).exists(_.isInstanceOf[UnionExec]))
    noBroadcast(where)
    assert(where.count() == 77L)

    // each side (the DV-changed files under the old and the new DVs)
    // is one scan of all three files, however often collapse reads it
    val feed = LakeWriter.changesBetween(spark, table, 3L, 4L)
    val sides = scans(feed).map(_.relation.location).distinct
    assert(sides.size == 2, feed.queryExecution.executedPlan)
    assert(sides.forall(_.inputFiles.length == 3))
    noBroadcast(feed)
    assert(feed.select($"id", $"_change_type").as[(Long, String)].collect()
      .sorted.toSeq == Seq((1L, "delete"), (101L, "delete"), (201L, "delete")))
  }

  test("readDelta, readChangeFeed, readIceberg and readIcebergChanges " +
      "each plan one scan node") {
    val t = tmp("scan_mirrors")
    val df = spark.range(0, 30).toDF("id")
      .withColumn("p", $"id" % 3)
      .withColumn("x", concat(lit("a"), $"id"))
    LakeWriter.commitSnapshotDynamic(df, t, Seq("p"))
    LakeWriter.renameColumn(spark, t, "x", "y")
    LakeWriter.deleteFromSnapshotMor(spark, t, $"id" < 3)
    LakeWriter.commitSnapshot(spark.range(30, 36).toDF("id")
      .withColumn("p", $"id" % 3)
      .withColumn("y", concat(lit("a"), $"id")), t, "append")
    DeltaMirror.mirror(spark, t, changeDataFeed = true)
    IcebergMirror.mirror(spark, t, allowV3 = true)
    val snaps = IcebergMirror.icebergSnapshots(spark, t).map(_._1)
    val reads = Seq(
      "readDelta" -> DeltaMirror.readDelta(spark, t),
      "readChangeFeed" -> DeltaMirror.readChangeFeed(spark, t, 2, Some(2)),
      "readIceberg" -> IcebergMirror.readIceberg(spark, t),
      "readIcebergChanges" ->
        IcebergMirror.readIcebergChanges(spark, t, snaps(1), snaps(2)))
    reads.foreach { case (name, r) =>
      assert(r.count() > 0L, name)
      assert(scans(r).size == 1, s"$name: ${r.queryExecution.executedPlan}")
      noBroadcast(r)
    }
    assert(reads(0)._2.count() == 33L && reads(2)._2.count() == 33L)
  }

  test("a k=v directory in the table's own location is no partition: " +
      "reads and dynamic commits take the values below the version dir") {
    val t = java.nio.file.Files.createTempDirectory("graft_loc")
      .toString + "/p=9/t"
    LakeWriter.commitSnapshotDynamic(spark.range(0, 6).toDF("id")
      .withColumn("p", $"id" % 2), t, Seq("p"))
    // replaces partition p=1 only
    LakeWriter.commitSnapshotDynamic(Seq((10L, 1L)).toDF("id", "p"), t,
      Seq("p"))
    assert(LakeWriter.readSnapshot(spark, t).select("id", "p")
      .as[(Long, Long)].collect().sorted.toSeq ==
      Seq((0L, 0L), (2L, 0L), (4L, 0L), (10L, 1L)))
  }

  test("planning readSnapshot of a 40-file table runs no Spark job") {
    val t = tmp("scan_nolist")
    LakeWriter.commitSnapshot(spark.range(0, 400).toDF("id")
      .repartition(40), t)
    assert(LakeWriter.snapshotFiles(spark, t, 1L).size == 40)
    assert(SparkJobs.during(spark) {
      LakeWriter.readSnapshot(spark, t).queryExecution.executedPlan: Unit
    } == 0)
    assert(LakeWriter.readSnapshot(spark, t).count() == 400L)
  }

  test("a manifest entry whose file is missing fails the read, also " +
      "under spark.sql.files.ignoreMissingFiles, with or without its " +
      "recorded length") {
    val t = tmp("scan_missing")
    LakeWriter.commitSnapshot(spark.range(0, 20).toDF("id").repartition(2), t)
    val gone = LakeWriter.snapshotFiles(spark, t, 1L).head
    new java.io.File(new java.net.URI(gone).getPath).delete(): Unit
    val k = "spark.sql.files.ignoreMissingFiles"
    spark.conf.set(k, "true")
    def failure(): String = {
      val e = intercept[Exception](LakeWriter.readSnapshot(spark, t).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString("\n")
    }
    try {
      val name = gone.substring(gone.lastIndexOf('/') + 1)
      assert(failure().contains(name))
      // a manifest written before lengths were recorded: the index
      // stats the file and the stat fails
      val mp = java.nio.file.Paths.get(s"$t/_manifests/v1.json")
      val m = graft.sources.Manifest.parse(
        new String(java.nio.file.Files.readAllBytes(mp), "UTF-8"))
      assert(m.lengths.nonEmpty)
      java.nio.file.Files.write(mp,
        m.copy(lengths = Map.empty).render.getBytes("UTF-8"))
      new java.io.File(s"$t/_manifests/.v1.json.crc").delete(): Unit
      assert(failure().contains(name))
    } finally spark.conf.unset(k)
  }
}

/** Counts the Spark jobs `body` runs on this thread, and the input
  * rows their tasks read (a job group tags them, so other suites' jobs
  * never count). */
object SparkJobs {
  def during(spark: SparkSession)(body: => Unit): Int =
    counted(spark)(body)._1

  def rowsRead(spark: SparkSession)(body: => Unit): Long =
    counted(spark)(body)._2

  private def counted(spark: SparkSession)(body: => Unit): (Int, Long) = {
    val jobs = new AtomicInteger
    val rows = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val group = s"graft-spec-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "counted")
    try {
      body
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      (jobs.get, rows.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
