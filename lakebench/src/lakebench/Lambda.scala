package lakebench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.LakehousePipeline
import graft.sources.{Catalog, LakeWriter}
import graft.streaming.Speed

/** A lambda lake fed one datadate at a time, exactly as a daily
  * scheduler drives it: land the day's raw file, run the batch layer
  * (`runDate`, versioned dims), drain the landing directory into the
  * speed table, pin the day's snapshot tables in the catalog, then
  * serve the day's dashboard reads ([[ServeMix]]). Ground truth for
  * every output check comes from the generator. */
final class LambdaLake(spark: SparkSession, tracer: Tracer, root: Path,
                       profile: Profile, seed: Long) {
  private val gen = new EventGen(profile, seed)
  private val inputs = root.resolve("inputs")
  private val rawRoot = root.resolve("raw")
  private val rawEvents = rawRoot.resolve("events.parquet")
  val lake: Path = root.resolve("lake")
  val curatedPath: String = lake.resolve("curated").toString
  val factPath: String = lake.resolve("curated/fact_events").toString
  val eventTypePath: String = lake.resolve("curated/dim_event_type").toString
  val userStatePath: String = lake.resolve("curated/dim_user_state").toString
  val ledgerPath: String = lake.resolve("_meta/load_ledger").toString
  val speedPath: String = lake.resolve("speed/user_latest").toString
  private val speedCheckpoint = lake.resolve("_checkpoints/speed").toString
  val catalogPath: String = lake.resolve("catalog").toString

  private val landings = mutable.Map.empty[Int, Seq[Event]]
  private val results = mutable.Map.empty[Int, LakehousePipeline.DayResult]
  private val loaded = mutable.ArrayBuffer.empty[Int]
  /** user -> the event the speed table must hold for that user. */
  val speedTruth: mutable.Map[Long, Event] = mutable.Map.empty
  /** speed table version -> expected (user -> event_id). */
  val speedStates: mutable.Map[Long, Map[Long, Long]] = mutable.Map.empty
  /** catalog commit -> (day, dim_user_state version, ledger version). */
  val commits: mutable.Map[Long, (Int, Long, Long)] = mutable.Map.empty
  var inputBytes = 0L
  private val serve = new ServeMix(spark, tracer, this, seed)
  private val served = mutable.Map.empty[Int, Seq[(ServeMix.Op, Seq[String])]]

  def lastDay: Int = loaded.last
  def speedExpected: Map[Long, Long] = speedTruth.view.mapValues(_.eventId).toMap

  /** Writes the landing files of `days` under inputs/ (set-up work). */
  def generate(days: Seq[Int]): Unit = days.foreach { d =>
    val events = gen.landing(d)
    landings(d) = events
    val dir = inputs.resolve(f"day-$d%03d").toString
    spark.createDataFrame(events.map(_.row).asJava, Gen.EventSchema)
      .coalesce(1).write.parquet(dir)
    inputBytes += partFile(d).toFile.length()
  }

  def rows(d: Int): Long = landings(d).size.toLong

  private def partFile(d: Int): Path = {
    val s = Files.list(inputs.resolve(f"day-$d%03d"))
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  /** One datadate, end to end. */
  def day(d: Int): Unit = {
    Files.createDirectories(rawEvents)
    Files.move(partFile(d), rawEvents.resolve(f"day-$d%03d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    results(d) = tracer.span("pipeline.runDate") {
      tracer.stage("pipeline.runDate.prep", writes = false)
      try LakehousePipeline.runDate(spark, rawRoot.toString, lake.toString, Gen.date(d),
        versionedDims = true,
        probe = (stage, _) => tracer.stage(s"pipeline.runDate.$stage", writes = true))
      finally tracer.endStage()
    }
    tracer.span("streaming.Speed.upsertToSnapshot", writes = true) {
      val landing = spark.readStream.schema(Gen.EventSchema).parquet(rawEvents.toString)
        .where(col("user_id").isNotNull)
      Speed.upsertToSnapshot(landing, speedPath, Seq("user_id"), "ts", "event_id",
        speedCheckpoint, maintainEvery = 4).awaitTermination()
    }
    loaded += d
    landings(d).filter(_.userId != null).groupBy(_.userId.longValue)
      .foreach { case (u, es) => speedTruth(u) = es.maxBy(e => (e.tsMicros, e.eventId)) }
    Main.untimed {
      val versions = LakeWriter.snapshotVersions(spark, speedPath)
      versions.filterNot(speedStates.contains).foreach(v => speedStates(v) = speedExpected)
      speedStates.keys.filterNot(versions.contains).foreach(speedStates.remove)
    }
    val c = tracer.span("sources.Catalog.commit", writes = true) {
      Catalog.commit(spark, catalogPath, Map(
        "dim_user_state" -> userStatePath, "load_ledger" -> ledgerPath, "speed" -> speedPath))
    }
    Main.untimed {
      commits(c) = (d, LakeWriter.snapshotVersions(spark, userStatePath).last,
        LakeWriter.snapshotVersions(spark, ledgerPath).last)
    }
    served(d) = serve.burst(d).map(op => op -> serve.run(op))
  }

  /** The output checks of day `d`, run concurrently; each string is one failed check. */
  def check(d: Int): Seq[String] = {
    val r = results(d)
    val expectedStg = landings(d).count(e => e.userId != null && e.day == d).toLong
    val dayCheck = () =>
      Option.when(r.skipped || r.factRows != r.stgRows || r.stgRows != expectedStg)(
        s"stg ${r.stgRows} fact ${r.factRows} expected $expectedStg")
    val ledgerCheck = () => {
      val ledger = LakeWriter.readSnapshot(spark, ledgerPath).groupBy("datadate").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      Option.when(ledger != loaded.map(x => Gen.date(x) -> 1L).toMap)(s"ledger holds $ledger")
    }
    val scd2Check = () => {
      LakeWriter.readSnapshot(spark, userStatePath).createOrReplaceTempView("lb_scd2")
      val scd = spark.sql(
        """SELECT count_if(opens <> 1), coalesce(sum(overlaps), 0) FROM (
          |  SELECT user_id, count_if(is_current) opens,
          |         count_if(prev_to > effective_from) overlaps
          |  FROM (SELECT *, lag(effective_to) OVER (PARTITION BY user_id
          |        ORDER BY effective_from) prev_to FROM lb_scd2)
          |  GROUP BY user_id)""".stripMargin).head()
      Option.when(scd.getLong(0) != 0 || scd.getLong(1) != 0)(
        s"scd2 users without one open version ${scd.getLong(0)}, overlaps ${scd.getLong(1)}")
    }
    val speedCheck = () => {
      val speed = LakeWriter.readSnapshot(spark, speedPath).select("user_id", "event_id")
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val truth = speedExpected
      Option.when(speed != truth)(
        s"speed table differs from latest-per-user on ${(speed.toSet diff truth.toSet).size} rows")
    }
    val serveChecks = served(d).map { case (op, got) => () => serve.check(op, got) }
    Lake.concurrently(Seq(dayCheck, ledgerCheck, scd2Check, speedCheck) ++ serveChecks)
      .flatten.map(p => s"day $d: $p")
  }
}
