package lakebench

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, LakeWriter, Views}

/** The day's dashboard traffic over the lake, after its load: one small
  * merge-on-read upsert into the speed table, then one rollup, top-N and
  * time series in SQL over the fact and dims, a live-state count, a point
  * lookup and a change feed on the speed table, and an AS OF join at an
  * older catalog commit. Every read resolves its tables at query time:
  * SQL reads register the curated zone (and the pinned versions) through
  * `graft.sources.Views` inside their span. SQL reads are checked
  * against the same SQL over the plain parquet files of the snapshot
  * versions they should see; speed-table reads against the generator's
  * expected state. Every day issues the same query shapes (seeded users,
  * states and commits), so days differ in history, not in query cost. */
final class ServeMix(spark: SparkSession, tracer: Tracer, lake: LambdaLake, seed: Long) {
  import ServeMix._
  private val rnd = new SplittableRandom(seed ^ 0x5e7e)
  private var nextEventId = 1L << 40
  private val states = Seq("CLICK", "ERROR", "PURCHASE", "SIGNUP", "VIEW")
  private val sk = (d: Int) => Gen.date(d).replace("-", "").toInt

  /** The upsert and the reads after the day `d` load. The upsert goes
    * first, so every read sees the speed table as it stands when the
    * day's checks run. */
  def burst(d: Int): Seq[Op] = {
    val (first, last) = (sk(lake.commits.values.map(_._1).min), sk(d))
    val users = lake.speedTruth.keys.toIndexedSeq.sorted
    val older = lake.commits.filter(_._2._1 < d).keys.toIndexedSeq.sorted
    Seq(Upsert(Seq.fill(8)(users(rnd.nextInt(users.size))).distinct),
      Rollup(first, last), TopN(first, last), Series(states(rnd.nextInt(states.size))),
      Live, Point(users(rnd.nextInt(users.size)))) ++
      older.lift(rnd.nextInt(math.max(1, older.size))).map(AsOf).toSeq :+
      Changes
  }

  private val current = "dim_user_state u ON f.user_id = u.user_id AND u.is_current"
  private val cents = "sum(CAST(round(f.value * 100) AS BIGINT))"

  private def sql(op: Op, p: String): String = op match {
    case Rollup(a, b) =>
      s"""SELECT u.state, et.event_type, count(*), $cents FROM ${p}fact_events f
         |JOIN ${p}dim_event_type et ON f.event_type_sk = et.event_type_sk
         |JOIN ${p}$current WHERE f.date_sk BETWEEN $a AND $b
         |GROUP BY ROLLUP(u.state, et.event_type)""".stripMargin
    case TopN(a, b) =>
      s"""SELECT f.user_id, u.state, count(*), $cents c FROM ${p}fact_events f
         |JOIN ${p}$current WHERE f.date_sk BETWEEN $a AND $b
         |GROUP BY f.user_id, u.state ORDER BY c DESC, f.user_id LIMIT 10""".stripMargin
    case Series(s) =>
      s"""SELECT f.date_sk, hour(f.ts), count(*), $cents FROM ${p}fact_events f
         |JOIN ${p}$current WHERE u.state = '$s' GROUP BY 1, 2""".stripMargin
    case AsOf(_) =>
      s"""SELECT u.state, count(*), $cents FROM ${p}fact_events f
         |JOIN ${p}dim_asof u ON f.user_id = u.user_id
         |  AND f.ts >= u.effective_from AND f.ts < u.effective_to
         |WHERE f.date_sk <= (SELECT max(CAST(replace(datadate, '-', '') AS INT))
         |                    FROM ${p}ledger_asof)
         |GROUP BY u.state""".stripMargin
    case other => sys.error(s"no SQL for $other")
  }

  private def render(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toSeq.mkString("|"))

  private def plainRead(table: String, version: Long): DataFrame =
    spark.read.parquet(LakeWriter.snapshotFiles(spark, table, version): _*)

  private val refViews = new java.util.concurrent.atomic.AtomicInteger()

  /** The same SQL over the plain files of the versions the read must see,
    * under view names of its own so checks can run concurrently. */
  private def expected(op: Op): (Int, Long) = {
    val p = s"ref${refViews.incrementAndGet()}_"
    val (dimV, ledgerV) = op match {
      case AsOf(c) => (lake.commits(c)._2, lake.commits(c)._3)
      case _ => (lake.commits.values.map(_._2).max, lake.commits.values.map(_._3).max)
    }
    val views = Seq(
      "fact_events" -> spark.read.parquet(lake.factPath),
      "dim_event_type" -> spark.read.parquet(lake.eventTypePath),
      "dim_user_state" -> plainRead(lake.userStatePath, dimV),
      "dim_asof" -> plainRead(lake.userStatePath, dimV),
      "ledger_asof" -> plainRead(lake.ledgerPath, ledgerV))
    views.foreach { case (n, df) => df.createOrReplaceTempView(p + n) }
    try {
      val rows = render(spark.sql(sql(op, p)).collect())
      (rows.size, Lake.checksum(rows))
    } finally views.foreach { case (n, _) => spark.catalog.dropTempView(p + n) }
  }

  private def query(span: String, op: Op, pinned: => Unit = ()): Seq[String] =
    tracer.span(span) {
      Views.registerZone(spark, lake.curatedPath)
      pinned
      render(spark.sql(sql(op, "")).collect())
    }

  /** Runs `op`; returns its result rows for the check. */
  def run(op: Op): Seq[String] = op match {
    case Rollup(_, _) => query("sources.Views.rollup", op)
    case TopN(_, _) => query("sources.Views.topn", op)
    case Series(_) => query("sources.Views.timeseries", op)
    case AsOf(c) =>
      query("sources.Views.asof", op, {
        val pins = Catalog.pinsAt(spark, lake.catalogPath, c)
        Views.registerSnapshotAsOf(spark, pins("dim_user_state")._1, "dim_asof", pins("dim_user_state")._2)
        Views.registerSnapshotAsOf(spark, pins("load_ledger")._1, "ledger_asof", pins("load_ledger")._2)
      })
    case Live =>
      tracer.span("sources.LakeWriter.readSnapshot") { LakeWriter.readSnapshot(spark, lake.speedPath) }
        .groupBy("event_type").count().collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").toSeq
    case Point(u) =>
      tracer.span("sources.LakeWriter.readSnapshotWhere") {
        LakeWriter.readSnapshotWhere(spark, lake.speedPath, col("user_id") === u)
          .select("event_id").collect().map(_.getLong(0).toString).toSeq
      }
    case Changes =>
      tracer.span("sources.LakeWriter.changesBetween") {
        val vs = LakeWriter.snapshotVersions(spark, lake.speedPath)
        val to = vs.last
        val from = vs(math.max(0, vs.size - 2))
        (s"$from>$to" +: LakeWriter.changesBetween(spark, lake.speedPath, from, to)
          .select("_change_type", "event_id").collect().map(r => s"${r.getString(0)}:${r.getLong(1)}")).toSeq
      }
    case Upsert(users) =>
      val rows = users.map { u =>
        nextEventId += 1
        Event(nextEventId, Gen.Epoch2024 + (lake.lastDay + 1) * Gen.DayMicros + nextEventId % 1000000,
          Long.box(u), states(rnd.nextInt(states.size)).toLowerCase, rnd.nextLong(100000))
      }
      val v = tracer.span("sources.LakeWriter.mergeSnapshotMor", writes = true) {
        LakeWriter.mergeSnapshotMor(
          spark.createDataFrame(rows.map(_.row).asJava, Gen.EventSchema), lake.speedPath, Seq("user_id"))
      }
      rows.foreach(e => lake.speedTruth(e.userId.longValue) = e)
      lake.speedStates(v) = lake.speedExpected
      Seq(v.toString)
  }

  /** Compares `got` with what `op` must return; empty when it matches. */
  def check(op: Op, got: Seq[String]): Option[String] = op match {
    case Upsert(_) => None
    case Live =>
      val want = lake.speedTruth.values.groupBy(_.eventType).map { case (t, es) => s"$t:${es.size}" }
      if (got.sorted == want.toSeq.sorted) None else Some(s"$op returned $got, expected $want")
    case Point(u) =>
      val want = lake.speedTruth.get(u).map(_.eventId.toString).toSeq
      if (got == want) None else Some(s"$op returned $got, expected $want")
    case Changes =>
      val Array(from, to) = got.head.split(">").map(_.toLong)
      (lake.speedStates.get(from), lake.speedStates.get(to)) match {
        case (Some(a), Some(b)) =>
          val want = (a.values.toSet diff b.values.toSet).map(e => s"delete:$e") ++
            (b.values.toSet diff a.values.toSet).map(e => s"insert:$e")
          if (got.tail.sorted == want.toSeq.sorted) None
          else Some(s"$op between $from and $to: ${got.size - 1} rows, expected ${want.size}")
        case _ => Some(s"$op: no expected state for versions $from, $to")
      }
    case _ =>
      val (n, sum) = expected(op)
      if (got.size == n && Lake.checksum(got) == sum) None
      else Some(s"$op: ${got.size} rows checksum ${Lake.checksum(got)}, expected $n rows checksum $sum")
  }
}

object ServeMix {
  /** A read or the upsert of a day's burst. */
  sealed trait Op
  final case class Rollup(from: Int, to: Int) extends Op
  final case class TopN(from: Int, to: Int) extends Op
  final case class Series(state: String) extends Op
  final case class Point(user: Long) extends Op
  final case class AsOf(commit: Long) extends Op
  /** Users per latest event type, off the speed table. */
  case object Live extends Op
  /** The speed table's change feed over its last version. */
  case object Changes extends Op
  final case class Upsert(users: Seq[Long]) extends Op
}
