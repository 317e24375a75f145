package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CleanFns
import graft.operators.{Analytics, Dims, PitJoin, Scd2, Staging}
import graft.sources.{LakeWriter, Tables}

class CoreOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CleanFns: numeric cleaning, symbol norm, pct change") {
    val df = Seq(("  abc ", "$1,234.56", "Customer#0042"))
      .toDF("sym", "money", "name")
    val row = df.select(
      CleanFns.normSym($"sym"),
      CleanFns.cleanDouble($"money"),
      CleanFns.cleanLong($"name"),
      CleanFns.pctChange(lit(110.0), lit(100.0))).head()
    assert(row.getString(0) == "ABC")
    assert(row.getDouble(1) == 1234.56)
    assert(row.getLong(2) == 42L)
    assert(math.abs(row.getDouble(3) - 0.1) < 1e-12)
  }

  test("Staging.alignTo adds typed nulls and casts; union aligns") {
    val contract = Seq("a" -> "string", "b" -> "double", "c" -> "bigint")
    val f1 = Seq(("x", 1)).toDF("a", "b")
    val f2 = Seq((2L, "y")).toDF("c", "a")
    val out = Staging.unionAligned(contract, f1, f2)
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.count() == 2)
    assert(out.schema("b").dataType.typeName == "double")
    assert(out.where($"a" === "y").head().getLong(2) == 2L)
  }

  test("LakeWriter.dynamicPartitionOverwrite only touches incoming partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lw").toString
    val day1 = Seq((1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02"))
      .toDF("id", "dt")
    LakeWriter.dynamicPartitionOverwrite(day1, dir, Seq("dt"))
    // incremental load: only 2024-01-02 changes
    val day2 = Seq((99, "2024-01-02")).toDF("id", "dt")
    LakeWriter.dynamicPartitionOverwrite(day2, dir, Seq("dt"))
    val back = spark.read.parquet(dir)
    assert(back.where($"dt" === "2024-01-01").count() == 2) // untouched
    assert(back.where($"dt" === "2024-01-02").as[(Int, String)]
      .collect().map(_._1).toSeq == Seq(99)) // replaced
  }

  test("dynamicPartitionOverwrite leaves the session's overwrite mode " +
      "static") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lw_mode").toString
    def modeSet = spark.sessionState.conf.getAllConfs
      .contains("spark.sql.sources.partitionOverwriteMode")
    assert(!modeSet)
    LakeWriter.dynamicPartitionOverwrite(
      Seq((1, "a"), (2, "b")).toDF("id", "p"), s"$dir/dyn", Seq("p"))
    assert(!modeSet)
    // a later partitioned overwrite replaces the whole table
    LakeWriter.overwrite(Seq((1, "x"), (2, "y"), (3, "x")).toDF("id", "p"),
      s"$dir/t", Seq("p"))
    LakeWriter.overwrite(Seq((4, "y")).toDF("id", "p"), s"$dir/t", Seq("p"))
    assert(spark.read.parquet(s"$dir/t").as[(Int, String)].collect().toSeq ==
      Seq((4, "y")))
  }

  test("Dims.dateDim expands calendar attributes") {
    val d = Dims.dateDim(
      Seq("2024-01-06", "2024-01-06", "2024-01-08").toDF("x")
        .select(to_date($"x").as("x")), $"x")
    assert(d.count() == 2) // distinct
    val sat = d.where($"date_sk" === 20240106).head()
    assert(sat.getAs[Boolean]("is_weekend"))
    assert(d.where($"date_sk" === 20240108).head()
      .getAs[Boolean]("is_weekend") == false)
  }

  test("Scd2.build versions an entity and PitJoin matches half-open intervals") {
    val feed = Seq(
      (1L, "2024-01-01 00:00:00", "A"),
      (1L, "2024-01-02 00:00:00", "A"), // no change
      (1L, "2024-01-03 00:00:00", "B"), // version change
      (2L, "2024-01-05 00:00:00", "X"))
      .toDF("id", "ts", "state")
      .withColumn("ts", to_timestamp($"ts"))
    val dim = Scd2.build(feed, Seq("id"), Seq("state"), "ts")
    assert(dim.count() == 3)
    val v1 = dim.where($"id" === 1 && $"state" === "A").head()
    assert(v1.getAs[java.sql.Timestamp]("effective_to").toString
      .startsWith("2024-01-03"))
    assert(!v1.getAs[Boolean]("is_current"))
    assert(dim.where($"is_current").count() == 2)

    // fact row exactly ON the change date must match the NEW version only
    val fact = Seq((1L, "2024-01-03 00:00:00", 9.9)).toDF("id", "ts", "v")
      .withColumn("ts", to_timestamp($"ts"))
    val joined = PitJoin(fact, dim, Seq("id"), "ts")
    assert(joined.count() == 1)
    assert(joined.head().getAs[String]("state") == "B")
  }

  test("AsOfJoin matches the latest prior right row, with tolerance") {
    import graft.operators.AsOfJoin
    val trades = Seq((1L, "2024-01-01 10:00:30", 100.0),
      (1L, "2024-01-01 10:05:00", 101.0),
      (2L, "2024-01-01 09:00:00", 50.0))
      .toDF("sym", "ts", "px").withColumn("ts", to_timestamp($"ts"))
    val quotes = Seq((1L, "2024-01-01 10:00:00", 99.5),
      (1L, "2024-01-01 10:00:30", 99.9), // exactly at first trade ts
      (1L, "2024-01-01 10:04:00", 100.5))
      .toDF("sym", "qts", "bid").withColumn("qts", to_timestamp($"qts"))
    val j = AsOfJoin(trades, quotes, Seq("sym"), "ts", "qts")
    val t1 = j.where($"px" === 100.0).head()
    assert(t1.getAs[Double]("bid") == 99.9) // <= semantics: equal ts matches
    val t2 = j.where($"px" === 101.0).head()
    assert(t2.getAs[Double]("bid") == 100.5)
    assert(j.where($"px" === 50.0).head().isNullAt(
      j.columns.indexOf("bid"))) // no quotes for sym 2

    // 30s tolerance: the 10:05 trade's latest quote (10:04) is too old
    val tight = AsOfJoin(trades, quotes, Seq("sym"), "ts", "qts",
      toleranceMillis = 30000L)
    assert(tight.where($"px" === 100.0).head().getAs[Double]("bid") == 99.9)
    assert(tight.where($"px" === 101.0).head().isNullAt(
      tight.columns.indexOf("bid")))
  }

  test("Analytics.sessionize splits on gap and aggregates") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:10:00", 2.0), // same session (10 min gap)
      (1L, "2024-01-01 11:00:00", 3.0), // new session (50 min gap)
      (2L, "2024-01-01 09:00:00", 4.0))
      .toDF("user_id", "ts", "value")
      .withColumn("ts", to_timestamp($"ts"))
    val s = Analytics.sessionize(ev, "user_id", "ts", "value", 1800000L)
    assert(s.count() == 3)
    assert(s.where($"user_id" === 1 && $"session_id" === 1).head()
      .getAs[Long]("n_events") == 2)
  }

  test("Analytics.cohortRetention builds the retention triangle") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // cohort of Mon 2024-01-01: users 1,2; user 1 returns in week 1,
    // nobody in week 2, user 2 returns in week 2.
    // cohort of Mon 2024-01-08: user 3 only, never returns.
    val ev = Seq(
      (1L, t("2024-01-02 10:00:00")), (2L, t("2024-01-03 11:00:00")),
      (1L, t("2024-01-09 09:00:00")),
      (2L, t("2024-01-16 08:00:00")),
      (3L, t("2024-01-10 12:00:00")))
      .toDF("user_id", "ts")
    val out = Analytics.cohortRetention(ev, "user_id", "ts")
      .collect().map(r => (r.getAs[java.sql.Date]("cohort_week").toString,
        r.getAs[Int]("week_offset")) ->
        (r.getAs[Long]("users"), r.getAs[Double]("retention_pct"))).toMap
    assert(out(("2024-01-01", 0)) == ((2L, 1.0)))
    assert(out(("2024-01-01", 1)) == ((1L, 0.5)))
    assert(out(("2024-01-01", 2)) == ((1L, 0.5)))
    assert(out(("2024-01-08", 0)) == ((1L, 1.0)))
    assert(!out.contains(("2024-01-08", 1)))
  }

  test("Analytics.anomalyZScore flags a planted spike, warms up with nulls") {
    import java.sql.Date
    val rows = (1 to 20).map { i =>
      val v = if (i == 18) 10000L else if (i % 2 == 0) 102L else 98L
      ("a", Date.valueOf(f"2024-01-$i%02d"), v)
    }
    val df = rows.toDF("k", "day", "cents")
    val out = Analytics.anomalyZScore(df, "k", "day", "cents",
      days = 30, zCut = 3.0, minBaseline = 10)
      .collect().map(r => r.getAs[Date]("day").toString ->
        (Option(r.getAs[java.lang.Double]("z")),
          r.getAs[Int]("is_anomaly"))).toMap
    // warmup: first 10 days have < minBaseline trailing observations
    assert(out("2024-01-05")._1.isEmpty && out("2024-01-05")._2 == 0)
    // the spike day is flagged against its trailing baseline
    assert(out("2024-01-18")._2 == 1)
    assert(out("2024-01-18")._1.exists(_ > 100))
    // normal days after warmup are scored but not flagged
    assert(out("2024-01-15")._1.isDefined && out("2024-01-15")._2 == 0)
    // the day AFTER the spike is judged against a baseline that now
    // contains the spike — still not flagged (std exploded)
    assert(out("2024-01-19")._2 == 0)
  }

  test("Analytics.funnel counts stages only in order") {
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"),
      // user 2: purchase BEFORE click — depth stops at click
      (2L, 1L, "view"), (2L, 2L, "purchase"), (2L, 3L, "click"),
      // user 3: click without any view — depth 0
      (3L, 1L, "click"), (3L, 2L, "purchase"),
      // user 4: view only
      (4L, 9L, "view"))
      .toDF("user_id", "seq", "event_type")
    val out = Analytics.funnel(ev, "user_id", "event_type",
      Seq("view", "click", "purchase"), Seq($"seq"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(1L) == ((1, 1, 1)))
    assert(out(2L) == ((1, 1, 0))) // out-of-order purchase ignored
    assert(out(3L) == ((0, 0, 0)))
    assert(out(4L) == ((1, 0, 0)))
    // same-row strictness: click at the same instant as the first
    // view does NOT count (strictly-after contract via total order)
    val tie = Seq((9L, 1L, "view"), (9L, 2L, "click")).toDF(
      "user_id", "seq", "event_type")
    val t = Analytics.funnel(tie, "user_id", "event_type",
      Seq("view", "click"), Seq($"seq")).head()
    assert(t.getInt(1) == 1 && t.getInt(2) == 1)
  }

  test("Analytics.gapFillDaily carries the last observation over gaps") {
    import java.sql.Date
    val df = Seq(
      ("a", Date.valueOf("2024-01-01"), 10.0),
      ("a", Date.valueOf("2024-01-04"), 40.0), // 2-day gap before this
      ("a", Date.valueOf("2024-01-05"), 50.0), // adjacent: no fill
      ("b", Date.valueOf("2024-03-01"), 7.0))  // singleton key
      .toDF("k", "day", "price")
    val out = Analytics.gapFillDaily(df, "k", "day")
      .orderBy($"k", $"day").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Date]("day").toString,
        r.getAs[Double]("price"), r.getAs[Int]("is_filled")))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01", 10.0, 0),
      ("a", "2024-01-02", 10.0, 1), // carried
      ("a", "2024-01-03", 10.0, 1), // carried
      ("a", "2024-01-04", 40.0, 0),
      ("a", "2024-01-05", 50.0, 0),
      ("b", "2024-03-01", 7.0, 0)))
  }

  test("Analytics.latestPerKey and topKPerGroup are deterministic") {
    val df = Seq((1, 10, "a"), (1, 20, "b"), (2, 5, "c"))
      .toDF("k", "v", "tag")
    val latest = Analytics.latestPerKey(df, Seq("k"), $"v", $"tag")
    assert(latest.where($"k" === 1).head().getAs[String]("tag") == "b")
    val top1 = Analytics.topKPerGroup(df, Seq("k"), $"v", $"tag", 1)
    assert(top1.count() == 2)
  }

  test("csvWithQuarantine routes malformed rows without poisoning the load") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_q")
    java.nio.file.Files.writeString(dir.resolve("t.csv"),
      "id,price\n1,10.5\nbroken_row_no_comma\n2,xx\n3,7.25\n")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("price", DoubleType)))
    val q = Tables.csvWithQuarantine(spark,
      dir.resolve("t.csv").toString, schema)
    val (good, bad) = (q.good, q.quarantined)
    // fully-clean rows survive; both the structurally-broken row and
    // the type-invalid one ("2,xx") are quarantined with their raw text
    assert(good.count() == 2)
    assert(bad.count() == 2)
    val raws = bad.collect().map(_.getString(0)).toSet
    assert(raws.exists(_.contains("broken_row_no_comma")))
    assert(raws.exists(_.contains("2,xx")))
    q.release()
  }

  test("parquetMergeSchema unions evolving schemas") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ms").toString
    Seq((1L, "a")).toDF("id", "x").write.parquet(s"$dir/p1")
    Seq((2L, 9.9)).toDF("id", "y").write.parquet(s"$dir/p2")
    // single evolving dataset laid out as one directory
    Seq((1L, "a")).toDF("id", "x").write.mode("overwrite").parquet(s"$dir/t")
    Seq((2L, 9.9)).toDF("id", "y").write.mode("append").parquet(s"$dir/t")
    val df = Tables.parquetMergeSchema(spark, s"$dir/t")
    assert(df.columns.toSet == Set("id", "x", "y"))
    assert(df.count() == 2)
  }

  test("Tables.csv round-trips quoted multiline fields") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv")
    val p = dir.resolve("t.csv")
    java.nio.file.Files.writeString(p,
      "id,txt\n1,\"line one\nline two\"\n2,\"with \"\"quotes\"\"\"\n")
    val df = Tables.csv(spark, p.toString)
    assert(df.count() == 2)
    assert(df.where($"id" === 1).head().getAs[String]("txt")
      .contains("line two"))
    assert(df.where($"id" === 2).head().getAs[String]("txt") == "with \"quotes\"")
  }
}
