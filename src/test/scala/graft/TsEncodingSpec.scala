package graft

import java.nio.file.{Files => JFiles, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.Speed

/** Guards the events.ts physical-encoding contract.
  *
  * The testdata generator has shipped `ts` as INT64 epoch-nanos, as
  * TIMESTAMP_NTZ(µs), and as TIMESTAMP(µs) at different times — the
  * r8 correctness regression was exactly such a flip (4 queries broke
  * while every committed spec stayed green, because the specs only
  * ever exercised the encoding on disk at the time). This spec writes
  * the SAME logical rows in all three encodings and pins:
  *   1. the batch loader normalizes each to identical µs
  *      TimestampType rows;
  *   2. the streaming file source produces the same windowed
  *      aggregate regardless of encoding;
  *   3. flipping the encoding UNDER an existing staged stream (the
  *      sentinel cache poisoning that broke q_stream_sessionize)
  *      regenerates the sentinels instead of failing or dropping
  *      rows.
  */
class TsEncodingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Canonical already-normalized events (whatever encoding the
    * current testdata uses — the point is cross-encoding agreement,
    * not agreement with one blessed file). */
  private lazy val canon: DataFrame =
    Tables.load(spark, TestSpark.sfDir, "events").cache()

  /** Write `df` as a SINGLE file at `dest` (testdata layout: one
    * parquet file per table, not a directory). */
  private def writeSingle(df: DataFrame, dest: Path): Unit = {
    val build = JFiles.createTempDirectory("graft_tsenc_build")
    df.coalesce(1).write.mode("overwrite").parquet(build.toString)
    val part = JFiles.list(build).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part under $build"))
    JFiles.createDirectories(dest.getParent)
    JFiles.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    JFiles.walk(build).iterator().asScala.toSeq.reverse
      .foreach(JFiles.deleteIfExists(_))
  }

  /** A temp "sf dir" holding events.parquet with ts re-encoded. */
  private def variantDir(tag: String, tsCol: Column): String = {
    val root = JFiles.createTempDirectory(s"graft_tsenc_$tag")
    writeSingle(canon.withColumn("ts", tsCol),
      root.resolve("events.parquet"))
    root.toString
  }

  // ts as µs-precision TimestampType (isAdjustedToUTC on disk)
  private lazy val dirUtc = variantDir("utc", col("ts"))
  // ts as TIMESTAMP_NTZ — what a generator writing "naive" µs
  // timestamps produces (the post-r8 testdata shape)
  private lazy val dirNtz = variantDir("ntz", col("ts").cast("timestamp_ntz"))
  // ts as plain INT64 epoch-NANOS — the original testdata shape,
  // which Spark surfaces as LongType under the nanos-as-long conf
  private lazy val dirNanos = variantDir("nanos", unix_micros(col("ts")) * 1000L)

  private lazy val variants =
    Seq("utc" -> dirUtc, "ntz" -> dirNtz, "nanos" -> dirNanos)

  test("the three encodings really hit three distinct loader branches") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = variants.map { case (tag, d) =>
      tag -> spark.read.parquet(s"$d/events.parquet").schema("ts").dataType
    }.toMap
    assert(raw("nanos") == LongType)
    assert(raw("ntz") == TimestampNTZType)
    // µs TimestampType may round-trip through INT96 or TIMESTAMP(µs,
    // adjusted) depending on the writer conf — either reads back as
    // TimestampType, which is the branch under test
    assert(raw("utc") == TimestampType)
  }

  test("batch loader normalizes every encoding to identical rows") {
    for ((tag, d) <- variants) {
      val got = Tables.load(spark, d, "events")
      assert(got.schema("ts").dataType == TimestampType, s"variant $tag")
      assert(got.except(canon).isEmpty && canon.except(got).isEmpty,
        s"variant $tag rows diverge from canonical")
    }
  }

  test("streaming windowed agg agrees across encodings") {
    val results = variants.map { case (tag, d) =>
      tag -> Speed.runToBatch(spark,
        Speed.windowedAgg(Speed.eventStream(spark, d)),
        s"t_tsenc_$tag", OutputMode.Complete()).cache()
    }
    val (_, ref) = results.head
    for ((tag, r) <- results.tail) {
      assert(r.count() == ref.count(), s"variant $tag count")
      assert(r.except(ref).isEmpty && ref.except(r).isEmpty,
        s"variant $tag windows diverge")
    }
  }

  test("encoding flip under an existing staged stream regenerates sentinels") {
    // same source PATH both times -> same staging dir, so run 2 sees
    // run 1's sentinel files written under the OLD encoding
    val root = JFiles.createTempDirectory("graft_tsenc_flip")
    val dest = root.resolve("events.parquet")

    def sessions(name: String): DataFrame =
      Speed.runToBatch(spark,
        Speed.sessionizeStream(
          Speed.eventStreamSentineled(spark, root.toString),
          gapMillis = 1800000L),
        name, OutputMode.Append())
        .where($"user_id" >= 0)
        .select($"user_id", $"session_start", $"session_end", $"n_events")

    writeSingle(canon.withColumn("ts", unix_micros(col("ts")) * 1000L), dest)
    val first = sessions("t_tsenc_flip1").cache()
    assert(first.count() > 0)

    writeSingle(canon.withColumn("ts", col("ts").cast("timestamp_ntz")), dest)
    val second = sessions("t_tsenc_flip2").cache()
    assert(second.count() == first.count(),
      "sentinels from the old encoding poisoned the restaged stream")
    assert(second.except(first).isEmpty && first.except(second).isEmpty)
  }

  test("a missing staged file raises AnalysisException, as a plain read does") {
    val missing = JFiles.createTempDirectory("graft_tsenc_missing")
      .resolve("events.parquet").toString
    val plain = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(missing)
    }
    val staged = intercept[org.apache.spark.sql.AnalysisException] {
      Speed.stagedSchema(spark, missing)
    }
    assert(staged.getCondition == plain.getCondition)
  }

  test("the staged-schema memo is bounded") {
    val src = JFiles.createTempDirectory("graft_tsenc_memo")
    writeSingle(canon.limit(1), src.resolve("events.parquet"))
    for (i <- 0 until 70) {
      val f = src.resolve(s"copy$i.parquet")
      JFiles.copy(src.resolve("events.parquet"), f)
      Speed.stagedSchema(spark, f.toString)
    }
    assert(Speed.stagedSchemaMemoSize <= 64)
  }
}
