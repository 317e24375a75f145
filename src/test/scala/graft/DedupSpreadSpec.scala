package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Pins the SCOPED `Dedup.alreadyKeyed` walk (r17 verdict "what's
  * wrong #1"): the old unscoped plan search matched an idCol
  * repartition ANYWHERE below the root, so a join or aggregate that
  * had since destroyed that partitioning still suppressed the
  * spread. */
class DedupSpreadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def base = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    .toDF("doc_id", "text")

  test("repartition directly below the root is detected") {
    val df = base.repartition(4, col("doc_id"))
    assert(Dedup.alreadyKeyed(df, "doc_id"))
    // ... including through partitioning-preserving nodes
    assert(Dedup.alreadyKeyed(df.where(col("text") =!= "z"), "doc_id"))
    assert(Dedup.alreadyKeyed(
      df.select(col("doc_id"), upper(col("text")).as("t")), "doc_id"))
  }

  test("rename tracks the attribute, not the name") {
    val df = base.repartition(4, col("doc_id"))
      .select(col("doc_id").as("id"), col("text"))
    assert(Dedup.alreadyKeyed(df, "id"))
    // a DIFFERENT column renamed to the key name is not a match
    val forged = base.repartition(4, col("doc_id"))
      .select(col("text").as("doc_id"), col("doc_id").as("other"))
    assert(!Dedup.alreadyKeyed(forged, "doc_id"))
  }

  test("the key name resolves with the session's case sensitivity") {
    val key = "spark.sql.caseSensitive"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val df = base.withColumnRenamed("doc_id", "DOC_ID")
        .repartition(4, col("DOC_ID"))
      assert(Dedup.alreadyKeyed(df, "doc_id"))
      spark.conf.set(key, "true")
      assert(!Dedup.alreadyKeyed(df, "doc_id"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a join above an idCol repartition destroys the partitioning") {
    val keyed = base.repartition(4, col("doc_id"))
    val other = Seq((1L, 10), (2L, 20)).toDF("doc_id", "w")
    // join keyed on doc_id may preserve it physically, but the walk
    // must be conservative: operators re-spread rather than trust a
    // join's output partitioning
    assert(!Dedup.alreadyKeyed(keyed.join(other, Seq("doc_id")), "doc_id"))
    // aggregate above the repartition likewise
    val agg = keyed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
    assert(!Dedup.alreadyKeyed(agg, "doc_id"))
    // repartition buried under a DIFFERENT-key aggregate: never a match
    val aggOther = keyed.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    assert(!Dedup.alreadyKeyed(aggOther, "doc_id"))
  }

  test("plain scans and unrelated repartitions are spread") {
    assert(!Dedup.alreadyKeyed(base, "doc_id"))
    assert(!Dedup.alreadyKeyed(base.repartition(4, col("text")), "doc_id"))
    assert(!Dedup.alreadyKeyed(base.repartition(4), "doc_id"))
  }
}
