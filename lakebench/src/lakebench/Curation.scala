package lakebench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.CurationPipeline
import graft.sources.LakeWriter

/** Consecutive document batches into one corpus, as the daily
  * training-data load runs them, and the corpus maintenance job
  * (compaction, vacuum, Delta and Iceberg mirrors). */
final class CurationLoad(spark: SparkSession, tracer: Tracer, root: Path,
                         profile: Profile, seed: Long, batchDocs: Int) {
  private val gen = new DocGen(profile, seed)
  private val inputs = root.resolve("inputs")
  val lake: Path = root.resolve("lake")
  private val corpusPath = lake.resolve("corpus").toString
  private val batches = mutable.Map.empty[Int, Seq[Doc]]
  private val results = mutable.Map.empty[Int, CurationPipeline.Result]
  var inputBytes = 0L

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def batchPath(b: Int) = inputs.resolve(f"batch-$b%03d").toString

  def generate(bs: Seq[Int]): Unit = bs.foreach { b =>
    val docs = gen.batch(batchDocs)
    batches(b) = docs
    spark.createDataFrame(docs.map(d => Row(d.id, d.text)).asJava, schema)
      .coalesce(1).write.parquet(batchPath(b))
    inputBytes += Lake.bytes(java.nio.file.Paths.get(batchPath(b)))
  }

  def rows(b: Int): Long = batches(b).size.toLong

  def batch(b: Int): Unit =
    results(b) = tracer.span("pipeline.CurationPipeline.run", writes = true) {
      CurationPipeline.run(spark, spark.read.parquet(batchPath(b)), lake.toString)
    }

  def maintain(): Unit =
    tracer.span("pipeline.CurationPipeline.maintain", writes = true) {
      CurationPipeline.maintain(spark, lake.toString, mirrorDelta = true, mirrorIceberg = true): Unit
    }

  def check(b: Int): Seq[String] = {
    val seen = batches.filter(_._1 <= b).values.flatten.toSeq
    val dups = seen.filter(_.role == "exact_dup").map(_.id)
    val secrets = seen.flatMap(_.pii)
    val t = col("text")
    val r = LakeWriter.readSnapshot(spark, corpusPath).agg(
      count(lit(1)), countDistinct(col("doc_id")), countDistinct(col("fp")),
      count_if(col("doc_id").isin(dups: _*)),
      count_if(secrets.map(t.contains).foldLeft(lit(false))(_ || _))).head()
    val survivors = CurationPipeline.ledger(spark, lake.toString)
      .agg(sum(col("after_near_dup"))).head().getLong(0)
    val out = mutable.ArrayBuffer.empty[String]
    val rows = r.getLong(0)
    if (r.getLong(1) != rows || r.getLong(2) != rows)
      out += s"batch $b: corpus repeats a doc_id or fingerprint ($rows rows, ${r.getLong(1)} ids, ${r.getLong(2)} fps)"
    if (r.getLong(3) != 0) out += s"batch $b: ${r.getLong(3)} planted exact duplicates survived"
    if (r.getLong(4) != 0) out += s"batch $b: ${r.getLong(4)} docs still hold injected PII"
    if (rows != survivors || rows != results(b).corpusRows)
      out += s"batch $b: corpus holds $rows rows, ledger survivors $survivors, run reported ${results(b).corpusRows}"
    out.toSeq
  }
}
