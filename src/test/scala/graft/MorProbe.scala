package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{LakeWriter, Tables}

/** Scratch scale diagnostic (test scope only, not shipped): the
  * MERGE-ON-READ vs COPY-ON-WRITE write-amplification measurement for
  * a spread upsert — the reference's daily cadence shape, where a
  * small fraction of keys touches MOST files. Prints, per mode: merge
  * wall seconds, bytes/files the commit ADDED under data/, and the
  * manifest size (MOR's inline DVs live there).
  * `SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "Test/runMain graft.MorProbe"` */
object MorProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .appName("morprobe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val docs = Tables.load(spark, d, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"),
        col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_morprobe_")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    // 1% of keys, spread uniformly -> every data file is matched: the
    // shape where COW pays maximal write amplification
    val updates = docs.where(pmod(col("doc_id"), lit(100)) === 0)
      .withColumn("lang", lit("xx"))
    println(s"[morprobe] corpus rows=${docs.count()} " +
      s"update rows=${updates.count()} sfdir=$d")

    Seq("cow", "mor").foreach { mode =>
      val table = s"$root/$mode"
      LakeWriter.commitSnapshot(docs.repartition(32), table) // v1
      def dataBytes(): (Long, Int) = {
        val files = LakeWriter.walk(fs,
          new org.apache.hadoop.fs.Path(s"$table/data"))
        (files.map(f => fs.getFileStatus(
          new org.apache.hadoop.fs.Path(f)).getLen).sum, files.size)
      }
      val (b1, f1) = dataBytes()
      val t0 = System.nanoTime()
      val v = mode match {
        case "cow" => LakeWriter.mergeSnapshot(updates, table,
          Seq("doc_id"))
        case _ => LakeWriter.mergeSnapshotMor(updates, table,
          Seq("doc_id"))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val (b2, f2) = dataBytes()
      val manifest = fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$table/_manifests/v$v.json")).getLen
      val dvs = LakeWriter.manifest(spark, table, v).dvs
      println(f"[morprobe] mode=$mode wall=$wall%.1fs " +
        f"added=${(b2 - b1) / 1e6}%.1f MB (${f2 - f1} files) " +
        f"manifest=${manifest / 1e6}%.2f MB dvFiles=${dvs.size} " +
        f"dvCard=${dvs.values.map(_.cardinality).sum}")
    }
    spark.stop()
  }
}
