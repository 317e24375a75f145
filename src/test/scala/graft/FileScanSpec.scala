package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileScan

/** The file-keyed scan the merge-on-read readers share: the key
  * matches Spark's `_metadata.file_path` on a name that needs
  * escaping, and a scanned file with no metadata entry raises instead
  * of being served. */
class FileScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Two one-file parquet tables under a directory whose name needs
    * URI escaping; returns each table's single data file. */
  private def twoFiles(): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_filescan")
      .resolve("a b%c+d").toString
    def one(name: String, ids: Range): String = {
      spark.range(ids.start.toLong, ids.end.toLong).toDF("id").coalesce(1)
        .write.parquet(s"$dir/$name")
      new java.io.File(s"$dir/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getPath
    }
    (one("x", 0 until 10), one("y", 10 until 20))
  }

  private val dvFields = Seq(
    StructField("__graft_dv", BinaryType, true),
    StructField("__graft_dvkey", StringType, true))

  test("joinGuarded matches keyOf to _metadata.file_path on escaped " +
      "names, and raises on a scanned file its metadata lacks, naming " +
      "the reader and the file") {
    val (a, b) = twoFiles()
    val key = FileScan.keyOf(spark)
    def guarded(entries: Seq[String]) = FileScan.joinGuarded(
      FileScan.tag(spark.read.parquet(a, b), rowIndex = false),
      entries.map(_ -> Seq(null, null)), dvFields, lit(true),
      "spec reader at /t")
    assert(key(b).contains("a%20b%25c+d"), key(b))
    assert(guarded(Seq(key(a), key(b))).count() == 20L)
    val e = intercept[Exception](guarded(Seq(key(a))).collect())
    val msg = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString("\n")
    assert(msg.contains("spec reader at /t: data file " + key(b)), msg)
    assert(!msg.contains("data file " + key(a)), msg)
  }
}
