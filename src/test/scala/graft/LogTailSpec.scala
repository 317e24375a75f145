package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LakeWriter, LogTail}

/** The shared commit-log sink and the driver-IO pool. */
class LogTailSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("LogTail offers versions from file names, numerically ascending; " +
      "a live checkpoint offers only later commits") {
    val root = java.nio.file.Files.createTempDirectory("graft_logtail_dir")
    val log = root.resolve("log")
    java.nio.file.Files.createDirectories(log)
    def put(name: String): Unit =
      java.nio.file.Files.write(log.resolve(name), "{}".getBytes("UTF-8"))
    Seq("v10.json", "v2.json", "v1.json").foreach(put(_))
    put(".v3.json.tmp")           // in-flight: hidden from the source
    put("vx.json"); put("notes.txt")
    val seen = scala.collection.mutable.ListBuffer[Seq[Long]]()
    def drain(): Unit = LogTail(spark, log.toString, "v*.json",
      LakeWriter.manifestVersionOf,
      root.resolve("ckpt").toString)(seen += _)
    drain()
    assert(seen.flatten == Seq(1L, 2L, 10L))
    seen.clear()
    put("v11.json")
    drain()
    assert(seen.flatten == Seq(11L))
  }

  test("intoSnapshot appends each version once, skipping stamped " +
      "versions without building their rows") {
    val out = java.nio.file.Files.createTempDirectory("graft_logtail")
      .toString + "/out"
    def rowsOf(v: Long) = () => Seq((v, s"r$v")).toDF("v", "s")
    val never = () => fail("a stamped version must not build its rows")
    assert(LogTail.intoSnapshot(spark, out, "app") { sink =>
      Seq(1L, 2L).foreach(v => sink(v, rowsOf(v)))
    } == 2L)
    // a replay of 1..2 plus a new version: only 3 appends
    assert(LogTail.intoSnapshot(spark, out, "app") { sink =>
      sink(1L, never); sink(2L, never); sink(3L, rowsOf(3L))
    } == 3L)
    assert(LakeWriter.readSnapshot(spark, out).as[(Long, String)]
      .collect().sorted.toSeq == Seq(1L -> "r1", 2L -> "r2", 3L -> "r3"))
    // nothing offered: the stamp as it stands
    assert(LogTail.intoSnapshot(spark, out, "app")(_ => ()) == 3L)
    assert(LogTail.intoSnapshot(spark, out, "other")(_ => ()) == -1L)
  }

  test("parMap keeps item order and surfaces a task's own exception") {
    assert(LakeWriter.parMap(spark, (1 to 40).toSeq)(_ * 2) ==
      (1 to 40).map(_ * 2))
    val e = intercept[IllegalArgumentException](
      LakeWriter.parMap(spark, Seq(1, 2, 3))(i =>
        require(i != 2, s"item $i refused")))
    assert(e.getMessage == "requirement failed: item 2 refused")
    intercept[java.io.FileNotFoundException](
      LakeWriter.parMap(spark, Seq("/nonexistent/graft_io"))(p =>
        new java.io.FileInputStream(p)))
  }
}
