package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DeltaMirror, IcebergMirror, LakeWriter}

/** The commit point every metadata file goes through
  * (`LakeWriter.publish`): create-if-absent reports a lost race and
  * leaves the winner's bytes alone, replace swaps atomically, neither
  * leaves a tmp behind; and the two mirrors built on it — racing Delta
  * mirrors publish each commit once, an Iceberg mirror rerun after a
  * publish that stopped before its hint moved converges. */
class PublishSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def localFs = org.apache.hadoop.fs.FileSystem.getLocal(
    new org.apache.hadoop.conf.Configuration())

  private def read(p: String): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  private def tmpsIn(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.contains(".tmp"))

  /** `n` threads released together, each running `f(i)`. */
  private def race[A](n: Int)(f: Int => A): Seq[Either[Throwable, A]] = {
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val tasks = (0 until n).map { i =>
      new java.util.concurrent.FutureTask[Either[Throwable, A]](
        new java.util.concurrent.Callable[Either[Throwable, A]] {
          def call(): Either[Throwable, A] = {
            barrier.await()
            try Right(f(i)) catch { case e: Exception => Left(e) }
          }
        })
    }
    tasks.foreach(t => new Thread(t).start())
    tasks.map(_.get())
  }

  test("create-if-absent onto an existing destination reports the " +
      "conflict, keeps the existing bytes and leaves no tmp") {
    val dir = freshDir("graft_pub_cia")
    val dest = new org.apache.hadoop.fs.Path(dir, "c1.json")
    assert(LakeWriter.publish(localFs, dest, "first".getBytes("UTF-8"),
      replace = false))
    assert(!LakeWriter.publish(localFs, dest, "second".getBytes("UTF-8"),
      replace = false))
    assert(read(s"$dir/c1.json") == "first")
    assert(tmpsIn(dir).isEmpty, s"tmp left behind: ${tmpsIn(dir)}")
  }

  test("8 threads create-if-absent one name: exactly one wins") {
    val dir = freshDir("graft_pub_race")
    val dest = new org.apache.hadoop.fs.Path(dir, "c1.json")
    val results = race(8)(i =>
      LakeWriter.publish(localFs, dest, s"writer $i".getBytes("UTF-8"),
        replace = false))
    val won = results.zipWithIndex.collect { case (Right(true), i) => i }
    assert(won.size == 1, s"outcomes: $results")
    assert(results.forall(_.isRight), s"outcomes: $results")
    assert(read(s"$dir/c1.json") == s"writer ${won.head}")
    assert(tmpsIn(dir).isEmpty, s"tmp left behind: ${tmpsIn(dir)}")
  }

  test("replace swaps the destination and leaves no tmp") {
    val dir = freshDir("graft_pub_replace")
    val dest = new org.apache.hadoop.fs.Path(dir, "version-hint.text")
    assert(LakeWriter.publish(localFs, dest, "1".getBytes("UTF-8"),
      replace = true))
    assert(LakeWriter.publish(localFs, dest, "2".getBytes("UTF-8"),
      replace = true))
    assert(read(s"$dir/version-hint.text") == "2")
    // the checksummed filesystem reads the swapped file back intact
    val in = localFs.open(dest)
    try assert(new String(in.readAllBytes(), "UTF-8") == "2")
    finally in.close()
    assert(tmpsIn(dir).isEmpty, s"tmp left behind: ${tmpsIn(dir)}")
  }

  test("two Delta mirrors racing on one table publish every commit " +
      "once; the loser refuses or finds nothing left to do") {
    (1 to 3).foreach { round =>
      val t = freshDir(s"graft_pub_delta$round") + "/t"
      val base = spark.range(0, 40).toDF("id")
        .withColumn("lang", ($"id" % 3).cast("string"))
      LakeWriter.commitSnapshotDynamic(base, t, Seq("lang"))
      LakeWriter.commitSnapshotDynamic(
        base.where($"lang" === "0").withColumn("id", $"id" + 100), t,
        Seq("lang"))
      LakeWriter.deleteFromSnapshot(spark, t, $"id" < 10)
      LakeWriter.commitSnapshot(
        spark.range(200, 205).toDF("id").withColumn("lang", lit("9")),
        t, "append")
      val gvs = LakeWriter.snapshotVersions(spark, t)
      val results = race(2)(_ => DeltaMirror.mirror(spark, t))
      results.foreach {
        case Left(e) => assert(e.getMessage.contains("lost a publish race"),
          s"round $round: $results")
        case Right(_) =>
      }
      // every graft version is in the log exactly once, whoever
      // published it: a tip call has nothing left to do
      assert(results.collect { case Right(n) => n }.sum <= gvs.size)
      assert(DeltaMirror.mirror(spark, t) == 0L, s"round $round: $results")
      assert(DeltaMirror.deltaVersions(spark, t) == gvs.indices.map(_.toLong))
      val log = new java.io.File(s"$t/_delta_log").listFiles()
        .filter(_.getName.endsWith(".json")).map(f => read(f.getPath))
      gvs.foreach { gv =>
        val stamp = ("\"graftVersion\":" + gv + "[,}]").r
        assert(log.map(stamp.findAllIn(_).size).sum == 1,
          s"round $round: graft v$gv committed ${log.mkString("\n")}")
      }
      assert(tmpsIn(s"$t/_delta_log").isEmpty)
      gvs.zipWithIndex.foreach { case (gv, dv) =>
        assert(rows(DeltaMirror.readDelta(spark, t, Some(dv.toLong))) ==
          rows(LakeWriter.readSnapshot(spark, t, Some(gv))),
          s"round $round: rows at v$gv")
      }
    }
  }

  test("an Iceberg mirror rerun after a publish that stopped before " +
      "the hint moved converges on the same tree") {
    val t = freshDir("graft_pub_ice") + "/t"
    val base = spark.range(0, 30).toDF("id")
      .withColumn("lang", ($"id" % 3).cast("string"))
    LakeWriter.commitSnapshotDynamic(base, t, Seq("lang"))
    assert(IcebergMirror.mirror(spark, t) == 1L)
    val hint = new org.apache.hadoop.fs.Path(s"$t/metadata/version-hint.text")
    val oldHint = read(hint.toString)
    LakeWriter.deleteFromSnapshot(spark, t, $"id" < 5)
    assert(IcebergMirror.mirror(spark, t) == 1L)
    val published = new java.io.File(s"$t/metadata").list().toSet
    // the crash: every file of the second publish is in place, the
    // hint still names the first tree
    LakeWriter.publish(localFs, hint, oldHint.getBytes("UTF-8"),
      replace = true)
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t, Some(1L))))
    // the rerun re-plans the second version onto the same names
    assert(IcebergMirror.mirror(spark, t) == 1L)
    assert(new java.io.File(s"$t/metadata").list().toSet == published)
    assert(read(hint.toString) != oldHint)
    assert(IcebergMirror.mirror(spark, t) == 0L)
    assert(rows(IcebergMirror.readIceberg(spark, t)) ==
      rows(LakeWriter.readSnapshot(spark, t)))
    assert(tmpsIn(s"$t/metadata").isEmpty)
  }
}
