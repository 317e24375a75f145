package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Catalog, LakeWriter, Views}

/** The external SQL serving surface (the reference's Trino/Superset
  * role): a real HiveServer2-protocol endpoint over the session's
  * catalog, exercised end-to-end with the stock Hive JDBC client —
  * connection, metadata-free ad-hoc SQL, aggregation, and snapshot
  * tables served at their latest version through global temp views.
  */
class ServingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Views.serve: lake tables queryable over a real JDBC endpoint") {
    // a small curated zone: one snapshot table (latest version must
    // win), one plain parquet table
    val zone = java.nio.file.Files.createTempDirectory("graft_serve")
      .toString
    LakeWriter.commitSnapshot(
      Seq((1L, "stale")).toDF("k", "v"), s"$zone/facts")
    LakeWriter.commitSnapshot(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), s"$zone/facts")
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "w")
      .write.parquet(s"$zone/weights")
    Views.registerZoneGlobal(spark, zone)

    val sock = new java.net.ServerSocket(0)
    val port = sock.getLocalPort
    sock.close()
    val server = Views.serve(spark, port)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      // the endpoint binds asynchronously — retry until it accepts
      var conn: java.sql.Connection = null
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (conn == null) {
        try conn = java.sql.DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/default", "anonymous", "")
        catch { case e: java.sql.SQLException =>
          if (System.nanoTime > deadline) throw e else Thread.sleep(500)
        }
      }
      try {
        val st = conn.createStatement()
        // the snapshot table serves its LATEST version
        val rs = st.executeQuery(
          "SELECT k, v FROM global_temp.facts ORDER BY k")
        val got = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2)))
          .toList
        assert(got == List((1L, "a"), (2L, "b"), (3L, "c")))
        // a join + aggregation plans and executes through Spark
        val rs2 = st.executeQuery(
          """SELECT sum(w.w) FROM global_temp.facts f
            |JOIN global_temp.weights w ON f.k = w.k""".stripMargin)
        assert(rs2.next() && rs2.getDouble(1) == 30.0)
        // TIME TRAVEL through the endpoint: v1 pinned as facts_v1 —
        // a session-local temp view would be invisible to this
        // connection; the global registration must not be
        Views.registerSnapshotAsOfGlobal(spark, s"$zone/facts",
          "facts_v1", 1L)
        val rs3 = st.executeQuery(
          "SELECT k, v FROM global_temp.facts_v1 ORDER BY k")
        val got3 = Iterator.continually(rs3)
          .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2)))
          .toList
        assert(got3 == List((1L, "stale")))
        // CHANGE FEED through the endpoint: v1 -> v2 net delta
        Views.registerChangeFeedGlobal(spark, s"$zone/facts",
          "facts_changes", 1L, 2L)
        val rs4 = st.executeQuery(
          """SELECT k, v, _change_type FROM global_temp.facts_changes
            |ORDER BY k, _change_type""".stripMargin)
        val got4 = Iterator.continually(rs4).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2), r.getString(3)))
          .toList
        assert(got4 == List((1L, "stale", "delete"), (1L, "a", "insert"),
          (2L, "b", "insert"), (3L, "c", "insert")))

        // CATALOG SERVING (the Nessie discovery role): fact+dim
        // pinned by one commit, tagged, then BOTH advance + a new
        // commit — the tag views must serve the OLD pair consistently
        // (a mixed-version fact/dim join is impossible by
        // construction: one commit JSON resolves both pins), the
        // bare names the new tip pair
        val croot = java.nio.file.Files
          .createTempDirectory("graft_serve_cat").toString
        val fact = s"$croot/fact"; val dim = s"$croot/dim"
        LakeWriter.commitSnapshot(
          Seq((1L, 10L), (2L, 20L)).toDF("k", "amt"), fact)
        LakeWriter.commitSnapshot(
          Seq((1L, "one"), (2L, "two")).toDF("k", "nm"), dim)
        val cat = s"$croot/cat"
        Catalog.commit(spark, cat, Map("fact" -> fact, "dim" -> dim))
        Catalog.tag(spark, cat, "release")
        LakeWriter.commitSnapshot(
          Seq((1L, 11L), (2L, 22L), (3L, 33L)).toDF("k", "amt"), fact)
        LakeWriter.commitSnapshot(
          Seq((1L, "ONE"), (2L, "TWO"), (3L, "THREE")).toDF("k", "nm"),
          dim)
        Catalog.commit(spark, cat, Map("fact" -> fact, "dim" -> dim))
        Views.registerCatalogGlobal(spark, cat)
        // the tag: the OLD consistent pair through a cross-table join
        val rs5 = st.executeQuery(
          """SELECT f.k, f.amt, d.nm FROM global_temp.fact__release f
            |JOIN global_temp.dim__release d ON f.k = d.k
            |ORDER BY f.k""".stripMargin)
        val got5 = Iterator.continually(rs5).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toList
        assert(got5 == List((1L, 10L, "one"), (2L, 20L, "two")))
        // the tip: the NEW pair under the bare catalog names
        val rs6 = st.executeQuery(
          """SELECT f.k, f.amt, d.nm FROM global_temp.fact f
            |JOIN global_temp.dim d ON f.k = d.k ORDER BY f.k""".stripMargin)
        val got6 = Iterator.continually(rs6).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toList
        assert(got6 == List((1L, 11L, "ONE"), (2L, 22L, "TWO"),
          (3L, 33L, "THREE")))
        // discovery: SHOW TABLES lists the catalog's names
        val rs7 = st.executeQuery("SHOW TABLES IN global_temp")
        val shown = Iterator.continually(rs7).takeWhile(_.next())
          .map(_.getString(2)).toSet
        assert(Set("fact", "dim", "fact__release", "dim__release")
          .subsetOf(shown), shown.toString)
      } finally conn.close()
    } finally server.stop()
  }

  test("registerZone reads plain parquet tables with the schema Spark " +
      "infers, from one footer: no Spark job") {
    val zone = java.nio.file.Files.createTempDirectory("graft_zone")
      .toString
    val df = Seq((1L, "a", 1.5, 7), (2L, null, 2.5, 8), (3L, "c", 3.5, 7))
      .toDF("k", "v", "w", "day")
    df.write.parquet(s"$zone/flat")
    df.write.partitionBy("day").parquet(s"$zone/parted")
    assert(SparkJobs.during(spark)(Views.registerZone(spark, zone)) == 0)
    Seq("flat", "parted").foreach { n =>
      val view = spark.table(n)
      assert(view.schema == spark.read.parquet(s"$zone/$n").schema, n)
      assert(view.count() == 3L, n)
    }
    assert(spark.table("parted").where($"day" === 7).count() == 2L)
  }

  test("registerZone's one-footer schema skips the files Spark's listing " +
      "skips, and a schema-merging session reads as Spark reads") {
    val zone = java.nio.file.Files.createTempDirectory("graft_zone_hidden")
      .toString
    val df = Seq((1L, "a", 7), (2L, "b", 8)).toDF("k", "v", "day")
    df.write.parquet(s"$zone/flat")
    df.write.partitionBy("day").parquet(s"$zone/parted")
    // a failed write's leftovers with another schema, under dirs that
    // Spark's listing skips and that sort before the part files and
    // the k=v dirs
    val stray = Seq(("x", 1.5)).toDF("other", "w").coalesce(1)
    Seq("flat", "parted").foreach { n =>
      stray.write.parquet(s"$zone/$n/_temporary/0/_temporary/attempt_0")
      stray.write.parquet(s"$zone/$n/.spark-staging-0")
    }
    assert(SparkJobs.during(spark)(Views.registerZone(spark, zone)) == 0)
    Seq("flat", "parted").foreach { n =>
      val view = spark.table(n)
      assert(view.schema == spark.read.parquet(s"$zone/$n").schema, n)
      assert(view.schema.fieldNames.toSet == Set("k", "v", "day"), n)
      assert(view.count() == 2L, n)
    }

    val merged = java.nio.file.Files.createTempDirectory("graft_zone_merge")
      .toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$merged/zone_merged")
    Seq((2L, 2.5)).toDF("k", "w").write.mode("append")
      .parquet(s"$merged/zone_merged")
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      Views.registerZone(spark, merged)
      val view = spark.table("zone_merged")
      assert(view.schema == spark.read.parquet(s"$merged/zone_merged").schema)
      assert(view.schema.fieldNames.toSet == Set("k", "v", "w"))
    } finally spark.conf.unset(key)
  }
}
