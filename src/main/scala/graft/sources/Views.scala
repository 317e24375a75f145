package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL serving layer — the role Trino/Superset play in the reference:
  * register the lake's tables as views and serve ad-hoc SQL through
  * Spark's own engine.
  */
object Views {

  /** Register every testdata table of an sf directory as a temp view. */
  def register(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }

  /** Register a directory of parquet tables (e.g. a curated zone
    * written by LakehousePipeline) under their directory names.
    * Snapshot tables (a `_manifests` dir present) are served at their
    * LATEST version; plain parquet directories read directly. */
  def registerZone(spark: SparkSession, zoneDir: String): Unit =
    zoneTables(spark, zoneDir).foreach { case (n, df) =>
      df.createOrReplaceTempView(n) }

  /** `registerZone`, but as GLOBAL temp views — the registration an
    * external-serving endpoint needs: a Thrift/JDBC connection gets
    * its own Spark session (own temp-view namespace), while global
    * temp views live on the shared context and are visible to every
    * connection as `global_temp.<name>`. */
  def registerZoneGlobal(spark: SparkSession, zoneDir: String): Unit =
    zoneTables(spark, zoneDir).foreach { case (n, df) =>
      df.createOrReplaceGlobalTempView(n) }

  /** Every table directory of `zoneDir` and its frame. */
  private def zoneTables(spark: SparkSession, zoneDir: String)
      : Seq[(String, DataFrame)] =
    Option(new java.io.File(zoneDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).toSeq.map { t =>
        t.getName -> (
          if (new java.io.File(t, "_manifests").isDirectory)
            LakeWriter.readSnapshot(spark, t.getPath)
          else LakeWriter.readParquetDir(spark, t.getPath))
      }

  /** Serve one snapshot table AS OF a version (time-travel SQL). */
  def registerSnapshotAsOf(spark: SparkSession, table: String,
                           viewName: String, version: Long): Unit =
    LakeWriter.readSnapshot(spark, table, Some(version))
      .createOrReplaceTempView(viewName)

  /** Time travel for EXTERNAL connections: a Thrift/JDBC session has
    * its own temp-view namespace and cannot see `registerSnapshotAsOf`
    * views — global temp views ride the shared context instead, so any
    * connection reads the pinned version as
    * `global_temp.<viewName>` (the `table@v` convention, spelled as a
    * view name since `@` is not a valid identifier char). */
  def registerSnapshotAsOfGlobal(spark: SparkSession, table: String,
                                 viewName: String, version: Long): Unit =
    LakeWriter.readSnapshot(spark, table, Some(version))
      .createOrReplaceGlobalTempView(viewName)

  /** Serve a snapshot table's CHANGE FEED between two versions to
    * external connections: every Thrift/JDBC client reads the
    * row-level net delta (insert/delete `_change_type` rows) as
    * `global_temp.<viewName>` — the "what changed since v?" endpoint
    * an incremental consumer polls instead of diffing snapshots. */
  def registerChangeFeedGlobal(spark: SparkSession, table: String,
                               viewName: String, fromVersion: Long,
                               toVersion: Long): Unit =
    LakeWriter.changesBetween(spark, table, fromVersion, toVersion)
      .createOrReplaceGlobalTempView(viewName)

  /** Serve a CATALOG to foreign engines (the Nessie/Iceberg-REST
    * discovery role, reference config/nessie.properties — the r15
    * verdict's #5): register every table the catalog's MAIN TIP pins
    * as a global temp view under its catalog name, and every TAGGED
    * commit's pins as `<name>__<tag>` — so any HiveServer2/JDBC
    * client discovers the CONSISTENT cross-table state by name
    * (`SHOW TABLES IN global_temp`) and a tag read can never pair a
    * fact with a dim from a different load. One commit JSON read
    * resolves each pin set, so every view of a tag shares one
    * validated (table -> version) map; re-invoke after new commits to
    * refresh the tip views (tags are immutable — theirs never move). */
  def registerCatalogGlobal(spark: SparkSession, catalog: String): Unit = {
    def registerPins(pins: Map[String, (String, Long)],
                     nameOf: String => String): Unit =
      pins.toSeq.sortBy(_._1).foreach { case (n, (path, v)) =>
        LakeWriter.readSnapshot(spark, path, Some(v))
          .createOrReplaceGlobalTempView(nameOf(n))
      }
    Catalog.commits(spark, catalog).lastOption.foreach { tip =>
      registerPins(Catalog.pinsAt(spark, catalog, tip), identity)
    }
    Catalog.tags(spark, catalog).foreach { tag =>
      registerPins(
        Catalog.pinsAt(spark, catalog,
          Catalog.tagCommit(spark, catalog, tag)),
        n => s"${n}__$tag")
    }
  }

  /** One-shot ad-hoc query over an sf directory. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }

  /** Start a real JDBC/Thrift SQL endpoint over this session's
    * catalog — the externally-reachable serving surface the
    * reference delegates to Trino: any HiveServer2-protocol client
    * (beeline, JDBC `jdbc:hive2://host:port`, Superset's hive
    * driver) can query every view registered above, with Spark
    * executing the plans. Binds on `port` (0 = none free picked by
    * the OS is NOT supported by HiveServer2 — pass an explicit free
    * port). Returns a handle whose `stop()` shuts the endpoint down;
    * the SparkSession itself stays alive. */
  def serve(spark: SparkSession, port: Int)
      : org.apache.hive.service.server.HiveServer2 = {
    spark.sqlContext.setConf("hive.server2.thrift.port", port.toString)
    spark.sqlContext.setConf("hive.server2.thrift.bind.host", "localhost")
    org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
      .startWithContext(spark.sqlContext)
  }
}
