package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CleanFns

/** Dimension builders for the curated star schema.
  *
  * Reference origins:
  *  - dim_date:     /root/reference/airflow/dags/spark_code/curated/dim_date.py
  *  - distinct dims (exchange/currency/trading_status):
  *                  /root/reference/airflow/dags/spark_code/curated/dim_exchange.py
  *
  * Dims are small by construction (post-`distinct`), so downstream
  * star joins should `broadcast()` them — see Analytics.starJoin.
  */
object Dims {

  /** Calendar dimension from the distinct dates of `dateCol`.
    * Columns mirror nessie.curated.dim_date (DDL.sql:2-12). */
  def dateDim(df: DataFrame, dateCol: Column): DataFrame =
    df.select(dateCol.cast("date").as("date"))
      .where(col("date").isNotNull)
      .distinct()
      .withColumn("date_sk", CleanFns.dateSk(col("date")))
      .withColumn("year", year(col("date")))
      .withColumn("quarter", quarter(col("date")))
      .withColumn("month", month(col("date")))
      .withColumn("day", dayofmonth(col("date")))
      .withColumn("week", weekofyear(col("date")))
      .withColumn("dow", dayofweek(col("date")))
      .withColumn("is_weekend", col("dow").isin(1, 7))

  /** Distinct-valued dimension with a dense surrogate key.
    *
    * The reference keys dims with crc32 (dim_exchange.py) — we expose
    * that as `CleanFns.skCrc32` — but the default here is a
    * `dense_rank` over the natural key: deterministic, collision-free,
    * and cheap because it runs AFTER `distinct()` collapses the input
    * to dim cardinality (a few thousand rows at most, so the
    * single-partition rank window is not a scale concern). */
  def distinctDim(df: DataFrame, naturalKey: Seq[String],
                  skName: String): DataFrame = {
    val keyCols = naturalKey.map(col)
    df.select(keyCols: _*)
      .where(keyCols.map(_.isNotNull).reduce(_ && _))
      .distinct()
      .withColumn(skName,
        dense_rank().over(Window.orderBy(keyCols: _*)).cast("long"))
  }

  /** Enrich a frame from a small in-memory lookup table (broadcast) —
    * the reference's dim_currency pattern: static name/rate lookups
    * (pycountry, hardcoded FX rates) joined onto the distinct codes
    * (curated/dim_currency.py). */
  def lookupEnrich(df: DataFrame, lookup: DataFrame, key: Seq[String],
                   joinType: String = "left"): DataFrame =
    df.join(broadcast(lookup), key, joinType)
}
