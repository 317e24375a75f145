package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level cleaning / normalization combinators.
  *
  * Re-expresses the reference's staging helpers (see
  * /root/reference/airflow/dags/utils/init_spark.py:38-45 — `norm_sym`,
  * `as_double_clean`, `as_long_clean`) as pure Spark `Column`
  * transformations so they stay inside whole-stage codegen — no UDFs.
  */
object CleanFns {

  /** Normalize an identifier/symbol: trim whitespace, uppercase. */
  def normSym(c: Column): Column = upper(trim(c))

  /** Strip every char that isn't a digit, dot or minus, then cast to
    * double — tolerant parsing of "$1,234.56"-style columns. */
  def cleanDouble(c: Column): Column =
    regexp_replace(c.cast("string"), "[^0-9.\\-]", "").cast("double")

  /** Same, to long. */
  def cleanLong(c: Column): Column =
    regexp_replace(c.cast("string"), "[^0-9.\\-]", "").cast("long")

  /** yyyyMMdd surrogate key for a date/timestamp column
    * (reference: fact_stock_daily.py date_sk). */
  def dateSk(c: Column): Column = date_format(c, "yyyyMMdd").cast("int")

  /** crc32 surrogate key over the given natural-key columns
    * (reference: dim_exchange.py / dim_company.py `F.crc32(concat_ws(...))`).
    * Stable across runs and cluster sizes; collision-tolerant for dims. */
  def skCrc32(cols: Column*): Column =
    crc32(concat_ws(":", cols.map(_.cast("string")): _*)).cast("long")

  /** Null-guarded percentage change (reference: fact_stock_daily.py
    * pct_change = (current-previous)/previous when previous != 0). */
  def pctChange(current: Column, previous: Column): Column =
    when(previous.isNotNull && previous =!= 0.0,
      (current - previous) / previous)

  /** Reproducible rounding: floor(x*10^d + 0.5)/10^d. Unlike `round`,
    * which rounds the shortest DECIMAL REPRESENTATION of the double
    * (Java BigDecimal.valueOf semantics) and therefore disagrees with
    * engines that round the binary value, this is pure double
    * arithmetic — any engine evaluating the same formula on the same
    * double gets the identical result. Use it when the rounded value
    * must hash-match an external oracle. */
  def roundRepro(c: Column, digits: Int): Column = {
    val p = lit(math.pow(10.0, digits))
    floor(c * p + lit(0.5)) / p
  }
}
