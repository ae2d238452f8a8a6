package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Layout

/** S10 + F18/F19/F20: the generated date dimension (reference:
  * clickhouse_init/02_dim_tables.sql:10-66 — arrayJoin(arrayMap(range))
  * row generator + toYear/toQuarter/... + multiIf weekend flag).
  *
  * Spark-first: `explode(sequence(start, stop))` is the arrayJoin
  * analog; all attributes are built-in date functions, fully
  * codegen'd. 3653 rows — driver-side trivial at any scale.
  *
  * Day-of-week convention: Spark dayofweek (Sun=1), normalized in the
  * oracle from DuckDB's Sun=0 (SURVEY §7.4).
  */
object DateDim {

  def dimTime(spark: SparkSession, dir: String,
              layout: Layout = Layout.Declared): DataFrame =
    layout.present(spark.range(1)
      .select(explode(sequence(
        to_date(lit("2016-01-01")),
        to_date(lit("2025-12-31")))).as("d"))
      .select(
        date_format(col("d"), "yyyyMMdd").cast("int").as("date_key"),
        date_format(col("d"), "yyyy-MM-dd").as("date_str"),
        year(col("d")).as("d_year"),
        quarter(col("d")).as("d_quarter"),
        month(col("d")).as("d_month"),
        date_format(col("d"), "MMMM").as("month_name"),
        weekofyear(col("d")).as("iso_week"),
        dayofmonth(col("d")).as("day_of_month"),
        dayofweek(col("d")).as("day_of_week"),
        date_format(col("d"), "EEEE").as("day_name"),
        dayofweek(col("d")).isin(1, 7).as("is_weekend")),
      col("date_key"))

  val dimTimeSql: String =
    """SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
      |  strftime(d, '%Y-%m-%d') AS date_str,
      |  CAST(year(d) AS INT) AS d_year,
      |  CAST(quarter(d) AS INT) AS d_quarter,
      |  CAST(month(d) AS INT) AS d_month,
      |  monthname(d) AS month_name,
      |  CAST(weekofyear(d) AS INT) AS iso_week,
      |  CAST(day(d) AS INT) AS day_of_month,
      |  CAST(dayofweek(d) + 1 AS INT) AS day_of_week,
      |  dayname(d) AS day_name,
      |  (dayofweek(d) + 1) IN (1, 7) AS is_weekend
      |FROM (SELECT unnest(generate_series(DATE '2016-01-01',
      |        DATE '2025-12-31', INTERVAL 1 DAY))::DATE AS d)
      |ORDER BY date_key""".stripMargin
}
