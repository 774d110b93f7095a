package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level enrichment operators.
  *
  * Reference analogs: the silver layer derives a categorical bucket from a
  * numeric column (reference: local_spotify_dab/src/silver/
  * Silver_Dimensions.py:905-911 `durationFlag`: duration_sec < 150 → low,
  * < 300 → medium, else high); the warehouse carries a date dimension
  * (reference: data_scripts/spotify_initial_load.sql:36-43 DimDate with
  * date_key/day/month/year/weekday); ADF moves JSON payloads around
  * (reference: dataset/ds_spotify_bronze_json.json).
  */
object Enrich {

  /** CASE-bucket a numeric column: thresholds are upper bounds paired with
    * labels, evaluated in order; values above all thresholds get
    * `elseLabel`. Pure projection — codegen'd, no shuffle.
    */
  def bucketize(src: Column, thresholds: Seq[(Double, String)], elseLabel: String): Column =
    thresholds.foldRight(lit(elseLabel): Column) { case ((ub, label), rest) =>
      when(src < lit(ub), lit(label)).otherwise(rest)
    }

  /** Date dimension rows derived from a timestamp column: one row per
    * distinct calendar date with surrogate key yyyymmdd and calendar
    * attributes. Distinct is a narrow-width shuffle on the date only.
    */
  def dimDateFrom(df: DataFrame, tsCol: String): DataFrame = {
    val d = col(tsCol).cast("date")
    df.select(d.as("date")).distinct()
      .select(
        (year(col("date")) * 10000 + month(col("date")) * 100 +
          dayofmonth(col("date"))).as("date_key"),
        col("date"),
        dayofmonth(col("date")).as("day"),
        month(col("date")).as("month"),
        year(col("date")).as("year"),
        weekdayName(col("date")).as("weekday"))
  }

  /** English weekday name, independent of the JVM default locale (DuckDB's
    * `dayname()` is always English; `date_format(_, "EEEE")` is not).
    * `dayofweek` is 1=Sunday..7=Saturday.
    */
  def weekdayName(d: Column): Column =
    element_at(
      array(Seq("Sunday", "Monday", "Tuesday", "Wednesday", "Thursday",
        "Friday", "Saturday").map(lit): _*),
      dayofweek(d))

  /** Extract one long field via schema-directed parsing — `from_json` with
    * a one-field schema is ~2x faster than JsonPath evaluation
    * (`get_json_object`) because Jackson stops at the projected field.
    */
  def jsonLongField(src: Column, field: String): Column =
    from_json(src, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(field,
        org.apache.spark.sql.types.LongType))))(field)
}
