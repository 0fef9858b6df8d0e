package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function surface of the engine (SURVEY §2.9).
  *
  * Everything here composes Spark built-ins (codegen'd, no UDFs) while
  * matching the reference's BigQuery semantics at the call sites cited in
  * SURVEY.md. These are the only "functions" the reference needs; the
  * LLM-pipeline extensions live in `graft.llm`.
  */
package object functions {

  /** BigQuery SAFE_DIVIDE (reference `models/facts/fact_station_uptime.sql:32`):
    * NULL on zero/NULL denominator instead of error/Inf.
    */
  def safeDivide(num: Column, den: Column): Column =
    when(den.isNull || den === 0, lit(null)).otherwise(num / den)

  /** COUNTIF (reference `models/marts/mart_station_uptime.sql:11-13`) as a
    * map-side-combinable sum — stays inside hash aggregation / codegen.
    */
  def countIf(cond: Column): Column =
    sum(when(cond, 1L).otherwise(0L))

  /** MD5-of-concat surrogate key (reference `models/facts/fact_trips.sql:9-16`).
    * NULL-propagates like BigQuery CONCAT: any NULL part => NULL key.
    */
  def surrogateKey(parts: Column*): Column =
    md5(concat(parts.map(_.cast("string")): _*))

  /** BigQuery-format timestamp→string for byte-portable surrogate keys:
    * `yyyy-MM-dd HH:mm:ss.SSSSSS+00:00` in UTC with microseconds always
    * printed — the rendering the reference's BigQuery run md5-keys over
    * (`models/facts/fact_trips.sql:9-16`, e.g.
    * `2025-01-01 04:37:39.287000+00:00`). Spark's plain string cast trims
    * trailing fraction zeros, which is self-consistent for dedup but not
    * byte-equal, so keys diffed across engines go through this helper.
    * Requires the engine's UTC session timezone (GraftSession sets it).
    */
  def bqTimestampString(ts: Column): Column =
    concat(date_format(ts, "yyyy-MM-dd HH:mm:ss.SSSSSS"), lit("+00:00"))

  /** BigQuery TIMESTAMP_DIFF(end, start, SECOND) (reference
    * `models/staging/stg_historic_trips.sql:25`): whole-second difference
    * truncated toward zero, robust to sub-second input precision.
    */
  def timestampDiffSeconds(end: Column, start: Column): Column =
    (end.cast("double") - start.cast("double")).cast("long")

  /** Epoch seconds of a timestamp, floored (positive-era). */
  def epochSeconds(ts: Column): Column = ts.cast("long")

  /** BigQuery FORMAT_DATE('%Y%m%d', d). */
  def dateInt(d: Column): Column = date_format(d, "yyyyMMdd")

  /** Deterministic cross-engine rounding: floor(x·10^s + 0.5)/10^s on the
    * binary double. Unlike Spark's `round` (which re-parses the shortest
    * decimal repr via BigDecimal, so 8949.4249999… "rounds" as 8949.425),
    * this computes the same bit pattern in any engine evaluating the same
    * formula — which is what a hash-compared oracle needs.
    */
  def roundDet(c: Column, scale: Int): Column = {
    val p = lit(math.pow(10, scale))
    floor(c * p + lit(0.5)) / p
  }

  /** Ratio rounded the way the marts do (reference
    * `models/marts/mart_station_availability.sql:13-15`).
    */
  def roundedRatio(num: Column, den: Column, scale: Int = 3): Column =
    roundDet(safeDivide(num.cast("double"), den.cast("double")), scale)
}
