package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.FarmSchema

/** The reference's per-record validator (`Lambda/lamda.py:60-150`,
  * SURVEY.md §2.2 P1–P8) compiled to native column expressions — no UDF,
  * fully whole-stage-codegen'd, so Catalyst can pipeline it with the
  * scan at any scale.
  *
  * Faithfulness notes (order matters — the error/warning arrays are
  * compared element-for-element in tests):
  *  - missing/invalid loc_id short-circuits to INVALID with only that
  *    error (lamda.py:70-77).
  *  - required-key errors accumulate before the sensor_data empty check
  *    (lamda.py:82-91).
  *  - a None/absent sensor value hits the sentinel list (None ∈
  *    extreme_values, lamda.py:98) so `<s>_missing` is unreachable in
  *    the reference; we replicate the reachable behavior.
  *  - sentinel matching is value-based for numbers (0 == 0.0 in Python)
  *    and literal for 'null'/'NULL'/'NaN' strings.
  *  - the temperature/weather cross-check reuses the reference's
  *    Python-format message via the raw JSON tokens.
  *  - DIVERGENCE (documented): when the sensor temperature is
  *    non-numeric after coercion the reference *crashes* into its
  *    errors/processing route (abs(str - float) TypeError); we skip the
  *    cross-check instead — those records are already INVALID.
  *
  * Plan layout: the validator is built in stages, one `select` each,
  * and every per-record value used more than once is computed once as
  * an internal `_`-prefixed column of an earlier stage:
  *  1. the payload's top-level keys; per sensor the raw token, whether
  *     it was quoted, and the location's lo/hi/buffer bounds;
  *  2. per sensor the coerced double;
  *  3. per sensor the sentinel flag;
  *  4. errors, warnings and the coerced `sensor_<name>` columns;
  *  5. the status, from the error/warning columns; the internal
  *     columns are dropped here.
  * Every micro-batch of the ingest stream analyses, optimizes, generates
  * and compiles this plan again, so its size is a per-invocation cost:
  * inlining the shared values at each use grows the optimized record
  * path from ~2k to 12.6k expression nodes. The stages survive
  * optimization because CollapseProject does not inline a non-cheap
  * expression into a projection that references it more than once, and
  * each internal column is referenced several times by the next stage.
  */
object Validation {

  val StringSentinels: Seq[String] = Seq("null", "NULL", "NaN")
  val NumericSentinels: Seq[Double] = Seq(0.0, 9999.0, -9999.0)

  /** All validation columns, derived from the parsed wire columns
    * produced by [[FarmSchema.parse]] (expects `raw`, `loc_id`,
    * `sensor_data`, `weather_data` columns).
    *
    * Returns the input columns followed by validation_errors,
    * validation_warnings, validation_status, and one coerced DOUBLE
    * column `sensor_<name>` per sensor (null when sentinel or
    * uncoercible — mirrors the reference mutating only successfully
    * converted values).
    */
  def annotate(df: DataFrame, rawCol: String = "raw"): DataFrame = {
    val raw = col(rawCol)
    val locId = col("loc_id")
    val sensors = Ranges.sensors

    // internal per-record columns (see the plan layout above)
    val keys = col("_keys")
    def rawVal(s: String): Column = col(s"_raw_$s")
    def quoted(s: String): Column = col(s"_quoted_$s")
    def castVal(s: String): Column = col(s"_num_$s")
    def isSentinel(s: String): Column = col(s"_sentinel_$s")
    def lo(s: String): Column = col(s"_lo_$s")
    def hi(s: String): Column = col(s"_hi_$s")
    def buf(s: String): Column = col(s"_buf_$s")

    def locConst(f: Ranges.Range => Double, s: String): Column =
      Ranges.locations.foldLeft(lit(null).cast("double")) { (acc, loc) =>
        when(locId === loc, lit(f(Ranges.perLocation(loc)(s)))).otherwise(acc)
      }

    // Stage 1: one key scan of the payload; per sensor the raw token,
    // its quotedness (a regex over the payload) and the bounds
    val stage1 = df.select(col("*") +: FarmSchema.topLevelKeys(raw).as("_keys") +:
      sensors.flatMap { s =>
        Seq(
          element_at(col("sensor_data"), s).as(s"_raw_$s"),
          FarmSchema.wasQuoted(raw, s).as(s"_quoted_$s"),
          locConst(_.min, s).as(s"_lo_$s"),
          locConst(_.max, s).as(s"_hi_$s"),
          locConst(_.buffer, s).as(s"_buf_$s"))
      }: _*)

    // Stage 2: coercion. Unquoted JSON booleans coerce to 1/0 BEFORE
    // try_cast: Python's bool is an int subtype, so the reference's
    // `val in [0, ...]` sentinel check and range arithmetic treat False
    // as 0 and True as 1 (lamda.py:98 onward); a double cast of the
    // token text would instead null them into invalid_type. Quoted
    // "true"/"false" strings stay uncoercible — the reference's
    // float("true") raises.
    val stage2 = stage1.select(col("*") +: sensors.map { s =>
      when(!quoted(s) && rawVal(s) === "true", lit(1.0))
        .when(!quoted(s) && rawVal(s) === "false", lit(0.0))
        .otherwise(rawVal(s).try_cast("double"))
        .as(s"_num_$s")
    }: _*)

    // Stage 3: sentinel matching replicates Python `val in [0, 9999,
    // -9999, '0', '9999', '-9999', 'null', 'NULL', 'NaN', None]`
    // (lamda.py:98): numeric JSON tokens compare by value (0.0 == 0 in
    // Python), quoted strings compare by *exact text* — a quoted "0.0"
    // is NOT a sentinel there (it would be type-converted then
    // range-checked), so the numeric-value branch is gated on the token
    // being unquoted.
    val stage3 = stage2.select(col("*") +: sensors.map { s =>
      (rawVal(s).isNull ||
        rawVal(s).isin(StringSentinels: _*) ||
        when(quoted(s), rawVal(s).isin("0", "9999", "-9999"))
          .otherwise(coalesce(castVal(s).isin(NumericSentinels: _*), lit(false))))
        .as(s"_sentinel_$s")
    }: _*)

    // Stage 4: errors, warnings and the coerced sensor columns.
    // P2: loc_id domain (falsy in Python = null or empty string)
    val locMissing = locId.isNull || locId === ""
    val locInvalid = !locId.isin(Ranges.locations: _*)

    // P1: required top-level keys (JSON-text presence, see FarmSchema)
    val requiredKeyErrors: Seq[Column] = FarmSchema.requiredKeys.map { k =>
      when(!array_contains(keys, k), lit(s"missing_top_level_key:$k"))
    }

    // P3: empty sensor_data
    val sensorEmpty = col("sensor_data").isNull || size(map_keys(col("sensor_data"))) === 0

    // P4–P6: per-sensor checks
    def inRange(v: Column, lo: Column, hi: Column): Column = v >= lo && v <= hi

    val sensorErrors: Seq[Column] = sensors.map { s =>
      val v = castVal(s)
      when(isSentinel(s), lit(s"sensor_data:${s}_extreme_value"))
        .when(v.isNull, lit(s"sensor_data:${s}_invalid_type"))
        .when(!inRange(v, lo(s), hi(s)) && !inRange(v, lo(s) - buf(s), hi(s) + buf(s)),
          lit(s"sensor_data:${s}_out_of_range"))
    }

    val sensorWarnings: Seq[Column] = sensors.flatMap { s =>
      val v = castVal(s)
      val usable = !isSentinel(s) && v.isNotNull
      Seq(
        when(usable && quoted(s),
          lit(s"sensor_data:${s}_type_converted")),
        when(usable && !inRange(v, lo(s), hi(s)) &&
          inRange(v, lo(s) - buf(s), hi(s) + buf(s)),
          lit(s"sensor_data:${s}_near_threshold")))
    }

    // P7: sensor-vs-weather temperature cross-check (lamda.py:129-137)
    val sensorTemp = castVal("temperature")
    val weatherTemp = col("weather_data.temperature_2m")
    val tempUsable = !isSentinel("temperature") && sensorTemp.isNotNull
    val mismatch = when(
      map_contains_key(col("sensor_data"), "temperature") && tempUsable &&
        array_contains(keys, "weather_data") && weatherTemp.isNotNull &&
        abs(sensorTemp - weatherTemp) > 15,
      concat(
        lit("temperature_mismatch:"),
        FarmSchema.rawToken(raw, "temperature"),
        lit("vs"),
        FarmSchema.rawToken(raw, "temperature_2m")))

    def compact(cols: Seq[Column]): Column =
      filter(array(cols: _*), x => x.isNotNull)

    val errors =
      when(locMissing, array(lit("missing_loc_id")))
        .when(locInvalid, array(concat(lit("invalid_loc_id:"), locId)))
        .when(sensorEmpty,
          compact(requiredKeyErrors :+ lit("missing_sensor_data")))
        .otherwise(compact(requiredKeyErrors ++ sensorErrors))

    val warnings =
      when(locMissing || locInvalid || sensorEmpty, array().cast("array<string>"))
        .otherwise(compact(sensorWarnings :+ mismatch))

    val coerced = sensors.map(s => when(!isSentinel(s), castVal(s)).as(s"sensor_$s"))

    val stage4 = stage3.select(
      (col("*") +: errors.as("validation_errors") +:
        warnings.as("validation_warnings") +: coerced): _*)

    // Stage 5, P8: status derivation (lamda.py:139-150)
    val status =
      when(size(col("validation_errors")) > 0, "INVALID")
        .when(size(col("validation_warnings")) > 0, "WARNING")
        .otherwise("VALID")

    stage4.select(
      (df.columns.map(col).toSeq :+
        col("validation_errors") :+
        col("validation_warnings") :+
        status.as("validation_status")) ++
        sensors.map(s => col(s"sensor_$s")): _*)
  }
}
