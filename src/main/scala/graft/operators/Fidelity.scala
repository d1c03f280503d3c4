package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Fns.javaRound
import graft.sources.CaaCsv

/** Reference-fidelity pipelines: the two documented queries of the
  * reference (per-airport weighted delay, `Program/Delay.java:35-207`;
  * per-(airline, year) late-departure %, `Program/Late.java:38-196`)
  * over raw CAA CSV lines parsed with the reference's own dialect
  * ([[graft.sources.CaaCsv.splitByComma]]).
  *
  * Semantics reproduced exactly (verified by FidelitySpec goldens):
  *  - string-level filters: `s(7).trim == "S"`, `s(8).trim != "0"`
  *    (header rows die on the S-filter, like the reference);
  *  - weighted counts reconstructed with Java `Math.round` semantics =
  *    floor(x+0.5) — differs from Spark/DuckDB HALF_UP on negative
  *    halves, which real (early-flight) delay data does hit;
  *  - weighted average as ratio of integer sums, never avg();
  *  - Delay emits NaN for an airport with no arrivals or no departures
  *    (0/0 in double — reference `Delay.java:190` has no guard);
  *  - Late emits nothing below the 50 % threshold (HAVING,
  *    `Late.java:172-175`) and scales ×100.
  *
  * The quintessential MapReduce optimization in the reference — in-
  * mapper combining with flush-when-full (`Delay.java:22-28`) — needs
  * no equivalent here: Spark always plans partial aggregation before
  * the exchange and spills under pressure.
  *
  * Job shape (shared with the three text jobs of [[graft.jobs.JobsMain]]):
  * scan → partial aggregate → one hash shuffle → final aggregate and
  * sort in one task ([[keySorted]]) → collect, i.e. two Spark jobs.
  */
object Fidelity {

  /** Key-sorts a job's final aggregate inside a single partition, like
    * the reference's single reducer, which receives its keys already
    * sorted by the shuffle. A global `orderBy` would instead add a
    * range-partition sampling job (which recomputes the aggregate), a
    * second shuffle and a sort stage.
    *
    * The one limit: the final aggregate and the sort run in one task.
    * That suits outputs bounded by the number of keys (airports,
    * airline-years, words, user–url pairs); a WordCount over a very
    * large vocabulary would need a range sort again. */
  def keySorted(df: DataFrame, keys: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(keys: _*)

  /** Parse raw lines → (typed columns used by both jobs). Malformed
    * numerics crash the job, exactly like the reference's bare
    * Integer.parseInt/Double.parseDouble (P3 crash philosophy). */
  private def parsed(lines: Dataset[String]): DataFrame = {
    import lines.sparkSession.implicits._
    lines
      .map(CaaCsv.splitByComma)
      .filter(s => s.length != 0 && s(7).trim == "S" && s(8).trim != "0")
      .map { s =>
        (s(1).trim, s(2).trim, s(5).trim, s(6).trim, s(8).trim.toInt,
          s(12).trim.toDouble + s(13).trim.toDouble + s(14).trim.toDouble +
            s(15).trim.toDouble,
          s(16).trim.toDouble)
      }
      .toDF("period", "airport", "airline", "ad", "n", "late_pct", "avg_delay")
  }

  /** Delay job: per-airport average arrival & departure delay.
    * The reference's accumulate branch is `if (flag == "A") arr else dep`
    * (`Delay.java:75-96`) — every non-"A" row counts as a departure, so
    * the departure legs use `.otherwise`, not a `=== "D"` predicate. */
  def delay(lines: Dataset[String]): DataFrame =
    parsed(lines)
      .groupBy(col("airport"))
      .agg(
        sum(when(col("ad") === "A", javaRound(col("n") * col("avg_delay")))
          .otherwise(0L)).as("arr_sum"),
        sum(when(col("ad") === "A", col("n")).otherwise(0)).as("arr_n"),
        sum(when(col("ad") === "A", 0L)
          .otherwise(javaRound(col("n") * col("avg_delay")))).as("dep_sum"),
        sum(when(col("ad") === "A", 0).otherwise(col("n"))).as("dep_n"))
      .select(col("airport"),
        nanRatio(col("arr_sum"), col("arr_n")).as("avg_arr"),
        nanRatio(col("dep_sum"), col("dep_n")).as("avg_dep"))
      .transform(keySorted(_, col("airport")))

  /** Java double-division semantics: 0/0 = NaN (reference
    * `Delay.java:190` divides unguarded; Spark 4's ANSI mode would
    * raise DIVIDE_BY_ZERO instead). n/0 with n≠0 cannot occur here —
    * a nonzero sum implies a nonzero count. */
  private def nanRatio(num: org.apache.spark.sql.Column,
                       den: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(den === 0, lit(Double.NaN))
      .otherwise(num.cast(DoubleType) / den.cast(DoubleType))

  /** Late job: % of scheduled departures ≥31 min late per
    * (airline, year), kept when ≥ 50 %. */
  def late(lines: Dataset[String]): DataFrame =
    parsed(lines)
      .filter(col("ad") === "D")
      // the reference's substring(0, 4) THROWS on a short period field
      // (Late.java:59); Spark's substring would silently return the
      // short string — raise to keep the crash-fidelity contract
      .groupBy(col("airline"),
        when(length(col("period")) >= 4, substring(col("period"), 1, 4))
          .otherwise(raise_error(concat(
            lit("StringIndexOutOfBoundsException: period too short: "),
            col("period")))).as("year"))
      .agg(
        sum(col("n")).as("flight_sum"),
        sum(javaRound(col("n") * col("late_pct") / 100)).as("delay_sum"))
      .where(col("flight_sum") > 0 &&
        col("delay_sum").cast(DoubleType) / col("flight_sum").cast(DoubleType) >= 0.5)
      .select(col("airline"), col("year"),
        (col("delay_sum").cast(DoubleType) / col("flight_sum").cast(DoubleType) * 100)
          .as("late_pct"))
      // MapReduce sorted the composite Text key "airline,year" by bytes;
      // sorting by (airline, year) columns diverges when one airline is a
      // proper prefix of another followed by a char < ',' (e.g. space).
      .transform(keySorted(_, concat(col("airline"), lit(","), col("year"))))
}
