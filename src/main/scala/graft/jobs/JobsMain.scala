package graft.jobs

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Sessions
import graft.operators.Fidelity
import graft.operators.Fidelity.keySorted

/** Drop-in replacements for the reference's five `hadoop jar` entry
  * points — same invocation shape, same input files, byte-identical
  * `key TAB value` text output (single sorted part file; MapReduce's
  * single-reducer runs were key-sorted by the shuffle):
  *
  * {{{
  * sbt "runMain graft.jobs.JobsMain Delay     <inDir> <outDir>"   // Program/Delay.java
  * sbt "runMain graft.jobs.JobsMain Late      <inDir> <outDir>"   // Program/Late.java
  * sbt "runMain graft.jobs.JobsMain WordCount <inDir> <outDir>"   // Jar!WordCount.java
  * sbt "runMain graft.jobs.JobsMain WebLog1   <inDir> <outDir>"   // Jar!WebLog1.java
  * sbt "runMain graft.jobs.JobsMain WebLog2   <inDir> <outDir>"   // Jar!WebLog2.java
  * }}}
  *
  * Value formatting matches the reference exactly: Java
  * `Double.toString` (JVM `String.valueOf`) including `NaN` for an
  * airport without arrivals or departures (`Delay.java:190`), and the
  * `airline,year` composite key (`Late.java:59`).
  *
  * Every job has one shape: scan → partial aggregate → one hash shuffle
  * → final aggregate and key sort in one task
  * ([[graft.operators.Fidelity.keySorted]]) → collect. That is two Spark
  * jobs each, three for WebLog2, which groups twice. Its one limit is
  * that single final task; it suits outputs bounded by the number of
  * keys (the benchmark's inputs give 22 airports, at most 240
  * airline-years, 3,000 words, and about 30,000 user–url pairs for
  * WebLog1 and 2,600 for WebLog2), while a WordCount over a very large
  * vocabulary would need a range sort again.
  */
object JobsMain {

  /** Delay: `airport TAB arrAvg,depAvg`, key-sorted. */
  def delayLines(lines: Dataset[String]): Dataset[String] = {
    import lines.sparkSession.implicits._
    Fidelity.delay(lines)
      .as[(String, Double, Double)]
      .map { case (k, a, d) => s"$k\t${String.valueOf(a)},${String.valueOf(d)}" }
  }

  /** Late: `airline,year TAB pct`, key-sorted. */
  def lateLines(lines: Dataset[String]): Dataset[String] = {
    import lines.sparkSession.implicits._
    Fidelity.late(lines)
      .as[(String, String, Double)]
      .map { case (a, y, p) => s"$a,$y\t${String.valueOf(p)}" }
  }

  /** StringTokenizer's default delimiter set is exactly " \t\n\r\f" —
    * \s would also split on vertical tab (\x0B), which the reference
    * keeps inside tokens. Compiled once; `String.split` would compile it
    * again for every line. */
  private val Delims = Pattern.compile("[ \t\n\r\f]+")

  /** StringTokenizer tokens of a line. `split` yields an empty token
    * only at the front of a delimiter-led (or empty) line, dropped like
    * nextToken() skips leading delimiters; copying the array directly
    * avoids a per-line `ClassTag` lookup in `Array.filter`. */
  private def tokens(line: String): Array[String] = {
    val t = Delims.split(line)
    if (t.length > 0 && t(0).isEmpty) java.util.Arrays.copyOfRange(t, 1, t.length) else t
  }

  /** WordCount: whitespace tokens, `word TAB count`, key-sorted. */
  def wordCountLines(lines: Dataset[String]): Dataset[String] = {
    import lines.sparkSession.implicits._
    lines.flatMap(l => tokens(l))
      .groupBy("value").count()
      .transform(keySorted(_, col("value")))
      .as[(String, Long)]
      .map { case (w, c) => s"$w\t$c" }
  }

  /** Extract the first three whitespace tokens (username, date, url);
    * malformed lines crash, like the reference's bare nextToken(). */
  private def weblogFields(lines: Dataset[String]): Dataset[(String, String, String)] = {
    import lines.sparkSession.implicits._
    lines.map { l =>
      val t = tokens(l)
      (t(0), t(1), t(2))
    }
  }

  /** Output order of both web-log jobs: the mapper key `user|url` (the
    * reference's composite Text key), then (user, url), because two pairs
    * can share a key when a token contains `|` (`a|b`+`c` and `a`+`b|c`). */
  private def byUserUrl(df: DataFrame): DataFrame =
    keySorted(df, concat(col("u"), lit("|"), col("url")), col("u"), col("url"))

  /** WebLog1: users visiting a url ≥2 times → `user TAB url`. */
  def webLog1Lines(lines: Dataset[String]): Dataset[String] = {
    import lines.sparkSession.implicits._
    weblogFields(lines).toDF("u", "d", "url")
      .groupBy(col("u"), col("url")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .transform(byUserUrl)
      .as[(String, String, Long)]
      .map { case (u, url, _) => s"$u\t$url" }
  }

  /** WebLog2: users visiting a url ≥2 times on the same date →
    * `user TAB url`. */
  def webLog2Lines(lines: Dataset[String]): Dataset[String] = {
    import lines.sparkSession.implicits._
    weblogFields(lines).toDF("u", "d", "url")
      .groupBy(col("u"), col("url"), col("d")).agg(count(lit(1)).as("n"))
      .groupBy(col("u"), col("url")).agg(max(col("n")).as("m"))
      .where(col("m") >= 2)
      .transform(byUserUrl)
      .as[(String, String, Long)]
      .map { case (u, url, _) => s"$u\t$url" }
  }

  def run(spark: SparkSession, job: String, in: String): Dataset[String] = {
    val lines = spark.read.textFile(in)
    job match {
      case "Delay"     => delayLines(lines)
      case "Late"      => lateLines(lines)
      case "WordCount" => wordCountLines(lines)
      case "WebLog1"   => webLog1Lines(lines)
      case "WebLog2"   => webLog2Lines(lines)
      case other       => sys.error(s"unknown job: $other " +
        "(expected Delay|Late|WordCount|WebLog1|WebLog2)")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: JobsMain Delay|Late|WordCount|WebLog1|WebLog2 <inDir> <outDir>")
      sys.exit(2)
    }
    val Array(job, in, out) = args
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // single sorted part file, like the reference's one-reducer runs
    run(spark, job, in).coalesce(1).write.text(out)
    spark.stop()
  }
}
