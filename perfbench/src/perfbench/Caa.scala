package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random

/** Seeded inputs for the five `graft.jobs.JobsMain` jobs, and their answer
  * key computed in plain Scala from the generated records (not by parsing
  * the text back), following the reference MapReduce programs:
  *
  *  - Delay: rows with `scheduled_charter == "S"` and
  *    `number_flights_matched != "0"`; per airport the sums of
  *    `Math.round(n * avg_delay)` (floor(x + 0.5)) and of `n`, split by
  *    arrival ("A") versus everything else; output `arrSum/arrCount` and
  *    `depSum/depCount` with Java `Double.toString`, NaN on 0/0.
  *  - Late: the same filter, departures only; per (airline, year) the sums
  *    of `n` and of `Math.round(n * late% / 100)`, emitted as a percentage
  *    when the ratio is at least 0.5, sorted by the bytes of
  *    `airline,year`.
  *  - WordCount / WebLog1 / WebLog2: `StringTokenizer` whitespace tokens;
  *    the web logs sort by the `user|url` mapper key.
  *
  * The CAA rows use the reference's 21-column dialect: a field that starts
  * with a quote runs to the next quote and keeps both quotes, so quoted
  * airline names with commas become keys with their quotes. The generator
  * mixes in charter rows, zero-flight rows, negative and half-minute
  * delays (where floor(x + 0.5) differs from HALF_UP), airports with only
  * arrivals or only departures (NaN), an airline name that is a prefix of
  * another followed by a space (byte order of `airline,year`), a header
  * line and blank lines. Each airline gets its own lateness level, so Late
  * keeps groups on both sides of its 50 % threshold.
  */
object Caa {
  val Jobs: Vector[String] = Vector("Delay", "Late", "WordCount", "WebLog1", "WebLog2")

  final case class Row(period: String, airport: String, airline: String, ad: String,
                       sc: String, n: Int, late: Array[String], avgDelay: String)

  final case class Inputs(caa: Vector[Row], caaLines: Vector[String],
                          webLines: Vector[String], wordLines: Vector[String])

  private val Header = "run_date,reporting_period,reporting_airport,origin_destination_country," +
    "origin_destination,airline_name,arrival_departure,scheduled_charter," +
    "number_flights_matched,actual_flights_unmatched,early_to_15_mins_late_percent," +
    "flts_16_to_30_mins_late_percent,flts_31_to_60_mins_late_percent," +
    "flts_61_to_180_mins_late_percent,flts_181_to_360_mins_late_percent," +
    "more_than_360_mins_late_percent,average_delay_mins,planned_flights_unmatched," +
    "previous_year_month_flights_matched,previous_year_month_early_to_15_mins_late_percent," +
    "previous_year_month_average_delay"

  private val Airports = Vector("ABERDEEN", "BELFAST CITY", "BIRMINGHAM", "BRISTOL",
    "CARDIFF WALES", "EAST MIDLANDS", "EDINBURGH", "EXETER", "GATWICK", "GLASGOW",
    "HEATHROW", "INVERNESS", "LEEDS BRADFORD", "LIVERPOOL", "LONDON CITY", "LUTON",
    "MANCHESTER", "NEWCASTLE", "SOUTHAMPTON", "STANSTED")
  private val ArrivalsOnly = "ISLES OF SCILLY"
  private val DeparturesOnly = "BOURNEMOUTH"
  private val Countries = Vector("AUSTRIA", "FRANCE", "GERMANY", "\"KOREA, REPUBLIC OF\"",
    "SPAIN", "USA", "ITALY", "\"CONGO, THE DEMOCRATIC REPUBLIC\"")
  private val Airlines: Vector[String] = Vector("AIR", "AIR UK", "AIR-FRANCE", "\"FLYBE, LTD\"",
    "\"VIRGIN, ATLANTIC\"", "BRUSSELS AIRLINES", "LUFTHANSA CITY LINE") ++
    (1 to 33).map(i => f"CARRIER $i%02d")
  private val Months = Vector("Jan", "Feb", "Mar", "Apr", "May", "Jun")

  def generate(seed: Long, caaRows: Int, webRows: Int, wordRows: Int): Inputs = {
    val rnd = new Random(seed)
    val lateness = Airlines.map(a => a -> (0.2 + 0.6 * rnd.nextDouble())).toMap
    // two decimals, without String.format's cost on 300k rows
    def fmt(x: Double): String = {
      val c = math.round(math.abs(x) * 100)
      (if (x < 0 && c != 0) "-" else "") + (c / 100) + (if (c % 100 < 10) ".0" else ".") + (c % 100)
    }
    def two(i: Int): String = if (i < 10) s"0$i" else i.toString
    def pct(x: Double): String = fmt(math.max(0.0, x))
    // space padding is trimmed by the jobs; a quoted field must start
    // with its quote, so it is never padded
    def pad(s: String): String = if (!s.startsWith("\"") && rnd.nextInt(4) == 0) s" $s " else s
    val rows = Vector.fill(caaRows) {
      val airport = rnd.nextInt(50) match {
        case 0 => ArrivalsOnly
        case 1 => DeparturesOnly
        case _ => Airports(rnd.nextInt(Airports.size))
      }
      val ad = airport match {
        case ArrivalsOnly   => "A"
        case DeparturesOnly => "D"
        case _              => if (rnd.nextBoolean()) "A" else "D"
      }
      val airline = Airlines(rnd.nextInt(Airlines.size))
      val year = 2011 + rnd.nextInt(6)
      val period = s"$year${two(1 + rnd.nextInt(12))}"
      val sc = if (rnd.nextInt(10) == 0) "C" else "S"
      val n = if (rnd.nextInt(30) == 0) 0 else 1 + rnd.nextInt(400)
      val share = lateness(airline) + (rnd.nextDouble() - 0.5) * 0.3
      val late = Array(pct(share * 60), pct(share * 25), pct(share * 10), pct(share * 5))
      val avgDelay = rnd.nextInt(3) match {
        case 0 => (rnd.nextInt(61) - 20).toString + ".5"  // half minutes: x.5 * odd n
        case 1 => fmt(-10 + 70 * rnd.nextDouble())
        case _ => (rnd.nextInt(90) - 15).toString
      }
      Row(period, airport, airline, ad, sc, n, late, avgDelay)
    }
    val caaLines = Vector(Header) ++ rows.map { r =>
      val runDate = s"${1 + rnd.nextInt(28)}-${Months(rnd.nextInt(Months.size))}-2017 13:31"
      val country = Countries(rnd.nextInt(Countries.size))
      Seq(runDate, pad(r.period), pad(r.airport), country, "SOMEWHERE", pad(r.airline), r.ad, pad(r.sc),
        pad(r.n.toString), "0", "40.5", "10.25", r.late(0), pad(r.late(1)), r.late(2), r.late(3),
        pad(r.avgDelay), "0", "12", "55.1", "7.3").mkString(",")
    } ++ Vector("")

    val users = Vector.tabulate(400)(i => s"user$i")
    val urls = Vector.tabulate(150)(i => s"/page/$i.html")
    val webLines = Vector.fill(webRows) {
      val sep = if (rnd.nextInt(8) == 0) "  \t" else " "
      val d = s"2017-11-${two(1 + rnd.nextInt(30))}"
      s"${users(rnd.nextInt(users.size))}$sep$d$sep${urls(rnd.nextInt(urls.size))}"
    }

    val vocab = Vector.tabulate(3000)(i => s"w${Integer.toString(i * 7919 % 3001, 36)}")
    val wordLines = Vector.fill(wordRows) {
      (0 until 4 + rnd.nextInt(12)).map { _ =>
        // squared uniform index: a skewed (Zipf-like) word frequency
        val u = rnd.nextDouble()
        vocab((u * u * vocab.size).toInt)
      }.mkString(if (rnd.nextInt(10) == 0) "\t" else " ")
    }
    Inputs(rows, caaLines, webLines, wordLines)
  }

  /** Writes each job's input as `parts` text files under `dir/<input>`;
    * returns the input directory per job. */
  def write(in: Inputs, dir: Path, parts: Int): Map[String, String] = {
    def put(name: String, lines: Vector[String]): String = {
      val d = dir.resolve(name)
      Files.createDirectories(d)
      val chunk = (lines.size + parts - 1) / parts
      lines.grouped(chunk).zipWithIndex.foreach { case (ls, i) =>
        Files.write(d.resolve(f"part-$i%05d.txt"), (ls.mkString("\n") + "\n").getBytes(UTF_8))
      }
      d.toString
    }
    val caa = put("caa", in.caaLines)
    val web = put("weblog", in.webLines)
    val words = put("words", in.wordLines)
    Map("Delay" -> caa, "Late" -> caa, "WordCount" -> words, "WebLog1" -> web, "WebLog2" -> web)
  }

  private def javaRound(x: Double): Long = math.floor(x + 0.5).toLong

  private def eligible(in: Inputs): Vector[Row] =
    in.caa.filter(r => r.sc == "S" && r.n != 0)

  /** Expected output lines of `job`, in output order. */
  def expected(in: Inputs, job: String): Vector[String] = job match {
    case "Delay" =>
      val acc = mutable.TreeMap.empty[String, Array[Long]]
      eligible(in).foreach { r =>
        val a = acc.getOrElseUpdate(r.airport, new Array[Long](4))
        val w = javaRound(r.n * r.avgDelay.toDouble)
        if (r.ad == "A") { a(0) += w; a(1) += r.n } else { a(2) += w; a(3) += r.n }
      }
      def ratio(s: Long, n: Long): Double = if (n == 0) Double.NaN else s.toDouble / n.toDouble
      acc.toVector.map { case (k, a) =>
        s"$k\t${String.valueOf(ratio(a(0), a(1)))},${String.valueOf(ratio(a(2), a(3)))}"
      }
    case "Late" =>
      val acc = mutable.HashMap.empty[(String, String), Array[Long]]
      eligible(in).filter(_.ad == "D").foreach { r =>
        val a = acc.getOrElseUpdate((r.airline, r.period.substring(0, 4)), new Array[Long](2))
        val latePct = r.late(0).toDouble + r.late(1).toDouble + r.late(2).toDouble + r.late(3).toDouble
        a(0) += r.n
        a(1) += javaRound(r.n * latePct / 100)
      }
      acc.toVector.collect {
        case ((airline, year), a) if a(1).toDouble / a(0).toDouble >= 0.5 =>
          s"$airline,$year" -> String.valueOf(a(1).toDouble / a(0).toDouble * 100)
      }.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
    case "WordCount" =>
      val counts = mutable.HashMap.empty[String, Int]
      in.wordLines.foreach(l => tokens(l).foreach(w => counts(w) = counts.getOrElse(w, 0) + 1))
      counts.toVector.sortBy(_._1).map { case (w, c) => s"$w\t$c" }
    case "WebLog1" | "WebLog2" =>
      // visits per (user, url, date), then per (user, url) the total
      // (WebLog1) or the most on one date (WebLog2)
      val perDay = mutable.HashMap.empty[(String, String, String), Int]
      in.webLines.foreach { l =>
        val t = tokens(l)
        perDay((t(0), t(2), t(1))) = perDay.getOrElse((t(0), t(2), t(1)), 0) + 1
      }
      val perUrl = mutable.HashMap.empty[(String, String), Int]
      perDay.foreach { case ((u, url, _), n) =>
        val prev = perUrl.getOrElse((u, url), 0)
        perUrl((u, url)) = if (job == "WebLog1") prev + n else math.max(prev, n)
      }
      perUrl.toVector.collect { case (k, n) if n >= 2 => k }
        .sortBy { case (u, url) => s"$u|$url" }.map { case (u, url) => s"$u\t$url" }
  }

  private val Delims = java.util.regex.Pattern.compile("[ \t\n\r\f]+")

  private def tokens(line: String): Array[String] = Delims.split(line).filter(_.nonEmpty)
}
