package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.Random

final class WrongOutput(msg: String) extends Exception(msg)

/** One operation. `build` is the call into the program that returns the
  * Dataset (driver work, including any jobs the program runs eagerly);
  * `check` runs the action and throws [[WrongOutput]] when the output
  * differs from the expected answer. */
final case class Op(name: String, layer: String, build: SparkSession => AnyRef, check: AnyRef => Unit)

trait Workload {
  def name: String
  /** Set-up rounds; each is a fresh session plus the first call of every op. */
  def setupRounds: Int
  def usesSnapshot: Boolean
  /** The operations of one pass, in the order the seeded `rnd` picks. */
  def pass(rnd: Random): Vector[Op]
  /** The write lane a traced run ends with, from a fresh session and an
    * empty warehouse, in the order the seeded `rnd` picks; empty if none. */
  def lane(rnd: Random): Vector[Op] = Vector.empty
}

object Workloads {
  val Names: Vector[String] = Vector("caa_flights", "warm_queries")

  /** The warm_queries mix: executor-heavy relational, text and ANN queries
    * next to driver-bound ones (q107, q157 and the census queries). */
  val Mix: Vector[String] = Vector("q01", "q02", "q03", "q04", "q05", "q06", "q15", "q46",
    "q22", "q24", "q78", "q87", "q83", "q107", "q145", "q157", "q166", "q172",
    "q110", "q149", "q125")

  /** The write lane's chains: the dedup chain, the delivery chain (ending
    * in a streaming write) and the profile chain. Each runs in this order,
    * the chains in a seeded order. */
  val Chains: Vector[Vector[String]] = Vector(
    Vector("q20", "q21", "q73", "q75"),
    Vector("q159", "q164", "q172", "q165", "q166", "q182"),
    Vector("q140", "q142", "q145"))
  val Lane: Vector[String] = Chains.flatten

  /** Input sizes of caa_flights: text lines per job input, split over
    * several files per input as the CAA publishes one file per month.
    * More scan tasks than cores also keep one slow core from setting the
    * time of a whole stage. */
  val CaaRows = 150000
  val WebRows = 100000
  val WordRows = 50000
  val InputFiles = 16

  def caaFlights(seed: Long, work: Path): Workload = {
    val in = Caa.generate(seed, CaaRows, WebRows, WordRows)
    val paths = Caa.write(in, work.resolve("input"), parts = InputFiles)
    caaFlights(paths, Caa.Jobs.map(j => j -> Caa.expected(in, j)).toMap)
  }

  def caaFlights(paths: Map[String, String], expected: Map[String, Vector[String]]): Workload = {
    val ops = Caa.Jobs.map { job =>
      Op(job, "jobs", s => graft.jobs.JobsMain.run(s, job, paths(job)),
        ds => checkLines(job, ds.asInstanceOf[Dataset[String]].collect().toVector, expected(job)))
    }
    new Workload {
      val name = "caa_flights"
      val setupRounds = 3
      val usesSnapshot = false
      def pass(rnd: Random): Vector[Op] = rnd.shuffle(ops)
    }
  }

  def warmQueries(data: String, digests: Digests): Workload = {
    val ops = Mix.map(q => queryOp(q, "operators", data, digests.expected("warm_queries", q)))
    val chains = Chains.map(_.map(q => queryOp(q, "lane", data, digests.expected("lane", q))))
    new Workload {
      val name = "warm_queries"
      val setupRounds = 1
      val usesSnapshot = true
      def pass(rnd: Random): Vector[Op] = rnd.shuffle(ops)
      override def lane(rnd: Random): Vector[Op] = rnd.shuffle(chains).flatten
    }
  }

  private lazy val registry: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries.map { case (full, fn) => full.takeWhile(_ != '_') -> fn }

  def queryFn(q: String): (SparkSession, String) => DataFrame =
    registry.getOrElse(q, throw new NoSuchElementException(s"$q is not in SparkEntry.queries"))

  private def queryOp(q: String, layer: String, data: String, expected: Option[String]): Op =
    Op(q, layer, s => queryFn(q)(s, data), { df =>
      val got = Digest.of(df.asInstanceOf[DataFrame])
      expected match {
        case None => throw new WrongOutput(s"$q: no expected digest (got $got)")
        case Some(e) if e != got => throw new WrongOutput(s"$q: digest $got, expected $e")
        case _ => ()
      }
    })

  private def checkLines(job: String, got: Vector[String], exp: Vector[String]): Unit =
    if (got != exp) {
      val i = got.zipAll(exp, "<none>", "<none>").indexWhere { case (g, e) => g != e }
      throw new WrongOutput(s"$job: ${got.size} lines, expected ${exp.size}; first difference " +
        s"at line $i: got '${got.lift(i).getOrElse("<none>")}', expected '${exp.lift(i).getOrElse("<none>")}'")
    }
}

/** Order-insensitive checksum over every output column: row count plus the
  * sums of the low and high halves of each row's xxhash64. Floating-point
  * cells are hashed at ten significant digits, so a different summation
  * order inside an aggregate does not change the digest. */
object Digest {
  def of(df: DataFrame): String = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = d.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val s = f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c)
        case BinaryType             => hex(c)
        case _                      => c.cast(StringType)
      }
      coalesce(s, lit("\u0000null"))
    }
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def part(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${part(0)}:${part(1)}:${part(2)}"
  }
}

/** Expected digests, one `set TAB query TAB digest` line each; the set is
  * `warm_queries` or `lane`. */
final case class Digests(byKey: Map[(String, String), String]) {
  def expected(set: String, q: String): Option[String] = byKey.get((set, q))
}

object Digests {
  def load(path: Path): Digests = Digests(Files.readAllLines(path, UTF_8).asScala
    .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    .map { l =>
      val Array(w, q, d) = l.split("\t")
      (w, q) -> d
    }.toMap)
}
