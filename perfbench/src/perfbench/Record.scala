package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Records expected_digests.tsv: the digest of every warm_queries
  * operation and every write-lane step on the snapshot. A digest is
  * recorded only when it repeats: each warm query twice in one session,
  * each lane step in two fresh sessions that run the chains in opposite
  * orders.
  *
  * Usage: perfbench.Record <snapshot dir> <work dir> <out tsv> */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, work, out) = args
    val cores = Runtime.getRuntime.availableProcessors.toString
    var n = 0
    def session(): SparkSession = {
      n += 1
      val s = graft.Sessions.builder(cores)
        .config("spark.sql.warehouse.dir", Paths.get(work, s"record$n", "warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def digest(s: SparkSession, q: String): String = Digest.of(Workloads.queryFn(q)(s, data))
    def agree(what: String, a: String, b: String): String = {
      require(a == b, s"$what digest does not repeat: $a vs $b")
      a
    }

    val lines = Vector.newBuilder[String]
    lines += "# set\tquery\tdigest (count:sum of low 32 bits:sum of high 32 bits)"
    var s = session()
    Workloads.Mix.foreach { q =>
      lines += s"warm_queries\t$q\t${agree(q, digest(s, q), digest(s, q))}"
    }
    s.stop()
    val cycles = Seq(Workloads.Chains, Workloads.Chains.reverse).map { order =>
      s = session()
      val d = order.flatten.map(q => q -> digest(s, q)).toMap
      s.stop()
      d
    }
    Workloads.Lane.foreach { q =>
      lines += s"lane\t$q\t${agree(q, cycles(0)(q), cycles(1)(q))}"
    }
    Files.write(Paths.get(out), (lines.result().mkString("\n") + "\n").getBytes(UTF_8))
  }
}
