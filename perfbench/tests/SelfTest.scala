package perfbench

import java.nio.file.{Files, Paths}

/** Self-tests of the benchmark's answer key and error accounting.
  *
  *  1. On a small seed, the answer key equals `JobsMain` output byte for
  *     byte for all five jobs, and the generated input holds the edge
  *     cases the key must get right.
  *  2. One wrong expected value makes the run count a failed op.
  *
  * Usage: perfbench.SelfTest <work dir>; exits non-zero on a failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val in = Caa.generate(seed = 7, caaRows = 4000, webRows = 3000, wordRows = 1000)
    val paths = Caa.write(in, work.resolve("input"), parts = 2)
    val expected = Caa.Jobs.map(j => j -> Caa.expected(in, j)).toMap

    val eligible = in.caa.filter(r => r.sc == "S" && r.n != 0)
    val lateGroups = eligible.filter(_.ad == "D").map(r => (r.airline, r.period.take(4))).distinct.size
    check(in.caa.exists(_.sc == "C"), "charter rows")
    check(in.caa.exists(_.n == 0), "zero-flight rows")
    check(in.caa.exists(_.avgDelay.startsWith("-")), "negative delays")
    check(in.caa.exists(_.airline.contains(",")), "quoted airline with a comma")
    check(expected("Delay").exists(_.contains("NaN")), "an airport without arrivals or departures")
    check(expected("Late").nonEmpty && expected("Late").size < lateGroups,
      s"Late keeps some but not all of its $lateGroups groups (kept ${expected("Late").size})")
    check(expected("Late").exists(_.startsWith("\"")), "Late keeps quotes in a quoted airline key")

    val spark = graft.Sessions.builder("2")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      Caa.Jobs.foreach { job =>
        val got = graft.jobs.JobsMain.run(spark, job, paths(job)).collect().toVector
        check(got.mkString("\n").getBytes("UTF-8").sameElements(expected(job).mkString("\n").getBytes("UTF-8")),
          s"$job: answer key equals JobsMain output byte for byte (${got.size} lines)")
      }
    } finally spark.stop()

    val wrong = expected.updated("Delay", expected("Delay").updated(0, expected("Delay")(0) + "0"))
    val runner = new Runner(Workloads.caaFlights(paths, wrong), seed = 1, seconds = 0,
      work.resolve("wrong"), data = "", probe = None)
    try runner.run(0) finally runner.stop()
    val failed = runner.recs.count(!_.ok)
    check(failed > 0 && runner.recs.filter(!_.ok).forall(_.op == "Delay") &&
      runner.failures.forall(_.contains("perfbench.WrongOutput")),
      s"a wrong expected Delay line fails every Delay op and only those ($failed of ${runner.recs.size})")
    println("selftest ok")
  }

  private def check(ok: Boolean, what: String): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }
}
