package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.BusFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll

import graft.jobs.JobsMain
import graft.operators.Pipeline

/** End-to-end goldens for the drop-in CLI jobs: exact `key TAB value`
  * lines incl. Java Double.toString formatting and NaN, the global
  * output order over a multi-file input, and the plan shape (Spark jobs
  * per run, no range-sort exchange). */
class JobsSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private def caa(airport: String, ad: String, n: Int, avg: Double,
                  airline: String = "SOME AIR", period: String = "201101"): String =
    s"01-Jan-2018,$period,$airport,GB,NOWHERE,$airline,$ad,S,$n,0,0,0,25,15,10,0,$avg,0,0,0,0"

  test("Delay job emits airport TAB arr,dep with NaN and Java toString") {
    val lines = spark.createDataset(Seq(
      caa("BIRMINGHAM", "A", 10, 2.5),   // round(25)=25 -> 25/10=2.5
      caa("BIRMINGHAM", "D", 3, 1.0),    // 3/3=1.0
      caa("ARRIVALSONLY", "A", 2, 0.7))) // round(1.4)=1 -> 0.5 ; dep NaN
    assert(JobsMain.delayLines(lines).collect().toSeq == Seq(
      "ARRIVALSONLY\t0.5,NaN",
      "BIRMINGHAM\t2.5,1.0"))
  }

  test("Late job emits airline,year TAB pct for ratios >= 50%") {
    // late% = 25+15+10+0 = 50 -> round(10*0.5)=5 -> 5/10=0.5 -> "50.0"
    val lines = spark.createDataset(Seq(caa("X", "D", 10, 1.0)))
    assert(JobsMain.lateLines(lines).collect().toSeq == Seq("SOME AIR,2011\t50.0"))
  }

  test("WordCount job counts whitespace tokens") {
    val lines = spark.createDataset(Seq("a b", "b\ta", "c"))
    assert(JobsMain.wordCountLines(lines).collect().toSeq ==
      Seq("a\t2", "b\t2", "c\t1"))
  }

  test("WebLog1/WebLog2 goldens (FIXTURES.md §B)") {
    val lines = spark.createDataset(Seq(
      "alice 2017-11-01 /index.html",
      "alice 2017-11-01 /index.html",
      "alice 2017-11-02 /a.html",
      "bob   2017-11-01 /index.html"))
    assert(JobsMain.webLog1Lines(lines).collect().toSeq == Seq("alice\t/index.html"))
    assert(JobsMain.webLog2Lines(lines).collect().toSeq == Seq("alice\t/index.html"))
  }

  test("WebLog jobs break user|url key ties by (user, url)") {
    // user "a|b" + url "c" and user "a" + url "b|c" share the key "a|b|c"
    val lines = spark.createDataset(Seq(
      "a|b 2017-11-01 c", "a 2017-11-01 b|c", "a|b 2017-11-01 c", "a 2017-11-01 b|c"))
    val want = Seq("a\tb|c", "a|b\tc")
    assert(JobsMain.webLog1Lines(lines).collect().toSeq == want)
    assert(JobsMain.webLog2Lines(lines).collect().toSeq == want)
  }

  // Multi-file inputs: keys arrive in descending order and every key's
  // lines are spread round-robin over four files (four input partitions).
  private val Parts = 4
  private lazy val inputDir: Path = Files.createTempDirectory("jobs-spec")

  private val airports = Seq("ZURICH", "YORK", "WICK", "STANSTED", "NEWQUAY", "LUTON",
    "KIRKWALL", "HEATHROW", "GATWICK", "EXETER", "CARDIFF", "ABERDEEN")
  private val airlines = Seq("ZULU AIR", "MIKE AIR", "ALPHA AIR")
  private def year(i: Int): Int = 2014 - i % 4
  private val words = ('a' to 'l').map(c => s"$c$c").reverse
  private val users = (0 until 12).reverse.map(u => f"user$u%02d")

  private def write(name: String, lines: Seq[String]): String = {
    val d = Files.createDirectories(inputDir.resolve(name))
    lines.zipWithIndex.groupBy(_._2 % Parts).foreach { case (f, ls) =>
      Files.write(d.resolve(s"part-$f.txt"), ls.map(_._1).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    d.toString
  }

  /** Input directory per job. */
  private lazy val multiFileInputs: Map[String, String] = {
    // airport i: arrivals round(2*i)/2 = i, departures round(i+0.5)/1 = i+1;
    // the departure is also a Late row of 50 % -> round(0.5)/1 = 100 %
    // for (airlines(i % 3), year(i)), twelve distinct pairs
    val caaDir = write("caa", airports.zipWithIndex.flatMap { case (a, i) =>
      Seq(caa(a, "A", 2, i.toDouble),
        caa(a, "D", 1, i + 0.5, airlines(i % 3), s"${year(i)}01"))
    })
    // word i appears i+1 times, one line each
    val wordDir = write("words", words.zipWithIndex.flatMap { case (w, i) =>
      Seq.fill(i + 1)(w)
    })
    // per user: /b.html twice on one date (WebLog1 and WebLog2), /a.html
    // on two dates (WebLog1 only), /c.html once (neither)
    val webDir = write("weblog", users.flatMap { u =>
      Seq(s"$u 2017-11-01 /b.html", s"$u 2017-11-02 /a.html", s"$u\t2017-11-01 /b.html",
        s"$u 2017-11-03 /c.html", s"$u 2017-11-04 /a.html")
    })
    Map("Delay" -> caaDir, "Late" -> caaDir, "WordCount" -> wordDir,
      "WebLog1" -> webDir, "WebLog2" -> webDir)
  }

  private def expected(job: String): Seq[String] = job match {
    case "Delay" => airports.zipWithIndex.sortBy(_._1)
      .map { case (a, i) => s"$a\t${i.toDouble},${(i + 1).toDouble}" }
    case "Late" => airports.indices.map(i => s"${airlines(i % 3)},${year(i)}").sorted
      .map(k => s"$k\t100.0")
    case "WordCount" => words.zipWithIndex.sortBy(_._1).map { case (w, i) => s"$w\t${i + 1}" }
    case "WebLog1" => users.sorted.flatMap(u => Seq(s"$u\t/a.html", s"$u\t/b.html"))
    case "WebLog2" => users.sorted.map(u => s"$u\t/b.html")
  }

  private val allJobs = Seq("Delay", "Late", "WordCount", "WebLog1", "WebLog2")

  override def afterAll(): Unit = {
    try {
      if (Files.exists(inputDir)) {
        Files.walk(inputDir).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.delete(p))
      }
    } finally super.afterAll()
  }

  test("all five jobs sort globally over a multi-file input") {
    assert(spark.read.textFile(multiFileInputs("Delay")).rdd.getNumPartitions == Parts)
    // without AQE's partition coalescing the aggregates of these small
    // inputs keep every shuffle partition, so a per-partition sort
    // would show as out-of-order lines
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try allJobs.foreach { job =>
      val got = JobsMain.run(spark, job, multiFileInputs(job)).collect().toSeq
      assert(got == expected(job), job)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** `body`'s result and the number of Spark jobs it started on this
    * thread. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.jobsSpec") == tag)
          n.incrementAndGet()
    }
    BusFlush.waitEmpty(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.jobsSpec", tag)
    try (body, { BusFlush.waitEmpty(sc); n.get })
    finally {
      sc.setLocalProperty("graft.jobsSpec", null)
      sc.removeSparkListener(listener)
    }
  }

  test("plan shape: one hash shuffle per grouping, no range sort, 2-3 Spark jobs") {
    val want = Map("Delay" -> 2, "Late" -> 2, "WordCount" -> 2, "WebLog1" -> 2, "WebLog2" -> 3)
    allJobs.foreach { job =>
      val ((out, got), jobs) = countingJobs {
        val out = JobsMain.run(spark, job, multiFileInputs(job))
        (out, out.collect().toSeq)
      }
      assert(got == expected(job), job)
      assert(jobs == want(job), s"$job ran $jobs Spark jobs")
      assert(Pipeline.countRangeExchanges(out.toDF()) == 0, job)
      assert(Pipeline.countHashExchanges(out.toDF()) == want(job) - 1, job)
    }
  }
}
