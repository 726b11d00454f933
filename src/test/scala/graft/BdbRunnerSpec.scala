package graft

import java.io.File

import scala.jdk.CollectionConverters._

import graft.bdb.{BdbBenchmarkRunner, BdbCatalog, BdbDataGen, BdbSchemas}
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** End-to-end drive of the E3 benchmark runner: fixture tables written
  * to the reference parquet layout (basePath/table dir), catalog
  * re-registered from disk, all 30 queries timed, CSV emitted.
  *
  * Queries run with REFERENCE default parameters here (item 10001
  * etc.), so many return 0 rows on the small fixture — the runner's
  * contract is that they all execute and the results table is
  * complete.
  */
class BdbRunnerSpec extends SparkSpec {

  /** Job-group ids of the jobs started while `body` runs. The listener
    * bus is asynchronous: a sentinel job run after `body` is the last
    * event, so once it arrives every earlier job start has too.
    */
  private def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    groups.asScala.toSeq.filterNot(_ == "sentinel")
  }

  test("loadTest converts pipe-CSV to parquet with schemas intact") {
    val base = "/root/repo/target/graft-tmp/bdb-csv"
    val out = "/root/repo/target/graft-tmp/bdb-parquet-lt"
    // dataGen-style pipe CSV (no quoting) of the fixture tables
    BdbDataGen.writeCsv(spark, base, BdbDataGen.Counts(0.0))
    val frames = BdbFixture.frames(spark)
    var report: Seq[(String, Long, Double)] = Nil
    val groups = jobGroupsOf {
      spark.sparkContext.setJobGroup("bdb-load-test", "load test")
      try report = BdbCatalog.loadTest(spark, base, out)
      finally spark.sparkContext.clearJobGroup()
    }
    assert(report.map(_._1) === BdbSchemas.tables)
    report.foreach { case (t, n, secs) =>
      assert(n === frames(t).count(), s"$t row count drifted")
      assert(secs >= 0)
    }
    // the write is each table's only job, and the pool threads carried
    // the caller's group, so cancelJobGroup reaches every one
    assert(groups.size === BdbSchemas.tables.size, s"jobs: $groups")
    assert(groups.forall(_ == "bdb-load-test"), s"jobs: $groups")
    // converted layout must be queryable end-to-end
    BdbCatalog.registerParquet(spark, out)
    val q01 = graft.bdb.BdbQueries1
      .q01(spark, stores = Seq(1, 2, 3, 4, 5), minCount = 0).count()
    assert(q01 > 0)
  }

  test("loadTest names a table whose CSV is missing, after converting " +
    "the rest, and leaves no pool thread behind") {
    val dir = java.nio.file.Files.createTempDirectory("bdb-missing").toString
    val (base, out) = (s"$dir/csv", s"$dir/parquet")
    BdbDataGen.writeCsv(spark, base, BdbDataGen.Counts(0.0))
    val missing = BdbSchemas.tables.head
    FileUtils.deleteDirectory(new File(s"$base/$missing"))
    val e = intercept[RuntimeException] {
      BdbCatalog.loadTest(spark, base, out)
    }
    assert(e.getMessage.contains(missing), e.getMessage)
    // the first table failed, yet every other one was written
    BdbSchemas.tables.tail.foreach { t =>
      assert(new File(s"$out/$t/_SUCCESS").exists(), s"$t not converted")
    }
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-bdb-table-"))
    assert(alive.isEmpty, s"pool threads still alive: $alive")
    FileUtils.deleteDirectory(new File(dir))
  }

  test("BdbBenchmarkRunner times all 30 queries from a parquet layout") {
    val base = "/root/repo/target/graft-tmp/bdb-parquet"
    BdbFixture.frames(spark).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$base/$t")
    }
    val outCsv = s"$base/results.csv"
    // fixture vocabulary is tiny: shrink q28's hashed feature space so
    // the NB model broadcast isn't 200 MB (reference default 2^23)
    val best = BdbBenchmarkRunner.run(spark, base, outCsv, repeats = 1,
      queries = graft.bdb.BdbQueries.all +
        ("q28" -> ((s: org.apache.spark.sql.SparkSession) =>
          graft.bdb.BdbQueries2.q28(s, numFeatures = 1 << 16))))
    val lines = scala.io.Source.fromFile(outCsv).getLines().toSeq
    assert(lines.head ===
      "query,run,read_secs,main_secs,write_secs,total_secs,rows,status")
    // header + 30 queries x 1 repeat (+ any isolated outlier re-runs)
    assert(lines.length >= 31)
    assert(lines.tail.map(_.split(",")(0)).distinct.length === 30)
    val failed = lines.tail.filterNot(_.endsWith(",ok"))
    assert(failed.isEmpty, s"queries errored: $failed")
    // phase split must account for the total (read + main + write)
    lines.tail.foreach { l =>
      val f = l.split(",")
      val Array(r, m, w, t) = f.slice(2, 6).map(_.toDouble)
      assert(math.abs(r + m + w - t) < 0.05, s"phase drift: $l")
    }
    assert(best.size === 30)
    val summary = scala.io.Source
      .fromFile(s"$base/results_summary.csv").getLines().toSeq
    assert(summary.head === "query,best_total_secs,best_main_secs,rows,passes_ok")
    assert(summary.length === 31)
  }

  test("mustHaveRows fails the run when a gated query is empty") {
    val base = "/root/repo/target/graft-tmp/bdb-parquet"
    // item 10001 does not exist at fixture scale -> q02 returns 0 rows
    val e = intercept[AssertionError] {
      BdbBenchmarkRunner.run(spark, base,
        s"$base/results-gate.csv", repeats = 1,
        queries = Map("q02" -> ((s: org.apache.spark.sql.SparkSession) =>
          graft.bdb.BdbQueries1.q02(s, itemSk = 10001L))),
        mustHaveRows = Set("q02"))
    }
    assert(e.getMessage.contains("q02"))
  }
}
