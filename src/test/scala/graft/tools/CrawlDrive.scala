package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.plans.{CrawlJob, CrawlSettings}
import graft.sources.Fixtures

/** Manual end-to-end drive of the wave loop. Run:
  *   sbt "Test/runMain graft.tools.CrawlDrive [V] [size]" */
object CrawlDrive {
  def main(args: Array[String]): Unit = {
    val v = if (args.length > 0) args(0).toLong else 300L
    val size = if (args.length > 1) args(1).toLong else 120L
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = Fixtures.pagesDF(spark, v)
    pages.persist().count()
    val dir = java.nio.file.Files.createTempDirectory("crawl-drive").toString
    val settings = CrawlSettings(size = size, nPriorities = 1, hostBudget = 2,
      waveCap = 40, retries = 1, maxWaves = 50, urlPattern = Fixtures.UrlPattern,
      extract = true, bloomCapacity = 4096, numBuckets = 8)
    val t0 = System.nanoTime()
    val job = new CrawlJob(spark, pages, settings, dir)
    val summary = job.run(Fixtures.seeds(v))
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"SUMMARY: $summary in ${f"$secs%.1f"}s (${f"${summary.scheduledTotal / secs}%.0f"} urls/s)")
    println("--- schedule head:")
    job.scheduleTable.orderBy("wave", "rank").show(15, truncate = false)
    println("--- metrics:")
    job.metricsTable.orderBy("wave").show(50, truncate = false)
    println("--- phase telemetry:")
    job.telemetryTable.orderBy("wave", "phase").show(200, truncate = false)
    println("--- dead letters: " + job.deadTable.count())
    println("--- results sample:")
    job.resultsTable.select(col("url_canon"), col("n_outlinks"), substring(col("text"), 0, 60).as("text60"))
      .show(5, truncate = false)
    spark.stop()
  }
}
