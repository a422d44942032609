package graft.tools

import org.apache.spark.sql.functions._
import graft.plans.{CrawlJob, CrawlSettings}
import graft.sources.Fixtures

/** The wave loop at data size: crawl a V-page synthetic corpus end to end
  * (bucketed state tables, bloom gate, salted politeness, dispatch) and
  * report per-wave sizes/times + overall scheduled-urls/sec.
  * Args: [V] [cores] — defaults 50000 32. */
object CrawlAtScale {
  def main(args: Array[String]): Unit = {
    val v = if (args.length > 0) args(0).toLong else 50000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val spark = graft.FrontierBench.session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val pages = Fixtures.pagesLiteDF(spark, v)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"SCALE corpus pages=${pages.count()}")
    val dir = graft.FrontierBench.scratchDir("graft-scale-crawl").toString
    val settings = CrawlSettings(size = -1L, nPriorities = 3, hostBudget = 2000,
      waveCap = 20000L, retries = 1, maxWaves = 15,
      urlPattern = Fixtures.UrlPattern, salts = 32, numBuckets = 64,
      bloomCapacity = 2 * v, extract = false)
    val priorityExpr = (c: org.apache.spark.sql.Column) =>
      coalesce(pmod(regexp_extract(c, "/p/([0-9]+)", 1).cast("long"), lit(3)), lit(0)).cast("int")
    val t0 = System.nanoTime()
    val job = new CrawlJob(spark, pages, settings, dir, priorityExpr)
    val summary = job.run(Fixtures.seeds(v))
    val secs = (System.nanoTime() - t0) / 1e9
    job.metricsTable.orderBy("wave").show(30, truncate = false)
    println(f"SCALE waves=${summary.wavesRun} scheduled=${summary.scheduledTotal} " +
      f"seen=${summary.seenTotal} dead=${summary.deadTotal} secs=$secs%.1f " +
      f"urls_scheduled_per_sec=${summary.scheduledTotal / secs}%.0f")

    // kill-resume parity at this size: run half the waves, resume, and
    // compare the full schedule bit-for-bit with the uninterrupted run
    val dir2 = graft.FrontierBench.scratchDir("graft-scale-resume").toString
    new CrawlJob(spark, pages, settings.copy(maxWaves = summary.wavesRun / 2), dir2, priorityExpr)
      .run(Fixtures.seeds(v))
    val resumed = new CrawlJob(spark, pages, settings, dir2, priorityExpr)
    val rSummary = resumed.run(Fixtures.seeds(v))
    val a = job.scheduleTable.orderBy("wave", "rank").collect().map(_.toSeq)
    val b = resumed.scheduleTable.orderBy("wave", "rank").collect().map(_.toSeq)
    println(s"SCALE resume parity: schedules equal=${a.sameElements(b)} " +
      s"(${a.length} rows) seenEqual=${rSummary.seenTotal == summary.seenTotal}")
    require(a.sameElements(b) && rSummary.seenTotal == summary.seenTotal,
      "kill-resume diverged at scale")
    spark.stop()
    graft.FrontierBench.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.FrontierBench.deleteRecursively(java.nio.file.Paths.get(dir2))
  }
}
