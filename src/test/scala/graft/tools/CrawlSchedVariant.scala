package graft.tools
import graft.plans.{CrawlJob, CrawlSettings}
import graft.sources.Fixtures
object CrawlSchedVariant {
  def main(args: Array[String]): Unit = {
    val spark = graft.FrontierBench.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    for (bloom <- Seq(true, false); rep <- 1 to 2) {
      val t0 = System.nanoTime()
      val v = 150L
      val pages = Fixtures.pagesDF(spark, v)
      val dir = java.nio.file.Files.createTempDirectory("graft-q-crawl").toString
      val settings = CrawlSettings(size = 40, nPriorities = 1, hostBudget = 6,
        waveCap = 40, retries = 1, maxWaves = 8, urlPattern = Fixtures.UrlPattern,
        extract = false, seenFilter = if (bloom) "bloom" else "none", bloomCapacity = 4096, numBuckets = 8)
      val job = new CrawlJob(spark, pages, settings, dir)
      job.run(Fixtures.seeds(v))
      val n = job.scheduleTable.count()
      println(f"VARIANT bloom=$bloom rep=$rep ${(System.nanoTime() - t0) / 1e9}%6.2f s rows=$n")
    }
    spark.stop()
  }
}
