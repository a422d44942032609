package graft

import graft.plans.{CrawlJob, CrawlSettings}
import graft.sources.Fixtures

/** Ad-hoc wave-loop profiler for the optimization round (diagnostics
  * only): replays the crawl_schedule query's exact configuration and
  * prints the per-wave manifests (m.secs) so the fixed per-wave costs
  * are visible. */
object ProfileCrawl {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = FrontierBench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("PC_CODEGEN").foreach(v =>
      spark.conf.set("spark.sql.codegen.wholeStage", v))
    sys.env.get("PC_SHUFFLE").foreach(v =>
      spark.conf.set("spark.sql.shuffle.partitions", v))
    val jobCount = new java.util.concurrent.atomic.AtomicInteger()
    val stageCount = new java.util.concurrent.atomic.AtomicInteger()
    val taskCount = new java.util.concurrent.atomic.AtomicInteger()
    val jobNanos = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      private val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); starts.put(j.jobId, System.nanoTime())
        val cs = Option(j.properties).map(_.getProperty("callSite.short", "?")).getOrElse("?")
        descs.put(j.jobId, cs)
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != 0L) {
          val d = (System.nanoTime() - s) / 1e6
          if (sys.env.contains("PC_JOBS"))
            println(f"[pcj] job=${j.jobId} $d%7.1fms ${descs.remove(j.jobId)}")
          jobNanos.addAndGet(System.nanoTime() - s)
        }
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageCount.incrementAndGet(); taskCount.addAndGet(s.stageInfo.numTasks)
        if (sys.env.contains("PC_JOBS")) {
          val ms = (for {
            a <- s.stageInfo.completionTime; b <- s.stageInfo.submissionTime
          } yield a - b).getOrElse(-1L)
          println(s"[pcs] ${ms}ms tasks=${s.stageInfo.numTasks} ${s.stageInfo.name}")
        }
      }
    })
    (1 to 2).foreach { rep =>
      val v = 150L
      val pages = Fixtures.pagesDF(spark, v)
      val dir = FrontierBench.scratchDir("graft-prof-crawl").toString
      val settings = CrawlSettings(size = 40, nPriorities = 1, hostBudget = 6,
        waveCap = 40, retries = 1, maxWaves = 8, urlPattern = Fixtures.UrlPattern,
        extract = false, bloomCapacity = 4096, numBuckets = 8)
      val t0 = System.nanoTime()
      val job = new CrawlJob(spark, pages, settings, dir)
      job.run(Fixtures.seeds(v))
      val n = job.scheduleTable.count()
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[pc] rep=$rep total=$total%.2f schedule_rows=$n " +
        f"jobs=${jobCount.getAndSet(0)} stages=${stageCount.getAndSet(0)} " +
        f"tasks=${taskCount.getAndSet(0)} jobSecs=${jobNanos.getAndSet(0) / 1e9}%.2f")
      job.metricsTable.collect().foreach { r =>
        println(s"[pc]   $r")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
