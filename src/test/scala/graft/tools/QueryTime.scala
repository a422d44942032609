package graft.tools

import graft.{FrontierBench, SparkEntry}
import graft.plans.PhaseStats

/** Times SparkEntry queries the way `graft.Bench` does (one session at
 *  local[$SPARK_GRAFT_CPUS], a `count()` action, cache cleared between
 *  reps) and prints, per rep, the Spark work the query ran: every job the
 *  session submitted during the rep, counted by a window phase listener
 *  ([[PhaseStats.window]]) with the query's name as the phase, so the
 *  jobs of a crawl the query runs inside count too:
 *  `QueryTime <name>[,<name>…] [sfDir] [reps]`. */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = FrontierBench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val stats = PhaseStats.window(spark.sparkContext)
    spark.sparkContext.addSparkListener(stats)
    names.foreach { name =>
      val walls = (1 to reps).map { r =>
        stats.enter(name)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        stats.take(0, Seq(name)).foreach { p =>
          println(f"QUERY $name rep=$r $wall%7.2f s rows=$n jobs=${p.jobs} stages=${p.stages} " +
            f"tasks=${p.tasks} jobSecs=${p.job_s}%.2f shuffleMB=${p.shuffle_write_bytes / 1e6}%.2f " +
            f"spillMB=${p.spill_bytes / 1e6}%.2f")
        }
        spark.catalog.clearCache()
        wall
      }
      println(f"QUERY $name min=${walls.min}%.3f s")
    }
    spark.stop()
  }
}
