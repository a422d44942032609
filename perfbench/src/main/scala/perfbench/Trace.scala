package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine module a Spark job belongs to: the innermost `graft.` frame of the
 *  job's call site names the source file that ran the action. */
object Layers {
  private val Frame = """\(([A-Za-z0-9_]+)\.scala:\d+\)""".r
  private val ByFile = Map(
    "UrlExprs" -> "urlexprs", "Extract" -> "extract", "Dedup" -> "dedup",
    "BloomStore" -> "ckpt", "Checkpoint" -> "ckpt", "Politeness" -> "politeness",
    "CrawlJob" -> "crawljob", "TextDedup" -> "textdedup", "LinkGraph" -> "linkgraph")

  def of(callSiteLong: String): String =
    Option(callSiteLong).iterator.flatMap(_.linesIterator)
      .filter(_.trim.startsWith("graft."))
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .map(f => ByFile.getOrElse(f, f.toLowerCase))
      .nextOption().getOrElse("other")
}

/** Per-job and per-stage log of everything Spark ran while installed.
 *  Jobs carry their call-site layer and the benchmark span active on the
 *  submitting thread (local property [[JobLog.SpanKey]]). */
final class JobLog extends SparkListener {
  import JobLog._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a stage's name and details are its job's short and long call site
    val site = e.stageInfos.sortBy(_.stageId).lastOption
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    jobs += Job(e.jobId, Layers.of(site.map(_.details).orNull), span,
      site.map(_.name).getOrElse(""), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    Option(e.taskInfo).foreach(i => s.taskMs += i.duration)
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs that started inside [t0, t1] (epoch ms). */
  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }

  def stagesOf(js: Seq[Job]): Seq[StageAgg] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  /** Milliseconds of [t0, t1] during which at least one of `js` ran. */
  def busyMs(js: Seq[Job], t0: Long, t1: Long): Long = {
    val iv = js.map(j => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spark-runtime totals over `js`, which ran in `wallS` seconds. */
  def sparkTotals(js: Seq[Job], wallS: Double, cores: Int): Map[String, Double] = {
    val st = stagesOf(js)
    Map(
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1e6,
      "spark.spill_mb" -> st.map(_.spill).sum / 1e6,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.busy_frac" -> st.map(_.runMs).sum / (wallS * 1e3 * cores))
  }

  /** max / median task time of the costliest stage among `js`. */
  def taskSkew(js: Seq[Job]): Double = {
    val ss = stagesOf(js).filter(_.taskMs.size >= 2)
    if (ss.isEmpty) 0.0
    else {
      val s = ss.maxBy(_.runMs)
      val d = s.taskMs.sorted
      d.last.toDouble / math.max(d(d.size / 2), 1L)
    }
  }
}

object JobLog {
  val SpanKey = "perfbench.span"

  final case class Job(id: Int, layer: String, span: String, short: String,
      start: Long, stageIds: Seq[Int], var end: Long = -1L)

  final class StageAgg {
    var runMs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
    var outBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
}

/** Benchmark-side spans around calls into the engine's public functions. */
final class Tracer(spark: SparkSession) {
  val log = new JobLog
  spark.sparkContext.addSparkListener(log)
  /** (name, start ms, end ms) in completion order. */
  val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobLog.SpanKey)
    sc.setLocalProperty(JobLog.SpanKey, name)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      spans += ((name, t0, System.currentTimeMillis()))
      sc.setLocalProperty(JobLog.SpanKey, prev)
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def spanS(name: String): Double =
    spans.filter(_._1 == name).map(s => (s._3 - s._2) / 1e3).sum

  def spanJobs(name: String): Seq[JobLog.Job] = { drain(); log.synchronized(log.jobs.filter(_.span == name).toSeq) }

  def spanShuffleMb(name: String): Double =
    log.stagesOf(spanJobs(name)).map(_.shuffleWrite).sum / 1e6

  def stop(): Unit = spark.sparkContext.removeSparkListener(log)
}

/** The Spark noise floor on this session: latency of a one-task job and of
 *  a job with one exchange. Per-layer times below it are flagged. */
object Floor {
  def measure(spark: SparkSession, reps: Int): (Double, Double) = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def med(f: => Unit): Double = {
      f
      val ts = (1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      Stats.median(ts)
    }
    val empty = med(noop(spark.range(0, 1, 1, 1).toDF()))
    val exchange = med(noop(spark.range(0, 1000, 1, 4).toDF()
      .repartition(Env.ShuffleWidth, org.apache.spark.sql.functions.col("id"))))
    (empty, exchange)
  }
}

/** Peak heap still in use after a garbage collection: the largest live set
 *  (plus whatever the collector left unreclaimed) the run held. */
object Heap {
  @volatile private var peak = 0L

  def install(): Unit = {
    import java.lang.management.ManagementFactory
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
              Heap.synchronized { if (used > peak) peak = used }
            }
        }, null, null)
      case _ =>
    }
  }

  def reset(): Unit = Heap.synchronized { peak = 0L }

  /** Falls back to the current heap use when no collection ran. */
  def peakMb: Double = {
    val p = Heap.synchronized(peak)
    val r = Runtime.getRuntime
    (if (p > 0) p else r.totalMemory - r.freeMemory) / 1e6
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
