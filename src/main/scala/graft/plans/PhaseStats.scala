package graft.plans

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark work charged by phase. Every job goes to the phase named by the
 *  [[PhaseStats.Key]] local property of the thread that submitted it
 *  (broadcast and subquery jobs carry their submitter's properties), and
 *  its stages and tasks follow the job. A tag carries this listener's own
 *  run id, so jobs of another run in the same session, and untagged jobs,
 *  are not counted. State is one counter set per phase plus the jobs
 *  still running.
 *
 *  The wave thread switches phases with [[enter]], which also charges it
 *  wall time; a thread that does a phase's work elsewhere (a pool thread
 *  does not inherit the tag) calls [[tag]] in its own body.
 *
 *  A [[PhaseStats.window]] listener ignores tags instead: it charges every
 *  job of the session to the phase last entered, for measurements that
 *  run one thing at a time (a query that runs a crawl inside retags its
 *  threads with the crawl's own run id). */
private[graft] final class PhaseStats private (sc: SparkContext, chargeAll: Boolean)
    extends SparkListener {
  import PhaseStats._

  def this(sc: SparkContext) = this(sc, chargeAll = false)

  private val prefix = java.util.UUID.randomUUID().toString + ":"

  private final class Acc {
    var jobs, stages, tasks, jobMs, shuffleWrite, spill, wallNs = 0L
  }
  private val acc = mutable.LinkedHashMap.empty[String, Acc]
  private val runningJobs = mutable.HashMap.empty[Int, (String, Long, Seq[Int])]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private var current: String = null
  private var since = 0L

  private def accOf(phase: String): Acc = acc.getOrElseUpdate(phase, new Acc)

  /** Jobs this thread submits from now on belong to `phase`. */
  def tag(phase: String): Unit = sc.setLocalProperty(Key, prefix + phase)

  /** Tags this thread with `phase` and charges the wall time since the
   *  previous switch to the phase it ends. */
  def enter(phase: String): Unit = {
    tag(phase)
    synchronized { closeWall(); current = phase }
  }

  private def closeWall(): Unit = {
    val now = System.nanoTime()
    if (current != null) accOf(current).wallNs += now - since
    since = now
  }

  private var compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compileNs = CodeGenerator.compileTime

  /** Janino compiles and compile milliseconds of this JVM (every thread,
   *  driver and local executors) since the previous call or construction,
   *  as the manifest entries `m.codegen.compiles` and `m.codegen.ms`.
   *  Read from Spark's codegen counters: no Spark job. */
  def takeCodegen(): Map[String, String] = synchronized {
    val (c, ns) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val out = Map("m.codegen.compiles" -> (c - compiles).toString,
      "m.codegen.ms" -> ((ns - compileNs) / 1e6).toString)
    compiles = c
    compileNs = ns
    out
  }

  /** Drains the listener bus (bounded by [[DrainTimeoutMs]]; on a timeout
   *  late events count toward the next call), then returns the counters
   *  since the previous call, for `phases` and any other phase that ran
   *  a job, and resets them. */
  def take(wave: Int, phases: Seq[String]): Seq[PhaseTelemetry] = {
    org.apache.spark.sql.graftbridge.ListenerBusBridge.drain(sc, DrainTimeoutMs)
    synchronized {
      closeWall()
      phases.foreach(accOf)
      val rows = acc.toSeq.collect { case (p, a) if phases.contains(p) || a.jobs > 0 =>
        PhaseTelemetry(wave, p, a.jobs, a.stages, a.tasks, a.jobMs / 1e3, a.wallNs / 1e9,
          a.shuffleWrite, a.spill)
      }
      acc.clear()
      rows
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase =
      if (chargeAll) Option(current)
      else Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .filter(_.startsWith(prefix)).map(_.substring(prefix.length))
    phase.foreach { p =>
      accOf(p).jobs += 1
      runningJobs(e.jobId) = (p, e.time, e.stageIds)
      e.stageIds.foreach(stagePhase(_) = p)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    runningJobs.remove(e.jobId).foreach { case (phase, t0, stageIds) =>
      accOf(phase).jobMs += e.time - t0
      stagePhase --= stageIds
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagePhase.get(e.stageInfo.stageId).foreach(accOf(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stagePhase.get(e.stageId).foreach { phase =>
      val a = accOf(phase)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

private[graft] object PhaseStats {
  /** A listener that charges every job of the session, tagged or not, to
   *  the phase last entered (see the class comment). */
  def window(sc: SparkContext): PhaseStats = new PhaseStats(sc, chargeAll = true)

  /** Local property naming the run and phase of the jobs a thread submits. */
  val Key = "graft.phase"

  /** Bound on the wait for the listener bus before a wave commits. */
  val DrainTimeoutMs = 10000L

  /** Phases of a crawl wave after the seed wave (whose one phase is "seed"). */
  val WavePhases: Seq[String] = Seq("schedule", "fetch", "discover", "commit")

  /** Per-phase statistics in the order of their manifest keys. */
  val Stats: Seq[String] =
    Seq("jobs", "stages", "tasks", "job_s", "wall_s", "shuffle_write_bytes", "spill_bytes")

  /** Manifest entries `m.phase.<phase>.<stat>` of one wave's phases. */
  def manifestEntries(rows: Seq[PhaseTelemetry]): Map[String, String] =
    rows.flatMap { r =>
      Stats.zip(Seq[Any](r.jobs, r.stages, r.tasks, r.job_s, r.wall_s, r.shuffle_write_bytes,
        r.spill_bytes)).map { case (s, v) => s"m.phase.${r.phase}.$s" -> v.toString }
    }.toMap

  /** The phase rows of wave `w`, read back from its manifest. */
  def fromManifest(w: Int, m: Map[String, String]): Seq[PhaseTelemetry] =
    m.keys.toSeq.collect { case k if k.startsWith("m.phase.") && k.endsWith(".jobs") =>
      k.stripPrefix("m.phase.").stripSuffix(".jobs")
    }.sorted.map { p =>
      def v(s: String) = m(s"m.phase.$p.$s")
      PhaseTelemetry(w, p, v("jobs").toLong, v("stages").toLong, v("tasks").toLong,
        v("job_s").toDouble, v("wall_s").toDouble, v("shuffle_write_bytes").toLong,
        v("spill_bytes").toLong)
    }
}
