package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark JVM (see run.py, which launches it). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: Path, cache: Path, smoke: Boolean)

/** What one JVM measured. `metrics` are end-to-end values, `layers` the
 *  per-layer values of a traced run, `info` extra figures for the summary. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  var attempted = 0
  var failed = 0

  /** Runs one measured operation, which returns whether its output passed
   *  its checks; an exception or a failed check counts the attempt failed. */
  def attempt(f: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try f
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] attempt failed: $e")
          e.printStackTrace()
          false
      }
    if (!ok) failed += 1
    ok
  }

  def check(name: String, ok: Boolean): Boolean = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[perfbench] output check failed: $name")
    ok
  }
}

object Env {
  /** Shuffle width of every exchange outside the crawl loop (which pins it
   *  to its bucket count): fixed here so engine-side defaults cannot move
   *  the numbers. Each workload fixes its own storage bucket count. */
  val ShuffleWidth = 8

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", ShuffleWidth.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }

  def delete(p: Path): Unit = graft.plans.Checkpoint.deleteRecursively(p)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Minimal JSON writer for the result line. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case other => render(other.toString)
  }
}

object Main {
  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("cache")).toAbsolutePath, m.get("size").contains("smoke"))
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    Heap.install()
    Files.createDirectories(o.work)
    Files.createDirectories(o.cache)
    val t0 = System.nanoTime()
    val spark = Env.session(o.cores, o.work)
    val sessionS = Env.secondsSince(t0)
    val r = new Result
    try {
      o.workload match {
        case "frontier_wave" => FrontierWave.run(spark, o, r)
        case "crawl_wide"    => Crawl.run(spark, o, r, Crawl.wide(o.seed, o.smoke))
        case "crawl_deep"    => Crawl.run(spark, o, r, Crawl.deep(o.seed, o.smoke))
        case "corpus_dedup"  => CorpusDedup.run(spark, o, r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.metrics("setup_s") = sessionS + r.metrics.getOrElse("setup_s", 0.0)
      r.metrics("peak_heap_mb") = Heap.peakMb
      r.info("session_s") = sessionS
      if (o.trace) {
        val (empty, exchange) = Floor.measure(spark, 15)
        r.layers("floor.empty_job_s") = empty
        r.layers("floor.exchange_s") = exchange
      }
    } finally spark.stop()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "cores" -> o.cores,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "checks" -> r.checks, "metrics" -> r.metrics, "layers" -> r.layers, "info" -> r.info)
    println("PERFBENCH_RESULT " + Json.render(out))
  }
}
