package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.UrlExprs
import graft.operators.{BloomStore, Dedup, Politeness}
import graft.plans.Checkpoint

/** One frontier wave assembled from the engine's public layer functions:
 *  canonicalize, dedup against a bucketed seen table plus its Bloom store,
 *  salted politeness schedule. No fetch, extract, checkpoint or wave loop. */
object FrontierWave {
  /** `buckets` is both the seen table's bucket count and the wave's shuffle
   *  width, so the dedup output lands on the Bloom store's layout. */
  final case class Size(n: Long, buckets: Int, hostBudget: Int, salts: Int, nPriorities: Int)

  def size(smoke: Boolean): Size =
    Size(if (smoke) 20000L else 100000L, buckets = 8, hostBudget = 1000, salts = 32, nPriorities = 3)

  /** n seeded frontier rows: every third row repeats the URL of the row two
   *  before it, 30% of URLs sit on one mega-host and the rest on a tail of
   *  99,999 hosts; some URLs carry an upper-case scheme and host, a default
   *  port, an unsorted query or a fragment for the canonicalizer. */
  def frontier(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(0L, n).select(
        expr("case when id % 3 = 2 then id - 2 else id end").as("uid"), col("id").as("seq"))
      .withColumn("k", pmod(xxhash64(col("uid"), lit(seed)), lit(1000000000000L)))
      .withColumn("h", when(pmod(col("k"), lit(10L)) < 3, lit(0L))
        .otherwise(lit(1L) + pmod(col("k").divide(10).cast("long"), lit(99999L))))
      .select(
        concat(
          when(pmod(col("k"), lit(13L)) === 0, lit("HTTP://Host")).otherwise(lit("http://host")),
          col("h").cast("string"),
          when(pmod(col("k"), lit(13L)) === 0, lit(".EXAMPLE.com:80/p/")).otherwise(lit(".example.com/p/")),
          col("k").cast("string"),
          when(pmod(col("k"), lit(7L)) === 0, lit("?b=2&a=1")).otherwise(lit("")),
          when(pmod(col("k"), lit(11L)) === 0, lit("#s")).otherwise(lit(""))).as("url"),
        pmod(col("k"), lit(3L)).cast("int").as("priority"),
        col("seq"))

  def canonical(df: DataFrame): DataFrame =
    df.withColumn("url_canon", UrlExprs.canonicalizeUrl(col("url"))).drop("url")
      .withColumn("url_hash", Dedup.urlHash(col("url_canon")))

  final case class State(seen: DataFrame, store: BloomStore)

  /** The pre-seen state the wave reads: 20% of the frontier in a bucketed
   *  seen table, with its Bloom store. */
  def buildState(spark: SparkSession, sz: Size, seed: Long, dir: String): State = {
    val n = sz.n
    val ckpt = new Checkpoint(spark, dir, sz.buckets)
    ckpt.ensureBucketed("seen", "url_hash BIGINT, url_canon STRING")
    val seen0 = canonical(frontier(spark, n, seed)).filter(col("seq") % 5 === 0)
      .select(col("url_hash"), col("url_canon"))
    ckpt.writeBucketed(seen0, 0, "seen")
    val seen = ckpt.readBucketed("seen", 0).select(col("url_hash"), col("url_canon"))
    val store = new BloomStore(spark, dir, sz.buckets, math.max(n / 5 / sz.buckets, 1024))
    store.rebuild(seen, 0)
    State(seen, store)
  }

  /** (scheduled rows, order-free digest of the schedule). */
  private def digest(scheduled: DataFrame): (Long, String) = {
    val r = scheduled.agg(count(lit(1)),
      bit_xor(xxhash64(col("url_canon"), col("seq"), col("priority")))).collect()(0)
    (r.getLong(0), s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}")
  }

  /** The measured wave, as one plan with one materialized hand-off (the
   *  dedup output, which politeness reads several ways). */
  def wave(spark: SparkSession, sz: Size, seed: Long, st: State): (Long, String) = {
    val deduped = Dedup.dedupWave(spark, canonical(frontier(spark, sz.n, seed)), st.seen,
      Seq(col("seq")), bloomStore = Some(st.store), bloomAligned = true)
    val withHost = deduped.withColumn("host", UrlExprs.urlHost(col("url_canon")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try digest(Politeness.schedule(withHost, sz.hostBudget, grant = sz.n,
      nPriorities = sz.nPriorities, salts = sz.salts))
    finally withHost.unpersist(false)
  }

  /** The same wave with each layer materialized inside its own span;
   *  returns the layer values the spans and their side counts give. */
  def tracedWave(spark: SparkSession, sz: Size, seed: Long, st: State,
      t: Tracer): Map[String, Double] = {
    val cands = t.span("urlexprs") {
      val c = canonical(frontier(spark, sz.n, seed)).persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    val withHost = t.span("dedup") {
      val d = Dedup.dedupWave(spark, cands, st.seen, Seq(col("seq")),
          bloomStore = Some(st.store), bloomAligned = true)
        .withColumn("host", UrlExprs.urlHost(col("url_canon")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count(); d
    }
    t.span("politeness") {
      Politeness.schedule(withHost, sz.hostBudget, grant = sz.n,
        nPriorities = sz.nPriorities, salts = sz.salts).count()
    }
    val (maybeRatio, falsePos) = Crawl.bloomCounts(cands, Seq(col("seq")), st.seen, st.store)
    val out = Map(
      "urlexprs.busy_s" -> t.spanS("urlexprs"),
      "dedup.busy_s" -> t.spanS("dedup"),
      "dedup.shuffle_mb" -> t.spanShuffleMb("dedup"),
      "dedup.candidates" -> sz.n.toDouble,
      "dedup.new_ratio" -> withHost.count().toDouble / sz.n,
      "bloom.maybe_ratio" -> maybeRatio,
      "bloom.false_pos" -> falsePos,
      "politeness.busy_s" -> t.spanS("politeness"),
      "politeness.jobs" -> t.spanJobs("politeness").size.toDouble,
      "politeness.task_skew" -> t.log.taskSkew(t.spanJobs("politeness")),
      "politeness.hot_hosts" -> Crawl.hotHosts(withHost, sz.hostBudget))
    Seq(cands, withHost).foreach(_.unpersist(false))
    out
  }

  def run(spark: SparkSession, o: Opts, r: Result): Unit = {
    val sz = size(o.smoke)
    spark.conf.set("spark.sql.shuffle.partitions", sz.buckets.toString)
    // the 1-core JVM only supplies the scaling pair's low end and the
    // digest the 4-core schedule must match: one set-up, one timed wave
    val scalingLow = o.cores == 1
    val setupReps = if (scalingLow) 1 else 3
    var st: State = null
    val setups = (1 to setupReps).map { i =>
      val dir = o.work.resolve(s"seen-$i")
      val t0 = System.nanoTime()
      val s = buildState(spark, sz, o.seed, dir.toString)
      s.seen.count()
      val secs = Env.secondsSince(t0)
      st = s
      secs
    }
    r.metrics("setup_s") = Stats.median(setups)
    r.metrics("state_mb") = Env.dirBytes(o.work.resolve(s"seen-$setupReps")) / 1e6
    (1 until setupReps).foreach(i => Env.delete(o.work.resolve(s"seen-$i")))

    // JIT and codegen warm on a smaller wave of the same plan
    wave(spark, sz.copy(n = sz.n / 8), o.seed, st)
    Heap.reset()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val digests = scala.collection.mutable.LinkedHashSet.empty[String]
    val minWaves = if (scalingLow) 1 else 2
    val tEnd = System.nanoTime() + (o.seconds * 1e9).toLong
    while (r.attempted < minWaves || (System.nanoTime() < tEnd && r.attempted < 200)) {
      r.attempt {
        val t0 = System.nanoTime()
        val (n, d) = wave(spark, sz, o.seed, st)
        times += Env.secondsSince(t0)
        digests += d
        r.check("schedule_nonempty", n > 0) & r.check("deterministic_digest", digests.size == 1)
      }
    }
    r.metrics("items_per_s") = sz.n / Stats.median(times.toSeq)
    r.metrics("wave_s_p50") = Stats.median(times.toSeq)
    r.info("wave_s_p90") = Stats.quantile(times.toSeq, 0.9)
    r.info("digest") = digests.headOption.getOrElse("")
    r.info("n") = sz.n
    r.info("waves") = times.size

    if (o.trace) {
      // the measured wave again with the listener installed: its time
      // against the untraced median is the tracing overhead
      val t = new Tracer(spark)
      val t0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      wave(spark, sz, o.seed, st)
      val traced = Env.secondsSince(s0)
      t.drain()
      r.layers ++= t.log.sparkTotals(t.log.jobsIn(t0, System.currentTimeMillis()),
        traced, o.cores)
      r.layers("trace.overhead_frac") = traced / Stats.median(times.toSeq) - 1.0
      r.layers ++= tracedWave(spark, sz, o.seed, st, t)
      t.stop()
    }
  }
}
