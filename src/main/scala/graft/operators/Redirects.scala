package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * HTTP redirect-chain resolution: given one (src → dst) row per
 * redirecting URL (an HTTP 3xx edge — each src redirects to exactly ONE
 * dst), rewrite every src to the TERMINAL URL its chain reaches, with
 * the hop count and a cycle flag. The canonical Common-Crawl processing
 * step: dumps carry the redirect records separately from the content
 * records, and corpus assembly wants content keyed by the final URL
 * (a→b→c collapses a and b onto c's page).
 *
 * Resolution is POINTER DOUBLING (path halving), not hop-at-a-time
 * walking: each round joins the current mapping with itself, so a
 * resolved pointer jumps 2^k hops after k rounds — `maxHops` needs only
 * ceil(log2(maxHops)) + 1 rounds. At 10^9 redirect edges with chains of
 * depth 30 (the real-web long tail), that is 6 self-joins instead of 30
 * edge-table walks. Each round is one equi-join on the pointer column
 * plus an eager localCheckpoint (O(1) lineage, the pageRank lesson);
 * rounds stop early when a 1-row driver action reports no pointer moved.
 *
 * Cycles (a→b→a) and chains longer than `maxHops` never reach a
 * terminal: after the final round any row whose pointer still has an
 * outgoing mapping is flagged `is_cycle` (the crawl treats both as
 * dead — a redirect loop and an absurd chain are the same trap). The
 * fixed round count makes the output an exact function of the input —
 * replayable by the same doubling in any engine.
 *
 * CALLER CONTRACT: one row per src (HTTP gives one Location per URL);
 * duplicate srcs would fan the self-join out. Pre-dedup upstream
 * (e.g. [[Dedup.latestRevision]] on fetch time) if captures repeat.
 */
object Redirects {

  /** Number of doubling rounds needed to cover `maxHops`. */
  private[operators] def roundsFor(maxHops: Int): Int = {
    var r = 0
    var reach = 1L // hops covered by the initial edge set
    while (reach < maxHops) { reach *= 2; r += 1 }
    r
  }

  /** Resolve every redirecting URL. Input: (srcCol, dstCol) — one row
   *  per redirect. Output: (src, target, hops, is_cycle) — `target` is
   *  the terminal URL (or the 2^rounds-capped pointer when `is_cycle`),
   *  `hops` the number of redirects followed. A small redirect map (the
   *  [[SmallGraph]] probe) replays the doubling horizon driver-locally
   *  instead of paying a self-join + an eager checkpoint + a 1-row stop
   *  probe per round; the output is identical in both regimes. */
  def resolve(edges: DataFrame, srcCol: String, dstCol: String,
      maxHops: Int = 32, localEdgeThreshold: Long = SmallGraph.EdgeThreshold): DataFrame = {
    require(maxHops >= 1, s"maxHops must be at least 1: $maxHops")
    val pairs = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("target"))
    val spark = pairs.sparkSession
    import spark.implicits._
    val small = SmallGraph.collect(pairs.as[(String, String)], localEdgeThreshold)
    if (small.isDefined) return resolveLocal(spark, small.get, maxHops)
    val base = pairs.withColumn("hops", lit(1L)).localCheckpoint(true)
    var state = base
    var i = 0
    val rounds = roundsFor(maxHops)
    var moved = true
    while (i < rounds && moved) {
      // jump through the CURRENT mapping: src→target ∘ src→target
      val jumped = state.join(
        state.select(col("src").as("target"), col("target").as("__nxt"),
          col("hops").as("__nhops")),
        Seq("target"), "left")
      val next = jumped.select(
        col("src"),
        coalesce(col("__nxt"), col("target")).as("target"),
        (col("hops") + coalesce(col("__nhops"), lit(0L))).as("hops"))
      state = next.localCheckpoint(true)
      // one bounded 1-row action: stop as soon as nothing can jump
      moved = state.join(
        base.select(col("src").as("target")), Seq("target"), "left_semi")
        .limit(1).count() > 0
      i += 1
    }
    // a pointer that still has an outgoing mapping never terminated:
    // a cycle, or a chain deeper than the doubling horizon — same trap
    state.join(base.select(col("src").as("target"), lit(true).as("__c")),
        Seq("target"), "left")
      .select(col("src"), col("target"), col("hops"),
        coalesce(col("__c"), lit(false)).as("is_cycle"))
  }

  /** Driver-local replay of the doubling horizon (see [[resolve]]) over
   *  the probed rows: each chain is walked for at most
   *  2^roundsFor(maxHops) hops — the exact pointer state the distributed
   *  doubling reaches, early-stop included (stopping early only happens
   *  when every chain already terminated, where walk and doubling agree). */
  private def resolveLocal(spark: SparkSession, rows: Array[(String, String)],
      maxHops: Int): DataFrame = {
    import spark.implicits._
    val next = new java.util.HashMap[String, String](rows.length * 2)
    rows.foreach { case (s, d) => next.put(s, d) }
    val cap = 1L << roundsFor(maxHops)
    val out = rows.map { case (s, d) =>
      var cur = d
      var hops = 1L
      while (hops < cap && next.containsKey(cur)) {
        cur = next.get(cur)
        hops += 1
      }
      (s, cur, hops, next.containsKey(cur))
    }
    out.toSeq.toDF("src", "target", "hops", "is_cycle")
  }

  /** Rewrite a page table onto terminal URLs: every row whose `urlCol`
   *  redirects gets the resolved target; non-redirecting URLs — and
   *  cycle members, whose mapping rows are dropped because they have no
   *  terminal — pass through unchanged. The resolved mapping is
   *  redirect-sized (≪ the page table) and joins AQE-sized — the page
   *  table is never exploded or re-keyed until the final rename. */
  def rewriteToTerminal(pages: DataFrame, urlCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxHops: Int = 32): DataFrame = {
    val m = resolve(edges, srcCol, dstCol, maxHops)
      .filter(!col("is_cycle"))
      .select(col("src").as(urlCol), col("target").as("__t"))
    pages.join(m, Seq(urlCol), "left")
      .withColumn(urlCol, coalesce(col("__t"), col(urlCol)))
      .drop("__t")
  }
}
