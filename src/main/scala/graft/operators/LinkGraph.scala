package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Host-graph link analysis for crawl prioritization: PageRank over the
 * (src_host → dst_host) outlink graph, the classic importance-ordered
 * crawl-scheduling signal (Cho & Garcia-Molina, "Efficient Crawling
 * Through URL Ordering", WWW 1998). The reference schedules purely by
 * breadth + per-job priority (`cola/job/task.py`); this operator is the
 * training-data-pipeline extension: rank hosts by link structure and
 * feed the rank into the politeness/priority stage as a tiebreak.
 *
 * All arithmetic is integer fixed-point (micro-units, floor division) so
 * the result is EXACTLY reproducible by any engine — no IEEE drift, no
 * convergence tolerance. The update rule per iteration is
 *
 *   share(s)  = rank(s) div outdeg(s)             (floor; dangling hosts
 *                                                  contribute nothing)
 *   rank'(d)  = base + (damping * Σ_{s→d} share(s)) div 100
 *
 * with `base = ((100 - damping) * scale) div 100` and rank₀ = scale for
 * every node. Ranks stay bounded by base + damping% of total mass, so
 * BIGINT never overflows for any graph below ~10^11 nodes at the default
 * scale.
 *
 * Scale (10^8-host graph): the edge list joined with out-degrees is
 * iteration-constant — it is materialized ONCE (localCheckpoint) and
 * every iteration reuses its (src-hashed) partitioning for the rank
 * join. The inflow aggregate `groupBy(dst).sum` partial-aggregates
 * map-side, so a mega-hub destination (the in-degree skew case) combines
 * before its single exchange. Each iteration ends in an eager
 * localCheckpoint: the rank frame's lineage stays O(1) across rounds —
 * without it the self-referential loop doubles the logical plan per
 * iteration (the label-propagation OOM, TextDedup.propagateComponents).
 * Small graphs replay the same update on the driver, under the edge
 * budget Redirects and TextDedup share ([[SmallGraph.EdgeThreshold]]).
 */
object LinkGraph {

  /** PageRank after exactly `iters` rounds of the integer update rule.
   *  Input: an edge list (srcCol: long, dstCol: long); parallel edges
   *  count once each (pre-distinct if you want simple-graph semantics).
   *  Output: (node: long, rank: long), one row per node appearing as
   *  src or dst.
   *
   *  Two regimes, one contract, chosen by the shared [[SmallGraph]]
   *  probe: an edge list within `localEdgeThreshold` replays the
   *  identical integer update driver-locally on the probed rows — an
   *  iterative Spark loop on a small graph pays several
   *  driver-latency-bound jobs per round (2 joins + an aggregate + an
   *  eager checkpoint) for nothing; larger graphs keep the distributed
   *  loop. The integer arithmetic (floor division, exact sums) is the
   *  same in both regimes, so the output is bit-identical. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000L, damping: Int = 85,
      localEdgeThreshold: Long = SmallGraph.EdgeThreshold): DataFrame = {
    require(iters >= 0, s"iterations must be non-negative: $iters")
    require(scale > 0, s"scale must be positive: $scale")
    require(damping >= 0 && damping <= 100, s"damping must be in [0,100]: $damping")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val spark = e.sparkSession
    import spark.implicits._
    val base = ((100L - damping) * scale) / 100L
    val small = SmallGraph.collect(e.as[(Long, Long)], localEdgeThreshold)
    if (small.isDefined) return pageRankLocal(spark, small.get, iters, scale, damping, base)
    val (nodes, edgesDeg) = iterationFrames(e.localCheckpoint(true))
    var ranks = nodes.withColumn("rank", lit(scale)).localCheckpoint(true)
    var i = 0
    while (i < iters) {
      val inflow = edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("share"))
        .groupBy("node").agg(sum("share").as("inflow"))
      // eager checkpoint per round: O(1) lineage (propagateComponents'
      // plan-doubling lesson); superseded rank blocks age out via LRU
      ranks = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($damping * coalesce(inflow, 0L)) div 100"))
            .as("rank"))
        .localCheckpoint(true)
      i += 1
    }
    ranks
  }

  /** The distributed loops' iteration-constant frames, each materialized
   *  once from the (materialized) edge frame: every node once (the rank
   *  rebuild's left side), and every edge with its source's out-degree,
   *  partitioned by src — the join key of every round. */
  private def iterationFrames(e: DataFrame): (DataFrame, DataFrame) = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    (nodes, e.join(outdeg, "src").localCheckpoint(true))
  }

  /** The driver-local replays' counterpart of [[iterationFrames]]: the
   *  node set in first-appearance order, and each source's out-degree. */
  private def localFrames(edges: Array[(Long, Long)])
      : (java.util.LinkedHashSet[Long], java.util.HashMap[Long, Long]) = {
    val nodes = new java.util.LinkedHashSet[Long]()
    val outdeg = new java.util.HashMap[Long, Long]()
    edges.foreach { case (s, d) =>
      nodes.add(s); nodes.add(d)
      outdeg.merge(s, 1L, (a, b) => a + b)
    }
    (nodes, outdeg)
  }

  /** Driver-local replay of the exact integer PageRank update (see
   *  [[pageRank]]) over the probed edges. */
  private def pageRankLocal(spark: SparkSession, edges: Array[(Long, Long)],
      iters: Int, scale: Long, damping: Int, base: Long): DataFrame = {
    import spark.implicits._
    val (nodes, outdeg) = localFrames(edges)
    var rank = new java.util.HashMap[Long, Long]()
    nodes.forEach(n => rank.put(n, scale))
    var i = 0
    while (i < iters) {
      val inflow = new java.util.HashMap[Long, Long]()
      edges.foreach { case (s, d) =>
        inflow.merge(d, Math.floorDiv(rank.get(s), outdeg.get(s)), (a, b) => a + b)
      }
      val next = new java.util.HashMap[Long, Long]()
      nodes.forEach(n => next.put(n,
        base + Math.floorDiv(damping.toLong * inflow.getOrDefault(n, 0L), 100L)))
      rank = next
      i += 1
    }
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](rank.size)
    nodes.forEach(n => rows += ((n, rank.get(n))))
    rows.toSeq.toDF("node", "rank")
  }

  /** Anchor-text corpus: per link TARGET, aggregate what the web calls
   *  the page — the classic link-based signal (anchor text approximates a
   *  query/title for the target; used for retrieval since WWW7's "anchor
   *  text" results and in LLM pretraining as page-title augmentation).
   *  Input: one row per extracted link (srcHostCol, dstCol, anchorCol —
   *  anchor already whitespace-normalized, see Extract.extractAnchors;
   *  this operator re-applies trim so raw feeds behave).
   *
   *  Output per dst: `n_links` (all links, even empty-anchor ones),
   *  `n_src_hosts` (distinct linking hosts), `n_anchors` (distinct
   *  non-empty anchor strings), `top_anchor` (most frequent non-empty
   *  anchor; ties broken by lexicographically smallest — deterministic
   *  across parallelism; null when every link is empty-anchored).
   *
   *  Scale (10^10-link graph): everything pre-aggregates on
   *  (dst, anchor) FIRST — a boilerplate anchor repeated 10^6× on a hot
   *  target ("click here" → a popular homepage) combines map-side before
   *  its one exchange. The top-anchor pick is a rank-1 window over the
   *  already-(dst,anchor)-sized frame, which Spark plans as
   *  WindowGroupLimit (partial top-1 per mapper — no full sort of a hot
   *  dst's anchor list). Distinct-host counting runs as its own two-phase
   *  aggregate on the same shuffle key; the final join is dst-sized on
   *  both sides (AQE picks the strategy — no unbounded broadcast hint,
   *  the r3 O7 lesson). */
  def anchorSummary(links: DataFrame, srcHostCol: String, dstCol: String,
      anchorCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = links.select(
      col(srcHostCol).cast("string").as("src_host"),
      col(dstCol).cast("string").as("dst"),
      trim(regexp_replace(col(anchorCol).cast("string"), "\\s+", " ")).as("anchor"))
    val perDst = base.groupBy("dst").agg(
      count(lit(1)).as("n_links"),
      countDistinct(col("src_host")).as("n_src_hosts"),
      // distinct non-empty anchors; the Expand for two count-distincts
      // doubles rows pre-shuffle but partial-aggregates map-side
      countDistinct(when(col("anchor") =!= "", col("anchor"))).as("n_anchors"))
    val anchorCounts = base.filter(col("anchor").isNotNull && col("anchor") =!= "")
      .groupBy("dst", "anchor").agg(count(lit(1)).as("n"))
    val top = anchorCounts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("dst")).orderBy(col("n").desc, col("anchor").asc)))
      .filter(col("rk") === 1)
      .select(col("dst"), col("anchor").as("top_anchor"),
        col("n").as("top_anchor_n"))
    perDst.join(top, Seq("dst"), "left")
      .select(col("dst"), col("n_links"), col("n_src_hosts"), col("n_anchors"),
        col("top_anchor"),
        coalesce(col("top_anchor_n"), lit(0L)).as("top_anchor_n"))
  }

  /** OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
   *  Preda & Cobena, WWW 2003), the importance measure DESIGNED for
   *  crawl scheduling: unlike PageRank it needs no converged global
   *  solve — every node carries `cash` (importance-in-flight) and
   *  `hist` (importance accrued), a visited node banks its cash into
   *  history and deals it equally to its outlinks, and the running
   *  `hist` ranking is usable after ANY number of rounds. This is the
   *  synchronous (whole-frontier-per-wave) reading, which matches the
   *  engine's wave loop; the paper's per-page asynchronous variant
   *  converges to the same fixpoint.
   *
   *  Virtual root: dangling cash and floor-division remainders belong
   *  to the paper's virtual page, which redistributes equally to every
   *  node at the next round (`topup = virtual div n`). The virtual
   *  balance is recovered by CONSERVATION — total cash in the system is
   *  invariant at `n * scale` — so each round needs exactly one 1-row
   *  driver action (the circulating-cash sum), never per-row remainder
   *  tracking. All arithmetic is integer floor division: exactly
   *  replayable in any engine, no IEEE drift, no tolerance.
   *
   *  Scale (10^8-host graph): same shape as [[pageRank]] — the
   *  edges⋈outdeg frame is iteration-constant and materialized once,
   *  inflow partial-aggregates map-side before its one exchange, and
   *  the per-round localCheckpoint keeps lineage O(1); a small graph
   *  (the [[SmallGraph]] probe) replays the identical integer update
   *  driver-locally instead of paying 2 joins + an aggregate + a
   *  checkpoint + a 1-row conservation action per round. `n * scale`
   *  and `iters * n * scale` must fit a long (guarded). */
  def opic(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      scale: Long = 1000000L,
      localEdgeThreshold: Long = SmallGraph.EdgeThreshold): DataFrame = {
    require(iters >= 0, s"iterations must be non-negative: $iters")
    require(scale > 0, s"scale must be positive: $scale")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val spark = e.sparkSession
    import spark.implicits._
    val small = SmallGraph.collect(e.as[(Long, Long)], localEdgeThreshold)
    if (small.isDefined) return opicLocal(spark, small.get, iters, scale)
    val (nodes, edgesDeg) = iterationFrames(e.localCheckpoint(true))
    val n = nodes.count() // one bounded driver scalar (the node count)
    if (n == 0)
      return nodes.select(col("node"), lit(0L).as("cash"), lit(0L).as("hist"))
    require(n <= Long.MaxValue / scale / (iters.max(1)),
      s"n*scale*iters overflows long: n=$n scale=$scale iters=$iters")
    val mass = n * scale
    var ranks = nodes
      .select(col("node"), lit(scale).as("cash"), lit(0L).as("hist"))
      .localCheckpoint(true)
    var virtualCash = 0L
    var i = 0
    while (i < iters) {
      val topup = virtualCash / n
      val eff = ranks.select(col("node"),
        (col("cash") + topup).as("eff"),
        (col("hist") + col("cash") + topup).as("hist"))
      val inflow = edgesDeg
        .join(eff.select(col("node").as("src"), col("eff")), "src")
        .select(col("dst").as("node"), expr("eff div deg").as("share"))
        .groupBy("node").agg(sum("share").as("inflow"))
      val next = eff.join(inflow, Seq("node"), "left")
        .select(col("node"), coalesce(col("inflow"), lit(0L)).as("cash"),
          col("hist"))
      // eager checkpoint per round: O(1) lineage (the pageRank lesson)
      ranks = next.localCheckpoint(true)
      // conservation recovers the virtual balance: one 1-row action
      val circulating = ranks.agg(coalesce(sum("cash"), lit(0L)))
        .head().getLong(0)
      virtualCash = mass - circulating
      i += 1
    }
    ranks
  }

  /** Driver-local replay of the exact integer OPIC update (see [[opic]])
   *  over the probed edges. */
  private def opicLocal(spark: SparkSession, edges: Array[(Long, Long)],
      iters: Int, scale: Long): DataFrame = {
    import spark.implicits._
    val (nodes, outdeg) = localFrames(edges)
    val n = nodes.size.toLong
    if (n == 0)
      return Seq.empty[(Long, Long, Long)].toDF("node", "cash", "hist")
    require(n <= Long.MaxValue / scale / (iters.max(1)),
      s"n*scale*iters overflows long: n=$n scale=$scale iters=$iters")
    val mass = n * scale
    val cash = new java.util.HashMap[Long, Long]()
    val hist = new java.util.HashMap[Long, Long]()
    nodes.forEach { nd => cash.put(nd, scale); hist.put(nd, 0L) }
    var virtualCash = 0L
    var i = 0
    while (i < iters) {
      val topup = Math.floorDiv(virtualCash, n)
      val eff = new java.util.HashMap[Long, Long]()
      nodes.forEach { nd =>
        val effV = cash.get(nd) + topup
        eff.put(nd, effV)
        hist.put(nd, hist.get(nd) + effV)
      }
      val inflow = new java.util.HashMap[Long, Long]()
      edges.foreach { case (s, d) =>
        inflow.merge(d, Math.floorDiv(eff.get(s), outdeg.get(s)), (a, b) => a + b)
      }
      var circulating = 0L
      nodes.forEach { nd =>
        val c = inflow.getOrDefault(nd, 0L)
        cash.put(nd, c)
        circulating += c
      }
      virtualCash = mass - circulating
      i += 1
    }
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](nodes.size)
    nodes.forEach(nd => rows += ((nd, cash.get(nd), hist.get(nd))))
    rows.toSeq.toDF("node", "cash", "hist")
  }

  /** Rank-prioritized frontier: joins each frontier row's host id to its
   *  PageRank and exposes `host_rank` (missing hosts rank 0) for the
   *  scheduling stage to order by. Broadcast is left to AQE — a host
   *  rank table is one row per host and usually broadcastable, but at
   *  10^8 hosts it must shuffle; no unbounded hint (the r3 O7 lesson). */
  def withHostRank(frontier: DataFrame, ranks: DataFrame,
      hostIdCol: String): DataFrame =
    frontier.join(ranks.withColumnRenamed("node", hostIdCol), Seq(hostIdCol), "left")
      .withColumn("host_rank", coalesce(col("rank"), lit(0L))).drop("rank")
}
