package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{LinkGraph, TextDedup}
import FrontierQueries.{enriched, enrichedOracle, urlsCte}

/** Link-graph queries: host components, PageRank, OPIC, anchor text and
  * redirect-chain resolution. */
object GraphQueries {

  def all: Seq[Query] = Seq(
    // host-graph weakly-connected components (site clustering / mirror
    // detection): the dedup engine's component machinery over link
    // edges — 25-step cycles mod 500 give a known 25-component shape
    Query("host_components", (s, d) => {
      val e = s.sql(
        s"""SELECT DISTINCT o_orderkey % 500 AS a,
                   (o_orderkey % 500 + 25) % 500 AS b
            FROM parquet.`$d/orders.parquet`""")
      TextDedup.duplicateClusters(e)
        .select(col("id").as("host_id"), col("comp"))
    },
      // replays weakly-connected components as recursive min-label
      // reachability (bounded: 500 nodes × 20-node components)
      Some("""WITH RECURSIVE edges AS (
           SELECT DISTINCT o_orderkey % 500 AS a,
                  (o_orderkey % 500 + 25) % 500 AS b
           FROM orders),
         und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
         nodes AS (SELECT DISTINCT a AS n FROM und),
         reach(n, l) AS (
           SELECT n, n FROM nodes
           UNION
           SELECT u.b, r.l FROM reach r JOIN und u ON u.a = r.n)
         SELECT n AS host_id, min(l) AS comp FROM reach GROUP BY n""")),

    // host-graph PageRank (importance-ordered crawl scheduling, Cho &
    // Garcia-Molina 1998): integer fixed-point with floor division, so
    // five iterations replay EXACTLY in any engine — no IEEE drift, no
    // tolerance. Synthetic 200-host outlink graph derived from orders;
    // dst uses a SECOND modulus (193, coprime to 200) so it varies
    // within each src residue class — out/in-degrees differ and the
    // rank vector is non-uniform (a same-modulus affine map is a
    // permutation whose fixed point IS the initial vector: useless)
    Query("pagerank_hosts", (s, d) => {
      val e = s.sql(
        s"""SELECT DISTINCT o_orderkey % 200 AS src,
                   o_orderkey % 193 AS dst
            FROM parquet.`$d/orders.parquet`
            WHERE o_orderkey % 200 <> o_orderkey % 193""")
      LinkGraph.pageRank(e, "src", "dst", iters = 5)
        .select(col("node").as("host_id"), col("rank"))
    },
      Some(pagerankOracle(5))),

    // anchor-text corpus: per link target, the aggregated "what the web
    // calls this page" signal (LinkGraph.anchorSummary). Links are a
    // deterministic synthetic feed from the frontier (vocab index seq%3
    // is COPRIME to the dst moduli, so every target sees several anchor
    // strings — the top-1 pick and its lexicographic tie-break are
    // actually exercised, as are ''-anchor rows and the ws-collapse
    // normalization). Extraction of (href, anchor) pairs from real HTML
    // is engine-only, pinned by ExtractSpec
    Query("anchor_texts", (s, d) => {
      val e = enriched(s, d)
      val vocab = array(lit("click here"), lit("  Read   More "),
        concat(lit("Page "), (col("seq") % 7).cast("string")))
      // the two link feeds (every row + the seq%3 hub rows) come from ONE
      // pass over the UDF-enriched frame via a conditional-array explode —
      // the r5 two-branch union evaluated the enrich UDFs twice; the
      // produced link rows are identical (same oracle)
      val row1 = struct(
        concat(lit("http://t"), (col("seq") % 40).cast("string"),
          lit(".example.com/p/"), (col("seq") % 200).cast("string")).as("dst"),
        element_at(vocab, ((col("seq") % 3) + 1).cast("int")).as("anchor"))
      val row2 = struct(
        concat(lit("http://t"), (col("seq") % 40).cast("string"),
          lit(".example.com/p/"), ((col("seq") * 7) % 200).cast("string")).as("dst"),
        when(col("seq") % 9 === 0, lit("")).otherwise(lit("hub")).as("anchor"))
      val links = e.select(col("host").as("src_host"),
          explode(when(col("seq") % 3 === 0, array(row1, row2))
            .otherwise(array(row1))).as("l"))
        .select(col("src_host"), col("l.dst").as("dst"), col("l.anchor").as("anchor"))
      LinkGraph.anchorSummary(links, "src_host", "dst", "anchor")
    },
      // replays the synthetic link feed + LinkGraph.anchorSummary: ws
      // normalization, per-dst link/host/anchor counts, top-1 anchor by
      // (count desc, anchor asc)
      Some(s"""WITH urls AS (${urlsCte("orders")}),
          e AS ($enrichedOracle),
          links AS (
            SELECT host AS src_host,
                   concat('http://t', CAST(seq % 40 AS STRING), '.example.com/p/',
                          CAST(seq % 200 AS STRING)) AS dst,
                   (['click here', '  Read   More ',
                     'Page ' || CAST(seq % 7 AS STRING)])[CAST(seq % 3 AS INT) + 1] AS anchor
            FROM e
            UNION ALL
            SELECT host,
                   concat('http://t', CAST(seq % 40 AS STRING), '.example.com/p/',
                          CAST((seq * 7) % 200 AS STRING)),
                   CASE WHEN seq % 9 = 0 THEN '' ELSE 'hub' END
            FROM e WHERE seq % 3 = 0),
          norm AS (SELECT src_host, dst,
                          trim(regexp_replace(anchor, '\\s+', ' ', 'g')) AS anchor
                   FROM links),
          per_dst AS (
            SELECT dst, count(*) AS n_links,
                   count(DISTINCT src_host) AS n_src_hosts,
                   count(DISTINCT CASE WHEN anchor <> '' THEN anchor END) AS n_anchors
            FROM norm GROUP BY dst),
          ac AS (SELECT dst, anchor, count(*) AS n FROM norm
                 WHERE anchor <> '' GROUP BY dst, anchor),
          top AS (SELECT dst, anchor AS top_anchor, n AS top_anchor_n FROM (
                    SELECT dst, anchor, n,
                           row_number() OVER (PARTITION BY dst
                             ORDER BY n DESC, anchor ASC) AS rk
                    FROM ac) t WHERE rk = 1)
          SELECT p.dst, p.n_links, p.n_src_hosts, p.n_anchors,
                 t.top_anchor, coalesce(t.top_anchor_n, 0) AS top_anchor_n
          FROM per_dst p LEFT JOIN top t USING (dst)""")),

    // OPIC online page importance (Abiteboul et al. 2003) after 5
    // synchronous waves: integer cash/history with the virtual-root
    // topup, exactly replayable. The src range (0..119) is a strict
    // subset of the dst range (0..199), so nodes 120..199 are dangling
    // — their cash drains to the virtual root and re-deals to everyone,
    // exercising the conservation path, not just the happy loop
    Query("opic_hosts", (s, d) => {
      val e = s.sql(
        s"""SELECT DISTINCT o_orderkey % 120 AS src, (o_orderkey * 7) % 200 AS dst
            FROM parquet.`$d/orders.parquet`
            WHERE o_orderkey % 120 <> (o_orderkey * 7) % 200""")
      LinkGraph.opic(e, "src", "dst", iters = 5)
        .select(col("node").as("host_id"), col("cash"), col("hist"))
    },
      Some(opicOracle(5))),

    // redirect-chain resolution by pointer doubling (5 rounds cover the
    // 32-hop horizon): id-decade chains 0→1→…→7 (7 terminal, so hops
    // run 7 down to 1) plus the planted 8⇄9 two-cycle per decade; the
    // cycle keeps every round live, so the engine's early-stop replays
    // the oracle's full unroll exactly
    Query("redirect_resolve", (s, d) => {
      val e = s.sql(
        s"""SELECT DISTINCT concat('http://r.example.com/u/', CAST(k AS STRING)) AS src,
                   concat('http://r.example.com/u/',
                          CAST(CASE WHEN k % 10 = 9 THEN k - 1 ELSE k + 1 END AS STRING)) AS dst
            FROM (SELECT o_orderkey % 5000 AS k FROM parquet.`$d/orders.parquet`) t
            WHERE k % 10 <> 7""")
      operators.Redirects.resolve(e, "src", "dst", maxHops = 32)
    },
      Some(redirectOracle(5))))

  /** DuckDB replay of the integer PageRank update, one chained CTE per
    * iteration (`//` is DuckDB floor division ≙ Spark `div` on the
    * non-negative operands here). */
  private def pagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""it$i AS (
            SELECT n.node,
                   CAST(150000 + (85 * coalesce(f.inflow, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS node, sum(r.rank // o.deg) AS inflow
              FROM edges e
              JOIN it${i - 1} r ON r.node = e.src
              JOIN outdeg o ON o.src = e.src
              GROUP BY e.dst) f ON f.node = n.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT o_orderkey % 200 AS src,
                 o_orderkey % 193 AS dst
          FROM orders
          WHERE o_orderkey % 200 <> o_orderkey % 193),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
        $steps
        SELECT node AS host_id, rank FROM it$iters"""
  }

  /** DuckDB replay of the integer OPIC update (same chained-CTE pattern
    * as [[pagerankOracle]]): per iteration an eff CTE applies the
    * virtual-root topup — the virtual balance recovered by conservation
    * as mass - sum(cash), exactly the engine's arithmetic — and a state
    * CTE banks history and re-deals cash along the edges. */
  private def opicOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""eff$i AS (
            SELECT node,
                   cash + ((SELECT mass FROM tot) - (SELECT sum(cash) FROM it${i - 1}))
                     // (SELECT n FROM tot) AS eff,
                   hist
            FROM it${i - 1}),
          it$i AS (
            SELECT e.node,
                   CAST(coalesce(f.inflow, 0) AS BIGINT) AS cash,
                   CAST(e.hist + e.eff AS BIGINT) AS hist
            FROM eff$i e LEFT JOIN (
              SELECT ed.dst AS node, sum(ef.eff // o.deg) AS inflow
              FROM edges ed
              JOIN eff$i ef ON ef.node = ed.src
              JOIN outdeg o ON o.src = ed.src
              GROUP BY ed.dst) f ON f.node = e.node)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT o_orderkey % 120 AS src, (o_orderkey * 7) % 200 AS dst
          FROM orders
          WHERE o_orderkey % 120 <> (o_orderkey * 7) % 200),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        tot AS (SELECT count(*) AS n, count(*) * 1000000 AS mass FROM nodes),
        it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS cash,
                       CAST(0 AS BIGINT) AS hist FROM nodes),
        $steps
        SELECT node AS host_id, cash, hist FROM it$iters"""
  }

  /** DuckDB replay of the pointer-doubling redirect resolution: each CTE
    * self-joins the previous mapping (2^k hops after k rounds), then the
    * final projection flags still-jumpable pointers as cycles. */
  private def redirectOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""s$i AS (
            SELECT a.src, coalesce(b.target, a.target) AS target,
                   a.hops + coalesce(b.hops, 0) AS hops
            FROM s${i - 1} a LEFT JOIN s${i - 1} b ON b.src = a.target)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT concat('http://r.example.com/u/', CAST(k AS STRING)) AS src,
                 concat('http://r.example.com/u/',
                        CAST(CASE WHEN k % 10 = 9 THEN k - 1 ELSE k + 1 END AS STRING)) AS dst
          FROM (SELECT o_orderkey % 5000 AS k FROM orders) t
          WHERE k % 10 <> 7),
        s0 AS (SELECT src, dst AS target, CAST(1 AS BIGINT) AS hops FROM edges),
        $steps
        SELECT a.src, a.target, CAST(a.hops AS BIGINT) AS hops,
               (b.src IS NOT NULL) AS is_cycle
        FROM s$rounds a LEFT JOIN (SELECT DISTINCT src FROM edges) b
          ON b.src = a.target"""
  }
}
