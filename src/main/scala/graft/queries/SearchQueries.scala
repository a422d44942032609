package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Search, Similarity}

/** Search and embedding queries: inverted index, BM25, exact and
  * approximate nearest neighbours and embedding near-dups. */
object SearchQueries {

  /** Probe queries for the BM25 search op — fixed vocabulary words of the
    * synthetic corpus (stable across SFs: same generator), plus one term
    * that appears nowhere (`qzzz`). */
  private val Bm25Queries: Seq[(String, String)] = Seq(
    "q1" -> "spark join merge",
    "q2" -> "window filter vector",
    "q3" -> "customer order table scan",
    "q4" -> "qzzz filter")

  private def bm25QueryValues: String =
    Bm25Queries.flatMap { case (qid, qtext) =>
      qtext.trim.split("\\s+").filter(_.nonEmpty).distinct.map(t => s"('$qid','$t')")
    }.mkString(", ")

  /** Exact cosine top-3 neighbours of the first 20 vectors. */
  private val exactTop3Oracle =
    """SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
           FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) AS cos
                 FROM embeddings q, embeddings c
                 WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id) s) t
         WHERE rank <= 3"""

  def all: Seq[Query] = Seq(
    // inverted index (token → postings): exact df per token; postings
    // md5 only where df <= 32 (the reducer-memory contract — hot/stopword
    // tokens keep exact counts but report the '' sentinel, never a
    // corpus-sized collect_list)
    Query("index_postings", (s, d) =>
      Corpus.invertedIndex(s.read.parquet(s"$d/documents.parquet"),
        "text", "doc_id", maxDf = 32),
      Some("""WITH tok AS (
           SELECT DISTINCT doc_id,
                  unnest(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                         w -> len(w) > 0)) AS token
           FROM documents),
         dfq AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY token)
         SELECT t.token, f.doc_freq,
                md5(string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id)) AS postings_md5
         FROM tok t JOIN dfq f USING (token)
         WHERE f.doc_freq <= 32
         GROUP BY t.token, f.doc_freq
         UNION ALL
         SELECT token, doc_freq, '' AS postings_md5
         FROM dfq WHERE doc_freq > 32""")),

    // BM25-shaped ranked retrieval, integer fixed-point (rational idf —
    // no log, no IEEE drift; see Search scaladoc). Four probe queries
    // over the corpus vocabulary, incl. one with an absent term
    Query("search_bm25", (s, d) =>
      Search.bm25TopK(s.read.parquet(s"$d/documents.parquet"), "text", "doc_id",
        queries = Bm25Queries, k = 10),
      // integer BM25 replay (same fixed-point formula as Search.bm25TopK;
      // `//` ≙ Spark `div` on these non-negative operands; CASTs keep
      // DuckDB's HUGEINT sums out of the driver's pandas compare)
      Some(s"""WITH docs AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                               w -> len(w) > 0) AS toks
            FROM documents),
          lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS doclen FROM docs),
          stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(doclen) AS BIGINT) AS tot FROM lens),
          qt AS (SELECT * FROM (VALUES $bm25QueryValues) AS t(query_id, token)),
          tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
          tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
                 WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
          dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          scored AS (
            SELECT q.query_id, t.doc_id, t.tf,
                   ((s.n - d.df + 1) * 10000) // (d.df + 1) AS idf,
                   (l.doclen * 1000000) // ((s.tot * 1000) // s.n) AS lenratio
            FROM tf t JOIN dfq d USING (token) JOIN qt q USING (token)
            JOIN lens l USING (doc_id) CROSS JOIN stats s),
          contribs AS (
            SELECT query_id, doc_id,
                   (idf * ((tf * 2200 * 1000) //
                           (tf * 1000 + (1200 * (1000 - 750 + (750 * lenratio) // 1000)) // 1000))) // 1000 AS contrib
            FROM scored),
          agg AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS score
                  FROM contribs GROUP BY 1, 2)
          SELECT query_id, doc_id, score, rank FROM (
            SELECT query_id, doc_id, score,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, doc_id) AS BIGINT) AS rank
            FROM agg)
          WHERE rank <= 10""")),

    // brute-force cosine top-k (exact ANN baseline); double precision so
    // the DuckDB oracle (DOUBLE[] cast) computes the identical ranking
    Query("embed_topk", (s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 3)
        .withColumn("rank", col("rank").cast("long"))
    },
      Some(exactTop3Oracle)),

    // embedding-cosine near-dup pairs — SHIPPED path is LSH candidates
    // (48 tables × 5-bit signatures: bucket equi-join, no cartesian);
    // the oracle is the EXACT pair set, so the run proves candidate
    // coverage down to the pairs sitting right at the 400‰ threshold.
    // Double precision so the DuckDB oracle computes the identical cosine
    Query("dedup_embedding_cosine", (s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
        .withColumn("embedding", col("embedding").cast("array<double>"))
      Similarity.cosineNearDups(emb, "vec_id", "embedding", 400, dim = 64,
        tables = 48, bits = 5)
    },
      Some("""SELECT a.vec_id AS a, b.vec_id AS b,
                CAST(floor(1000 * list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                         CAST(b.embedding AS DOUBLE[]))) AS BIGINT) AS cos_milli
         FROM embeddings a, embeddings b
         WHERE a.vec_id < b.vec_id
           AND CAST(floor(1000 * list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                        CAST(b.embedding AS DOUBLE[]))) AS BIGINT) >= 400""")),

    // SemDeDup: cluster-scoped semantic near-dup pairs. The shipped
    // query scopes by the corpus's own label column (any cluster
    // assignment slots in — k-means via withKmeansCluster is spec-pinned)
    // so DuckDB replays the whole operator exactly
    Query("dedup_semantic", (s, d) =>
      Similarity.semanticDupPairs(s.read.parquet(s"$d/embeddings.parquet"),
        "vec_id", "embedding", "label", minCosineMilli = 400),
      // replays semanticDupPairs with label clusters: same-label pairs,
      // identical double cosine, same per-mille floor
      Some("""SELECT a.vec_id AS a, b.vec_id AS b,
                CAST(floor(1000 * list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                         CAST(b.embedding AS DOUBLE[]))) AS BIGINT) AS cos_milli
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE CAST(floor(1000 * list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                        CAST(b.embedding AS DOUBLE[]))) AS BIGINT) >= 400""")),

    // IVF ANN machinery oracle: exhaustive probing (nProbe = nClusters)
    // makes the quantize→probe→re-rank pipeline provably equal exact
    // top-k, so the DuckDB oracle pins ids AND ranks; approximation
    // quality at nProbe < nClusters is pinned by the recall spec and the
    // `embed_ann_ivf_probe` containment query below
    Query("embed_ann_ivf", (s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 3,
        nClusters = 16, nProbe = 16, iters = 2)
        .withColumn("rank", col("rank").cast("long"))
    },
      // exhaustive-probe IVF ≡ exact top-k (see the query comment)
      Some(exactTop3Oracle)),

    // the SHIPPED IVF configuration (nProbe=4 of 16 clusters — each query
    // scans ~1/4 of the corpus): property oracle like embed_ann_lsh —
    // exactly k results per query, every one inside the Spark-exact
    // top-20 (itself the oracled brute-force machinery); measured
    // headroom on both fixture SFs: all results sit in the exact top-20
    // at nProbe=4 (and in the top-10 at nProbe=6)
    Query("embed_ann_ivf_probe", (s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val embD = emb.withColumn("embedding", col("embedding").cast("array<double>"))
      val q = emb.filter(col("vec_id") < 20)
      val ann = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 3,
        nClusters = 16, nProbe = 4, iters = 2)
      val exact20 = Similarity.bruteForceTopK(
          embD.filter(col("vec_id") < 20), embD, "vec_id", "embedding", 20)
        .select(col("query_id"), col("neighbor_id")).withColumn("__in", lit(1L))
      ann.join(exact20, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_results"),
          sum(coalesce(col("__in"), lit(0L))).as("n_in_exact_top20"))
    },
      // IVF nProbe=4 containment property: 3 results per query, all inside
      // the exact top-20 (see the query comment)
      Some("""SELECT vec_id AS query_id, CAST(3 AS BIGINT) AS n_results,
                CAST(3 AS BIGINT) AS n_in_exact_top20
         FROM embeddings WHERE vec_id < 20""")),

    // LSH-bucketed ANN property oracle: every returned neighbor must be
    // a member of the Spark-exact top-10 (itself oracled via embed_topk),
    // and exactly k results per query — collapses to a constant table
    // the DuckDB side states independently
    Query("embed_ann_lsh", (s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val q = emb.filter(col("vec_id") < 20)
      val ann = Similarity.lshTopK(q, emb, "vec_id", "embedding", 3, dim = 64)
      val exact10 = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id")).withColumn("__in", lit(1L))
      ann.join(exact10, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_results"),
          sum(coalesce(col("__in"), lit(0L))).as("n_in_exact_top10"))
    },
      // ANN containment property: 3 results per query, all inside the
      // exact top-10 (measured headroom on the fixture: max exact rank 4)
      Some("""SELECT vec_id AS query_id, CAST(3 AS BIGINT) AS n_results,
                CAST(3 AS BIGINT) AS n_in_exact_top10
         FROM embeddings WHERE vec_id < 20""")))
}
