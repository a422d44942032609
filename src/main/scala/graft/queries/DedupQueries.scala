package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextDedup

/** Text dedup queries: exact, span, paragraph, boilerplate, MinHash-LSH,
  * cluster, n-gram Jaccard and SimHash dedup over `documents`. */
object DedupQueries {

  def all: Seq[Query] = Seq(
    // exact dedup (hash-groupBy) over planted exact copies
    Query("dedup_exact_text", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val planted = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      TextDedup.exact(planted, "text", "doc_id").select(col("doc_id"), col("n_copies"))
    },
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         FROM (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 1000000, text FROM documents) p
         GROUP BY text""")),

    // exact repeated-span removal (fixed-k reading of Lee et al. 2022
    // suffix dedup): any 8-token window occurring twice corpus-wide is
    // cut from every doc; the oracle replays grams, coverage and the
    // rebuilt text md5
    Query("dedup_repeated_spans", (s, d) =>
      TextDedup.dedupRepeatedSpans(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", k = 8),
      // replays repeated-span removal end to end: same tokenization, same
      // 8-gram windows WITH positions, repeated grams (count > 1), token
      // coverage, and the kept-token rebuild hashed with md5
      Some("""WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                              w -> len(w) > 0) AS t
           FROM documents),
         g AS (
           SELECT doc_id, u.i - 1 AS pos, array_to_string(t[u.i:u.i+7], ' ') AS gram
           FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
           WHERE len(t) >= 8),
         rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
         removed AS (
           SELECT DISTINCT doc_id, pos + dd.d AS j
           FROM (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM rep)) s,
                unnest(generate_series(0, 7)) AS dd(d)),
         agg AS (
           SELECT doc_id, CAST(count(*) AS INT) AS n_removed, list(j) AS rm
           FROM removed GROUP BY doc_id)
         SELECT toks.doc_id, CAST(len(t) AS INT) AS n_tokens,
           coalesce(agg.n_removed, 0) AS n_removed,
           md5(coalesce(array_to_string(
             [t[x + 1] FOR x IN generate_series(0, len(t) - 1)
              IF NOT list_contains(coalesce(rm, []), x)], ' '), '')) AS clean_md5
         FROM toks LEFT JOIN agg USING (doc_id)""")),

    // paragraph-level exact dedup (CCNet line-dedup rule): the fixture
    // has no newlines, so the query first builds multi-paragraph docs
    // (5 consecutive texts joined by \n) and plants doc 0's text as a
    // boilerplate paragraph in EVERY doc — its global first occurrence
    // (doc 0, pos 0) survives, all others are cut, the within-group-0
    // planted copy included
    Query("dedup_paragraphs", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val bp = docs.filter(col("doc_id") === 0).select(col("text").as("__bp"))
      val grouped = docs
        .groupBy(floor(col("doc_id") / 5).cast("long").as("gid"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id").as("i"), col("text").as("t")))),
          x => x.getField("t")), "\n").as("text"))
      val withBp = grouped.crossJoin(broadcast(bp))
        .select(col("gid").as("doc_id"),
          concat(col("text"), lit("\n"), col("__bp")).as("text"))
      TextDedup.dedupParagraphs(withBp, "text", "doc_id")
    },
      // replays paragraph dedup end to end: same grouped+planted docs,
      // same normalized key, global first occurrence by (doc_id, pos)
      // via row_number, and the kept-segment rebuild hashed with md5
      Some("""WITH bp AS (SELECT text AS b FROM documents WHERE doc_id = 0),
         g AS (
           SELECT CAST(floor(doc_id / 5) AS BIGINT) AS doc_id,
                  string_agg(text, chr(10) ORDER BY doc_id)
                    || chr(10) || (SELECT b FROM bp) AS text
           FROM documents GROUP BY 1),
         p AS (
           SELECT doc_id, u.i - 1 AS pos,
                  lower(trim(regexp_replace(l[u.i], '\s+', ' ', 'g'))) AS key
           FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM g) t,
                unnest(generate_series(1, len(l))) AS u(i)),
         rm AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
                    row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
             FROM p WHERE len(key) > 0)
           WHERE rn > 1),
         agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_removed, list(pos) AS rmp
                 FROM rm GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(len(list_filter(l,
             x -> len(lower(trim(regexp_replace(x, '\s+', ' ', 'g')))) > 0)) AS INT) AS n_paras,
           coalesce(agg.n_removed, 0) AS n_removed,
           md5(coalesce(array_to_string(
             [l[i + 1] FOR i IN generate_series(0, len(l) - 1)
              IF NOT list_contains(coalesce(rmp, []), i)], chr(10)), '')) AS clean_md5
         FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM g) t
         LEFT JOIN agg USING (doc_id)""")),

    // per-host boilerplate removal (site-scoped line rule): injected nav/
    // footer lines are hot on every >=3-doc source and cut everywhere; a
    // sparse promo line (doc_id % 97) stays under the per-source df gate
    // and survives — both sides of the gate exercised
    Query("host_boilerplate", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("source"),
          concat(lit("Nav Menu "), col("source"), lit("\n"), col("text"),
            when(col("doc_id") % 97 === 0, lit("\nPromo Banner")).otherwise(lit("")),
            lit("\nCopyright "), col("source")).as("text"))
      TextDedup.hostBoilerplate(docs, "source", "text", "doc_id", minDf = 3)
    },
      // replays hostBoilerplate over the injected-line corpus: per-source
      // distinct-doc df, >= 3 gate, cut everywhere, same rebuild digest
      Some("""WITH g AS (
           SELECT doc_id, source,
                  'Nav Menu ' || source || chr(10) || text ||
                  CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'Promo Banner' ELSE '' END ||
                  chr(10) || 'Copyright ' || source AS text
           FROM documents),
         p AS (
           SELECT source, doc_id, u.i - 1 AS pos,
                  lower(trim(regexp_replace(l[u.i], '\s+', ' ', 'g'))) AS key
           FROM (SELECT source, doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM g) t,
                unnest(generate_series(1, len(l))) AS u(i)),
         hot AS (
           SELECT source, key FROM (
             SELECT source, key, count(DISTINCT doc_id) AS df
             FROM p WHERE len(key) > 0 GROUP BY source, key)
           WHERE df >= 3),
         rm AS (SELECT doc_id, pos FROM p JOIN hot USING (source, key)),
         agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_removed, list(pos) AS rmp
                 FROM rm GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(len(list_filter(l,
             x -> len(lower(trim(regexp_replace(x, '\s+', ' ', 'g')))) > 0)) AS INT) AS n_paras,
           coalesce(agg.n_removed, 0) AS n_removed,
           md5(coalesce(array_to_string(
             [l[i + 1] FOR i IN generate_series(0, len(l) - 1)
              IF NOT list_contains(coalesce(rmp, []), i)], chr(10)), '')) AS clean_md5
         FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM g) t
         LEFT JOIN agg USING (doc_id)""")),

    // MinHash+LSH near-dup detection, verified — equals exact Jaccard ≥ 0.8
    Query("dedup_minhash_lsh", (s, d) =>
      TextDedup.minhashLshDuplicates(
        s.read.parquet(s"$d/documents.parquet"), "text", "doc_id"),
      Some(jaccardOracle(800))),

    // duplicate-cluster collapse: connected components over the near-dup
    // pair set (distributed min-label propagation); the oracle computes
    // the min reachable id per node with a recursive closure over the
    // exact pair set — proving both the pairs and the clustering
    Query("dedup_clusters", (s, d) =>
      clusters(s.read.parquet(s"$d/documents.parquet")),
      Some(clustersOracle(800))),

    // the step the pipeline actually ships: drop every non-representative
    // cluster member (comp != id), keep everything else — an anti-join of
    // the corpus against the (small) duplicate-member set
    Query("dedup_survivors", (s, d) =>
      survivors(s.read.parquet(s"$d/documents.parquet"))
        .select(col("doc_id"), col("lang"), col("source")),
      Some(survivorsOracle(800))),

    // exact n-gram Jaccard pairs (threshold 500‰). maxDf=32 caps the
    // candidate self-join's hot-shingle fan-out; the reported Jaccard is
    // still exact over ALL shingles, and the DuckDB oracle (uncapped
    // exact) proves the cap loses nothing on this corpus. Shingles ride
    // as 8-byte xxhash64 keys (r6, the same swap the MinHash path made):
    // every consumer — df cap, self-join, sizes, set verify — uses them
    // through equality only, so no phrase string is ever built and the
    // hot self-join shuffles 8 bytes per shingle instead of ~25 (values
    // identical up to 2^-64 collisions; the uncapped-exact string oracle
    // pins the output either way)
    Query("dedup_ngram_jaccard", (s, d) =>
      TextDedup.jaccardPairs(
        TextDedup.shingleHashes(s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", 3),
        500, maxDf = 32),
      Some(jaccardOracle(500)),
      // the df-cap's blind spot: documents whose shingles are ALL hotter
      // than maxDf can never form a candidate pair, so a non-zero count on
      // a corpus means the cap is silently eating recall there and maxDf
      // should rise (VERDICT r3 #3)
      probe = Some((s, d) => {
        val sh = TextDedup.shingleHashes(
          s.read.parquet(s"$d/documents.parquet"), "text", "doc_id", 3)
        Map("hot_only_doc_count_maxdf32" -> TextDedup.hotOnlyDocCount(sh, 32))
      })),

    // SimHash near-dup via the Manku block-combination trick (6 blocks →
    // C(6,3)=20 combos of ~32-bit keys: O(1) expected bucket size at
    // 10^9+ docs, vs the quadratic 16-bit single-block keys); the oracle
    // recomputes the md5-nibble simhash in SQL and takes the EXACT
    // all-pairs Hamming set — i.e. it proves the pigeonhole join finds
    // every pair
    Query("dedup_simhash", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val planted = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      TextDedup.simhashDuplicates(planted, "text", "doc_id", maxDist = 3, nBlocks = 6)
    },
      Some(simhashOracle)))

  /** Duplicate clusters (id, comp) of `docs`: MinHash-LSH near-dup pairs,
    * then connected components. */
  private[queries] def clusters(docs: DataFrame, assumeUnique: Boolean = false): DataFrame =
    TextDedup.duplicateClusters(
      TextDedup.minhashLshDuplicates(docs, "text", "doc_id", assumeUnique = assumeUnique)
        .select(col("a"), col("b")))

  /** `docs` minus every non-representative cluster member (comp != id). */
  private[queries] def survivors(docs: DataFrame, assumeUnique: Boolean = false): DataFrame =
    docs.join(clusters(docs, assumeUnique).filter(col("comp") =!= col("id"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")

  /** Exact all-pairs Hamming-≤3 oracle over the md5-nibble simhash (what
    * the block-trick bucket join must equal). Bit b of a word = bit
    * (b mod 4) of hex nibble (b div 4) of md5(word); per-bit ±1 sums over
    * words; doc bit = (sum > 0); dist = Σ bit differences. */
  private def simhashOracle: String = {
    val bitSums = (0 until 64).map(b =>
      s"sum(CASE WHEN (nib[${b / 4 + 1}] >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val bits = (0 until 64).map(b => s"(b$b > 0) AS t$b").mkString(", ")
    val dist = (0 until 64).map(b => s"CASE WHEN x.t$b <> y.t$b THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH planted AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 1000000, text FROM documents),
        words AS (
          SELECT id, w FROM (
            SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM planted) t
          WHERE length(w) > 0),
        nibs AS (
          SELECT id, [instr('0123456789abcdef', substring(md5(w), i + 1, 1)) - 1
                      FOR i IN generate_series(0, 15)] AS nib
          FROM words),
        sums AS (SELECT id, $bitSums FROM nibs GROUP BY id),
        sig AS (SELECT id, $bits FROM sums)
        SELECT a, b, dist FROM (
          SELECT x.id AS a, y.id AS b, CAST($dist AS INT) AS dist
          FROM sig x JOIN sig y ON x.id < y.id) p
        WHERE dist <= 3"""
  }

  /** Shared CTE block computing the exact shingle-Jaccard pair set over
    * `src` (a table or prior CTE with doc_id, text). */
  private[queries] def jaccardCtes(minMilli: Int, src: String = "documents"): String =
    s"""sh AS (
          SELECT DISTINCT doc_id,
                 unnest([array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]) AS shingle
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM $src) ws
          WHERE len(w) >= 3),
        sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
                  FROM sh x JOIN sh y USING (shingle)
                  WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
        jpairs AS (
          SELECT a, b, CAST(floor(1000.0 * i / (sa.sz + sb.sz - i)) AS BIGINT) AS jaccard_milli
          FROM inter JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
          WHERE CAST(floor(1000.0 * i / (sa.sz + sb.sz - i)) AS BIGINT) >= $minMilli)"""

  /** Exact shingle-Jaccard pair oracle (what LSH+verify must equal). */
  private def jaccardOracle(minMilli: Int): String =
    s"WITH ${jaccardCtes(minMilli)} SELECT a, b, jaccard_milli FROM jpairs"

  /** The exact near-dup pair set's undirected `edges` and the recursive
    * `reach(id, comp)` closure over them. */
  private def reachCtes(minMilli: Int): String =
    s"""${jaccardCtes(minMilli)},
        edges AS (SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs),
        reach(id, comp) AS (
          SELECT a AS id, a AS comp FROM edges
          UNION
          SELECT e.a AS id, r.comp FROM edges e JOIN reach r ON r.id = e.b)"""

  /** Connected components over the exact near-dup pair set: min reachable
    * id per node via a recursive closure (what the distributed min-label
    * propagation must equal). */
  private def clustersOracle(minMilli: Int): String =
    s"""WITH RECURSIVE ${reachCtes(minMilli)}
        SELECT id, min(comp) AS comp FROM reach GROUP BY id"""

  /** Cluster-collapse survivors: the corpus minus non-representative
    * duplicate-cluster members. */
  private def survivorsOracle(minMilli: Int): String =
    s"""WITH RECURSIVE ${reachCtes(minMilli)},
        comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id NOT IN (SELECT id FROM comps WHERE comp <> id)"""
}
