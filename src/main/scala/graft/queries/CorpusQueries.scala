package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextStats
import graft.operators.{Corpus, Multimodal, TextDedup}
import DedupQueries.{jaccardCtes, survivors}

/** Text quality and corpus-building queries: token/language/quality
  * signals, cleaning gates, LM scoring, sampling, packing, mixing and
  * decontamination over the `documents` fixture. */
object CorpusQueries {

  def all: Seq[Query] = Seq(
    // token counting: whitespace + BPE-ish regex classes
    Query("text_token_counts", (s, d) =>
      s.read.parquet(s"$d/documents.parquet").select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.bpeishTokenCount(col("text")).cast("long").as("n_bpeish")),
      Some(s"""SELECT doc_id,
            CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
            CAST(len(regexp_extract_all(text, '$BpeishRe2')) AS BIGINT) AS n_bpeish
          FROM documents""")),

    // language ID (marker n-gram heuristic)
    Query("text_lang_id", (s, d) =>
      s.read.parquet(s"$d/documents.parquet").select(col("doc_id"),
        TextStats.langId(col("text")).as("lang_pred")),
      Some(langPredSql("documents"))),

    // quality scoring signals + keep gate (integer per-mille signals)
    Query("text_quality", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val sig = TextStats.qualitySignals(col("text"))
      docs.select((col("doc_id") +: sig.map { case (n, c) => c.cast("long").as(n) }) :+
        TextStats.qualityKeep(col("text")).as("keep"): _*)
    },
      Some(qualitySql("documents"))),

    // C4 line+page cleaning (Raffel et al. 2020 §2.2) over a
    // deterministically line-structured view of the single-line fixture
    // docs (the replace transform is replayed verbatim in the oracle)
    Query("text_c4_clean", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val nl = replace(replace(coalesce(col("text"), lit("")),
        lit(" value "), lit(".\n")), lit(" table "), lit("!\n"))
      docs.withColumn("__t", nl)
        .filter(TextStats.c4PageKeep(col("__t")))
        .select(col("doc_id"), TextStats.c4CleanText(col("__t")).as("text_c4"))
    },
      // replays c4CleanText + c4PageKeep over the same line-structuring
      // replace transform the Spark query applies
      Some("""WITH nl AS (
           SELECT doc_id,
                  replace(replace(coalesce(text, ''), ' value ', '.' || chr(10)),
                          ' table ', '!' || chr(10)) AS t
           FROM documents),
         c AS (
           SELECT doc_id, t,
             array_to_string(list_filter(string_split(t, chr(10)),
               l -> regexp_matches(trim(l), '[.!?"]$')
                 AND len(list_filter(string_split_regex(trim(l), '\s+'),
                         w -> len(w) > 0)) >= 3
                 AND NOT contains(lower(trim(l)), 'javascript')),
               chr(10)) AS text_c4
           FROM nl)
         SELECT doc_id, text_c4
         FROM c
         WHERE len(regexp_extract_all(text_c4, '[.!?]')) >= 5
           AND NOT contains(lower(t), 'lorem ipsum')
           AND NOT contains(lower(t), '{')""")),

    // Gopher quality gate (Rae et al. 2021 A1.1); the stop-word clause
    // runs with the fixture-vocab set {the, a} so the gate bites — the
    // paper's 8-word set is the operator default (spec-pinned)
    Query("text_gopher_quality", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val stops = Seq("the", "a")
      val sig = TextStats.gopherSignals(col("text"), stops)
      docs.select((col("doc_id") +: sig.map { case (n, c) => c.cast("long").as(n) }) :+
        TextStats.gopherKeep(col("text"), stops).as("keep"): _*)
    },
      // replays gopherSignals/gopherKeep with the {the, a} stop set
      Some("""WITH w AS (
           SELECT doc_id, coalesce(text, '') AS t,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                         x -> len(x) > 0) AS words,
             list_filter(string_split(coalesce(text, ''), chr(10)),
                         l -> len(trim(l)) > 0) AS lines
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CASE WHEN len(words) > 0 THEN
               CAST(1000 * CAST(list_sum(list_transform(words, x -> len(x))) AS BIGINT)
                    // len(words) AS BIGINT) ELSE 0 END AS mean_word_len_milli,
             CASE WHEN len(words) > 0 THEN
               CAST(1000 * len(regexp_extract_all(t, '#')) // len(words) AS BIGINT)
               ELSE 0 END AS hash_per_mille,
             CASE WHEN len(words) > 0 THEN
               CAST(1000 * len(regexp_extract_all(t, '\.\.\.|…')) // len(words) AS BIGINT)
               ELSE 0 END AS ellipsis_per_mille,
             CASE WHEN len(lines) > 0 THEN
               CAST(1000 * len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
                    // len(lines) AS BIGINT) ELSE 0 END AS bullet_line_per_mille,
             CASE WHEN len(lines) > 0 THEN
               CAST(1000 * len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$')))
                    // len(lines) AS BIGINT) ELSE 0 END AS ellipsis_line_per_mille,
             CASE WHEN len(words) > 0 THEN
               CAST(1000 * len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                    // len(words) AS BIGINT) ELSE 0 END AS alpha_word_per_mille,
             CAST(CAST(regexp_matches(t, '(?i)\bthe\b') AS INT)
                + CAST(regexp_matches(t, '(?i)\ba\b') AS INT) AS BIGINT) AS stop_hits
           FROM w)
         SELECT *,
           (n_words BETWEEN 50 AND 100000)
           AND (mean_word_len_milli BETWEEN 3000 AND 10000)
           AND hash_per_mille <= 100 AND ellipsis_per_mille <= 100
           AND bullet_line_per_mille <= 900 AND ellipsis_line_per_mille <= 300
           AND alpha_word_per_mille >= 800 AND stop_hits >= 2 AS keep
         FROM s""")),

    // repetition signals (the Gopher/RefinedWeb boilerplate filters) over
    // docs with deterministically planted boilerplate lines — explode →
    // (doc, token) partial agg → per-doc max, never an O(len²) scalar
    Query("text_repetition", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val seeded = docs.withColumn("t2", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter\nsubscribe to our newsletter"))
          .otherwise(lit(""))))
      TextStats.repetition(seeded, "t2", "doc_id")
    },
      // replays TextStats.repetition: duplicate-line / dup-line-chars /
      // top-word / top-bigram fractions, integer per-mille
      Some("""WITH seeded AS (
           SELECT doc_id, concat(text, CASE WHEN doc_id % 3 = 0
             THEN chr(10) || 'subscribe to our newsletter' || chr(10) || 'subscribe to our newsletter'
             ELSE '' END) AS t2 FROM documents),
         lines AS (SELECT doc_id, trim(l) AS line FROM
                     (SELECT doc_id, unnest(string_split(t2, chr(10))) AS l FROM seeded) t
                   WHERE length(trim(l)) > 0),
         lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2),
         la AS (SELECT doc_id, count(*) AS uniq, sum(c) AS n_lines,
                       sum(c * length(line)) AS line_chars,
                       sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_chars
                FROM lc GROUP BY 1),
         words AS (SELECT doc_id, w FROM
                     (SELECT doc_id, unnest(string_split_regex(trim(t2), '\s+')) AS w FROM seeded) t
                   WHERE length(w) > 0),
         wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
         wa AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_w FROM wc GROUP BY 1),
         bgs AS (SELECT doc_id,
                   unnest([array_to_string(w[i:i+1], ' ') FOR i IN generate_series(1, len(w)-1)]) AS bg
                 FROM (SELECT doc_id, string_split_regex(trim(t2), '\s+') AS w FROM seeded) ws
                 WHERE len(w) >= 2),
         bc AS (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2),
         ba AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS top_bg FROM bc GROUP BY 1)
         SELECT d.doc_id,
           CASE WHEN COALESCE(n_lines, 0) > 0
                THEN CAST(floor(1000.0 * (n_lines - uniq) / n_lines) AS BIGINT) ELSE 0 END AS dup_line_frac_milli,
           CASE WHEN COALESCE(line_chars, 0) > 0
                THEN CAST(floor(1000.0 * dup_chars / line_chars) AS BIGINT) ELSE 0 END AS dup_line_char_frac_milli,
           CASE WHEN COALESCE(n_words, 0) > 0
                THEN CAST(floor(1000.0 * top_w / n_words) AS BIGINT) ELSE 0 END AS top_word_frac_milli,
           CASE WHEN COALESCE(n_bg, 0) > 0
                THEN CAST(floor(1000.0 * top_bg / n_bg) AS BIGINT) ELSE 0 END AS top_bigram_frac_milli
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN la USING (doc_id) LEFT JOIN wa USING (doc_id) LEFT JOIN ba USING (doc_id)""")),

    // PII detection + redaction over deterministically planted contacts;
    // the redacted text is compared via md5 (cheap exact cross-engine)
    Query("text_pii", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val seeded = docs.withColumn("t2", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com via 10.1."),
            (col("doc_id") % 256).cast("string"), lit(".7")))
          .otherwise(lit(""))))
      seeded.select(col("doc_id"),
        TextStats.piiEmailCount(col("t2")).cast("long").as("n_emails"),
        TextStats.piiIpv4Count(col("t2")).cast("long").as("n_ipv4"),
        md5(TextStats.piiRedact(col("t2"))).as("redacted_md5"))
    },
      // identical regexes (the java.regex ∩ RE2 agreement subset); DuckDB
      // regexp_replace needs the 'g' flag to match Spark's replace-all
      Some(s"""WITH seeded AS (
            SELECT doc_id, concat(text, CASE WHEN doc_id % 3 = 0
              THEN concat(' contact user', CAST(doc_id AS VARCHAR),
                          '@example.com via 10.1.', CAST(doc_id % 256 AS VARCHAR), '.7')
              ELSE '' END) AS t2 FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(t2, '$EmailRe')) AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(t2, '$Ipv4Re')) AS BIGINT) AS n_ipv4,
            md5(regexp_replace(regexp_replace(t2, '$EmailRe', '<EMAIL>', 'g'),
                               '$Ipv4Re', '<IP>', 'g')) AS redacted_md5
          FROM seeded""")),

    // the end-to-end cleaning pipeline a training-data job ships, in the
    // canonical order: exact-dedup collapse (planted byte-copies) →
    // near-dup cluster collapse (MinHash-LSH + connected components) →
    // quality + language gates. Every stage is individually oracled
    // above; this query proves the COMPOSITION cross-engine
    Query("corpus_clean", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val planted = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      // exact-collapse boundary, projected to the two columns every later
      // stage consumes and MATERIALIZED once (r6): the boundary feeds two
      // independent consumers — the near-dup pair plan and the survivors
      // anti-join — whose plans share no exchange, so lazily it was
      // evaluated twice per run (r5's "not materialized" note predates
      // that second consumer costing more than the checkpoint; the
      // explicit select replaces the column pruning the checkpoint blocks)
      val uniq = planted.select(col("doc_id"), col("text"))
        .join(
          TextDedup.exact(planted, "text", "doc_id").select("doc_id"),
          Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      // uniq is exact-collapsed above, so the LSH pass skips its own
      // identity collapse/re-expansion (assumeUnique, r6)
      survivors(uniq, assumeUnique = true)
        .filter(TextStats.qualityKeep(col("text")) && TextStats.langId(col("text")) =!= "und")
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
    },
      // the composed cleaning pipeline: planted exact copies collapse to
      // min-id reps, the recursive closure over the exact Jaccard-≥0.8
      // pair set drops non-representative near-dup members, then the
      // quality + language gates (each individually oracled) filter
      Some(s"""WITH RECURSIVE planted AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000, text FROM documents),
          exact AS (SELECT min(doc_id) AS doc_id FROM planted GROUP BY text),
          uniq AS (SELECT doc_id, text FROM planted
                   WHERE doc_id IN (SELECT doc_id FROM exact)),
          ${jaccardCtes(800, "uniq")},
          edges AS (SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs),
          reach(id, comp) AS (
            SELECT a AS id, a AS comp FROM edges
            UNION
            SELECT e.a AS id, r.comp FROM edges e JOIN reach r ON r.id = e.b),
          comps AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
          survivors AS (SELECT doc_id, text FROM uniq
                        WHERE doc_id NOT IN (SELECT id FROM comps WHERE comp <> id)),
          q AS (${qualitySql("survivors")}),
          l AS (${langPredSql("survivors")})
          SELECT s.doc_id, l.lang_pred, q.n_tokens
          FROM survivors s JOIN q USING (doc_id) JOIN l USING (doc_id)
          WHERE q.keep AND l.lang_pred <> 'und'""")),

    // CCNet-style LM scoring (log-free exact-integer deviation): unigram
    // model trained on the EVEN-doc_id half so the odd half exercises the
    // OOV ceiling cross-engine; keep gate at 60k milli splits the
    // synthetic corpus (scores ~29k-110k at sf0.01)
    Query("lm_score", (s, d) => {
      lmScored(s.read.parquet(s"$d/documents.parquet"))
    },
      // replays Corpus.unigramModel (even half) + lmScore: inverse relative
      // frequency per token, OOV ceiling, floor-mean per doc
      Some(s"""WITH $surprisalCtes,
         agg AS (SELECT doc_id, count(*) AS n_tokens,
                        CAST(sum(surp) // count(*) AS BIGINT) AS surprisal_milli
                 FROM surp GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.surprisal_milli, 0) AS surprisal_milli,
                coalesce(a.surprisal_milli, 0) <= 60000 AS keep
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN agg a USING (doc_id)""")),

    // CCNet head/middle/tail: per-source quality terciles over the LM
    // surprisal score — exact positions via the mixSources dense-seq
    // two-pass pattern, never an ntile window task per source
    Query("quality_buckets", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val scored = lmScored(docs)
        .select(col("doc_id"), col("surprisal_milli"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      Corpus.scoreBuckets(scored, "source", "doc_id", "surprisal_milli", 3)
    },
      // replays the lm_score surprisal CTE, then the per-source tercile
      // assignment as a row_number window (the single-node mirror of the
      // distributed per-source prefix positions)
      Some(s"""WITH $surprisalCtes,
         agg AS (SELECT doc_id, CAST(sum(surp) // count(*) AS BIGINT) AS surprisal_milli
                 FROM surp GROUP BY doc_id),
         sc AS (SELECT d.doc_id, d.source,
                       coalesce(a.surprisal_milli, 0) AS surprisal_milli
                FROM documents d LEFT JOIN agg a USING (doc_id)),
         r AS (SELECT doc_id, source, surprisal_milli,
                      row_number() OVER (PARTITION BY source
                        ORDER BY surprisal_milli, doc_id) - 1 AS pos,
                      count(*) OVER (PARTITION BY source) AS n
               FROM sc)
         SELECT doc_id, source, surprisal_milli,
                CAST(pos * 3 // n AS BIGINT) AS bucket
         FROM r""")),

    // per-source corpus audit (dolma-style source-mix report): doc /
    // token / quality-keep counts, language spread, deterministic top
    // language per source
    Query("source_profile", (s, d) =>
      Corpus.sourceProfile(s.read.parquet(s"$d/documents.parquet"),
        "source", "text", "lang"),
      // replays Corpus.sourceProfile: token counts + quality keep per doc,
      // then per-source rollup and row_number top-1 language
      Some(s"""WITH t AS (
            SELECT source, coalesce(lang, 'und') AS lang,
                   ${tokenCountSql("text")} AS n_toks,
                   length(text) AS chars,
                   len(regexp_extract_all(text, '[A-Z]')) AS upper
            FROM documents),
          k AS (
            SELECT source, lang, n_toks,
                   (n_toks >= 10 AND n_toks <= 100000
                    AND (CASE WHEN chars > 0
                         THEN CAST(floor(1000.0 * upper / chars) AS BIGINT)
                         ELSE 0 END) < 500
                    AND (CASE WHEN n_toks > 0
                         THEN CAST(floor(1000.0 * (chars - (n_toks - 1)) / n_toks) AS BIGINT)
                         ELSE 0 END) BETWEEN 1500 AND 20000) AS keep
            FROM t),
          per_source AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                   count(DISTINCT lang) AS n_langs
            FROM k GROUP BY source),
          top AS (SELECT source, lang AS top_lang FROM (
                    SELECT source, lang,
                           row_number() OVER (PARTITION BY source
                             ORDER BY count(*) DESC, lang ASC) AS rk
                    FROM k GROUP BY source, lang) r WHERE rk = 1)
          SELECT p.source, p.n_docs, p.n_tokens, p.n_keep, p.n_langs,
                 t.top_lang, CAST(p.n_tokens // p.n_docs AS BIGINT) AS mean_tokens
          FROM per_source p JOIN top t USING (source)""")),

    // deterministic stratified sampling: k docs per language by keyed
    // md5 order (WindowGroupLimit partial top-k per mapper — a giant
    // stratum never materializes more than k rows per task)
    Query("sample_stratified", (s, d) =>
      Corpus.sampleStratified(
          s.read.parquet(s"$d/documents.parquet"), "lang", "doc_id", 20)
        .select(col("doc_id"), col("lang"), col("sample_rank")),
      // keyed-md5 stratified sample: identical hash, identical order
      Some("""SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':', lang)), doc_id) AS rn
           FROM documents) t
         WHERE rn <= 20""")),

    // token-budget shard packing: distributed prefix sum (dense-seq
    // pattern — per-partition sums + scanLeft offsets, never a
    // single-partition global window)
    Query("shard_pack", (s, d) =>
      Corpus.packShards(
        s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"), TextStats.tokenCount(col("text")).as("nt")),
        "doc_id", "nt", budget = 2000L),
      // shard = exclusive-prefix-sum(tokens) // budget in doc_id order;
      // the window cumsum the engine deliberately avoids at scale is
      // exactly right for the single-node oracle
      Some(s"""SELECT doc_id, n_tokens,
            CAST(COALESCE(cum, 0) // 2000 AS BIGINT) AS shard
          FROM (SELECT doc_id, n_tokens,
                  sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
                FROM (SELECT doc_id, ${tokenCountSql("text")} AS n_tokens
                      FROM documents) t) w""")),

    // fixed-window chunking with overlap (LM pretraining windows):
    // 32-token chunks every 24 tokens; the oracle replays tokenization,
    // start positions and the per-window md5
    Query("corpus_chunk", (s, d) =>
      Corpus.chunkDocs(s.read.parquet(s"$d/documents.parquet"),
        "text", "doc_id", chunkSize = 32, stride = 24),
      // replays chunking end to end: same tokenization, start positions
      // 0, 24, 48, ... below the token count, windows of 32 clamped at
      // the doc end, md5 of the space-rejoined window
      Some("""WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                              w -> len(w) > 0) AS t
           FROM documents)
         SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
           CAST(len(t[u.i * 24 + 1 : u.i * 24 + 32]) AS INT) AS n_tokens,
           md5(array_to_string(t[u.i * 24 + 1 : u.i * 24 + 32], ' ')) AS chunk_md5
         FROM toks, unnest(generate_series(0, (len(t) - 1) // 24)) AS u(i)
         WHERE len(t) > 0""")),

    // GPT-style concat-and-chunk sequence packing: docs in id order get
    // global token offsets (the packShards prefix-sum bridge, never a
    // global window), then each doc splits across the fixed-length
    // training sequences it overlaps
    Query("pack_sequences", (s, d) =>
      Corpus.packSequences(s.read.parquet(s"$d/documents.parquet"),
        "text", "doc_id", seqLen = 64),
      // concat-and-chunk replay: exclusive window cumsum gives each doc's
      // global token offset; integer-div boundaries generate the per-doc
      // fragment rows (the single-node mirror of the distributed prefix sum)
      Some("""WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                              w -> len(w) > 0) AS t
           FROM documents),
         offs AS (
           SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
                  CAST(COALESCE(SUM(CAST(len(t) AS BIGINT)) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS start
           FROM toks)
         SELECT u.i AS seq_id, doc_id,
                least(n, (u.i + 1) * 64 - start)
                  - greatest(0, u.i * 64 - start) AS n_frag_tokens,
                md5(array_to_string(
                  t[CAST(greatest(0, u.i * 64 - start) + 1 AS INT) :
                    CAST(least(n, (u.i + 1) * 64 - start) AS INT)], ' ')) AS frag_md5
         FROM offs, unnest(generate_series(start // 64, (start + n - 1) // 64)) AS u(i)
         WHERE n > 0""")),

    // source-weighted corpus mixing (the dolma/RedPajama mixing step):
    // per-source token budgets — here a deterministic function of the
    // source id so the rule scales with sf — filled in keyed-md5 order
    // by an exclusive-prefix rule (distributed per-source prefix sums,
    // never a per-source window task)
    Query("corpus_mix", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val budget = lit(200L) *
        (lit(1) + regexp_extract(col("source"), "src(\\d+)", 1).cast("int") % 3)
      Corpus.mixSources(
        docs.select(col("doc_id"), col("source"),
          TextStats.tokenCount(col("text")).as("nt")),
        "source", "doc_id", "nt", budget) // output: (doc_id, source, n_tokens)
    },
      // per-source exclusive-prefix fill in keyed-md5 order; the per-source
      // window cumsum the engine avoids at scale is right for the oracle
      Some(s"""SELECT doc_id, source, n_tokens FROM (
            SELECT doc_id, source, n_tokens,
              sum(n_tokens) OVER (PARTITION BY source
                ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':', source)), doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum,
              200 * (1 + CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 3) AS budget
            FROM (SELECT doc_id, source, ${tokenCountSql("text")} AS n_tokens
                  FROM documents) t) w
          WHERE COALESCE(cum, 0) < budget""")),

    // benchmark decontamination (the GPT-3/Gopher n-gram rule), flag
    // stage: eval set = a prefix snippet of every 41st document, length
    // varied 8..14 words by doc_id so per-doc hit counts differ (a
    // value-discriminating hash check, not a constant column); a doc is
    // contaminated iff it shares an 8-gram with the eval set. Bench
    // grams are distinct+broadcast; the corpus side is one map-side
    // pass — the shipping anti-join is Corpus.decontaminate
    Query("decontaminate", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      Corpus.contaminationHits(docs, evalSnippets(docs), "text", "doc_id", n = 8)
    },
      // replays the n-gram decontamination rule: same tokenization
      // (whitespace split of trimmed text), same varied-length bench
      // snippets, same 8-gram windows; n_hits counts matching POSITIONS
      Some(s"""WITH $gramCtes
         SELECT doc_id, count(*) AS n_hits
         FROM dgrams WHERE gram IN (SELECT gram FROM bgrams)
         GROUP BY doc_id""")),

    // decontamination SHIPPING stage: the corpus minus every flagged doc
    // (the anti-join end of the pipeline — hint-free, AQE-sized; the flag
    // stage above proves the gram matching, this proves the ship)
    Query("decontaminate_ship", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      Corpus.decontaminate(docs, evalSnippets(docs), "text", "doc_id", n = 8)
        .select(col("doc_id"), col("lang"), col("source"))
    },
      // shipping stage: documents minus the flagged set (same gram CTEs)
      Some(s"""WITH $gramCtes,
         flagged AS (
           SELECT DISTINCT doc_id FROM dgrams
           WHERE gram IN (SELECT gram FROM bgrams))
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM flagged)""")),

    // NFC normalization (native codegen Expression, ASCII zero-copy fast
    // path). The synthetic corpus is pure ASCII, so a DECOMPOSED suffix
    // (e+U+0301, A+U+030A) is appended per row — the md5 matches DuckDB's
    // nfc_normalize only if composition actually ran on every row
    Query("text_normalize", (s, d) =>
      s.read.parquet(s"$d/documents.parquet").select(col("doc_id"),
        md5(graft.functions.TextNormExprs.normalizeNfc(
          concat(coalesce(col("text"), lit("")), lit(" cafe\u0301 A\u030A"))))
          .as("norm_md5")),
      // nfc_normalize replays UAX #15 composition; chr(769)/chr(778) are
      // the decomposed combining acute/ring the Spark side appends
      Some("""SELECT doc_id,
           md5(nfc_normalize(coalesce(text, '') || ' cafe' || chr(769) || ' A' || chr(778))) AS norm_md5
         FROM documents""")),

    // document fingerprinting (rolling hash; oracle replays the
    // polynomial in HUGEINT mod 2^64)
    Query("text_fingerprint", (s, d) =>
      s.read.parquet(s"$d/documents.parquet").select(col("doc_id"),
        TextStats.fingerprintUdf(col("text")).as("fp")),
      // replays TextStats.fingerprint: per word a base-131 polynomial over
      // UTF-16 units (fixture text is BMP-only, so code points coincide),
      // folded FNV-1a-style across words; HUGEINT mod 2^64 emulates Long
      // wraparound, final two's-complement fold back to BIGINT
      Some("""SELECT doc_id,
           CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS fp
         FROM (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(1469598103934665603 AS HUGEINT),
                 [list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     [CAST(unicode(c) AS HUGEINT) FOR c IN regexp_extract_all(w, '.')]),
                    (acc, ch) -> (acc * 131 + ch) % 18446744073709551616)
                  FOR w IN list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)]),
               (acc, wh) -> (xor(CAST(acc AS UBIGINT), CAST(wh AS UBIGINT))::HUGEINT * 1099511628211) % 18446744073709551616) AS h
           FROM documents) t""")),

    // multimodal binary plumbing (decode stubbed, features real byte work);
    // histogram emitted as a csv scalar so the driver's pandas comparator
    // can sort/hash it, and so the DuckDB oracle (which replays the
    // deterministic fake-media LCG) compares exactly
    Query("multimodal_features", (s, _) =>
      Multimodal.extractFeatures(s, Multimodal.mediaTable(s, 200L))
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("mean_byte_milli"),
          concat_ws(",", col("histogram")).as("hist_csv"),
          col("thumb_w"), col("thumb_h")),
      // replays Multimodal.fakeMedia byte-for-byte: the 64-bit LCG runs in
      // HUGEINT mod 2^64; byte i = state>>>56 after i+1 steps; 16-bucket
      // histogram (all buckets, zeros included) as csv; integer divisions
      // mirror the Scala Long arithmetic exactly
      Some("""WITH RECURSIVE docs AS (
           SELECT CAST(range AS BIGINT) AS doc_id,
                  CAST(4 + range % 5 AS INT) AS w,
                  CAST(3 + range % 4 AS INT) AS h
           FROM range(0, 200)
         ), lcg AS (
           SELECT doc_id, w, h, 0 AS i,
                  (CAST(doc_id AS HUGEINT) * 6364136223846793005 + 1442695040888963407) % 18446744073709551616 AS s
           FROM docs
           UNION ALL
           SELECT doc_id, w, h, i + 1,
                  (s * 6364136223846793005 + 1442695040888963407) % 18446744073709551616
           FROM lcg WHERE i + 1 < w * h
         ), bytes AS (
           SELECT doc_id, CAST(s // 72057594037927936 AS BIGINT) AS b FROM lcg
         ), hist AS (
           SELECT d.doc_id, g.range AS bucket, coalesce(c.n, 0) AS n
           FROM docs d CROSS JOIN range(0, 16) g
           LEFT JOIN (SELECT doc_id, b // 16 AS bucket, count(*) AS n FROM bytes GROUP BY 1, 2) c
             ON c.doc_id = d.doc_id AND c.bucket = g.range
         ), agg AS (
           SELECT doc_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY bucket) AS hist_csv
           FROM hist GROUP BY doc_id
         ), stats AS (
           SELECT doc_id, CAST(sum(b) AS BIGINT) AS sm, count(*) AS len FROM bytes GROUP BY doc_id
         )
         SELECT d.doc_id,
                CASE WHEN d.doc_id % 3 = 0 THEN 'png' ELSE 'jpg' END AS format,
                CAST(12 + d.w * d.h AS INT) AS n_bytes,
                CAST(s.sm * 1000 // (s.len * 255) AS BIGINT) AS mean_byte_milli,
                a.hist_csv,
                CAST(greatest(d.w // 2, 1) AS INT) AS thumb_w,
                CAST(greatest(d.h // 2, 1) AS INT) AS thumb_h
         FROM docs d JOIN agg a USING (doc_id) JOIN stats s USING (doc_id)""")),

    // deterministic content-keyed train/val/test split (980/10/10 over
    // 1000 buckets): a pure projection whose verdict survives any
    // re-sharding or append, unlike positional randomSplit
    Query("split_assign", (s, d) =>
      Corpus.hashSplit(s.read.parquet(s"$d/documents.parquet"),
          "doc_id", Seq("train" -> 980, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("bucket"), col("split")),
      // identical md5-keyed bucket arithmetic: 60-bit hex prefix as an
      // integer ('0x' cast ≙ Spark conv(_,16,10)), mod 1000, range CASE
      Some("""SELECT doc_id, bucket,
                CASE WHEN bucket < 980 THEN 'train'
                     WHEN bucket < 990 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15))
                   AS BIGINT) % 1000 AS bucket
               FROM documents) t""")),

    // fasttext-shaped linear quality scorer: corpus-derived fixture
    // model (weight_milli = (len(token)-4)*250 — stopword-ish short
    // tokens weigh negative), mean-pooled integer score, keep >= 0
    Query("quality_linear", (s, d) => {
      val docs = s.read.parquet(s"$d/documents.parquet")
      val model = docs
        .select(explode(Corpus.wordTokens(col("text"))).as("token")).distinct()
        .select(col("token"),
          ((length(col("token")) - 4) * 250).cast("long").as("weight_milli"))
      Corpus.linearScore(docs, model, "text", "doc_id",
        biasMilli = -500L, thresholdMilli = 0L)
    },
      // same tokenization as lm_score; weight/mean-pool arithmetic is all
      // integer (both engines truncate integer division toward zero)
      Some("""WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> len(w) > 0)) AS token
           FROM documents),
         model AS (SELECT token, CAST((len(token) - 4) * 250 AS BIGINT) AS weight_milli
                   FROM (SELECT DISTINCT token FROM tok) v),
         agg AS (SELECT t.doc_id, count(*) AS n_tokens,
                        CAST(-500 + sum(coalesce(m.weight_milli, 0)) // count(*) AS BIGINT)
                          AS score_milli
                 FROM tok t LEFT JOIN model m USING (token)
                 GROUP BY t.doc_id)
         SELECT d.doc_id,
                coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.score_milli, -500) AS score_milli,
                coalesce(a.score_milli, -500) >= 0 AS keep
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN agg a USING (doc_id)""")))

  /** The lm_score model and scores: a unigram model trained on the
    * even-doc_id half (so the odd half exercises the OOV ceiling), then
    * [[Corpus.lmScore]] with the 60k-milli keep gate. */
  private def lmScored(docs: DataFrame): DataFrame = {
    // vocab-sized model table, materialized once: lmScore's scaladoc
    // contract — the model plan is consumed twice (mass scalar + token
    // join) and would re-run the training aggregate per consumer
    val model = Corpus.unigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      .localCheckpoint(true)
    Corpus.lmScore(docs, model, "text", "doc_id", threshold = 60000L)
  }

  /** Oracle CTEs replaying [[lmScored]]'s model (`tok`, `model`, `mass`)
    * and per-token surprisal (`surp`). */
  private val surprisalCtes = """tok AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(trim(text), '\s+'),
                         w -> len(w) > 0)) AS token
           FROM documents),
         model AS (SELECT token, count(*) AS cnt FROM tok
                   WHERE doc_id % 2 = 0 GROUP BY token),
         mass AS (SELECT CAST(1000 * sum(cnt) AS BIGINT) AS m FROM model),
         surp AS (
           SELECT t.doc_id,
                  least(coalesce(CAST((SELECT m FROM mass) // mo.cnt AS BIGINT),
                                 1000000), 1000000) AS surp
           FROM tok t LEFT JOIN model mo USING (token))"""

  /** The decontamination eval set: a prefix snippet of every 41st
    * document, length varied 8..14 words by doc_id. */
  private def evalSnippets(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 41 === 0)
      .select(array_join(slice(Corpus.wordTokens(col("text")), lit(1),
        lit(8) + col("doc_id") % 7), " ").as("text"))

  /** Decontamination oracle CTEs: whitespace tokens (`toks`), the eval
    * set's distinct 8-grams (`bgrams`) and every document 8-gram with its
    * doc_id (`dgrams`). */
  private val gramCtes = """toks AS (
           SELECT doc_id,
                  string_split_regex(trim(coalesce(text, '')), '\s+') AS t
           FROM documents),
         bgrams AS (
           SELECT DISTINCT
             unnest([array_to_string(bt[i:i+7], ' ')
                     FOR i IN generate_series(1, len(bt) - 7)]) AS gram
           FROM (SELECT t[1:CAST(8 + doc_id % 7 AS BIGINT)] AS bt
                 FROM toks WHERE doc_id % 41 = 0)
           WHERE len(bt) >= 8),
         dgrams AS (
           SELECT doc_id,
             unnest([array_to_string(t[i:i+7], ' ')
                     FOR i IN generate_series(1, len(t) - 7)]) AS gram
           FROM toks WHERE len(t) >= 8)"""

  /** The PII patterns verbatim (already in the java.regex ∩ RE2 subset). */
  private val EmailRe = TextStats.EmailPattern
  private val Ipv4Re = TextStats.Ipv4Pattern

  /** RE2 spelling of TextStats.BpeishPattern (\uXXXX → \x{...}). */
  private val BpeishRe2 =
    "[a-zA-Z\\x{00C0}-\\x{024F}\\x{4e00}-\\x{9fff}]+|[0-9]|[^\\sa-zA-Z0-9\\x{00C0}-\\x{024F}\\x{4e00}-\\x{9fff}]"

  /** Language-ID oracle (replays TextStats.langId) over `src` (a table or
    * prior CTE with doc_id, text). */
  private def langPredSql(src: String): String =
    s"""SELECT doc_id,
          CASE WHEN gmax > 0 AND czh = gmax THEN 'zh'
               WHEN gmax > 0 AND cen = gmax THEN 'en'
               WHEN gmax > 0 AND ces = gmax THEN 'es'
               WHEN gmax > 0 AND cde = gmax THEN 'de'
               WHEN gmax > 0 AND cfr = gmax THEN 'fr'
               ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, czh, cen, ces, cde, cfr,
                     greatest(czh, cen, ces, cde, cfr) AS gmax
              FROM (SELECT doc_id,
                      len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS czh,
                      len(regexp_extract_all(text, '\\b(the|and|of|is|to|in|that|it|for|was)\\b')) AS cen,
                      len(regexp_extract_all(text, '\\b(el|los|las|es|y|de|que|la|en|un)\\b')) AS ces,
                      len(regexp_extract_all(text, '\\b(der|die|das|und|ist|nicht|ein|zu|den|mit)\\b')) AS cde,
                      len(regexp_extract_all(text, '\\b(le|la|les|et|est|ne|pas|des|une|du)\\b')) AS cfr
                    FROM $src) c) g"""

  /** Quality-signals oracle (replays TextStats.qualitySignals/Keep) over
    * `src` (a table or prior CTE with doc_id, text). */
  private def qualitySql(src: String): String =
    s"""SELECT doc_id, n_tokens,
          CASE WHEN n_tokens > 0
               THEN CAST(floor(1000.0 * (chars - (n_tokens - 1)) / n_tokens) AS BIGINT)
               ELSE 0 END AS mean_token_len_milli,
          CASE WHEN chars > 0 THEN CAST(floor(1000.0 * punct / chars) AS BIGINT) ELSE 0 END AS punct_per_mille,
          CASE WHEN n_tokens > 0 THEN CAST(floor(1000.0 * stop / n_tokens) AS BIGINT) ELSE 0 END AS stopword_per_mille,
          CASE WHEN chars > 0 THEN CAST(floor(1000.0 * upper / chars) AS BIGINT) ELSE 0 END AS upper_per_mille,
          (n_tokens >= 10 AND n_tokens <= 100000
           AND (CASE WHEN chars > 0 THEN CAST(floor(1000.0 * upper / chars) AS BIGINT) ELSE 0 END) < 500
           AND (CASE WHEN n_tokens > 0
                     THEN CAST(floor(1000.0 * (chars - (n_tokens - 1)) / n_tokens) AS BIGINT)
                     ELSE 0 END) BETWEEN 1500 AND 20000) AS keep
        FROM (SELECT doc_id, length(text) AS chars,
                CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                len(regexp_extract_all(text, '[\\.,;:!\\?]')) AS punct,
                len(regexp_extract_all(text, '\\b(the|and|of|is|to|a|in|that|it|for)\\b')) AS stop,
                len(regexp_extract_all(text, '[A-Z]')) AS upper
              FROM $src) t"""

  /** The whitespace token-count expression (replays TextStats.tokenCount). */
  private def tokenCountSql(textExpr: String): String =
    s"""CAST(CASE WHEN length(trim($textExpr)) = 0 THEN 0
         ELSE len(string_split_regex(trim($textExpr), '\\s+')) END AS BIGINT)"""
}
