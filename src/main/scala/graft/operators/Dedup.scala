package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The URL-seen set (SURVEY §2.4) — discovery-time check-and-insert dedup.
 *
 * Reference semantics carried: every non-`force` enqueue consults the seen
 * set and inserts on miss (cola/core/mq/store.py:252-254,
 * cola/core/dedup.py:84-88) — i.e. the set grows at *discovery* time. In
 * the wave design that becomes: (1) first-seen-wins within the batch,
 * (2) exact `left_anti` against the seen table (the source of truth, ≙
 * MapDeduper), (3) seen ∪= survivors. `force=true` rows bypass the gate
 * (store.py:252, D5).
 *
 * Scale: both sides are keyed by `url_hash = xxhash64(url_canon)` and
 * bucketed `pmod(url_hash, P)`, so the anti-join shuffles co-partitioned
 * keys; the optional per-bucket Bloom pre-filter (D2) removes
 * definitely-new URLs from the join input — at 10^10 seen URLs the bloom
 * side is ~1.2 GB total spread over P buckets while the anti-join probe
 * shrinks to candidates that are probably-seen (true dups + ~1% FPs).
 */
object Dedup {

  def urlHash(c: Column): Column = xxhash64(c)

  /** Keep the first row per url_canon within a batch, "first" = min of
   *  `ord` (F4/D1 in-batch dedup, order-preserving like
   *  OrderedDict.fromkeys at cola/job/executor.py:588-596).
   *
   *  Implemented as groupBy + min_by rather than a row_number window: a
   *  hash aggregate partial-aggregates map-side (duplicates collapse
   *  before the shuffle — at a ~1/3 dup rate that is a third less shuffle
   *  IO), while a window must shuffle every row and sort. `ord` must be a
   *  total order within url_canon (seq is unique).
   *
   *  Plan shape matters at frontier scale: a min_by whose value or
   *  ordering is a var-length type (string/struct) cannot live in
   *  HashAggregateExec's fixed-width UnsafeRow buffer, so Catalyst falls
   *  back to SortAggregate — two full sorts of every candidate row. The
   *  fast path therefore groups by (url_hash, url_canon) [+ host when
   *  present — both functionally dependent on url_canon, so groups are
   *  identical] and aggregates each remaining column with its own
   *  primitive min_by, which (a) stays in whole-stage-codegen hash
   *  aggregation and (b) lets Catalyst prune unused columns out of the
   *  aggregate entirely. (When the seen side is a bucketed storage table,
   *  the anti-join re-exchanges the DEDUPED output to the bucket layout —
   *  the post-dedup delta, never the raw candidates, and never the
   *  cumulative seen side.) Falls back to the generic
   *  struct-valued form for multi-column `ord` or var-length payload
   *  columns (e.g. the raw `url` before it is dropped). FrontierBench.runWave
   *  and the `dedup_anti` / `frontier_union_dedup` queries take the fast
   *  path; every CrawlJob admission takes the struct one (seeds carry the
   *  raw `url`, discovery orders by 3 columns, the inc re-seed by 4).
   *
   *  CALLER CONTRACT (both paths): `host`, when present, MUST be derived
   *  from `url_canon` (as every engine call site does, via
   *  UrlExprs.urlHost(url_canon)) — an independent host column would
   *  silently widen the fast path's grouping key and under-deduplicate.
   *  `ord` MUST be tie-free within a url_canon group (seq is unique by
   *  construction): on a tie the per-column min_by aggregates could mix
   *  columns from different rows into a row that never existed. */
  def firstSeenInBatch(df: DataFrame, ord: Seq[Column]): DataFrame = {
    val cols = df.columns.toSeq
    val keySet = Set("url_hash", "url_canon", "host")
    val keyCols = Seq("url_hash", "url_canon", "host").filter(cols.contains)
    val valueCols = cols.filterNot(keySet)
    val fixedWidth = valueCols.forall { c =>
      df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.BooleanType => true
        case org.apache.spark.sql.types.DateType => true
        case org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
    }
    if (ord.size == 1 && fixedWidth && valueCols.nonEmpty && keyCols.contains("url_canon")) {
      val aggs = valueCols.map(c => min_by(col(c), ord.head).as(c))
      df.groupBy(keyCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .select(cols.map(col): _*)
    } else {
      // `ord` must be plain value columns (ascending is implied by min_by;
      // a SortOrder like col.asc is unevaluable inside struct())
      df.groupBy(col("url_canon"))
        .agg(min_by(struct(cols.map(col): _*), struct(ord: _*)).as("__first"))
        .select(cols.map(c => col(s"__first.$c").as(c)): _*)
    }
  }

  /** Exact dedup: candidates whose url_canon is not in `seen`.
   *  `seen` needs columns (url_hash, url_canon). */
  def antiJoinSeen(candidates: DataFrame, seen: DataFrame): DataFrame =
    candidates.join(seen.select("url_hash", "url_canon"),
      Seq("url_hash", "url_canon"), "left_anti")

  /**
   * Dedup with the PARTITION-LOCAL persistent bloom state ([[BloomStore]])
   * — the 100 TB path: no bloom bytes on the driver, no per-executor
   * full-state broadcast. The candidate delta is repartitioned to the
   * seen table's exact bucket layout, which (a) lets every task probe
   * only its own bucket's filter (loaded once from the store's file,
   * cached executor-side) and (b) satisfies the exact anti-join's
   * required distribution, so the probe costs no exchange the join would
   * not have paid. Output identical to [[antiJoinSeen]].
   *
   * `alignedInput = true` asserts the caller's input already arrives
   * hash-partitioned by exactly (url_hash, url_canon) into
   * `store.numBuckets` partitions (e.g. straight off an in-batch dedup
   * aggregate keyed the same way with matching shuffle partitions) and
   * skips the repartition. Correctness never depends on it — only probe
   * locality does (a misaligned input would page multiple buckets per
   * task).
   */
  def antiJoinSeenWithBloomStore(
      candidates: DataFrame,
      seen: DataFrame,
      store: BloomStore,
      alignedInput: Boolean = false): DataFrame = {
    val files = store.currentFiles()
    if (files.isEmpty) return antiJoinSeen(candidates, seen)
    val aligned =
      if (alignedInput) candidates
      else candidates.repartition(store.numBuckets, col("url_hash"), col("url_canon"))
    val probe = store.probeUdf(files) // nondeterministic: see BloomStore scaladoc
    val flagged = aligned
      .withColumn("__b", store.bucketIdCol(col("url_hash"), col("url_canon")))
      .withColumn("__maybe", probe(col("__b"), col("url_hash")))
    val definitelyNew = flagged.filter(!col("__maybe")).drop("__b", "__maybe")
    val needExact = flagged.filter(col("__maybe")).drop("__b", "__maybe")
    definitelyNew.unionByName(antiJoinSeen(needExact, seen))
  }

  /** D1 full gate for one wave: split force/non-force, in-batch first-seen,
   *  anti-join, re-union force rows (which always pass). The optional
   *  [[BloomStore]] pre-filter is output-identical to no filter at all.
   *  `spark` and `numBuckets` are unused (the store carries its own
   *  bucket count); they stay so that existing callers keep compiling. */
  def dedupWave(
      spark: SparkSession,
      candidates: DataFrame,
      seen: DataFrame,
      ord: Seq[Column],
      numBuckets: Int = 32,
      bloomStore: Option[BloomStore] = None,
      bloomAligned: Boolean = false): DataFrame = {
    val hasForce = candidates.columns.contains("force")
    val nonForce = if (hasForce) candidates.filter(!col("force")) else candidates
    val forced = if (hasForce) candidates.filter(col("force")) else candidates.limit(0)
    val inBatch = firstSeenInBatch(nonForce, ord)
    val fresh = bloomStore.fold(antiJoinSeen(inBatch, seen))(
      antiJoinSeenWithBloomStore(inBatch, seen, _, bloomAligned))
    fresh.unionByName(forced)
  }

  /** Newest-revision-wins collapse: keep exactly one row per key — the
   *  one greatest under `versionCols` (compared left to right,
   *  descending). The Common-Crawl revisit shape: a URL re-fetched
   *  across monthly dumps appears once per capture, and the corpus wants
   *  only the latest snapshot (complement of [[firstSeenInBatch]], which
   *  keeps the FIRST discovery of a frontier candidate).
   *
   *  CALLER CONTRACT: `versionCols` must totally order rows within a key
   *  (append a unique tiebreaker like a record id after the timestamp) —
   *  on a tie, which duplicate survives would depend on partitioning.
   *
   *  Scale (10^10 captures, hot URLs re-fetched 10^3×): the rank-1
   *  row_number filter compiles to WindowGroupLimit — each map task
   *  pre-selects its own top-1 per key BEFORE the exchange, so the
   *  shuffle carries at most one row per (key, input-partition) and a
   *  hot URL's thousand captures collapse map-side. Unlike a max_by
   *  aggregate, arbitrary payload columns (strings, structs, binary
   *  html) ride along without demoting anything to SortAggregate. */
  def latestRevision(df: DataFrame, keyCol: String,
      versionCols: Seq[String]): DataFrame = {
    require(versionCols.nonEmpty, "versionCols must order revisions")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(versionCols.map(c => col(c).desc): _*)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }
}
