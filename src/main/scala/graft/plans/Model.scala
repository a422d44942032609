package graft.plans

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Typed row models for the engine's tables (SURVEY §1.2 Spark mapping). */

/** One frontier row ≙ a reference `Url` unit (cola/core/unit.py:33-51):
 *  priority/force carried; plus the engine's canonical key, politeness
 *  host, FIFO seq (O3), retry counter (O8) and depth/wave lineage. */
case class FrontierEntry(
    url: String,
    url_canon: String,
    url_hash: Long,
    host: String,
    priority: Int,
    depth: Int,
    seq: Long,
    force: Boolean,
    error_times: Int,
    discovered_wave: Int,
    bundle: String, // F2/F3 label of the bundle that generated this URL; null = plain
    eligible_wave: Int) // O8 span: not schedulable before this wave (retry delay)

/** URL-seen set row (D1/D4 — the exact MapDeduper equivalent). */
case class SeenEntry(url_hash: Long, url_canon: String, wave: Int)

/** One scheduled fetch; rank is the deterministic position within the
 *  wave (the crawl-ordering surface the north rule pins). */
case class ScheduleEntry(wave: Int, rank: Long, priority: Int, seq: Long,
    host: String, url_canon: String, depth: Int)

/** Dead letter (S5, cola/job/executor.py:204-227). `content` carries the
 *  error response body for packed server-class errors (the reference's
 *  error-pack content file: `e.read()` of the ServerError); network
 *  errors have nothing to pack (no response) and blocked bundle members
 *  were never fetched — both null. */
case class DeadLetter(wave: Int, url_canon: String, host: String,
    error_times: Int, reason: String, content: Array[Byte])

/** Per-partition lineage row (north rule: resumable with per-partition
 *  lineage); stage ∈ {candidates, admitted, scheduled}. Read back from
 *  the wave manifests, which carry the counts. */
case class LineageRow(wave: Int, stage: String, partition_id: Int, rows: Long)

/** Per-(wave, host) fetch outcome counts (O7 input: the banned-window
 *  evidence adaptiveHostBudgets decays budgets from — a wave with errors
 *  on a host ≙ a banned window; cola/functions/speed.py:203-230). */
case class HostWaveMetrics(wave: Int, host: String, fetched: Long, errors: Long)

/** Per-wave counters (A7 standard metrics). */
case class WaveMetrics(wave: Int, scheduled: Long, fetched: Long, errors: Long,
    new_urls: Long, deduped: Long, frontier_size: Long,
    applied: Long, finished: Long, secs: Double)

/** Extraction result row (S4 result sink, a projection of the wave's
 *  fetched table); parser_id = the P2 rule that handled the page. */
case class PageResult(wave: Int, url_canon: String, parser_id: String,
    lang: String, text: String, n_outlinks: Int)

/** Incremental re-crawl queue row (O9: every finished unit is put_inc
 *  with force=True, cola/job/executor.py:426-427 + core/mq/node.py:181-184;
 *  re-crawled in the slice after all priorities, task.py:135-139).
 *  (wave, priority, seq) is the finish order — the inc store's FIFO
 *  (within a wave, units finish in schedule order = (priority, seq)). */
case class IncEntry(url: String, url_canon: String, wave: Int, priority: Int, seq: Long)

/** One successfully fetched page of a wave — the single per-wave table
 *  the [[IncEntry]] queue and the [[PageResult]] results are both read
 *  from (they are the same row set). `noindex` pages are kept here (they
 *  are finished units) and filtered out of the results view. */
case class FetchedPage(url: String, url_canon: String, wave: Int, priority: Int, seq: Long,
    parser_id: String, lang: String, text: String, n_outlinks: Int, noindex: Boolean)

/** O10 in-bundle `error_urls` row (cola/job/executor.py:500-501: an
 *  ignore-class exhaustion appends the url to `bundle.error_urls`; every
 *  later `execute()` of the bundle re-extends its worklist with them,
 *  executor.py:559-560). At wave granularity a bundle is only ever
 *  re-popped by the O9 inc re-crawl (put_inc re-queues the bundle,
 *  executor.py:610-612), so these rows re-enter the frontier during the
 *  inc pass — after the finished FIFO, in first-exhaustion (wave, seq)
 *  order. A `poisoned=true` row is a label tombstone: the bundle had a
 *  non-ignored exhaustion (UnitRetryFailed) and the engine's terminal
 *  poisoned-bundle reading withholds its error members forever. */
case class ErrorIncEntry(url: String, url_canon: String, bundle: String,
    wave: Int, seq: Long, poisoned: Boolean)

object Schemas {
  val frontier: StructType = Encoders.product[FrontierEntry].schema
  val seen: StructType = Encoders.product[SeenEntry].schema
  val schedule: StructType = Encoders.product[ScheduleEntry].schema
  val dead: StructType = Encoders.product[DeadLetter].schema
  val metrics: StructType = Encoders.product[WaveMetrics].schema
  val hostMetrics: StructType = Encoders.product[HostWaveMetrics].schema
  val fetched: StructType = Encoders.product[FetchedPage].schema
  val errorInc: StructType = Encoders.product[ErrorIncEntry].schema
}
