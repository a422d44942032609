package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Freshness-driven re-crawl scheduling: estimate each URL's change rate
 * from its revisit history, then grant per-host re-crawl slots to the
 * fastest-changing pages first.
 *
 * The reference re-crawls on a fixed clock (`inc=True` re-enqueues every
 * finished URL after `instances`-driven delays, cola/job/job.py loop +
 * mq inc queue — SURVEY §2.7 O9); the published refinement is to spend
 * the revisit budget ∝ observed change frequency (Cho & Garcia-Molina,
 * "Effective Page Refresh Policies for Web Crawlers", TODS 2003). This
 * operator is the estimation+allocation half reading a snapshot history
 * table; the emitted schedule feeds the same politeness machinery as a
 * fresh wave (the literal-bound [[Politeness.hostEligible]] window).
 *
 * Scale shape: one hash exchange on `url` serves BOTH the lag-window
 * and the per-URL aggregate (the aggregate reuses the window's
 * partitioning, so history size N costs one shuffle + per-partition
 * sort); the host top-k then exchanges the URL-sized (not
 * snapshot-sized) rates table and compiles to WindowGroupLimit via the
 * literal rank bound — each mapper pre-prunes to k before the host
 * sort, the same plan pinned for politeness_topk (BENCH/PLANS.md §5).
 *
 * All arithmetic is integer (day granularity, milli-rate floor
 * division): no IEEE drift between engines, so the whole pipeline is
 * DuckDB-replayable.
 */
object Recrawl {

  /**
   * Per-URL change-rate estimate from a snapshot history
   * `(urlCol, dayCol: long epoch-day, sigCol: content signature)` plus
   * tie-break columns that make the per-URL ordering total (re-fetches
   * landing on the same day).
   *
   * Output: url, n_obs, changes (# adjacent signature transitions in
   * (day, ties…) order), span_days (max−min day), rate_milli =
   * floor(1000·changes / span_days), 0 when the span is empty — i.e.
   * estimated changes per day ×1000.
   */
  def changeRates(
      snaps: DataFrame,
      urlCol: String = "url",
      dayCol: String = "day",
      sigCol: String = "sig",
      tieCols: Seq[String] = Seq("tie")): DataFrame = {
    val order = (col(dayCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(urlCol)).orderBy(order: _*)
    val changed = when(
      lag(col(sigCol), 1).over(w).isNotNull &&
        lag(col(sigCol), 1).over(w) =!= col(sigCol), 1L).otherwise(0L)
    snaps
      .withColumn("__chg", changed)
      .groupBy(col(urlCol).as("url"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("__chg")).as("changes"),
        (max(col(dayCol)) - min(col(dayCol))).as("span_days"))
      .withColumn("rate_milli",
        when(col("span_days") > 0, expr("(changes * 1000) div span_days"))
          .otherwise(lit(0L)))
  }

  /**
   * Re-crawl schedule: top `k` URLs per host by estimated change rate,
   * descending (ties broken by url ascending — total order, so the
   * schedule is deterministic under any partitioning). `rates` must
   * carry a `host` column alongside [[changeRates]]' output.
   */
  def schedule(rates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("host"))
      .orderBy(col("rate_milli").desc, col("url").asc)
    rates.withColumn("__rr", row_number().over(w))
      .filter(col("__rr") <= k)
      .drop("__rr")
  }
}
