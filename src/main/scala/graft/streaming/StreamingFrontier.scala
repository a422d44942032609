package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.operators.Dedup

/** A discovered-URL event on the streaming frontier. */
case class UrlEvent(url_canon: String, host: String, priority: Int, ts: Timestamp)

/** Politeness-gate state per host (token count within the current window). */
case class HostGateState(windowStart: Long, emitted: Int)

/** A gated emission. */
case class GatedUrl(url_canon: String, host: String, priority: Int, ts: Timestamp)

/**
 * Structured-Streaming view of the frontier (the streaming reading of the
 * reference's incremental queue, SURVEY §2 O9): continuously discovered
 * URLs are deduped against streaming state and rate-limited per host.
 *
 *  - [[dedupStream]]: `withWatermark` + `dropDuplicates` — the D1
 *    check-and-insert gate as streaming state (late duplicates beyond the
 *    watermark age out of the state store, which is how a 10^10 seen set
 *    must behave in a continuous crawl: bounded state + periodic compaction
 *    to the batch seen table).
 *  - [[hostWindowCounts]]: watermarked tumbling-window per-host counts
 *    (the A7 metrics stream).
 *  - [[politenessGate]]: per-host token bucket via flatMapGroupsWithState
 *    — at most `hostBudget` URLs per host per window emitted downstream;
 *    the custom-state analog of the batch per-host top-k (O6).
 */
object StreamingFrontier {

  def dedupStream(events: Dataset[UrlEvent], watermark: String = "10 minutes"): Dataset[UrlEvent] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .dropDuplicates("url_canon")
      .as[UrlEvent]
  }

  def hostWindowCounts(events: Dataset[UrlEvent], windowLen: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame = {
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("host"))
      .agg(count(lit(1)).as("n"), min(col("priority")).as("best_priority"))
  }

  def politenessGate(events: Dataset[UrlEvent], hostBudget: Int,
      windowMillis: Long = 60000L): Dataset[GatedUrl] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.host)
      .flatMapGroupsWithState[HostGateState, GatedUrl](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (host: String, rows: Iterator[UrlEvent], state: GroupState[HostGateState]) =>
          // Bounded single pass: keep only the best ≤ remaining-budget
          // events PER WINDOW in a max-heap (worst at head, evicted on
          // overflow) — a mega-host micro-batch is never materialized
          // (memory = O(windows-in-batch × budget), not O(batch)), and
          // per-window accounting is exact even when the batch spans
          // windows. Deterministic: selection and emission order are by
          // (priority, ts, url_canon) within ascending windows.
          val st0 = state.getOption.getOrElse(HostGateState(Long.MinValue, 0))
          val ord = Ordering.by[UrlEvent, (Int, Long, String)](e =>
            (e.priority, e.ts.getTime, e.url_canon))
          val perWindow = scala.collection.mutable.SortedMap.empty[Long,
            scala.collection.mutable.PriorityQueue[UrlEvent]]
          rows.foreach { e =>
            val w = math.floorDiv(e.ts.getTime, windowMillis)
            val cap = hostBudget - (if (w == st0.windowStart) st0.emitted else 0)
            if (cap > 0) {
              val pq = perWindow.getOrElseUpdate(w,
                scala.collection.mutable.PriorityQueue.empty(ord))
              pq += e
              if (pq.size > cap) pq.dequeue() // evict the worst
            }
          }
          var st = st0
          val out = Seq.newBuilder[GatedUrl]
          perWindow.foreach { case (w, pq) =>
            val best = pq.dequeueAll.reverse // ascending (priority, ts, canon)
            best.foreach(e => out += GatedUrl(e.url_canon, host, e.priority, e.ts))
            if (w >= st.windowStart)
              st = HostGateState(w,
                (if (w == st0.windowStart) st0.emitted else 0) + best.size)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /**
   * O9-continuous, runnable: discovered-URL events → streaming dedup
   * (watermark-bounded state) → per-host politeness gate → per-micro-batch
   * admission into the SAME durable bucketed seen table the batch engine
   * reads and writes ([[graft.plans.Checkpoint]] layout). The streaming
   * dedup state is only the bounded fast path; the table is the source
   * of truth, so every batch's gated urls are anti-joined against the
   * committed seen set (the exact D1 gate) and only the survivors append
   * (wave = micro-batch id). That also makes a replayed micro-batch
   * idempotent at the admission level: its urls are already seen, so the
   * replay appends nothing (the standard foreachBatch at-least-once
   * caveat applies to a crash INSIDE an append).
   *
   * `onBatch(admitted, batchId)` fires after each batch's admission with
   * the admitted rows (url_canon, host, priority, ts) — the downstream
   * fetch/schedule hook (and the spec's capture point).
   */
  def runContinuous(
      events: Dataset[UrlEvent],
      stateDir: String,
      streamCkptDir: String,
      hostBudget: Int,
      windowMillis: Long = 60000L,
      numBuckets: Int = 8,
      watermark: String = "10 minutes",
      onBatch: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val spark = events.sparkSession
    val ckpt = new graft.plans.Checkpoint(spark, stateDir, numBuckets)
    ckpt.ensureBucketed("seen", "url_hash BIGINT, url_canon STRING", reset = false)
    val gated = politenessGate(dedupStream(events, watermark), hostBudget, windowMillis)
    gated.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", streamCkptDir)
      .foreachBatch { (batch: Dataset[GatedUrl], batchId: Long) =>
        val withHash = batch.toDF()
          .withColumn("url_hash", Dedup.urlHash(col("url_canon")))
        val admitted = Dedup.antiJoinSeen(withHash, ckpt.readBucketed("seen", Int.MaxValue))
        // land the admitted set as the batch's durable output FIRST (the
        // continuous analog of the per-wave schedule table), then append
        // the re-read stable copy to the seen table: appending to a table
        // a plan reads invalidates/recomputes that plan, and a lazily
        // re-evaluated `admitted` would anti-join against its own append
        // and vanish
        val outPath = s"$stateDir/stream/batch=$batchId/admitted"
        admitted.write.mode("overwrite").parquet(outPath)
        val stable = spark.read.parquet(outPath)
        if (!stable.isEmpty)
          ckpt.writeBucketed(stable.select(col("url_hash"), col("url_canon")),
            batchId.toInt, "seen")
        onBatch(stable.select("url_canon", "host", "priority", "ts"), batchId)
        ()
      }
      .start()
  }
}
