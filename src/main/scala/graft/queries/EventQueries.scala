package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Events, Sessions}

/** Event-stream queries over the `events` fixture: windowed rollups,
  * JSON props, sessions, retention and funnels. */
object EventQueries {

  def all: Seq[Query] = Seq(
    // tumbling-window event rollup (native window() grouping, streaming-
    // compatible); DOUBLE values fixed-pointed to cents BEFORE the sum
    Query("events_window_agg", (s, d) =>
      Events.windowAgg(s.read.parquet(s"$d/events.parquet"),
        "ts", "event_type", "user_id", "value", every = "1 hour"),
      Some("""SELECT CAST((epoch_us(ts) // 3600000000) * 3600000000 AS BIGINT) AS window_start_us,
                event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0) AS BIGINT) AS value_cents
         FROM events
         WHERE ts IS NOT NULL AND event_type IS NOT NULL
         GROUP BY 1, 2""")),

    // JSON metadata promotion (codegen get_json_object, no UDF): integer
    // field $.k rolled up per event type
    Query("events_props_agg", (s, d) =>
      Events.propsAgg(s.read.parquet(s"$d/events.parquet"),
        "event_type", "props", "$.k"),
      Some("""SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_field,
                CAST(coalesce(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS field_sum,
                CAST(coalesce(max(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS field_max
         FROM events
         WHERE event_type IS NOT NULL
         GROUP BY 1""")),

    // gap-based sessionization over the events stream (Spark's native
    // session_window — the same expression works under Structured
    // Streaming with a watermark); integer-micros output, no IEEE
    Query("events_sessionize", (s, d) =>
      Sessions.sessionize(s.read.parquet(s"$d/events.parquet"),
        "user_id", "ts", "event_id", gap = "24 hours"),
      // lag/cumsum replay of session_window's merge rule: consecutive
      // events merge while gap <= 24h (inclusive boundary, pinned by
      // SessionsSpec; 24h makes sf0.01 sessions ~8 events, not singletons);
      // session identity = min event time in micros
      Some("""WITH e AS (SELECT user_id, event_id, ts FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         flagged AS (
           SELECT user_id, event_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
                       THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT user_id,
                CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(min(event_id) AS BIGINT) AS first_event_id,
                CAST(max(event_id) AS BIGINT) AS last_event_id,
                CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us
         FROM sess GROUP BY user_id, sid""")),

    // cohort retention (daily periods so the 2-week fixture spread
    // yields a real triangle): distinct (user, period) first, then
    // min-cohort + count per (cohort, offset)
    Query("events_retention", (s, d) =>
      Events.retention(s.read.parquet(s"$d/events.parquet"),
        "user_id", "ts", periodDays = 1),
      // replays Events.retention at daily periods: distinct (user, day),
      // min day per user, count per (cohort, offset)
      Some("""WITH per AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS p
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         c AS (SELECT user_id, min(p) AS cohort FROM per GROUP BY 1)
         SELECT c.cohort AS cohort_period, per.p - c.cohort AS k,
                count(*) AS n_users
         FROM per JOIN c USING (user_id)
         GROUP BY 1, 2""")),

    // strict-order conversion funnel (view → click → purchase): first
    // time of each step strictly after the previous step's time — one
    // user-keyed join + partial min aggregate per step, never a
    // per-user sorted event list
    Query("events_funnel", (s, d) =>
      Events.funnel(s.read.parquet(s"$d/events.parquet"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
      // replays Events.funnel: a min-aggregate CTE per step, each joining
      // the previous step's time with a strict > condition
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL
                      AND event_type IS NOT NULL),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT s1.user_id, s1.t1, min(c.ts) AS t2
                FROM s1 LEFT JOIN e c ON c.user_id = s1.user_id
                     AND c.event_type = 'click' AND c.ts > s1.t1
                GROUP BY 1, 2),
         s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(c.ts) AS t3
                FROM s2 LEFT JOIN e c ON c.user_id = s2.user_id
                     AND c.event_type = 'purchase' AND c.ts > s2.t2
                GROUP BY 1, 2, 3)
         SELECT user_id, t1, t2, t3,
                CAST(CASE WHEN t3 IS NOT NULL THEN 3
                          WHEN t2 IS NOT NULL THEN 2
                          ELSE 1 END AS BIGINT) AS depth
         FROM s3""")))
}
