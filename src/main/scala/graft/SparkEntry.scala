package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7 + FIXTURES.md §B.
  *
  * Each SQL-expressible operator gets a (Spark query, DuckDB oracle) pair
  * over a synthetic URL frontier derived inline from the sfDir `orders`
  * parquet with engine-portable SQL (identical expressions both sides, no
  * intermediate files). Engine-only operators (extraction, the crawl wave
  * loop) are exposed as rows-only queries and pinned by golden/simulator
  * specs instead. Each pair is declared once, as a [[Query]] in one of the
  * per-domain modules under `graft.queries`; the maps below are derived
  * from them. */
object SparkEntry {

  private def modules: Seq[Seq[Query]] = Seq(FrontierQueries.all,
    RobotsQueries.all, CorpusQueries.all, DedupQueries.all, GraphQueries.all,
    EventQueries.all, SearchQueries.all)

  /** Name → query over `modules`. Throws on a name declared twice: a `Map`
    * built from pairs would keep the last one and silently drop the other
    * from Bench and Verify. */
  private[graft] def registry(modules: Seq[Seq[Query]]): Map[String, Query] =
    modules.flatten.foldLeft(Map.empty[String, Query]) { (m, q) =>
      require(!m.contains(q.name), s"query ${q.name} declared twice")
      m + (q.name -> q)
    }

  private lazy val all = registry(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, q) => n -> q.run }

  /** DuckDB-equivalent SQL per query (same parquet tables). */
  def oracleSql: Map[String, String] =
    all.collect { case (n, Query(_, _, Some(sql), _)) => n -> sql }

  /** Observability sidecars: named scalar checks recorded NEXT TO a
    * query's verify/bench run (not part of the oracled result schema —
    * the driver compare hashes result columns, so these ride a separate
    * channel). */
  def observability: Map[String, (SparkSession, String) => Map[String, Long]] =
    all.collect { case (n, Query(_, _, _, Some(p))) => n -> p }
}
