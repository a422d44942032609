package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query, declared once: the Spark side over an sf
  * directory, its DuckDB oracle over the same parquet tables (`None` for
  * an engine-only query, checked rows-only and pinned by golden or
  * simulator specs instead), and an optional observability probe whose
  * scalars are recorded beside the query's run. */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    probe: Option[(SparkSession, String) => Map[String, Long]] = None)
