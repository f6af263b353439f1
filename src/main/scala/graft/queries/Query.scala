package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, the DuckDB SQL its output must equal
  * (`None` for a rows-only query with no DuckDB equivalent) and its
  * Spark builder over an sf dir. The SQL sits right above the builder,
  * so a query is declared once. */
final case class Query(name: String, oracle: Option[String])(
    val build: (SparkSession, String) => DataFrame)
