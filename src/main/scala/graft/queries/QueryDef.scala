package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its registry name, the Spark builder run over a
  * fixture directory, and the DuckDB oracle that must agree with it.
  *
  * `oracle` is evaluated on every [[graft.SparkEntry.oracleSql]] call, not
  * at declaration: the model-dependent oracles read the session's cached
  * model ([[graft.Memo.only]]), which exists only after the query has run,
  * and yield `None` (the check falls back to comparing rows only) when it
  * does not. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => Option[String])

object QueryDef {

  /** An oracle that is always present: `text` is generated on each call. */
  def sql(text: => String): () => Option[String] = () => Some(text)
}
