package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its Spark build function, the DuckDB SQL that
  * hash-checks its result, and its key in Bench's stdout line.
  *
  * Rules every declaration keeps:
  *   - the DataFrame ends in a total ORDER BY (row order must match);
  *   - money sums go through DecimalType(18,s) ([[QueryHelpers.dsum]])
  *     so they are exact and shuffle-order-independent;
  *   - computed columns carry the same alias in Spark and in the SQL.
  *
  * The oracle is evaluated on first use only, so listing or building
  * queries never assembles SQL text. `None` marks the sketch and RNG
  * queries, which get a rows-only check. */
final class QueryDef(val name: String, val build: QueryDef.Build,
    oracleSql: => Option[String], exactKey: String) {
  lazy val oracle: Option[String] = oracleSql
  val key: String =
    if (exactKey.nonEmpty) exactKey else QueryDef.prefixKey(name)
}

object QueryDef {
  type Build = (SparkSession, String) => DataFrame

  /** `key` overrides the prefix-rule Bench key ([[prefixKey]]). */
  def apply(name: String, build: Build, oracle: => String,
      key: String = ""): QueryDef =
    new QueryDef(name, build, Some(oracle), key)

  /** A query with no oracle: checked for rows only. */
  def rowsOnly(name: String, build: Build, key: String = ""): QueryDef =
    new QueryDef(name, build, None, key)

  /** Default Bench key: the family prefix shortened, the rest kept. */
  private def prefixKey(name: String): String = Seq(
    "q_window_" -> "w_", "q_events_" -> "e_", "q_tpch" -> "T",
    "dedup_" -> "d_", "text_" -> "t_", "ann_" -> "a_",
    "multimodal_" -> "m_", "pipeline_" -> "p_", "q_" -> "")
    .collectFirst { case (p, r) if name.startsWith(p) =>
      r + name.stripPrefix(p) }
    .getOrElse(name)

  /** Every declared query, family by family. */
  lazy val all: Seq[QueryDef] = Seq(
    RelationalQueries.defs, EventsQueries.defs, TpchQueries.defs,
    TextQueries.defs, DedupQueries.defs, AnnQueries.defs,
    MultimodalQueries.defs, PipelineQueries.defs, PackQueries.defs,
    IngestQueries.defs, CrawlQueries.defs, GraphQueries.defs).flatten

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
