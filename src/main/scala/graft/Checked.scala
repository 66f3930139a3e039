package graft

import org.apache.spark.sql.DataFrame

/** One query call's reply: its result plus, when the DuckDB oracle
  * depends on state the call itself produced (frozen centroids, PQ
  * codebooks, the BPE vocab, HNSW pairs, the temperature (n, Z) or an
  * executed round count), that oracle, rendered from the same state.
  * Queries whose oracle is static ([[SparkEntry.oracleSql]]) or absent
  * (rows-only) carry `None`. */
final case class Checked(df: DataFrame, oracleSql: Option[String] = None)
