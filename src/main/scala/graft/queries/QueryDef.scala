package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark implementation plus an equivalent DuckDB
  * oracle over the same parquet tables. The two are hash-compared at
  * sf0.01 (see repo root: BASELINE.json).
  *
  * Oracle parity rules used throughout (so value hashes match exactly):
  *  - every computed column aliased identically on both sides;
  *  - sums over double inputs go through DECIMAL (exact, order-
  *    independent) and are CAST to DOUBLE at the end — summing IEEE
  *    doubles directly is partition-order-dependent on Spark;
  *  - divisions happen in DOUBLE *after* the exact decimal arithmetic;
  *  - counts stay BIGINT on both sides (row_number etc. cast to long);
  *  - both sides ORDER BY deterministic keys.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle)
}
