package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the correctness-query registry.
  *
  * Oracle-comparison discipline (the driver hash-compares our parquet output
  * against DuckDB running `SparkEntry.oracleSql` on the same tables):
  *   - every query ends in a deterministic ORDER BY mirrored in the SQL;
  *   - sums of doubles go through DECIMAL(18,2) on BOTH sides — exact
  *     arithmetic, so parallel vs sequential summation order can't flip a
  *     hash bit (the final double conversion is exact below 2^53);
  *   - statistics with inherent float drift (avg/stddev/corr/percentile)
  *     are round(_, 6) on both sides;
  *   - counts are BIGINT on both sides (DuckDB sum(int) would be HUGEINT —
  *     always CAST in the SQL).
  */
object Support {

  /** true only under graft.Verify: percentile-based queries run EXACT so
    * results hash-match the DuckDB oracle. Everywhere else (bench,
    * production) they run the default mergeable approx sketch — the plan
    * that survives 100 TB (see DIVERGENCES.md #7). */
  @volatile var oracleMode: Boolean = false

  def exact: Boolean = oracleMode

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table with `ts` as a microsecond TimestampType, whatever
    * its physical parquet type (see `Tables.eventTime`). */
  def events(s: SparkSession, dir: String): DataFrame =
    graft.io.Tables.eventTime(t(s, dir, "events"))

  /** Exact decimal(18,2) view of a price-like double column. */
  def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Order-insensitive exact sum of a 2-decimal double column, as double. */
  def sumd(c: Column): Column = sum(dec2(c)).cast("double")

  def r6(c: Column): Column = round(c, 6)
}
