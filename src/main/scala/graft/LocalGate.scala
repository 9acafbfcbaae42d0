package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The size gate of the driver-local fast paths (SystemML's hybrid runtime):
  * `probe` returns all rows of `df` if it has at most `maxRows`, from one
  * `limit(maxRows + 1)` job, else None, and runs no job when `maxRows <= 0`. */
object LocalGate {
  def probe(df: DataFrame, maxRows: Int): Option[Array[Row]] =
    Option.when(maxRows > 0)(df.limit(maxRows + 1).collect()).filter(_.length <= maxRows)
}
