package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The timed action: an order-insensitive checksum over every result column.
  *
  * `count()` would let Catalyst prune the columns a user reads; hashing the
  * JSON encoding of the whole row makes every column part of the plan. The
  * per-row xxhash64 values are summed as DECIMAL(38,0), so the sum cannot
  * overflow and duplicated rows do not cancel (as they would under xor).
  * Same encoding as `graft.Verify.profileJson`'s table checksum. */
object Checksum {
  def of(df: DataFrame): String = {
    val cols = df.columns.map(c => col(s"`$c`"))
    val row = df.agg(
      count(lit(1)),
      sum(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).cast("decimal(38,0)")))
      .collect()(0)
    val ck = if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString
    s"${row.getLong(0)}:$ck"
  }
}
