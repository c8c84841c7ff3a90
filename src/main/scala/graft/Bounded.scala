package graft

import org.apache.spark.sql.Dataset

/** The one "collect if small, else stay distributed" decision shared by the
  * query engine (dictionary cache, dead-doc set, bad-url set) and the text
  * ops (boilerplate set).
  */
object Bounded {

  /** `Some(rows)` when `ds` has at most `gate` rows, else `None`. ONE
    * `limit(gate + 1)` collect decides, not count-then-collect: at or below
    * the gate the limit is never reached and every row comes back; above it
    * exactly gate + 1 rows are scanned and dropped, so the driver never
    * holds more than gate + 1 rows. Gates past the largest array are
    * clamped to it.
    */
  def collect[T](ds: Dataset[T], gate: Long): Option[Array[T]] = {
    require(gate >= 0, s"negative gate $gate")
    val n = math.min(gate, Int.MaxValue - 1L).toInt
    val rows = ds.limit(n + 1).collect()
    if (rows.length > n) None else Some(rows)
  }
}
