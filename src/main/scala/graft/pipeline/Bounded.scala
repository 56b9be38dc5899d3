package graft.pipeline

import org.apache.spark.sql.Dataset

/** The driver-collect guard: a driver-side collect names its bound and
  * fails loudly when the input exceeds it, instead of quietly pulling an
  * unbounded result into the driver heap. At most `maxRows + 1` rows
  * reach the driver. */
object Bounded {
  def collect[T](ds: Dataset[T], maxRows: Int, what: String): Array[T] = {
    val rows = ds.limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new IllegalStateException(
        s"$what: more than $maxRows rows for a driver-side collect bounded at $maxRows")
    rows
  }
}
