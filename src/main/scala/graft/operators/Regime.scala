package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one broadcast-or-shuffle policy of every operator that joins a
  * measured side: the side broadcasts when its measured row count is
  * at or below [[BroadcastRows]], and joins by shuffle above it. Every
  * arm choice in `graft.operators` and the streaming sinks asks here,
  * so the policy (rows today) changes in one place.
  */
private[graft] object Regime {

  /** The row count at or below which a measured side broadcasts. */
  val BroadcastRows: Long = 4000000L

  private val forced = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }

  private def limit: Long = forced.get().getOrElse(BroadcastRows)

  /** Whether a side measured at `n` rows takes the broadcast arm. */
  def fits(n: Long): Boolean = n <= limit

  /** `df`, hinted to broadcast when `n`, the row count it was measured
    * at, [[fits]].
    */
  def gate(n: Long)(df: DataFrame): DataFrame =
    if (fits(n)) broadcast(df) else df

  /** Run `body` with the broadcast threshold at `rows` on the calling
    * thread only, restored on exit — the seam that forces the shuffle
    * arm on tiny data (specs, the `x_charlm_shuffle` query). Nested
    * scopes restore the enclosing one.
    */
  def forcing[T](rows: Long)(body: => T): T = {
    val prev = forced.get()
    forced.set(Some(rows))
    try body finally forced.set(prev)
  }
}
