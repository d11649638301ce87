package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of every row. Integral values hash by
  * value whatever their width, so an int and a bigint column agree.
  */
object Digest {
  private def mix(h: Long): Long = {
    var z = h
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def str(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x7f4a7c15).toLong & 0xffffffffL)

  def value(v: Any): Long = v match {
    case null => 0x5bd1e9955bd1e995L
    case x: Long => mix(x)
    case x: Int => mix(x.toLong)
    case x: Short => mix(x.toLong)
    case x: Byte => mix(x.toLong)
    case x: Boolean => if (x) 0x1L else 0x2L
    case x: Double => mix(java.lang.Double.doubleToLongBits(x) ^ 0x3L)
    case x: Float => mix(java.lang.Double.doubleToLongBits(x.toDouble) ^ 0x3L)
    case x: String => str(x)
    case r: Row => row(r)
    case s: scala.collection.Seq[_] =>
      s.foldLeft(0x4L)((h, e) => mix(h * 31 + value(e)))
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(value(k) * 31 + value(x)) }.sum
    case a: Array[Byte] => str(a.mkString(","))
    case other => str(other.getClass.getSimpleName + ":" + other.toString)
  }

  def row(r: Row): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < r.length) { h = mix(h * 31 + value(r.get(i))); i += 1 }
    h
  }

  /** (rows, digest) of an in-memory row collection. */
  def ofRows(rows: Iterable[Row]): (Long, Long) =
    (rows.size.toLong, rows.foldLeft(0L)(_ + row(_)))

  /** Materialise every output column of `df` in one action and return
    * (rows, digest), computed inside the tasks.
    */
  def of(df: DataFrame): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val n = sc.longAccumulator("perfbench.rows")
    val sum = sc.longAccumulator("perfbench.digest")
    val f: Iterator[Row] => Unit = it => {
      var c = 0L
      var s = 0L
      it.foreach { r => c += 1; s += row(r) }
      n.add(c)
      sum.add(s)
    }
    df.foreachPartition(f)
    (n.sum, sum.sum)
  }

  def hex(d: Long): String = f"$d%016x"
}
