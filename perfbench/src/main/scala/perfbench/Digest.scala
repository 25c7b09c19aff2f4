package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent checksums of query results. A row of 64-bit words
  * (x1, ..., xn) hashes to mix(x1 ^ mix(x2 ^ ... mix(xn ^ 0))), with mix
  * the splitmix64 finalizer; a result is (row count, sum of row hashes
  * mod 2^64). `gen.py` computes the same digest over the expected answer
  * with numpy, so the two sides agree only on the same multiset of rows. */
object Digest {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def words(xs: Seq[Long]): Long = xs.foldRight(0L)((x, acc) => mix(x ^ acc))

  /** Big-endian 64-bit words of a byte string (length a multiple of 8). */
  def bytesToWords(b: Array[Byte]): Seq[Long] =
    (0 until b.length by 8).map(o => java.nio.ByteBuffer.wrap(b, o, 8).getLong)

  /** A KCV cell: k, c and v as big-endian words, in that order. */
  def cell(r: Row): Long = words(
    bytesToWords(r.getAs[Array[Byte]]("k")) ++ bytesToWords(r.getAs[Array[Byte]]("c")) ++
      bytesToWords(r.getAs[Array[Byte]]("v")))

  def of(rows: Array[Row], hash: Row => Long): Result =
    Result(rows.length, rows.iterator.map(hash).sum)

  def cells(df: DataFrame): Result = of(df.select("k", "c", "v").collect(), cell)

  /** Rows of long columns, hashed in the given column order. */
  def longs(df: DataFrame, cols: String*): Result =
    of(df.select(cols.map(df.col): _*).collect(),
      r => words(cols.indices.map(r.getLong)))

  /** The same cell digest computed on the executors, for whole stores. */
  def cellsDistributed(df: DataFrame): Result = {
    val (n, s) = df.select("k", "c", "v").rdd
      .map(r => (1L, cell(r)))
      .fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    Result(n, s)
  }
}
