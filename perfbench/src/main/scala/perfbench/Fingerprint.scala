package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a query result: row count plus the sum
  * (mod 2^64) of a 64-bit hash per row, so partitioning and row order do
  * not change it, while a changed, lost or duplicated row does.
  *
  * Floating-point values are canonicalised to nine significant digits, the
  * relative tolerance (1e-9) the DuckDB oracle compare uses: a double
  * aggregate whose last bits depend on the summation order still
  * fingerprints the same.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0" // folds -0.0 into 0.0
    else String.format(java.util.Locale.ROOT, "%.8e", Double.box(d))

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x2f2d5c8b).toLong & 0xffffffffL)

  /** Fold canonical rows into a fingerprint; any order gives the same one. */
  def ofRows(rows: Iterator[String]): Fp =
    rows.foldLeft(Fp(0L, 0L))((acc, r) => Fp(acc.rows + 1, acc.hash + rowHash(r)))

  def merge(a: Fp, b: Fp): Fp = Fp(a.rows + b.rows, a.hash + b.hash)

  /** Fingerprint of `df`, computed per partition; the schema is part of it. */
  def of(df: DataFrame): Fp = {
    val rows = df.rdd
      .mapPartitions(it => Iterator(ofRows(it.map(r => canon(r)))))
      .fold(Fp(0L, 0L))(merge)
    merge(rows, Fp(0L, rowHash(df.schema.simpleString)))
  }
}
