package perfbench

import org.apache.spark.sql.Row

/** Self-test of [[Fingerprint]], run by perfbench/tests/test_derive.py:
  * exits non-zero on the first failed check.
  */
object FingerprintCheck {
  private def check(what: String, ok: Boolean): Unit =
    if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, null, 1.25), Row(3L, "c", -2.0))
      .map(r => Fingerprint.canon(r))
    val base = Fingerprint.ofRows(rows.iterator)
    check("every row order gives one fingerprint",
      rows.permutations.forall(p => Fingerprint.ofRows(p.iterator) == base))
    check("partitions merge to the whole",
      Fingerprint.merge(Fingerprint.ofRows(rows.take(1).iterator),
        Fingerprint.ofRows(rows.drop(1).iterator)) == base)
    check("a duplicated row changes it",
      Fingerprint.ofRows((rows :+ rows.head).iterator) != base)
    check("a changed value changes it",
      Fingerprint.ofRows((rows.tail :+ Fingerprint.canon(Row(1L, "a", 0.75))).iterator) != base)
    check("doubles compare at the oracle's precision",
      Fingerprint.canon(0.1 + 0.2) == Fingerprint.canon(0.3) &&
        Fingerprint.canon(1.0) != Fingerprint.canon(1.0 + 1e-7))
    check("-0.0 is 0.0", Fingerprint.canon(-0.0) == Fingerprint.canon(0.0))
    check("map entries are unordered",
      Fingerprint.canon(Map(1 -> "x", 2 -> "y")) == Fingerprint.canon(Map(2 -> "y", 1 -> "x")))
    check("nested arrays keep their order",
      Fingerprint.canon(Seq(1, 2)) != Fingerprint.canon(Seq(2, 1)))
    println("fingerprint checks passed")
  }
}
