package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable
import graft.plans.SnapshotJoinPrune

/** The planner-level dim-driven bloom prune ([[graft.plans.SnapshotJoinPrune]]):
  * the rewrite fires only on the exact safe shape — bloom-carrying
  * snapshot scan, plan-time LocalRelation dim, equi-join — and every
  * near-miss leaves the plan byte-equivalent (the rewrite is an
  * optimization, never a semantic dependency). The happy-path
  * file-count/oracle evidence lives in the snapshot_join_prune_rule
  * gate; this spec pins the guard rails.
  */
class SnapshotJoinPruneSpec extends SparkSpec {

  private lazy val iso = SnapshotJoinPrune.installIsolated(spark)

  private def freshDir(): String =
    Files.createTempDirectory("graft_sjp").toString + "/t"

  private def plannedFiles(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.relation.location.inputFiles.length
    }.sum

  test("the rule prunes a bloom-carrying snapshot scan to the survivors") {
    import iso.implicits._
    val dir = freshDir()
    val v = SnapshotTable.commit(
      iso.range(4000).toDF("k").withColumn("x", $"k" * 3)
        .repartitionByRange(8, $"k"),
      dir, expectedVersion = SnapshotTable.ExpectEmpty, bloomCols = Seq("k"))
    val keys = Seq(5L, 3999L)
    val dim = keys.toDF("k")
    val joined = SnapshotTable.readAt(iso, dir, v)
      .join(dim, Seq("k"), "left_semi")
    val (kept, total) = SnapshotTable.pruneFiles(iso, dir, v,
      Seq(SnapshotTable.InPredicate("k", keys)))
    assert(kept.size < total, "fixture must be prunable")
    assert(plannedFiles(joined) == kept.size,
      "the plain join must plan exactly the bloom survivor list")
    // the rewrite is answer-invariant
    assert(joined.select($"k", $"x").as[(Long, Long)].collect().toSet
      == keys.map(k => (k, k * 3)).toSet)
  }

  test("near-misses leave the plan untouched") {
    import iso.implicits._
    // (a) a snapshot version WITHOUT a bloom sidecar
    val noBloom = freshDir()
    val v1 = SnapshotTable.commit(
      iso.range(1000).toDF("k").repartitionByRange(4, $"k"), noBloom,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val j1 = SnapshotTable.readAt(iso, noBloom, v1)
      .join(Seq(7L).toDF("k"), Seq("k"), "left_semi")
    assert(plannedFiles(j1) == 4, "a bloom-less scan must not be rewritten")
    assert(j1.count() == 1)
    // (b) a plain parquet directory that is not a snapshot version
    val plain = Files.createTempDirectory("graft_sjp_plain").toString + "/d"
    iso.range(1000).toDF("k").repartition(4).write.parquet(plain)
    val j2 = iso.read.parquet(plain)
      .join(Seq(7L).toDF("k"), Seq("k"), "left_semi")
    assert(plannedFiles(j2) == 4, "a non-snapshot scan must not be rewritten")
    // (c) a dim bigger than the needle bound
    val big = freshDir()
    val v2 = SnapshotTable.commit(
      iso.range(2000).toDF("k").repartitionByRange(4, $"k"), big,
      expectedVersion = SnapshotTable.ExpectEmpty, bloomCols = Seq("k"))
    val bigDim = (0L to SnapshotJoinPrune.MaxDimKeys.toLong).toDF("k")
    val j3 = SnapshotTable.readAt(iso, big, v2)
      .join(bigDim, Seq("k"), "left_semi")
    assert(plannedFiles(j3) == 4,
      "an over-bound dim is not a needle lookup — keep the shuffle join")
    // (d) a DATE-typed key: the LocalRelation's internal int would
    // canonicalize differently from the bloom build side (ISO string)
    // — pruning would be a silent false negative, so the rule must
    // refuse and keep the full scan
    val dated = freshDir()
    val v3 = SnapshotTable.commit(
      iso.range(1000).toDF("k")
        .withColumn("d", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          ($"k" % 50).cast("int")))
        .repartitionByRange(4, $"d"),
      dated, expectedVersion = SnapshotTable.ExpectEmpty,
      bloomCols = Seq("d"))
    val dateDim = Seq(java.sql.Date.valueOf("2024-01-05")).toDF("d")
    val j4 = SnapshotTable.readAt(iso, dated, v3)
      .join(dateDim, Seq("d"), "left_semi")
    assert(plannedFiles(j4) == 4,
      "a date-keyed dim must not be plan-time pruned (internal-form " +
        "mismatch would silently drop matching files)")
    assert(j4.count() == 20)
  }

  test("install is isolated: the parent session never rewrites") {
    import spark.implicits._
    val dir = freshDir()
    val v = SnapshotTable.commit(
      spark.range(2000).toDF("k").repartitionByRange(4, $"k"), dir,
      expectedVersion = SnapshotTable.ExpectEmpty, bloomCols = Seq("k"))
    val j = SnapshotTable.readAt(spark, dir, v)
      .join(Seq(7L).toDF("k"), Seq("k"), "left_semi")
    assert(plannedFiles(j) == 4,
      "the rule leaked into the parent session's planner")
  }
}
