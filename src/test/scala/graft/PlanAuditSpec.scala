package graft

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{broadcast, min, sum}

import graft.queries.Registry

/** Plan-regression gate: PLANS.md documents the plans we want; this spec
  * keeps the load-bearing properties from silently rotting. Every
  * registered query is planned against sf0.001 and its physical plan
  * must never contain a BroadcastNestedLoopJoin or CartesianProduct —
  * the two shapes that mean "a join lost its equi-condition or its
  * broadcast hint" and that detonate at 100× scale.
  *
  * Second gate: broadcast PROVENANCE. A `broadcast()` hint whose subtree
  * reads a fact table is a driver-OOM time bomb — the broadcast side's
  * row count grows with the data (the round-5 q02 bug: broadcasting a
  * per-partkey min over lineitem). The gate walks the optimized logical
  * plan's join hints and fails any broadcast side that scans a fact
  * table with no row-bounding operator (limit / scalar aggregate /
  * 1-row sample bridge) between the scan and the exchange.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("no registered query plans a nested-loop or cartesian join") {
    val offenders = Registry.all.flatMap { q =>
      val plan =
        try q.fn(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
      val bad = Seq("BroadcastNestedLoopJoin", "CartesianProduct").filter(plan.contains)
      if (bad.nonEmpty) Some(s"${q.name}: ${bad.mkString(", ")}") else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Tables whose size grows with the corpus — never broadcastable raw. */
  private val factTables = Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** A leaf that reads a fact table. LogicalRelation's string form omits
    * the path, so inspect the file index directly; cached subtrees
    * (InMemoryRelation) surface the originating FileScan in their
    * physical-plan string, which does carry the location.
    */
  private def isFactScan(leaf: LogicalPlan): Boolean = leaf match {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.exists(p =>
            factTables.exists(t => p.toString.endsWith(s"/$t.parquet")))
        case _ => false
      }
    case _ =>
      val s = leaf.toString
      factTables.exists(t => s.contains(s"/$t.parquet"))
  }

  /** True when `p`'s output is bounded regardless of input size: an
    * explicit limit, or a global (no-key) aggregate — 1 row. Grouped
    * aggregates do NOT bound (|groups| scales with data), which is
    * exactly the q02 failure mode.
    */
  private def bounds(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit => true
    case a: Aggregate if a.groupingExpressions.isEmpty => true
    case _ => false
  }

  /** Does this broadcast-side subtree reach a fact scan without passing
    * a bounding operator on the way down?
    */
  private def unboundedFactSubtree(p: LogicalPlan): Boolean =
    if (bounds(p)) false
    else if (p.children.isEmpty) isFactScan(p)
    else p.children.exists(unboundedFactSubtree) ||
      p.subqueries.exists(unboundedFactSubtree)

  private def broadcastOffences(plan: LogicalPlan): Seq[String] =
    plan.collect { case j: Join =>
      Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
        case (Some(h), side)
            if h.strategy.contains(BROADCAST) && unboundedFactSubtree(side) =>
          s"broadcast of unbounded fact-derived subtree:\n${side.treeString}"
      }
    }.flatten

  test("broadcast provenance detector flags the q02-class bug shape") {
    // Reconstruction of the round-5 q02 defect: a per-key aggregate over
    // lineitem, broadcast back onto lineitem. MUST be caught.
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val agg = li.groupBy("l_partkey").agg(min("l_quantity").as("mq"))
    val bad = li.join(broadcast(agg), "l_partkey")
    assert(broadcastOffences(bad.queryExecution.optimizedPlan).nonEmpty,
      "detector failed to flag a broadcast of a grouped aggregate over lineitem")
    // ...while a bounded derivation (scalar aggregate) is legitimate.
    val scalar = li.agg(sum("l_quantity").as("total"))
    val ok = li.crossJoin(broadcast(scalar))
    assert(broadcastOffences(ok.queryExecution.optimizedPlan).isEmpty,
      "detector wrongly flagged a 1-row scalar-aggregate broadcast")
  }

  test("snapshot_partition_prune plans a non-empty PartitionFilters on bkt") {
    // the pruning evidence used to live only in a PLANS.md line — a
    // regression to a full-version scan would edit a doc and still
    // answer correctly. Pin it here: the scan must carry a partition
    // filter naming the bucket column (planning-time directory
    // pruning, not a row-level Filter after a full scan).
    val q = Registry.all.find(_.name == "snapshot_partition_prune").get
    val plan = q.fn(spark, dir).queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan)
      .map(_.group(1)).getOrElse(fail(s"no PartitionFilters in plan:\n$plan"))
    assert(pf.contains("bkt") && pf.exists(_.isLetter),
      s"partition filter lost its bkt predicate: '$pf'")
  }

  test("snapshot_stats_prune's scan opens strictly fewer files than v1 holds") {
    // same discipline for FILE-level stats skipping: the executed
    // scan's input-file list must be a strict subset of the version's
    // data files — if the sidecar or readAt(…, where) regresses to a full
    // scan, this fails the build (the query's own require fires first
    // in most cases; this pins the plan even if the require is edited).
    val q = Registry.all.find(_.name == "snapshot_stats_prune").get
    val df = q.fn(spark, dir)
    val vdir = new java.io.File(
      graft.queries.LakeOps.lakeBase(dir, "statsprune") + "/v1")
    val total = vdir.listFiles().count(_.getName.endsWith(".parquet"))
    val opened = df.inputFiles.length
    assert(opened > 0 && opened < total,
      s"stats skipping regressed: scan opens $opened of $total files")
  }

  test("snapshot_bloom_prune's scan opens strictly fewer files than v1 holds") {
    // the bloom-sidecar analogue of the stats-prune pin: the executed
    // point-lookup's input-file list must be a strict subset of the
    // version's data files, independently of the query's own requires
    val q = Registry.all.find(_.name == "snapshot_bloom_prune").get
    val df = q.fn(spark, dir)
    val vdir = new java.io.File(
      graft.queries.LakeOps.lakeBase(dir, "bloomprune") + "/v1")
    val total = vdir.listFiles().count(_.getName.endsWith(".parquet"))
    val opened = df.inputFiles.length
    assert(opened > 0 && opened < total,
      s"bloom skipping regressed: scan opens $opened of $total files")
  }

  test("snapshot_optimize_cluster's post-OPTIMIZE scan is file-pruned") {
    // after the clustering rewrite, the same range read must open a
    // strict subset of v2's data files — pinned independently of the
    // query's own requires, like the stats/bloom gates
    val q = Registry.all.find(_.name == "snapshot_optimize_cluster").get
    val df = q.fn(spark, dir)
    val vdir = new java.io.File(
      graft.queries.LakeOps.lakeBase(dir, "optimize") + "/v2")
    val total = vdir.listFiles().count(_.getName.endsWith(".parquet"))
    val opened = df.inputFiles.length
    assert(opened > 0 && opened < total,
      s"OPTIMIZE skipping regressed: scan opens $opened of $total files")
  }

  test("snapshot_multi_prune's scan opens strictly fewer files than v1 holds") {
    // the conjunctive pin: the executed scan's input-file list must be
    // a strict subset of the version's data files AND strictly smaller
    // than what either single term alone would keep — independently of
    // the query's own requires
    val q = Registry.all.find(_.name == "snapshot_multi_prune").get
    val df = q.fn(spark, dir)
    val vdir = new java.io.File(
      graft.queries.LakeOps.lakeBase(dir, "multiprune") + "/v1")
    val total = vdir.listFiles().count(_.getName.endsWith(".parquet"))
    val opened = df.inputFiles.length
    assert(opened > 0 && opened < total,
      s"conjunctive skipping regressed: scan opens $opened of $total files")
  }

  test("snapshot_mor_prune's lookup opens strictly fewer data files than v1") {
    // skipping THROUGH a delete commit: the data-file subset of the
    // lookup's inputs (paths under /v1/) must stay a strict subset —
    // the _deletes sidecar files under /v2/ ride along by design
    val q = Registry.all.find(_.name == "snapshot_mor_prune").get
    val df = q.fn(spark, dir)
    val vdir = new java.io.File(
      graft.queries.LakeOps.lakeBase(dir, "morprune") + "/v1")
    val total = vdir.listFiles().count(_.getName.endsWith(".parquet"))
    val opened = df.inputFiles.count(_.contains("/v1/"))
    assert(opened > 0 && opened < total,
      s"MOR-chain skipping regressed: lookup opens $opened of $total files")
  }

  test("snapshot_partition_evolve plans per-generation partition filters") {
    // layout evolution: BOTH scan branches of the cross-generation read
    // must carry a partition filter on their own generation's key
    val q = Registry.all.find(_.name == "snapshot_partition_evolve").get
    val scans = q.fn(spark, dir).queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(scans.size == 2, s"expected 2 generation scans, got ${scans.size}")
    val keys = scans.map(_.partitionFilters.mkString(" "))
    assert(keys.exists(_.contains("c_bkt")) &&
      keys.exists(_.contains("o_orderpriority")),
      s"a generation lost its own partition filter: $keys")
  }

  test("snapshot_join_prune's fact scan opens strictly fewer files than v1") {
    // dim-driven dynamic file pruning: the fact side's input-file list
    // must stay a strict subset of the version's data files,
    // independently of the query's own requires
    val q = Registry.all.find(_.name == "snapshot_join_prune").get
    val df = q.fn(spark, dir)
    val vdir = new java.io.File(
      graft.queries.LakeOps.lakeBase(dir, "joinprune") + "/v1")
    val total = vdir.listFiles().count(_.getName.endsWith(".parquet"))
    val opened = df.inputFiles.length
    assert(opened > 0 && opened < total,
      s"dim-driven skipping regressed: scan opens $opened of $total files")
  }

  test("snapshot_chain_manifest answers from manifest tables only") {
    // cross-generation metadata-only answering: every input file of
    // the answer plan must be manifest metadata — the tip's own
    // _manifest/ parquet plus the tip's _manifest_chain/ fold (since
    // r19 the 33-generation chain answers from those TWO scans, both
    // under the TIP's directory; a /v1/../v32/ read would mean the
    // fold regressed to the recursive walk) — pinned independently of
    // the query's own requires
    val q = Registry.all.find(_.name == "snapshot_chain_manifest").get
    val files = q.fn(spark, dir).inputFiles
    assert(files.nonEmpty && files.forall(f =>
      f.contains("/_manifest/") || f.contains("/_manifest_chain/")),
      s"chain-manifest answer read a data file: ${files.mkString(", ")}")
    assert(files.forall(_.contains("/v33/")),
      s"a pre-tip generation was scanned — the fold regressed to the " +
        s"recursive walk: ${files.mkString(", ")}")
  }

  test("snapshot_wap_publish leaves main on the audited version, " +
      "no extra version dirs, no leftover bad branch") {
    val q = Registry.all.find(_.name == "snapshot_wap_publish").get
    q.fn(spark, dir).collect()
    val base = graft.queries.LakeOps.lakeBase(dir, "wap")
    assert(graft.ops.SnapshotTable.currentVersion(base).contains(2L),
      "main must end on the published candidate v2")
    assert(graft.ops.SnapshotTable.branches(base) == Seq("audit"),
      "the failed candidate's branch must be gone, the audit ref kept")
    assert(graft.ops.SnapshotTable.versions(base) == Seq(1L, 2L, 3L),
      "publish must add no version dirs beyond the two candidates")
  }

  test("snapshot_orphan_gc reclaims only the dropped-branch version") {
    val q = Registry.all.find(_.name == "snapshot_orphan_gc").get
    q.fn(spark, dir).collect()
    val base = graft.queries.LakeOps.lakeBase(dir, "orphangc")
    assert(graft.ops.SnapshotTable.versions(base) == Seq(1L, 2L),
      "GC must keep exactly main's v1 and the live branch's v2")
    assert(graft.ops.SnapshotTable.branchVersion(base, "wip").contains(2L),
      "the live branch lost its head")
  }

  test("ann_ivf_rebalance rewrites only the hot cell's partitions") {
    // the rebalance chain's file layout, pinned from disk after the
    // query runs: the tombstone commit carries zero data files and the
    // append generation lands in at most two cell partitions
    val q = Registry.all.find(_.name == "ann_ivf_rebalance").get
    q.fn(spark, dir).collect()
    val base = graft.queries.LakeOps.lakeBase(dir, "ann_ivf_rebal")
    val v2Top = new java.io.File(s"$base/v2").listFiles().map(_.getName).toSet
    assert(v2Top == Set("_base", "_deletes", "_names"),
      s"the cell tombstone grew data files: $v2Top")
    def parquets(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(parquets).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val v3 = new java.io.File(s"$base/v3")
    assert(parquets(v3) <= 2,
      s"the rebalance delta spilled beyond two cells: ${parquets(v3)} files")
    val cellDirs = v3.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cell=")).sorted
    assert(cellDirs.length == 2,
      s"expected exactly the two split cells, got ${cellDirs.mkString(", ")}")
  }

  test("snapshot_incremental_optimize leaves a two-generation chain " +
      "whose folded generation holds only the delta rows") {
    val q = Registry.all.find(_.name == "snapshot_incremental_optimize").get
    q.fn(spark, dir).collect()
    val base = graft.queries.LakeOps.lakeBase(dir, "incropt")
    val tip = graft.ops.SnapshotTable.currentVersion(base).get
    assert(graft.ops.SnapshotTable.chainOf(base, tip) == Seq(tip, 1L),
      "the optimize must rebase onto the original base v1")
    val even = spark.read.parquet(s"$base/v1").count()
    val folded = spark.read.parquet(s"$base/v$tip").count()
    assert(folded > 0 && folded < even + folded,
      s"folded generation holds $folded rows")
    // the base generation's file set is byte-identical (never rewritten)
    val v1Files = new java.io.File(s"$base/v1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(v1Files == 8, s"base generation drifted to $v1Files files")
  }

  test("streaming_append_ingest lands every epoch exactly once, then folds") {
    val q = Registry.all.find(_.name == "streaming_append_ingest").get
    q.fn(spark, dir).collect()
    val base = graft.queries.LakeOps.lakeBase(dir, "appendtable")
    val tip = graft.ops.SnapshotTable.currentVersion(base).get
    assert(graft.ops.SnapshotTable.chainOf(base, tip) == Seq(tip, 1L),
      "post-optimize chain must be seed + folded generation")
    assert(graft.ops.SnapshotTable.readMeta(base, tip)
      .get("epoch").contains("3"), "epoch high-water mark lost")
    // the pre-optimize generations are still on disk (retention's
    // call, not optimize's) and carry epochs 0..3 exactly once
    val epochs = graft.ops.SnapshotTable.versions(base)
      .flatMap(v => graft.ops.SnapshotTable.readMeta(base, v).get("epoch"))
    assert(epochs.map(_.toLong).sorted == Seq(0L, 1L, 2L, 3L, 3L),
      s"epochs on disk: $epochs (0..3 from ingest + the folded 3)")
  }

  test("no registered query broadcasts an unbounded fact-derived subtree") {
    val offenders = Registry.all.flatMap { q =>
      val plan =
        try q.fn(spark, dir).queryExecution.optimizedPlan
        catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
      broadcastOffences(plan).map(o => s"${q.name}: $o")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
