package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's JVM side, driven by `perfbench/run.py`.
  *
  *   Harness setup <config.json>   build the session, load the registry, exit
  *   Harness run   <config.json>   the same, then the timed passes
  *
  * Both print `READY` on stdout once the session is up and the query
  * registry is loaded; run.py times process start to that line. A run
  * then makes one cold pass and warm passes until they have taken `seconds`
  * (at least two warm passes, five when traced), each query timed as `fn(spark, dir)` (build)
  * plus `queryExecution.toRdd.count()` (execute) on the one client thread.
  * After the timed passes, untimed: the lake size, the host probe, the
  * fingerprint of every query's result from the last pass and, in a traced
  * run, direct timings of the source readers. Everything goes to `out` as JSON.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The session settings of `graft.Bench`, so the numbers price what Bench
    * and Verify run.
    */
  def session(cpus: Int, warehouseDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class QueryRun(name: String, build_s: Double, exec_s: Double,
      ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val Array(mode, configPath) = args
    val cfg = mapper.readTree(Files.readAllBytes(Paths.get(configPath)))
    val spark = session(cfg.get("cpus").asInt, cfg.get("warehouse_dir").asText)
    val registry = graft.SparkEntry.queries
    println("READY")
    System.out.flush()
    val code =
      try { if (mode == "run") run(spark, registry, cfg); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally spark.stop()
    // a thread a query left behind must not keep the JVM alive
    sys.exit(code)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def strings(n: JsonNode): Vector[String] = n.elements.asScala.map(_.asText).toVector

  def run(spark: SparkSession, registry: Map[String, (SparkSession, String) => DataFrame],
      cfg: JsonNode): Unit = {
    val sfDir = cfg.get("sf_dir").asText
    val lakeDir = cfg.get("lake_dir").asText
    val names = strings(cfg.get("queries"))
    val seconds = cfg.get("seconds").asDouble
    val traced = cfg.get("trace").asBoolean
    val fns = names.map(n => n -> registry(n))
    val sc = spark.sparkContext
    val trace = new Trace(Seq(lakeDir, System.getProperty("java.io.tmpdir")))

    def clearCache(): Unit =
      try spark.catalog.clearCache() catch { case NonFatal(_) => () }

    def jvmCounters(): Map[String, Double] = Map(
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum / 1e3,
      "jvm.jit_compile_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      "plans.codegen_compile_s" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
      "plans.codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "streaming.merge_conflicts" -> graft.streaming.Streaming.mergeConflictCount.get.toDouble)

    val lastFrames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

    def oneQuery(name: String, fn: (SparkSession, String) => DataFrame, on: Boolean): QueryRun = {
      val lakeBefore = if (on) trace.lakeTree() else null
      val qid = if (on) trace.newId() else -1L
      sc.setLocalProperty(trace.QueryProp, qid.toString)
      var df: DataFrame = null
      val q0 = Trace.nowMs
      var b1 = q0
      val error =
        try {
          df = fn(spark, sfDir)
          b1 = Trace.nowMs
          df.queryExecution.toRdd.count()
          null
        } catch { case NonFatal(e) => describe(e) }
      val e1 = Trace.nowMs
      if (df == null) b1 = e1
      if (sc.isStopped)
        throw new IllegalStateException(s"SparkContext died during $name")
      sc.setLocalProperty(trace.QueryProp, null)
      if (on) {
        trace.span("query:" + name, q0, e1, -1, -1, qid)
        trace.span("build", q0, b1, qid, qid)
        trace.span("execute", b1, e1, qid, qid)
        if (error == null) trace.recordPlan(df.queryExecution)
        trace.recordLakeDiff(lakeBefore, trace.lakeTree(), q0)
      }
      clearCache()
      lastFrames(name) = if (error == null) df else null
      QueryRun(name, (b1 - q0) / 1e3, (e1 - b1) / 1e3, error == null, error)
    }

    def onePass(index: Int, on: Boolean): Map[String, Any] = {
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        trace.takeCounters()
        trace.pass = index
        if (on) trace.install(sc, spark)
      }
      val before = jvmCounters()
      val p0 = Trace.nowMs
      val runs = fns.map { case (n, fn) => oneQuery(n, fn, on) }
      val p1 = Trace.nowMs
      val counters =
        if (!traced) Map.empty[String, Double]
        else {
          org.apache.spark.PerfbenchBus.drain(sc)
          if (on) {
            trace.uninstall(sc, spark)
            trace.span("pass", p0, p1, -1, -1)
          }
          val after = jvmCounters()
          trace.takeCounters() ++ after.map { case (k, v) => k -> (v - before(k)) }
        }
      Map("index" -> index, "traced" -> on, "wall_s" -> (p1 - p0) / 1e3,
        "queries" -> runs, "counters" -> counters)
    }

    // cold pass, then warm passes until the time is up. A traced run traces
    // the cold pass, leaves the first warm pass untraced (the JIT is still
    // settling in it), then traces the next ones in the pattern traced,
    // untraced, untraced, traced: one run gives both the per-layer counters
    // and the tracing overhead, unbiased by the drift that is left.
    val minWarm = if (traced) 5 else 2
    def tracedPass(i: Int) = traced && (i == 0 || (i >= 2 && Set(0, 3)((i - 2) % 4)))
    val passes = Vector.newBuilder[Map[String, Any]]
    passes += onePass(0, tracedPass(0))
    val t0 = System.nanoTime()
    var i = 1
    while (i <= minWarm || (System.nanoTime() - t0) / 1e9 < seconds) {
      passes += onePass(i, tracedPass(i))
      i += 1
    }
    // the heap the timed passes leave alive, untimed. The first collection
    // hands dead broadcasts, shuffles and accumulators to Spark's cleaner
    // thread, which releases what they hold; the second frees that. With one
    // collection the figure moved by 50 MB from run to run.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val retainedHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val lakeBytes = Trace.bytesUnder(Paths.get(lakeDir))

    // raw host probe: q01 five times, the first two dropped (JIT warm-up)
    val probe = (1 to 5).map { _ =>
      val t = System.nanoTime()
      registry(graft.Bench.ProbeQuery)(spark, sfDir).queryExecution.toRdd.count()
      clearCache()
      (System.nanoTime() - t) / 1e9
    }

    // the check: each query's result as its last timed pass returned it,
    // re-executed (not rebuilt) outside the timed region
    val fingerprints = lastFrames.map { case (n, df) =>
      val fp: Map[String, Any] =
        if (df == null) Map("error" -> "no result: the query failed in the last pass")
        else try {
          val f = Fingerprint.of(df)
          Map("rows" -> f.rows, "hash" -> f.hex)
        } catch { case NonFatal(e) => Map("error" -> describe(e)) }
      clearCache()
      n -> fp
    }.toMap

    val sources = if (traced) Sources.time(spark, cfg) else Map.empty[String, Double]
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    val out = Map(
      "passes" -> passes.result(),
      "lake_bytes" -> lakeBytes,
      "probe_raw_s" -> probe,
      "vm_hwm_kb" -> vmHwmKb(),
      "heap_peak_mb" -> heapPeakMb,
      "retained_heap_mb" -> retainedHeapMb,
      "fingerprints" -> fingerprints,
      "sources" -> sources,
      "spans" -> trace.spans.toVector)
    mapper.writeValue(new java.io.File(cfg.get("out").asText), out)
  }

  /** Peak resident set size of this JVM (VmHWM), in KiB. */
  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)
}
