package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds; `parent` is the id of
  * the span that caused this one (-1 for none); `query` is the id of the
  * query span the work belongs to (-1 outside any query).
  */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, query: Long, pass: Int)

/** Spans and counters of the traced run, kept in memory and written when the
  * run ends. Everything is recorded from outside the engine: Spark's
  * listener interfaces, the engine's public counters, and the table
  * directories: `tableRoots` are the lake root and the temp dir, where the
  * streaming gates keep their state tables.
  */
final class Trace(tableRoots: Seq[String]) extends AdaptiveSparkPlanHelper {
  /** Local property naming the query span a Spark job runs under. */
  val QueryProp = "perfbench.query"

  @volatile var pass = 0
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.Map.empty[Int, (Double, Long)]

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def newId(): Long = synchronized { nextId += 1; nextId }

  def span(name: String, start: Double, end: Double, parent: Long, query: Long,
      id: Long = newId()): Unit =
    synchronized { spans += Span(id, name, start, end, parent, query, pass) }

  /** Take the counters gathered since the last call. */
  def takeCounters(): Map[String, Double] = synchronized {
    val out = counters.toMap
    counters.clear()
    out
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val q = Option(e.properties).flatMap(p => Option(p.getProperty(QueryProp)))
        .map(_.toLong).getOrElse(-1L)
      Trace.this.synchronized { jobStarts(e.jobId) = (e.time.toDouble, q) }
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Trace.this.synchronized(jobStarts.remove(e.jobId)).foreach { case (t0, q) =>
        span("job", t0, e.time.toDouble, q, q)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (e.reason != Success) add("spark.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.task_gc_s", m.jvmGCTime / 1e3)
        // Spark's UI formula: task wall time not spent running, (de)serialising
        // or fetching the result
        val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        add("spark.sched_delay_s", math.max(0L, delay) / 1e3)
        val sr = m.shuffleReadMetrics
        add("spark.shuffle_read_mb", (sr.remoteBytesRead + sr.localBytesRead) / 1e6)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("spark.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }

  /** Catalyst phase times and lake scan counts of one executed query. */
  def recordPlan(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"plans.${phase}_s", s.durationMs / 1e3)
    }
    val roots = tableRoots.map(Paths.get(_).toUri.toString.stripSuffix("/"))
    def scans(p: SparkPlan) = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    scans(qe.executedPlan).foreach { s =>
      val onLake = s.relation.location.rootPaths.map(_.toUri.toString)
        .exists(p => roots.exists(p.startsWith))
      if (onLake) s.metrics.get("numFiles").foreach(m => add("lake.files_scanned", m.value.toDouble))
    }
  }

  /** Actions the query functions run while building their frame. */
  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.batch_s", ms("triggerExecution") / 1e3)
      add("streaming.add_batch_s", ms("addBatch") / 1e3)
      add("streaming.commit_log_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
    }
  }

  /** Every file (size, mtime) and directory (mtime) under the table roots. */
  def lakeTree(): Trace.Tree = Trace.tree(tableRoots.map(Paths.get(_)))

  /** Count commits, writes and deletes of a query that began at `sinceMs`.
    * A file or version directory counts as written when it is new or its
    * mtime is not older than the query: queries that delete and recreate a
    * table rewrite the same paths.
    */
  def recordLakeDiff(before: Trace.Tree, after: Trace.Tree, sinceMs: Double): Unit = {
    def fresh[V](m: Map[String, V], prev: Map[String, V], mtime: V => Long) =
      m.filter { case (p, v) => !prev.contains(p) || mtime(v) >= sinceMs }
    val written = fresh(after.files, before.files, (v: (Long, Long)) => v._2)
    add("lake.files_written", written.size.toDouble)
    add("lake.mb_written", written.values.map(_._1).sum / 1e6)
    add("lake.files_deleted", before.files.keySet.diff(after.files.keySet).size.toDouble)
    val version = "v[0-9]+".r
    add("lake.commits", fresh(after.dirs, before.dirs, (t: Long) => t).keys
      .count(d => version.matches(Paths.get(d).getFileName.toString)).toDouble)
  }

  /** The listeners are registered for the traced passes only, so an
    * untraced pass pays none of their cost.
    */
  def install(sc: SparkContext, spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamingListener)
  }

  def uninstall(sc: SparkContext, spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamingListener)
  }
}

object Trace {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6

  final case class Tree(files: Map[String, (Long, Long)], dirs: Map[String, Long])

  def tree(roots: Seq[Path]): Tree = {
    val files = mutable.Map.empty[String, (Long, Long)]
    val dirs = mutable.Map.empty[String, Long]
    roots.filter(Files.exists(_)).foreach { root =>
      val it = Files.walk(root)
      try it.forEach { p =>
        try {
          val t = Files.getLastModifiedTime(p).toMillis
          if (Files.isDirectory(p)) dirs(p.toString) = t
          else files(p.toString) = (Files.size(p), t)
        } catch { case _: java.io.IOException => () } // deleted while walking
      } finally it.close()
    }
    Tree(files.toMap, dirs.toMap)
  }

  def bytesUnder(root: Path): Long = tree(Seq(root)).files.values.map(_._1).sum
}
