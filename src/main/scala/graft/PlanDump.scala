package graft

import org.apache.spark.sql.SparkSession

/** Plan-evidence dumper for the optimization rounds: writes the
  * `.explain("formatted")` output of each named registry query's FINAL
  * frame — taken after execution, so it is the final adaptive plan,
  * not the initial one — to `<outDir>/<query>_<suffix>.txt`, prefixed
  * with the total
  * Spark job count observed while BUILDING and EXECUTING the query
  * (the number that captures eager commit/maintenance work the final
  * frame's plan cannot show). Session shape and CPU default mirror
  * graft.Bench so the dumped plans are the plans the bench actually
  * runs; the cache is cleared between queries, as Bench does.
  *
  * Usage: tools/run.sh graft.PlanDump <outDir> <suffix> <query>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(outDir)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      })
    for (name <- names) {
      val before = jobCount.get()
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener events are async: drain the bus before reading the count
      org.apache.spark.graftbridge.BusBridge.drain(spark.sparkContext)
      val jobs = jobCount.get() - before
      val body =
        s"# $name ($suffix)\n" +
          f"# total Spark jobs during build+execute: $jobs%d\n" +
          f"# wall seconds (single cold pass, incl. plan dump): $sec%.2f\n\n" +
          plan
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), body)
      System.err.println(f"[plandump] $name: $jobs%d jobs, $sec%.2fs")
    }
    spark.stop()
  }
}
