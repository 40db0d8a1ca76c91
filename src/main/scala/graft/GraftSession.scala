package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the mains ([[Bench]], [[Verify]],
  * [[PlanDump]]) run on. Each main picks its own core count; everything
  * else is shared, so a query measured by Bench plans and reads exactly
  * as Verify checks it. Built with `getOrCreate`, so a second call in
  * the same JVM reuses the running session. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long, convert in Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write µs (not INT96) so DuckDB reads the same values it emits
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      // the in-memory status stores (AppStatusListener + SQL listener run
      // even with the UI off) retain up to 100k task rows + 1000
      // executions by default — across ~100 queries × 3 reps that is
      // hundreds of MB of old-gen listener state and per-event CPU,
      // which inflates every LATER query's floor (r11: q_w_sessions
      // 5.25 s official vs 0.51 s isolated). Nothing reads them; keep
      // only a diagnostic sliver.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.retainedDeadExecutors", "5")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.appStateStore.asyncTracking.enable", "true")
      // local-mode choice: the checksummed LocalFileSystem forks an
      // external process per getFileStatus AND shadows every file with a
      // .crc twin — pure overhead locally (a real deployment reads
      // HDFS/S3, where this config is moot)
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      // graft_* SQL functions + SQL DML (MERGE/UPDATE/DELETE) rule
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
