package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One metric of the benchmark's catalog. `better` is "lower" or "higher". */
final case class MetricDef(name: String, unit: String, better: String)

/** Every metric the benchmark emits. The end-to-end metrics apply to every
  * workload; per-layer metrics of a layer a workload does not use read 0
  * there. BENCHMARK.json lists the same names and units. */
object Catalog {
  private def lower(n: String, u: String) = MetricDef(n, u, "lower")
  private def higher(n: String, u: String) = MetricDef(n, u, "higher")

  val endToEnd: Seq[MetricDef] = Seq(
    lower("setup_s", "s"),
    lower("op_cpu_s", "s"),
    lower("retained_heap_mb", "MB"))

  /** Spark counters the tracer charges to a span (see [[Counters]]). */
  val counterUnits: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "executor_run_ms" -> "ms", "gc_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes")

  val perLayer: Seq[MetricDef] =
    Seq(lower("pipeline.source_s", "s"), lower("pipeline.process_s", "s")) ++
    Seq("source", "process").flatMap(s => counterUnits.map { case (c, u) =>
      lower(s"pipeline.$s.$c", u) }) ++
    Seq(
      lower("tables.commit.files_added", "count"),
      lower("tables.commit.files_removed", "count"),
      lower("tables.commit.bytes_added", "bytes"),
      lower("tables.commit.rows_added", "count"),
      lower("tables.live_files", "count"),
      lower("tables.write_amp", "ratio"),
      lower("tables.snapshot_s", "s"),
      lower("tables.read.point_s", "s"),
      lower("tables.read.equals_s", "s"),
      lower("tables.read.partition_s", "s"),
      lower("tables.read.timetravel_s", "s"),
      lower("tables.read.fastcount_s", "s"),
      lower("tables.read.jobs", "count"),
      lower("tables.read.files_per_lookup", "count"),
      lower("tables.read.rows_scanned_per_row_returned", "ratio"),
      lower("tables.read_s_p50", "s"),
      lower("tables.read_s_tail", "s"),
      lower("watermark.last_value_s", "s"),
      lower("log.files_written", "count"),
      lower("ops.minhash_s", "s"),
      lower("ops.groups_s", "s"),
      lower("ops.minhash.jobs", "count"),
      lower("ops.minhash.shuffle_bytes", "bytes"),
      lower("ops.groups.jobs", "count"),
      lower("ops.groups.shuffle_bytes", "bytes"),
      higher("ops.pair_yield", "ratio"),
      higher("ops.recall", "ratio"),
      lower("trace.overhead_ratio", "ratio"))
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile of a fixed ladder with at least ten samples
    * beyond it, as (percentile, value, samples beyond). With fewer than
    * 20 samples no percentile qualifies and the median is returned. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100), (n * (1 - p / 100)).toInt)
  }
}

/** What a run measured, filled in by the workload and the loop. */
final class Recorder {
  val opSeconds = mutable.ArrayBuffer.empty[Double]
  val cpuSeconds = mutable.ArrayBuffer.empty[Double]
  val opTraced = mutable.ArrayBuffer.empty[Boolean]
  val readSeconds = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  private val sums = mutable.LinkedHashMap.empty[String, Double]

  def add(key: String, v: Double): Unit = sums(key) = sums.getOrElse(key, 0.0) + v
  def sum(key: String): Double = sums.getOrElse(key, 0.0)
  def set(key: String, v: Double): Unit = sums(key) = v

  /** Times one op: appends its wall seconds to [[opSeconds]], and the CPU
    * seconds every thread of the JVM spent over it (tasks, driver, GC) to
    * [[cpuSeconds]]. */
  def timeOp[T](body: => T): T = {
    val c0 = Recorder.os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    opSeconds += (System.nanoTime() - t0) / 1e9
    cpuSeconds += (Recorder.os.getProcessCpuTime - c0) / 1e9
    r
  }

  /** Plan-level scan counters of an executed read: (files read, rows the
    * scan produced) summed over its file-scan nodes. */
  def scanCounts(df: DataFrame): (Long, Long) = {
    val scans = Recorder.PlanWalk.scans(df.queryExecution.executedPlan)
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      collect(p) { case s: FileSourceScanExec => s }
  }
}

/** One benchmark workload. `setup` generates the inputs from the seed and
  * runs the initial load; `runOp` performs one closed-loop op and returns
  * the oracle mismatches it found (empty when correct). */
trait Workload {
  def setup(): Unit
  def runOp(op: Int, tr: Tracer, rec: Recorder): Seq[String]
  def finalCheck(): Seq[String]
  /** Free-form facts for the run report (sizes, recall, …). */
  def facts: Seq[(String, String)] = Nil
}

object Workload {
  def names: Seq[String] = Seq("cdc_merge", "scd2_snapshot", "corpus_dedup")

  def apply(name: String, spark: SparkSession, root: String, seed: Long,
      scale: Double): Workload = name match {
    case "cdc_merge"     => new CdcMerge(root, seed, scale)(spark)
    case "scd2_snapshot" => new Scd2Snapshot(root, seed, scale)(spark)
    case "corpus_dedup"  => new CorpusDedup(root, seed, scale)(spark)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** Bytes of the data files under a directory tree. */
  def treeBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += f.getLen
    }
    n
  }

  /** Data files under a directory tree (0 when it does not exist). */
  def treeFiles(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  /** One slice, shared by the two ingest workloads: the slice's source
    * (transform chain, stats), then the strategy's write. */
  def ingest(p: graft.pipeline.Processing, tr: Tracer): graft.pipeline.ProcessingSummary = {
    tr.span("pipeline.source")(p.sliceStats)
    tr.span("pipeline.process")(p.process())
  }

  /** Metadata for one ingest entity, rooted at `root`. */
  def metadata(root: String, entityJson: String): graft.metadata.Metadata =
    graft.metadata.Metadata.fromJson(s"""{
      "environment": { "name": "perfbench", "root_folder": "$root",
        "settings": { "log_path": "$${root_folder}/log" } },
      "connections": [ { "name": "bench" } ],
      "entities": [ $entityJson ] }""")

  /** The silver table's current snapshot, resolved on a fresh handle. */
  def snapshot(spark: SparkSession, md: graft.metadata.Metadata,
      e: graft.metadata.Entity, tr: Tracer)
      : (graft.tables.ManagedTable, graft.tables.Manifest) =
    tr.span("tables.snapshot") {
      val t = graft.tables.ManagedTable.forLocation(spark, md.silverLocation(e))
      (t, t.manifest.get)
    }

  /** After an ingest op and outside its timing: reads the commit's metrics
    * from history and adds the commit counters, the live files and the
    * bronze bytes for write amplification. */
  def commitCounters(spark: SparkSession, md: graft.metadata.Metadata,
      table: graft.tables.ManagedTable, m: graft.tables.Manifest, tr: Tracer,
      rec: Recorder, sliceBytes: Long, logFilesBefore: Long): Unit = {
    val h = tr.span("tables.history")(table.history().head)
    rec.add("tables.commit.files_added", h.metrics.getOrElse("filesAdded", 0L).toDouble)
    rec.add("tables.commit.files_removed", h.metrics.getOrElse("filesRemoved", 0L).toDouble)
    rec.add("tables.commit.bytes_added", h.metrics.getOrElse("bytesAdded", 0L).toDouble)
    rec.add("tables.commit.rows_added", h.metrics.getOrElse("rowsAdded", 0L).toDouble)
    rec.add("commits", 1)
    rec.add("bronze_bytes", sliceBytes.toDouble)
    rec.set("tables.live_files", m.files.size.toDouble)
    rec.add("log.files_written",
      (treeFiles(spark, s"${md.environment.rootFolder}/log") - logFilesBefore).toDouble)
  }
}
