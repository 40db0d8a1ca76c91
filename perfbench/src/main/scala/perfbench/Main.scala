package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Benchmark entry point: one workload, one seed, one closed loop with a
  * single client for `--seconds`, on `local[k]`.
  *
  * {{{
  * perfbench.Main --workload cdc_merge --seed 1 --seconds 15 --trace 0
  *   --root <scratch dir> [--spans <file>] [--commit <id>]
  * }}}
  *
  * k is min(4, nproc).
  * The last stdout line is the result: `correct`, `attempted`, `failed`
  * and `metrics` (end-to-end metrics untraced, per-layer metrics traced).
  * A human-readable report and a `PERFBENCH_DETAIL` JSON line go to
  * stderr. Exit code 0 only when every op and the final state were
  * correct. */
object Main {

  /** Warm-up runs at least [[MinWarmUpOps]] ops, untimed, and ends once
    * op times level off: the last [[LevelOps]] ops lie within
    * [[LevelSpread]] of each other. It ends at a JVM age of
    * [[MaxWarmUpMillis]] whether or not they have levelled off, so a run
    * stays within its time budget. */
  val MinWarmUpOps = 3
  val LevelOps = 3
  val LevelSpread = 0.10
  val MaxWarmUpMillis = 30000L

  def levelled(xs: Seq[Double]): Boolean =
    xs.size >= LevelOps && {
      val last = xs.takeRight(LevelOps)
      last.max <= last.min * (1 + LevelSpread)
    }

  /** Set-ups per run; their median is `setup_s`. */
  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String, cpus: Int, scale: Double,
      spans: Option[String], commit: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("root"),
      math.min(4, Runtime.getRuntime.availableProcessors()), 1.0,
      kv.get("spans"), kv.getOrElse("commit", "unknown"))
  }

  /** Stray graft JVMs and other benchmark runs on this host. The stray
    * check is the one `graft.Bench` runs before it measures: orphaned
    * crash-fuzz children steal cores and inflate every number. Flagged,
    * never killed. */
  def preflight(): (Seq[String], Seq[String]) = {
    val self = ProcessHandle.current().pid()
    val procs = ProcessHandle.allProcesses().iterator().asScala
      .filter(_.pid() != self)
      .flatMap { p =>
        val cl = p.info().commandLine()
        if (cl.isPresent) Iterator((p.pid(), cl.get)) else Iterator.empty
      }.toList
    val strays = procs.filter { case (_, cl) =>
      cl.contains("java") && (cl.contains("graft.tables.Crash") ||
        cl.contains("graft.streaming.Crash") ||
        cl.contains("graft.tables.CrossProcess")) }
    val benches = procs.filter { case (_, cl) =>
      cl.contains("java") && cl.contains("perfbench.Main") }
    (strays.map(p => s"pid=${p._1}"), benches.map(p => s"pid=${p._1}"))
  }

  /** The session `graft.Bench` uses, with every scratch path under `root`. */
  def session(root: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      // the status stores keep old jobs and tasks; cap them so retained
      // heap does not grow with the number of ops a run completes
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.retainedDeadExecutors", "5")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.appStateStore.asyncTracking.enable", "true")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch { case e: Exception =>
      System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2) }
    if (!Workload.names.contains(a.workload)) {
      System.err.println(s"perfbench: unknown workload '${a.workload}'"); sys.exit(2)
    }
    val (strays, benches) = preflight()
    strays.foreach(s => System.err.println(
      s"PERFBENCH_PREFLIGHT stray graft JVM $s: timings may be inflated"))
    benches.foreach(s => System.err.println(
      s"PERFBENCH_PREFLIGHT another benchmark JVM $s: timings may be inflated"))
    val spark = session(a.root, a.cpus)
    val code = try run(spark, a, strays, benches) finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, a: Args, strays: Seq[String],
      benches: Seq[String]): Int = {
    // set up several times and keep the last; the median is setup_s
    val setupSeconds = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    (1 to Setups).foreach { r =>
      if (r > 1) deleteTree(spark, s"${a.root}/setup${r - 1}")
      w = Workload(a.workload, spark, s"${a.root}/setup$r", a.seed, a.scale)
      val t0 = System.nanoTime()
      w.setup()
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def attempt(op: Int, rec: Recorder): Unit = {
      attempted += 1
      val errs =
        try w.runOp(op, tracer, rec)
        catch { case e: Exception => Seq(s"op $op: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (errs.nonEmpty) { failed += 1; errors ++= errs }
      // as graft.Bench does between reps: collect now, outside any timed
      // section, so the ContextCleaner reclaims the op's broadcasts and
      // shuffle files before the next op instead of during it
      System.gc()
      Thread.sleep(50)
    }
    // warm-up ops are checked but not timed
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val warm = new Recorder
    var op = 1
    while (failed == 0 && (op <= MinWarmUpOps ||
        (!levelled(warm.opSeconds.toSeq) && jvm.getUptime < MaxWarmUpMillis))) {
      tracer.begin(op, traced = false)
      attempt(op, warm)
      op += 1
    }
    // the measured closed loop; with tracing, every other op is traced so
    // traced and untraced ops see the same table sizes and JIT state
    val firstMeasured = op
    val rec = new Recorder
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (failed == 0 && System.nanoTime() < deadline) {
      val traced = a.trace && (op - firstMeasured) % 2 == 0
      tracer.begin(op, traced)
      attempt(op, rec)
      rec.opTraced ++= Seq.fill(rec.opSeconds.size - rec.opTraced.size)(traced)
      op += 1
    }
    val heapMb = retainedHeapMb()
    if (failed == 0) {
      val errs = try w.finalCheck() catch { case e: Exception => Seq(s"final check: $e") }
      if (errs.nonEmpty) { failed += 1; errors ++= errs }
    }
    tracer.drain()
    a.spans.foreach(p => tracer.writeJsonl(java.nio.file.Paths.get(p)))

    val ops = rec.opSeconds.toSeq
    val (tailP, _, tailBeyond) = Stats.tail(ops)
    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> Stats.median(setupSeconds.toSeq),
        "op_cpu_s" -> Stats.median(rec.cpuSeconds.toSeq),
        "retained_heap_mb" -> heapMb)
      else perLayer(tracer, rec)
    val units = (Catalog.endToEnd ++ Catalog.perLayer).map(m => m.name -> m.unit).toMap
    val correct = failed == 0

    report(a, rec, setupSeconds.toSeq, heapMb, attempted, failed)
    def nums(xs: Seq[Double]) = JArray(xs.map(JDouble(_)).toList)
    def strs(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
    val detail = JObject(
      "workload" -> JString(a.workload), "seed" -> JLong(a.seed),
      "trace" -> JBool(a.trace),
      "nproc" -> JInt(Runtime.getRuntime.availableProcessors()),
      "k" -> JInt(a.cpus),
      "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory() >> 20),
      "commit" -> JString(a.commit), "scale" -> JDouble(a.scale),
      "warmup_ops" -> JInt(firstMeasured - 1),
      "warmup_samples" -> nums(warm.opSeconds.toSeq),
      "ops" -> JInt(ops.size),
      "op_tail_percentile" -> JDouble(tailP),
      "op_tail_samples_beyond" -> JInt(tailBeyond),
      "setup_samples" -> nums(setupSeconds.toSeq),
      "op_samples" -> nums(ops),
      "op_cpu_samples" -> nums(rec.cpuSeconds.toSeq),
      "preflight_stray_jvms" -> strs(strays),
      "preflight_other_benchmarks" -> strs(benches),
      "facts" -> JObject(w.facts.map { case (k, v) => k -> JString(v) }: _*),
      "errors" -> strs(errors.take(5).toSeq))
    System.err.println(s"PERFBENCH_DETAIL ${compact(render(detail))}")
    val result = JObject(
      "correct" -> JBool(correct),
      "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "metrics" -> JObject(metrics.map { case (n, v) =>
        n -> JObject("value" -> JDouble(v), "unit" -> JString(units(n)))
      }: _*))
    println(compact(render(result)))
    if (correct) 0 else 1
  }

  /** Per-layer metrics: span times are medians over traced ops, Spark
    * counters are means per span, table counters are means per commit. */
  def perLayer(tracer: Tracer, rec: Recorder): Seq[(String, Double)] = {
    val byName = tracer.spans.groupBy(_.name)
    def med(span: String) = Stats.median(byName.getOrElse(span, Nil).map(_.seconds).toSeq)
    def mean(spans: Seq[Span], counter: String) =
      if (spans.isEmpty) 0.0 else spans.map(_.counters.toMap(counter)).sum.toDouble / spans.size
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val commits = rec.sum("commits")
    val reads = tracer.spans.filter(_.name.startsWith("tables.read.")).toSeq
    val (traced, untraced) = rec.opSeconds.zip(rec.opTraced).partition(_._2)
    val (_, readTail, _) = Stats.tail(rec.readSeconds.toSeq)
    Seq("pipeline.source_s" -> med("pipeline.source"),
      "pipeline.process_s" -> med("pipeline.process")) ++
    Seq("source", "process").flatMap(s => Catalog.counterUnits.map { case (c, _) =>
      s"pipeline.$s.$c" -> mean(byName.getOrElse(s"pipeline.$s", Nil).toSeq, c) }) ++
    Seq("files_added", "files_removed", "bytes_added", "rows_added").map(c =>
      s"tables.commit.$c" -> ratio(rec.sum(s"tables.commit.$c"), commits)) ++
    Seq(
      "tables.live_files" -> rec.sum("tables.live_files"),
      "tables.write_amp" -> ratio(rec.sum("tables.commit.bytes_added"), rec.sum("bronze_bytes")),
      "tables.snapshot_s" -> med("tables.snapshot"),
      "tables.read.point_s" -> med("tables.read.point"),
      "tables.read.equals_s" -> med("tables.read.equals"),
      "tables.read.partition_s" -> med("tables.read.partition"),
      "tables.read.timetravel_s" -> med("tables.read.timetravel"),
      "tables.read.fastcount_s" -> med("tables.read.fastcount"),
      "tables.read.jobs" -> mean(reads, "jobs"),
      "tables.read.files_per_lookup" -> ratio(rec.sum("lookup.files"), rec.sum("lookups")),
      "tables.read.rows_scanned_per_row_returned" ->
        ratio(rec.sum("lookup.rows_scanned"), rec.sum("lookup.rows")),
      "tables.read_s_p50" -> Stats.median(rec.readSeconds.toSeq),
      "tables.read_s_tail" -> readTail,
      "watermark.last_value_s" -> med("watermark.last_value"),
      "log.files_written" -> ratio(rec.sum("log.files_written"), commits),
      "ops.minhash_s" -> med("ops.minhash"),
      "ops.groups_s" -> med("ops.groups"),
      "ops.minhash.jobs" -> mean(byName.getOrElse("ops.minhash", Nil).toSeq, "jobs"),
      "ops.minhash.shuffle_bytes" -> mean(byName.getOrElse("ops.minhash", Nil).toSeq, "shuffle_bytes"),
      "ops.groups.jobs" -> mean(byName.getOrElse("ops.groups", Nil).toSeq, "jobs"),
      "ops.groups.shuffle_bytes" -> mean(byName.getOrElse("ops.groups", Nil).toSeq, "shuffle_bytes"),
      "ops.pair_yield" -> ratio(rec.sum("verified"), rec.sum("candidates")),
      "ops.recall" -> rec.sum("ops.recall"),
      "trace.overhead_ratio" -> (
        if (traced.isEmpty || untraced.isEmpty) 0.0
        else Stats.median(traced.map(_._1).toSeq) / Stats.median(untraced.map(_._1).toSeq) - 1))
  }

  /** The run's figures under the names a reader of the workload expects,
    * each with its unit. */
  def report(a: Args, rec: Recorder, setup: Seq[Double], heapMb: Double,
      attempted: Int, failed: Int): Unit = {
    val ops = rec.opSeconds.toSeq
    val (tailP, tailV, tailBeyond) = Stats.tail(ops)
    val ingest = a.workload != "corpus_dedup"
    val (op, items) = if (ingest) ("slice", "rows") else ("pass", "docs")
    val lines = mutable.ArrayBuffer(
      ("setup_s", Stats.median(setup), "s"),
      (s"${op}_cpu_s", Stats.median(rec.cpuSeconds.toSeq), "s"),
      (s"${op}_s_p50", Stats.median(ops), "s"),
      (f"${op}_s_tail (p$tailP%.1f, $tailBeyond beyond, n=${ops.size})", tailV, "s"),
      (s"${items}_per_s", if (ops.isEmpty) 0.0 else rec.items / ops.sum, s"$items/s"))
    if (a.workload == "cdc_merge") {
      val (p, v, beyond) = Stats.tail(rec.readSeconds.toSeq)
      lines += (("read_s_p50", Stats.median(rec.readSeconds.toSeq), "s"))
      lines += ((f"read_s_tail (p$p%.1f, $beyond beyond, n=${rec.readSeconds.size})", v, "s"))
    }
    if (ingest) lines += (("write_amp",
      rec.sum("tables.commit.bytes_added") / math.max(1.0, rec.sum("bronze_bytes")), "ratio"))
    lines += (("retained_heap_mb", heapMb, "MB"))
    lines += (("op_fail_ratio", failed.toDouble / math.max(1, attempted), "ratio"))
    System.err.println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}")
    lines.foreach { case (n, v, u) => System.err.println(f"  $n%-40s $v%14.4f $u") }
  }

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
