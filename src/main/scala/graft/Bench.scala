package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{
  SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

object Bench {
  /** One query's measurements: the recorded floor (min of successful reps,
    * -1.0 if every rep failed), every rep's wall time, and the first
    * failure message if any rep threw. */
  final case class BenchResult(
      name: String, floor: Double, reps: Seq[Double], err: Option[String])

  /** The `SPARK_GRAFT_BENCH_JOBS=1` listener: running job and stage
    * totals for the per-rep `JOBS` line, plus one stderr line per
    * finished job — `JOB <query> rep<r> job=<id> stages=<n> ms=<run
    * time> site=<call site>` — so a slow rep shows which action took
    * the time. */
  private final class JobTimeline extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    @volatile var label = ""
    // job id -> (query label, start nanos, stage count, call site)
    private val started =
      new ConcurrentHashMap[Int, (String, Long, Int, String)]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
      // a job's result stage (its last) is named by the job's call site
      val site =
        if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      started.put(j.jobId, (label, System.nanoTime(), j.stageInfos.size, site))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(started.remove(j.jobId)).foreach { case (q, t0, n, site) =>
        System.err.println(f"JOB $q job=${j.jobId}%d stages=$n%d " +
          f"ms=${(System.nanoTime() - t0) / 1e6}%.0f site=$site")
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // A/B knob: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" applies session confs
    // before any query runs — lets a floors campaign toggle engine
    // features (e.g. spark.graft.write.rebalance) without recompiling
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';')
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    // warm the page cache + file indexes so timings measure query compute,
    // not first-touch I/O of whichever query happens to run first
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // warm the engine pipeline's codegen/classloading on a 3-row scratch
    // run so the first q_e_* measurement isn't half JIT
    try {
      import spark.implicits._
      val root = "/tmp/graft_bench_warm"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(root)))
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val md = graft.metadata.Metadata.fromJson(s"""{
        "environment": { "name": "warm", "root_folder": "$root" },
        "connections": [ { "name": "c" } ],
        "entities": [ { "id": 1, "name": "w", "connection": "c",
          "processtype": "merge",
          "columns": [ { "name": "ID", "datatype": "integer",
                         "fieldroles": ["businesskey"] } ] } ] }""")
      val e = md.getEntity(1)
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("ID", "v").coalesce(1)
        .write.parquet(s"${md.bronzePath(e)}/w.parquet")
      implicit val s: org.apache.spark.sql.SparkSession = spark
      new graft.pipeline.Processing(md, e, "w.parquet").process()
      new graft.pipeline.Processing(md, e, "w.parquet").process()
    } catch { case _: Throwable => () }
    // pre-stage the engine queries' shared bronze slices (harness
    // scaffolding, not the engine under test) — its own guard, so a
    // scratch-warm failure cannot silently push staging into the first
    // engine query's measured interval
    try graft.queries.EngineOps.warmStaging(spark, sfDir)
    catch { case _: Throwable => () }
    // iteration knobs: ONLY=comma-list runs a subset, REPS=n repeats each
    // query and records the minimum — single local[32] runs vary ±25%
    // (round-5 adjudication showed 13x single-rep spikes that were pure
    // scheduler/GC noise), so the recorded number is a min-of-3 floor by
    // default and every rep is reported alongside it
    // pre-flight: stray graft JVMs (e.g. an orphaned crash-fuzz child
    // from an earlier test run — the round-16 root cause of officials
    // landing 1.2-1.4x over floors) steal cores and silently inflate
    // every number below. Surface them FIRST so an inflated run is
    // diagnosable from its own stderr; never kill (not ours to reap).
    try {
      import scala.jdk.CollectionConverters._
      val self = ProcessHandle.current().pid()
      val strays = ProcessHandle.allProcesses().iterator().asScala
        .filter(_.pid() != self)
        .flatMap { p =>
          val cl = p.info().commandLine()
          if (cl.isPresent) Iterator((p.pid(), cl.get)) else Iterator.empty
        }
        .filter { case (_, cl) =>
          // only the forked fuzz-child family — the processes that leak;
          // matching any "graft." would flag sbt launchers whose ARGS
          // name a main (e.g. "runMain graft.Bench")
          cl.contains("java") && (cl.contains("graft.tables.Crash") ||
            cl.contains("graft.streaming.Crash") ||
            cl.contains("graft.tables.CrossProcess")) }
        .toList
      strays.foreach { case (pid, cl) =>
        val main = cl.split("\\s+").filter(_.startsWith("graft."))
          .headOption.getOrElse("?")
        System.err.println(
          s"BENCH_PREFLIGHT stray graft JVM pid=$pid main=$main — " +
            "timings below may be inflated by its CPU use")
      }
    } catch { case _: Throwable => () }
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // JOBS=1: per-query job/stage counts and a per-job timeline on
    // stderr — job-count bloat (many tiny actions) is invisible in
    // wall-clock-only output
    val jobCounter =
      if (!sys.env.get("SPARK_GRAFT_BENCH_JOBS").contains("1")) None
      else {
        val c = new JobTimeline
        spark.sparkContext.addSparkListener(c)
        Some(c)
      }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        var err: Option[String] = None
        val allReps = (1 to reps).map { r =>
          jobCounter.foreach(_.label = s"$name rep$r")
          val j0 = jobCounter.map(c => (c.jobs.get, c.stages.get))
          val t0 = System.nanoTime()
          // a failed query is reported as failed ("err" below), never as a
          // fast timed success — a broken query must not look like a win
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
              false
            }
          val dt = (System.nanoTime() - t0) / 1e9
          // operator-internal persists (minhash/jaccard shingle sets, ANN
          // codebooks) are scoped to one query; dropping them between
          // queries keeps heap pressure flat across the run
          graft.ops.SubstrateCache.release(spark)
          spark.catalog.clearCache()
          // the harness owns the whole session, so ALSO drop any RDD still
          // pinned in the block manager (final-round localCheckpoints of
          // the iterative ops are invisible to both calls above) — without
          // this, 78 queries × reps accumulate blocks until eviction churn
          // poisons every later measurement
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          // broadcasts and shuffle files are reference-tracked: the
          // ContextCleaner reclaims them only after a GC proves the
          // query plan unreachable. Without forcing one here, ~100
          // queries × reps of broadcast blocks and shuffle dirs pile up
          // until collection happens MID-measurement of some later
          // query — the r11 cross-query contamination (floors inflating
          // with alphabetical run position). An explicit GC between
          // reps moves that reclamation into untimed harness space; the
          // brief sleep lets the (asynchronous) cleaner thread drain
          // the reference queue before the next measurement starts.
          System.gc()
          Thread.sleep(50)
          jobCounter.zip(j0).foreach { case (c, (js, ss)) =>
            System.err.println(f"JOBS $name rep$r: jobs=${c.jobs.get - js}%d " +
              f"stages=${c.stages.get - ss}%d sec=$dt%.2f ok=$ok")
          }
          (dt, ok)
        }
        val good = allReps.filter(_._2).map(_._1)
        BenchResult(name, if (good.nonEmpty) good.min else -1.0,
          allReps.map(_._1), err)
      }
    // every char < 0x20 breaks JSON, not just \n\r\t (same escaper contract
    // as Verify.scala) — exception messages can carry arbitrary controls
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '\\' => "\\\\"
        case '"'  => "\\\""
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c    => c.toString
      } + "\""
    def sec(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val repsJson = results.map(r =>
        jstr(r.name) + ":" + r.reps.map(sec).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val errs = results.flatMap(r => r.err.map(e => jstr(r.name) + ":" + jstr(e)))
      .mkString("{", ",", "}")
    val total = results.filter(_.floor >= 0).map(_.floor).sum
    val failed = results.count(_.err.nonEmpty)
    System.err.println(s"""BENCH_DETAIL {"reps":$repsJson,"errors":$errs}""")
    // The harness keeps only a ~2.2 KB TAIL of stdout, and the full
    // floors map outgrew it around 80 queries — the single line then
    // truncated at the FRONT into unparseable JSON (r7-r10 all landed
    // with parsed:null). Two lines instead, sized so both survive:
    //  1. the complete floors map, ASCENDING by cost — if the window
    //     clips the front, only the cheapest floors scroll out;
    //  2. (last, always intact) a byte-capped parseable summary: total /
    //     failed / reps plus the most expensive floors that fit in
    //     1.4 KB, with the cap stated (n_queries vs queries listed) so a
    //     truncated listing never reads as complete coverage.
    val asc = results.sortBy(_.floor)
    println(asc.map(r => jstr(r.name) + ":" + sec(r.floor))
      .mkString("""{"all_floors_asc":{""", ",", "}}"))
    val desc = results.sortBy(-_.floor)
    def sec2(v: Double): String = if (v < 0) "-1" else f"$v%.2f"
    val budget = 1400
    val top = new StringBuilder
    var nTop = 0
    desc.foreach { r =>
      val e = jstr(r.name) + ":" + sec2(r.floor)
      if (top.length + e.length + 1 <= budget) {
        if (top.nonEmpty) top.append(','); top.append(e); nTop += 1
      }
    }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      s""""failed":$failed,"n_reps":$reps,"n_queries":${results.size},""" +
      s""""queries":{$top},"sf":"$sfDir"}""")
    spark.stop()
    // a bench with any failed query must fail loudly: nonzero exit plus the
    // "failed" field above — a broken query must never read as a perf win
    if (failed > 0) {
      System.err.println("BENCH FAILURES: " +
        results.filter(_.err.nonEmpty).map(_.name).mkString(", "))
      sys.exit(1)
    }
  }
}
