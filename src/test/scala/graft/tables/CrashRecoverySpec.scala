package graft.tables

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.Files

/** Crash-point fuzz of the commit protocol: a child JVM commits
  * single-row appends in a loop and the parent SIGKILLs it at varied
  * offsets after its first commit — landing the kill inside the data
  * write, the record create, or the pointer swap on different
  * iterations. After every kill the table must (a) read cleanly, (b)
  * satisfy the append invariant `rows == seed + (version − v0)` (every
  * commit is exactly one row, so a torn commit must contribute either a
  * full version or nothing), and (c) accept the parent's own next
  * append (the roll-forward healer digests any orphaned record).
  * Finally an aggressive vacuum sweeps the kill debris and the
  * invariant still holds.
  *
  * The WHOLE matrix runs under every commit arbiter — rename, posix,
  * and the hostile conditional-put stand-in, whose non-atomic record
  * create exercises the torn-record recovery path no other arbiter can
  * reach (its pointer swap is atomic, as an object store's PUT is). */
class CrashRecoverySpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val allArbiters = Seq("rename", "posix", "condput")

  /** Parent-side arbiter selection; the zero grace lets the parent's
    * healer drop a condput kill's torn record immediately instead of
    * waiting out the in-flight-PUT grace window. */
  private def withArbiter[A](arbiter: String)(f: => A): A = {
    spark.conf.set("spark.graft.commit.arbiter", arbiter)
    spark.conf.set("spark.graft.commit.tornRecordGraceMs", "0")
    try f finally {
      spark.conf.unset("spark.graft.commit.arbiter")
      spark.conf.unset("spark.graft.commit.tornRecordGraceMs")
    }
  }

  private def forkWriter(root: String, writer: String, arbiter: String,
      main: String = "graft.tables.CrashWriterMain"): Process = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val cmd: Seq[String] = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      s"-Dspark.graft.commit.arbiter=$arbiter",
      "-Dspark.graft.commit.tornRecordGraceMs=0",
      "-cp", System.getProperty("java.class.path"),
      main, root, writer, "1000")
    new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
  }

  /** Fork `main`, wait for its first commit marker, kill after `delay`
    * ms. Stdout drains on a daemon thread so the child never blocks on a
    * full pipe. */
  private def killAfterFirstCommit(root: String, writer: String,
      arbiter: String, main: String, delay: Long): Unit = {
    val child = forkWriter(root, writer, arbiter, main)
    val out = new BufferedReader(new InputStreamReader(child.getInputStream))
    val sawCommit = new java.util.concurrent.CountDownLatch(1)
    val drain = new Thread(() => {
      var line = out.readLine()
      while (line != null) {
        if (line.startsWith("XCRASH_COMMITTED")) sawCommit.countDown()
        line = try out.readLine() catch { case _: Exception => null }
      }
    })
    drain.setDaemon(true)
    drain.start()
    // destroy in finally: a latch-timeout assertion must never skip the
    // kill and orphan a full-CPU fuzz child (see ChildWatchdog)
    try {
      withClue(s"writer $writer never committed\n") {
        sawCommit.await(300, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      }
      Thread.sleep(delay)
    } finally {
      child.destroyForcibly()
      child.waitFor()
    }
  }

  private def appendFuzz(arbiter: String): Unit = {
    import spark.implicits._
    val root = Files.createTempDirectory(s"graft-crash-$arbiter")
      .toString + "/t"
    val t = ManagedTable(spark, root)
    t.overwriteAll(Seq(("seed", "s")).toDF("id", "w").coalesce(1))
    val v0 = t.currentVersion.get
    val seed = 1L

    // per-iteration kill delay after the FIRST observed commit — varied
    // offsets land the kill in different phases of later commits
    val delaysMs = Seq(0L, 40L, 120L, 350L)
    delaysMs.zipWithIndex.foreach { case (delay, it) =>
      killAfterFirstCommit(root, s"w$it", arbiter,
        "graft.tables.CrashWriterMain", delay)

      // fresh handle: nothing cached from before the kill
      val h = ManagedTable(spark, root)
      val rows = h.read().count()
      val v = h.currentVersion.get
      withClue(s"iteration $it (delay ${delay}ms): rows=$rows v=$v v0=$v0\n") {
        // every committed version added exactly one row; a torn commit
        // must be all-or-nothing
        rows shouldBe seed + (v - v0)
        // a COMPLETE record one above the pointer is
        // committed-but-unswapped (the kill landed between record create
        // and pointer swap) — the healer's roll-forward contract, so
        // history may lead the pointer by exactly one until a write heals
        val histHead = h.history().head.version
        histHead should (be(v) or be(v + 1))
        h.readVersion(v).count() shouldBe rows
      }
      // the parent's own append digests any orphaned record (healer):
      // afterwards pointer, history, and the append invariant all agree
      h.append(Seq((s"p$it", "p")).toDF("id", "w").coalesce(1))
      val vh = ManagedTable(spark, root)
      val v2 = vh.currentVersion.get
      vh.history().head.version shouldBe v2
      vh.read().count() shouldBe seed + (v2 - v0)
    }

    // aggressive vacuum sweeps kill debris; the invariant still holds
    spark.conf.set("spark.graft.vacuum.orphanMinAgeMs", "0")
    try {
      val h = ManagedTable(spark, root)
      val before = h.read().count()
      h.vacuum()
      h.read().count() shouldBe before
      h.currentVersion.get shouldBe h.history().head.version
    } finally spark.conf.unset("spark.graft.vacuum.orphanMinAgeMs")
  }

  private def mixedFuzz(arbiter: String): Unit = {
    import spark.implicits._
    val root = Files.createTempDirectory(s"graft-crashmix-$arbiter")
      .toString + "/t"
    val t = ManagedTable(spark, root)
    t.overwriteAll((1 to 20).map(i => (s"seed-$i", i % 7, "s"))
      .toDF("id", "bucket", "w").repartition(4))

    Seq(0L, 60L, 200L, 500L).zipWithIndex.foreach { case (delay, it) =>
      killAfterFirstCommit(root, s"m$it", arbiter,
        "graft.tables.CrashMixedMain", delay)
      val h = ManagedTable(spark, root)
      val v = h.currentVersion.get
      val rows = h.read().count()
      withClue(s"iteration $it (delay ${delay}ms) v=$v rows=$rows\n") {
        // the manifest's own row accounting must agree with an actual
        // scan — a torn DELETE or compaction that half-published would
        // break one of the two
        h.fastCount shouldBe Some(rows)
        h.readVersion(v).count() shouldBe rows
        // committed-but-unswapped window: see the append fuzz above
        h.history().head.version should (be(v) or be(v + 1))
        // a killed compaction/DELETE must never resurrect or lose rows
        // relative to the PREVIOUS version's content minus that commit's
        // declared effect — spot-check: re-running the same DELETE is a
        // no-op on count only if the predicate already applied fully
        val del = h.delete("bucket = 99") // matches nothing: pure probe
        del shouldBe 0L
      }
      // next writer proceeds
      h.append(Seq((s"p$it", 0, "p")).toDF("id", "bucket", "w").coalesce(1))
    }

    spark.conf.set("spark.graft.vacuum.orphanMinAgeMs", "0")
    try {
      val h = ManagedTable(spark, root)
      val before = h.read().count()
      h.vacuum()
      h.read().count() shouldBe before
      h.fastCount shouldBe Some(before)
    } finally spark.conf.unset("spark.graft.vacuum.orphanMinAgeMs")
  }

  private def vacuumFuzz(arbiter: String): Unit = {
    import spark.implicits._
    val root = Files.createTempDirectory(s"graft-crashvac-$arbiter")
      .toString + "/t"
    val t = ManagedTable(spark, root)
    // a real history: many small commits so the delete fan-out has work
    t.overwriteAll((1 to 50).map(i => (i.toLong, "s")).toDF("id", "w")
      .repartition(4))
    (1 to 12).foreach { i =>
      t.append((1 to 20).map(j => (1000L * i + j, "a")).toDF("id", "w")
        .repartition(3))
    }
    val head = t.currentVersion.get
    val rows = t.read().count()

    // kill shortly after vacuum starts — inside horizon write or deletes
    Seq(0L, 30L, 150L).zipWithIndex.foreach { case (delay, it) =>
      killAfterFirstCommit(root, s"v$it", arbiter,
        "graft.tables.CrashVacuumMain", delay)
      val h = ManagedTable(spark, root)
      withClue(s"iteration $it (delay ${delay}ms)\n") {
        // the live snapshot is untouchable by vacuum
        h.currentVersion.get shouldBe head
        h.read().count() shouldBe rows
        h.fastCount shouldBe Some(rows)
        // the published horizon fences fail-fast: a pruned version
        // errors cleanly, never a mid-scan FileNotFound
        h.earliestReadableVersion.foreach { e =>
          if (e > 0) intercept[Exception](h.readVersion(e - 1).collect())
          h.readVersion(e).count() should be >= 0L
        }
      }
    }

    // a surviving vacuum finishes whatever the kills left behind
    val h = ManagedTable(spark, root)
    h.vacuum(retainVersions = 2)
    h.read().count() shouldBe rows
    val dry = h.vacuumDryRun(retainVersions = 2)
    dry.dataDirs shouldBe empty
  }

  /** Fork the bounded survivor writer and return (process, marker-seen
    * latch). The survivor races the killable writer on the same root and
    * must finish every commit. */
  private def forkSurvivor(root: String, writer: String, arbiter: String,
      nCommits: Int,
      main: String = "graft.tables.CrashRaceSurvivorMain",
      marker: String = "XRACE_DONE")
      : (Process, java.util.concurrent.CountDownLatch) = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val cmd: Seq[String] = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      s"-Dspark.graft.commit.arbiter=$arbiter",
      "-Dspark.graft.commit.tornRecordGraceMs=0",
      "-cp", System.getProperty("java.class.path"),
      main, root, writer, nCommits.toString)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new BufferedReader(new InputStreamReader(p.getInputStream))
    val sawMarker = new java.util.concurrent.CountDownLatch(1)
    val drain = new Thread(() => {
      var line = out.readLine()
      while (line != null) {
        // a crashed child prints XMVRACE_CRASH with its exception —
        // surface it (a bare nonzero exit is undiagnosable)
        if (line.startsWith("XMVRACE_CRASH")) System.err.println(line)
        if (line.startsWith(s"$marker $writer $nCommits"))
          sawMarker.countDown()
        line = try out.readLine() catch { case _: Exception => null }
      }
    })
    drain.setDaemon(true)
    drain.start()
    (p, sawMarker)
  }

  /** The RACING window: two concurrent writers, one SIGKILLed mid-commit
    * while the other keeps committing against the same version slots the
    * corpse may have half-claimed. The survivor must land every one of
    * its commits (its retry loop digests the corpse's orphaned or torn
    * record — no lost update, no wedge); the killed writer's surviving
    * rows must be a gapless prefix of its sequential commits; and the
    * global one-row-per-version invariant must hold across BOTH
    * writers' interleaved commits. */
  private def racingFuzz(arbiter: String): Unit = {
    import spark.implicits._
    val root = Files.createTempDirectory(s"graft-crashrace-$arbiter")
      .toString + "/t"
    val t = ManagedTable(spark, root)
    t.overwriteAll(Seq(("seed", "s")).toDF("id", "w").coalesce(1))
    val v0 = t.currentVersion.get
    val survivorCommits = 10

    Seq(0L, 150L).zipWithIndex.foreach { case (delay, it) =>
      val killable = forkWriter(root, s"k$it", arbiter)
      val kOut = new BufferedReader(new InputStreamReader(killable.getInputStream))
      val sawCommit = new java.util.concurrent.CountDownLatch(1)
      val drain = new Thread(() => {
        var line = kOut.readLine()
        while (line != null) {
          if (line.startsWith("XCRASH_COMMITTED")) sawCommit.countDown()
          line = try kOut.readLine() catch { case _: Exception => null }
        }
      })
      drain.setDaemon(true)
      drain.start()
      val (survivor, sawMarker) = forkSurvivor(root, s"s$it", arbiter,
        survivorCommits)
      // any assertion below must still reap BOTH children (orphaned fuzz
      // writers burn full CPU indefinitely — see ChildWatchdog)
      try {
        withClue(s"iteration $it: killable writer never committed\n") {
          sawCommit.await(300, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
        }
        Thread.sleep(delay)
        killable.destroyForcibly()
        killable.waitFor()
        withClue(s"iteration $it: survivor did not finish cleanly\n") {
          survivor.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
          survivor.exitValue() shouldBe 0
          sawMarker.await(5, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
        }
      } finally {
        killable.destroyForcibly(); killable.waitFor()
        survivor.destroyForcibly(); survivor.waitFor()
      }

      val h = ManagedTable(spark, root)
      val v = h.currentVersion.get
      val df = h.read().cache()
      try {
        val rows = df.count()
        withClue(s"iteration $it (delay ${delay}ms): rows=$rows v=$v v0=$v0\n") {
          // every commit from EITHER writer added exactly one row
          rows shouldBe 1L + (v - v0)
          h.history().head.version should (be(v) or be(v + 1))
          // all survivor commits landed, none lost to the race
          df.filter($"w" === s"s$it").count() shouldBe survivorCommits.toLong
          // the corpse's rows are a gapless prefix of its sequence
          val killedIdx = df.filter($"w" === s"k$it")
            .select("id").as[String].collect()
            .map(_.split('-').last.toInt).sorted
          killedIdx shouldBe (1 to killedIdx.length).toArray
        }
      } finally df.unpersist()
      // healer digests the corpse's leftovers; the next writer proceeds
      h.append(Seq((s"p$it", "p")).toDF("id", "w").coalesce(1))
    }

    spark.conf.set("spark.graft.vacuum.orphanMinAgeMs", "0")
    try {
      val h = ManagedTable(spark, root)
      val before = h.read().count()
      h.vacuum()
      h.read().count() shouldBe before
      h.currentVersion.get shouldBe h.history().head.version
    } finally spark.conf.unset("spark.graft.vacuum.orphanMinAgeMs")
  }

  /** Matview maintenance under SIGKILL: each child iteration is a base
    * append plus an incremental refresh; kills land inside the append,
    * inside the refresh's merge commit, or between the two. The view's
    * sync anchor rides the refresh commit as a writer txn, so after ANY
    * kill a fresh refresh must make the view EXACTLY equal a full
    * recompute of the base — a half-applied or replayed delta would
    * double-count and diverge. */
  private def matviewFuzz(arbiter: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => cnt, lit, sum}
    val root = Files.createTempDirectory(s"graft-crashmv-$arbiter").toString
    val src = ManagedTable(spark, s"$root/src")
    src.overwriteAll((0L until 60L).map(i => (i, i % 3, i % 7))
      .toDF("id", "grp", "qty").repartition(2))
    MaterializedAgg(spark, src, s"$root/view", "id",
      Seq("grp"), Seq("qty")).refresh()

    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("grp", "cnt", "sum_qty").orderBy("grp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    Seq(0L, 80L, 300L).zipWithIndex.foreach { case (delay, it) =>
      // the "writer" slot carries the child's disjoint id offset
      killAfterFirstCommit(root, s"${100000L * (it + 1)}", arbiter,
        "graft.tables.CrashMatviewMain", delay)
      val src2 = ManagedTable(spark, s"$root/src")
      val mv2 = MaterializedAgg(spark, src2, s"$root/view", "id",
        Seq("grp"), Seq("qty"))
      withClue(s"iteration $it (delay ${delay}ms):\n") {
        mv2.refresh() shouldBe src2.currentVersion.get
        val expected = src2.read().groupBy("grp").agg(
          cnt(lit(1)).as("cnt"), sum("qty").as("sum_qty"))
        canon(mv2.read()) shouldBe canon(expected)
      }
    }
  }

  /** TWO concurrent refreshers of the SAME matview, one SIGKILLed: the
    * anchor fence rejects whichever racer derived its delta from a
    * stale anchor, and the loser's correct response — re-calling
    * refresh(), which re-reads the advanced anchor and RECOMPUTES the
    * batch — is what the surviving child exercises under kill debris.
    * This fuzzes the fence's recompute path, not just its reject path:
    * the survivor must land all of its iterations through live
    * contention, and after every kill the view must equal a full
    * recompute of the base exactly (a re-folded overlap would
    * double-count; a lost delta would undercount). */
  private def matviewRaceFuzz(arbiter: String): Unit = {
    import org.apache.spark.sql.functions.{count => cnt, lit, sum}
    val root = Files.createTempDirectory(s"graft-crashmvr-$arbiter").toString
    val src = ManagedTable(spark, s"$root/src")
    import spark.implicits._
    src.overwriteAll((0L until 60L).map(i => (i, i % 3, i % 7))
      .toDF("id", "grp", "qty").repartition(2))
    MaterializedAgg(spark, src, s"$root/view", "id",
      Seq("grp"), Seq("qty")).refresh()

    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("grp", "cnt", "sum_qty").orderBy("grp")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val survivorIters = 6
    Seq(0L, 120L).zipWithIndex.foreach { case (delay, it) =>
      // disjoint id ranges per child and per round
      val killId = 1000000L * (2 * it + 1)
      val surId = 1000000L * (2 * it + 2)
      val killable = forkWriter(root, killId.toString, arbiter,
        "graft.tables.CrashMatviewRaceMain")
      val kOut = new BufferedReader(new InputStreamReader(killable.getInputStream))
      val sawCommit = new java.util.concurrent.CountDownLatch(1)
      val drain = new Thread(() => {
        var line = kOut.readLine()
        while (line != null) {
          // a crashed child prints XMVRACE_CRASH with the exception —
          // surface it instead of a bare "never committed" timeout
          if (line.startsWith("XMVRACE_CRASH")) System.err.println(line)
          if (line.startsWith("XCRASH_COMMITTED")) sawCommit.countDown()
          line = try kOut.readLine() catch { case _: Exception => null }
        }
      })
      drain.setDaemon(true)
      drain.start()
      val (survivor, sawMarker) = forkSurvivor(root, surId.toString, arbiter,
        survivorIters, "graft.tables.CrashMatviewRaceMain", "XMVRACE_DONE")
      // reap BOTH children on any assertion throw (see ChildWatchdog)
      try {
        withClue(s"iteration $it: killable refresher never committed\n") {
          sawCommit.await(300, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
        }
        Thread.sleep(delay)
        killable.destroyForcibly()
        killable.waitFor()
        withClue(s"iteration $it: surviving refresher did not finish\n") {
          survivor.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
          survivor.exitValue() shouldBe 0
          sawMarker.await(5, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
        }
      } finally {
        killable.destroyForcibly(); killable.waitFor()
        survivor.destroyForcibly(); survivor.waitFor()
      }

      val src2 = ManagedTable(spark, s"$root/src")
      val mv2 = MaterializedAgg(spark, src2, s"$root/view", "id",
        Seq("grp"), Seq("qty"))
      withClue(s"iteration $it (delay ${delay}ms):\n") {
        // the survivor's own appends all landed (its refresh-retry loop
        // digested every fence rejection by recomputing)
        src2.read().filter($"id" >= surId && $"id" < surId + 1000000L)
          .count() shouldBe survivorIters * 20L
        mv2.refresh() shouldBe src2.currentVersion.get
        val expected = src2.read().groupBy("grp").agg(
          cnt(lit(1)).as("cnt"), sum("qty").as("sum_qty"))
        canon(mv2.read()) shouldBe canon(expected)
      }
    }
  }

  allArbiters.foreach { arb =>
    test(s"[$arb] SIGKILL at varied commit-stream offsets: table reads, " +
        "append invariant holds, healer lets the next writer proceed") {
      withArbiter(arb)(appendFuzz(arb))
    }

    test(s"[$arb] SIGKILL one of two RACING refreshers of the SAME " +
        "matview: the survivor recomputes through every fence rejection " +
        "and the view lands exactly on the base's full recompute") {
      withArbiter(arb)(matviewRaceFuzz(arb))
    }

    test(s"[$arb] SIGKILL inside matview append+refresh iterations: a " +
        "fresh refresh always lands the view exactly on the base's full " +
        "recompute (anchor txn is atomic with the delta)") {
      withArbiter(arb)(matviewFuzz(arb))
    }

    test(s"[$arb] SIGKILL one of two RACING writers: the survivor lands " +
        "every commit, the corpse leaves a gapless prefix, and the " +
        "one-row-per-version invariant spans both") {
      withArbiter(arb)(racingFuzz(arb))
    }

    test(s"[$arb] SIGKILL inside mixed append/DELETE/compaction streams: " +
        "every surviving version is all-or-nothing and manifest stats " +
        "stay true") {
      withArbiter(arb)(mixedFuzz(arb))
    }

    test(s"[$arb] SIGKILL mid-vacuum: horizon fence stays consistent, the " +
        "head reads, and a re-run finishes the sweep") {
      withArbiter(arb)(vacuumFuzz(arb))
    }
  }
}
