package graft.tables

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

/** The commit protocol's atomic-publish seam ([[CommitArbiter]]): every
  * implementation must give the same two contracts — put-if-absent
  * arbitration (one winner, loser gets [[ConcurrentWriteException]],
  * winner's content intact) and atomic overwrite publish — and the whole
  * table stack must behave identically on top of each. */
class CommitArbiterSpec extends AnyFunSuite with Matchers {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def arbiters(dir: Path): Seq[(String, CommitArbiter)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    Seq(
      "rename" -> new RenameCommitArbiter(fs,
        FileContext.getFileContext(dir.toUri, conf), dir),
      "posix" -> new PosixCommitArbiter(dir),
      "condput" -> new ConditionalPutCommitArbiter(fs))
  }

  test("primitive contract: put-if-absent arbitrates, atomic publish " +
      "replaces — identically across all three implementations") {
    val base = Files.createTempDirectory("graft-arb").toString
    arbiters(new Path(base)).foreach { case (name, a) =>
      val dir = new Path(base, name)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir)
      val rec = new Path(dir, "v1.json")
      withClue(s"arbiter $name:\n") {
        a.putIfAbsent(rec, "winner")
        // the loser must throw AND leave the winner's content intact
        intercept[ConcurrentWriteException](a.putIfAbsent(rec, "loser"))
        val in = fs.open(rec)
        val content = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
        content shouldBe "winner"
        // atomic publish replaces repeatedly
        val ptr = new Path(dir, "_current")
        a.putAtomic(ptr, "1")
        a.putAtomic(ptr, "2")
        val in2 = fs.open(ptr)
        val v = try new String(in2.readAllBytes(), "UTF-8") finally in2.close()
        v shouldBe "2"
      }
    }
  }

  test("atomic publish is never observed torn: a reader racing an " +
      "overwrite loop always parses a complete pointer (posix, condput)") {
    val base = Files.createTempDirectory("graft-arb-torn").toString
    arbiters(new Path(base)).filter(_._1 != "rename").foreach { case (name, a) =>
      val dir = new Path(base, name)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir)
      val ptr = new Path(dir, "_current")
      a.putAtomic(ptr, """{"version":0}""")
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      @volatile var writing = true
      val writer = new Thread(() => {
        var v = 1L
        while (writing) { a.putAtomic(ptr, s"""{"version":$v}"""); v += 1 }
      })
      writer.start()
      var reads = 0
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        val until = System.nanoTime() + 1500L * 1000 * 1000
        while (System.nanoTime() < until && failures.size < 5) {
          try {
            val in = fs.open(ptr)
            val bytes = try in.readAllBytes() finally in.close()
            json.readTree(bytes).get("version").asLong()
          } catch { case e: Exception => failures += e.toString.take(120) }
          reads += 1
        }
      } finally { writing = false; writer.join() }
      withClue(s"arbiter $name, $reads reads:\n") { failures shouldBe empty }
    }
  }

  test("a real IO failure is NOT reported as a lost commit race: rename " +
      "and condput arbiters rethrow when the target does not exist") {
    val base = Files.createTempDirectory("graft-arb-io").toString
    val conf = spark.sparkContext.hadoopConfiguration
    // a target whose PARENT is a plain file: create/rename must fail with
    // a genuine IO error (not-a-directory), and the target provably does
    // not exist — the arbiter must surface the failure, not translate it
    // into ConcurrentWriteException (callers would retry a hopeless commit)
    val blocker = new Path(base, "blocker")
    val fs = blocker.getFileSystem(conf)
    val out = fs.create(blocker, true)
    out.write("f".getBytes("UTF-8")); out.close()
    val impossible = new Path(s"$base/blocker/v1.json")
    val rename = new RenameCommitArbiter(fs,
      FileContext.getFileContext(new Path(base).toUri, conf), new Path(base))
    val condput = new ConditionalPutCommitArbiter(fs)
    Seq("rename" -> rename, "condput" -> condput).foreach { case (n, arb) =>
      withClue(s"arbiter $n:\n") {
        val e = intercept[Exception](arb.putIfAbsent(impossible, "content"))
        e.isInstanceOf[ConcurrentWriteException] shouldBe false
      }
    }
    // and the true lost-race case still reports as one
    val rec = new Path(base, "v2.json")
    rename.putIfAbsent(rec, "winner")
    intercept[ConcurrentWriteException](condput.putIfAbsent(rec, "loser"))
  }

  test("a zero-length record left by a crashed conditional-put writer is " +
      "age-gated dropped and the slot commits again (liveness repair)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-torn").toString + "/t"
    spark.conf.set("spark.graft.commit.tornRecordGraceMs", "0")
    try {
      val t = ManagedTable(spark, root)
      t.overwriteAll(Seq((1, "a")).toDF("id", "v"))
      t.append(Seq((2, "b")).toDF("id", "v"))
      // simulate the condput crash window: an empty record at head+1
      val conf = spark.sparkContext.hadoopConfiguration
      val torn = new Path(s"$root/_graft/manifests/" + f"v${2L}%020d.json")
      val fs = torn.getFileSystem(conf)
      fs.create(torn, false).close()
      fs.getFileStatus(torn).getLen shouldBe 0L
      // next write op heals the slot and commits where it would have
      // wedged on permanent arbitration loss
      val t2 = ManagedTable(spark, root)
      t2.append(Seq((3, "c")).toDF("id", "v"))
      t2.read().count() shouldBe 3
      // a record that PARSES as JSON but is not self-consistent is left
      // for manual removal, exactly as before
      val foreign = new Path(s"$root/_graft/manifests/" + f"v${3L}%020d.json")
      val o = fs.create(foreign, false)
      o.write("{}".getBytes("UTF-8")); o.close()
      val t3 = ManagedTable(spark, root)
      intercept[Exception](t3.append(Seq((4, "d")).toDF("id", "v")))
      fs.exists(foreign) shouldBe true
    } finally spark.conf.unset("spark.graft.commit.tornRecordGraceMs")
  }

  test("a stolen in-flight condput slot surfaces as a lost race, never a " +
      "silent lost update (read-back verification)") {
    val base = Files.createTempDirectory("graft-steal").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base).getFileSystem(conf)
    val writer = new ConditionalPutCommitArbiter(fs)
    val rec = new Path(base, "v7.json")
    // simulate the racing-fuzz interleaving deterministically: between
    // the writer's close and its read-back, a concurrent prober (torn
    // grace 0) drops the object and a rival claims the slot
    writer.onBeforeVerify = () => {
      fs.delete(rec, false)
      val rival = new ConditionalPutCommitArbiter(fs)
      rival.putIfAbsent(rec, "rival")
    }
    try intercept[ConcurrentWriteException](writer.putIfAbsent(rec, "mine"))
    finally writer.onBeforeVerify = () => ()
    // the rival's claim is the visible winner, intact
    val in = fs.open(rec)
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    content shouldBe "rival"
    // a drop with NO rival re-claim is also a lost race (slot freed):
    // the writer must not report success for content that is not visible
    val rec2 = new Path(base, "v8.json")
    writer.onBeforeVerify = () => fs.delete(rec2, false)
    try intercept[ConcurrentWriteException](writer.putIfAbsent(rec2, "mine"))
    finally writer.onBeforeVerify = () => ()
    fs.exists(rec2) shouldBe false
  }

  test("a transient IO failure on the condput read-back is NOT a lost " +
      "race: the GET retries and the durably-visible PUT stands") {
    val base = Files.createTempDirectory("graft-verify-io").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val real = new Path(base).getFileSystem(conf)
    // a store that throttles the first N GETs after the PUT — the shape
    // of an eventually-throttled object store, where the old behavior
    // (any IOException → "stolen") made the rebase loop re-commit the
    // same files at a new version
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val flaky = new org.apache.hadoop.fs.FilterFileSystem(real) {
      override def open(p: Path, bufferSize: Int)
          : org.apache.hadoop.fs.FSDataInputStream = {
        if (failures.getAndDecrement() > 0)
          throw new java.io.IOException("simulated transient GET throttle")
        super.open(p, bufferSize)
      }
    }
    val writer = new ConditionalPutCommitArbiter(flaky)
    val rec = new Path(base, "v9.json")
    writer.putIfAbsent(rec, "mine") // must NOT throw
    val in = real.open(rec)
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    content shouldBe "mine"

    // but a GET that NEVER recovers surfaces as the IO error it is —
    // never as ConcurrentWriteException (callers would rebase a commit
    // that actually succeeded, duplicating its rows)
    failures.set(Int.MaxValue)
    val rec2 = new Path(base, "v10.json")
    val e = intercept[java.io.IOException](writer.putIfAbsent(rec2, "mine"))
    e.getMessage should include("throttle")
    e should not be a[ConcurrentWriteException]
  }

  test("txn replay-guard and anchor-fence conflicts are marked " +
      "non-retryable: a duplicate batch fails fast instead of burning " +
      "the rebase budget on an outcome that cannot change") {
    import graft.tables.Txn
    import org.apache.spark.sql.functions.lit
    val base = Files.createTempDirectory("graft-txn-fast").toString
    val t = ManagedTable(spark, s"$base/t")
    val df = spark.range(3).toDF("id").withColumn("v", lit("x"))
    t.append(df, "streamBatch=0", Some(Txn("app", 0L)))
    // replay of the same batch: permanent conflict (recorded txns never
    // regress) — the loop must rethrow on the FIRST attempt
    val e1 = intercept[ConcurrentWriteException](
      t.append(df, "streamBatch=0", Some(Txn("app", 0L))))
    e1.retryable shouldBe false
    e1.getMessage should include("already recorded")
    // anchor fence: batch derived from a stale anchor — also permanent
    val e2 = intercept[ConcurrentWriteException](
      t.append(df, "streamBatch=1",
        Some(Txn("app", 1L, expectedPrev = Some(-1L)))))
    e2.retryable shouldBe false
    // the record-arbitration race stays retryable (a rebase CAN clear it)
    new ConcurrentWriteException("race").retryable shouldBe true
    t.read().count() shouldBe 3
  }

  test("full table lifecycle is arbiter-independent: create, append, DML, " +
      "time travel, restore under rename, posix, and the hostile-store " +
      "conditional-put arbiter") {
    import spark.implicits._
    Seq("rename", "posix", "condput").foreach { which =>
      spark.conf.set("spark.graft.commit.arbiter", which)
      try {
        val root = Files.createTempDirectory(s"graft-arb-$which").toString + "/t"
        val t = ManagedTable(spark, root)
        withClue(s"arbiter $which:\n") {
          t.overwriteAll(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
          t.append(Seq((4, "d")).toDF("id", "v"))
          t.delete("id = 2") shouldBe 1L
          t.update(Map("v" -> "'x'"), "id = 3") shouldBe 1L
          t.read().orderBy("id").collect()
            .map(r => (r.getInt(0), r.getString(1))) shouldBe
            Array((1, "a"), (3, "x"), (4, "d"))
          t.readVersion(0).count() shouldBe 3
          t.restore(1)
          t.read().count() shouldBe 4
          // racing writers through two handles still arbitrate: the
          // rebasing append path digests the conflict, the final state
          // holds both rows
          val h1 = ManagedTable(spark, root)
          val h2 = ManagedTable(spark, root)
          h1.append(Seq((10, "r1")).toDF("id", "v"))
          h2.append(Seq((11, "r2")).toDF("id", "v"))
          ManagedTable(spark, root).read().count() shouldBe 6
        }
      } finally spark.conf.unset("spark.graft.commit.arbiter")
    }
  }
}
