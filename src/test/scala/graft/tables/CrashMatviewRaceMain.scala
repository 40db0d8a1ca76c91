package graft.tables

import org.apache.spark.sql.SparkSession

/** Child-JVM matview refresher for [[CrashRecoverySpec]]'s RACING view
  * fuzz: TWO of these run against the SAME source and the SAME view,
  * each iteration appending a disjoint id range to the base and then
  * refreshing the shared view. Racing refreshers collide on the view's
  * txn anchor fence (both derived their delta from the same recorded
  * anchor; only one commit can land) — the loser's conflict is
  * NON-retryable at the commit layer, so the correct caller response is
  * exercised here: catch, re-call `refresh()`, which re-reads the
  * advanced anchor and RECOMPUTES the batch from the new state. The
  * parent SIGKILLs one of the pair mid-iteration; the survivor must
  * land all `n` of its iterations through whatever torn or orphaned
  * state the corpse leaves on the shared view.
  *
  * Prints `XCRASH_COMMITTED <i>` per completed iteration (the parent's
  * kill trigger) and `XMVRACE_DONE <writer> <n>` once all iterations
  * landed (the parent's survivor assertion). */
object CrashMatviewRaceMain {
  def main(args: Array[String]): Unit = {
    ChildWatchdog.arm()
    val Array(root, writerId, n) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-mvrace-$writerId")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val src = ManagedTable(spark, s"$root/src")
      val mv = MaterializedAgg(spark, src, s"$root/view", "id",
        Seq("grp"), Seq("qty"))
      val off = writerId.toLong
      // time-based retry for BOTH steps: fence conflicts and exhausted
      // append-rebase budgets both fail fast at the commit layer, so
      // under sustained contention a fixed attempt count can burn out in
      // seconds while both racers are live — starvation, not an error.
      // The two loops stay SEPARATE: a whole-iteration retry would
      // re-append a batch whose append already committed.
      def retryContention(deadline: Long)(step: => Unit): Unit = {
        var done = false
        while (!done) {
          try { step; done = true }
          catch {
            case e: ConcurrentWriteException =>
              if (System.currentTimeMillis() > deadline) throw e
              Thread.sleep(10 + scala.util.Random.nextInt(40))
          }
        }
      }
      (1 to n.toInt).foreach { i =>
        val lo = off + (i - 1) * 20L
        val rows = (lo until lo + 20L)
          .map(id => (id, id % 3, id % 7)).toDF("id", "grp", "qty")
        val deadline = System.currentTimeMillis() + 240000L
        // a blind append that lost its bounded rebase budget committed
        // nothing (failed attempts drop their files) — safe to re-run
        retryContention(deadline)(src.append(rows.coalesce(1)))
        // anchor-fence conflicts (rival refresh landed first) surface as
        // ConcurrentWriteException — recompute from the NEW state by
        // calling refresh() again; never re-apply the stale delta
        retryContention(deadline)(mv.refresh())
        println(s"XCRASH_COMMITTED $i")
        System.out.flush()
      }
      println(s"XMVRACE_DONE $writerId $n")
      System.out.flush()
    } catch {
      case e: Throwable =>
        // surface the failure in the parent's drained output — a silent
        // child crash reads as "never committed" with no diagnosis
        // on ONE line with its innermost frames: the parent echoes only
        // this line, so a bare (often multi-line) message cannot name the
        // failing read
        println(s"XMVRACE_CRASH $writerId ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).replace('\n', ' ') + " at " +
          e.getStackTrace.take(25).mkString(" < "))
        System.out.flush()
        throw e
    } finally spark.stop()
  }
}
