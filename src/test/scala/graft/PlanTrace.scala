package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of code ran: its Spark jobs and the physical plans of the
  * queries it completed, for specs that lock job counts or join shapes. */
object PlanTrace extends AdaptiveSparkPlanHelper {

  /** Runs `body` and returns the Spark jobs it started (counted through
    * the job group, which AQE and broadcast pool threads inherit) and the
    * query executions that completed inside it. Both listeners sit on the
    * listener bus's shared queue: once a marker job started after `body`
    * has been seen, every event of `body` has been delivered. */
  def traced[T](spark: SparkSession)(body: => T): (T, Int, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val group = s"trace-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    @volatile var open = true
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-drained" => open = false; drained.countDown()
          case _ => ()
        }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (open) execs.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      sc.setJobGroup(group, "traced block")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-drained", "listener drain marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      import scala.jdk.CollectionConverters._
      (out, jobs.get, execs.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** The physical plans `qe` ran: its final (post-AQE) plan, and the plan
    * of every cached relation it scans as a root of its own. */
  def plans(qe: QueryExecution): Seq[SparkPlan] = {
    def withCached(p: SparkPlan): Seq[SparkPlan] =
      p +: collectWithSubqueries(p) {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }.flatMap(withCached)
    withCached(qe.executedPlan)
  }

  def broadcastHashJoins(execs: Seq[QueryExecution]): Seq[BroadcastHashJoinExec] =
    execs.flatMap(plans).flatMap(collectWithSubqueries(_) {
      case j: BroadcastHashJoinExec => j })

  /** Asserts that some join reads a file whose path contains `dataDir`,
    * and that every such join is a broadcast hash join the scan reaches
    * through no `Exchange`: the table is streamed, never shuffled. A
    * cached relation's plan counts as a root of its own. */
  def assertStreamedIntoBroadcastJoins(execs: Seq[QueryExecution],
      dataDir: String): Unit = {
    def scansDir(p: SparkPlan): Boolean = find(p) {
      case s: FileSourceScanExec => s.relation.location.inputFiles.exists(_.contains(dataDir))
      case _ => false
    }.isDefined
    val joins = execs.flatMap(plans).flatMap(collectWithSubqueries(_) {
      case j: BaseJoinExec if j.children.exists(scansDir) => j
    })
    assert(joins.nonEmpty, s"no join reads $dataDir")
    joins.foreach { j =>
      val shuffled = j.children.exists(c =>
        find(c) { case e: Exchange => scansDir(e); case _ => false }.isDefined)
      assert(j.isInstanceOf[BroadcastHashJoinExec] && !shuffled,
        s"$dataDir is shuffled or not streamed into a broadcast join:\n${j.treeString}")
    }
  }
}
