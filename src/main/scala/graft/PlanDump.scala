package graft

/** Dev tool: dump `explain("formatted")` of declared queries to files.
  *
  * Usage: `PlanDump <sfDir> <outDir> [q1,q2,...]` (default: all queries).
  * Each query's plan lands in `<outDir>/<name>.txt`. Engine lifecycle
  * queries (`q_e_*`) execute their staging/commits while the final
  * DataFrame is CONSTRUCTED, so dumping their plan runs the lifecycle —
  * the dumped plan is the final read, exactly what the bench times last.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(32)
    try graft.queries.EngineOps.warmStaging(spark, sfDir)
    catch { case _: Throwable => () }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        graft.ops.SubstrateCache.release(spark)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
