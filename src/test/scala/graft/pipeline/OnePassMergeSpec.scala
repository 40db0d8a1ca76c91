package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

import graft.PlanTrace.traced
import graft.metadata._
import graft.tables.ManagedTable

/** Job budget of one pipeline Merge slice and the one-aggregation slice
  * statistics: the merge's action counts ride its write job (nothing is
  * cached to be counted), and the slice's partition values come from the
  * stats aggregation rather than a second distinct-collect job. */
class OnePassMergeSpec extends AnyFunSuite with Matchers {

  implicit lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  /** A year-partitioned Merge entity with a `SeqNr` watermark and the run
    * log on — the daily CDC shape — and a year-partitioned Historic
    * entity. */
  private def cdcFixture(): Metadata = {
    val root = Files.createTempDirectory("graft-onepass").toString
    Metadata.fromJson(s"""{
      "environment": { "name": "t", "timezone": "UTC", "root_folder": "$root",
        "settings": { "log_path": "$${root_folder}/log" } },
      "connections": [ { "name": "src1" } ],
      "entities": [
        { "id": 1, "name": "cdc", "connection": "src1", "processtype": "merge",
          "watermark": [ { "column": "SeqNr" } ],
          "columns": [
            { "name": "ID", "datatype": "long", "fieldroles": ["businesskey"] },
            { "name": "year", "datatype": "integer", "fieldroles": ["partition"] } ] },
        { "id": 2, "name": "hist", "connection": "src1", "processtype": "historic",
          "columns": [
            { "name": "ID", "datatype": "long", "fieldroles": ["businesskey"] },
            { "name": "year", "datatype": "integer", "fieldroles": ["partition"] } ] } ]
    }""")
  }

  private def writeSlice(md: Metadata, e: Entity, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"${md.bronzePath(e)}/$name")

  private def cdcRows(rows: Seq[(Long, Int, Long, Long, Boolean)]): DataFrame =
    rows.toDF("ID", "year", "amount", "SeqNr", "deleted")

  test("one pipeline Merge slice runs at most 5 jobs in process(), and its " +
      "write reads no cached resolved frame") {
    val md = cdcFixture()
    val e = md.getEntity(1)
    val initial = (0L until 120L).map(i =>
      (i, 2019 + (i / 20).toInt, i * 7, 0L, false))
    writeSlice(md, e, "initial.parquet", cdcRows(initial))
    new Processing(md, e, "initial.parquet").process().inserted shouldBe 120

    // updates in the newest two years, new keys, one source-side delete
    val slice = Seq((100L, 2024, 1L, 1L, false), (85L, 2023, 2L, 1L, false),
      (119L, 2024, 3L, 1L, false), (120L, 2024, 4L, 1L, false),
      (121L, 2024, 5L, 1L, false), (110L, 2024, 770L, 1L, true))
    writeSlice(md, e, "slice1.parquet", cdcRows(slice))
    val p = new Processing(md, e, "slice1.parquet")
    p.sliceStats.total shouldBe 6
    val (summary, jobs, execs) = traced(spark)(p.process())
    summary.updated shouldBe 3
    summary.inserted shouldBe 2
    summary.deleted shouldBe 1
    info(s"process() ran $jobs Spark jobs")
    jobs should be <= 5

    // the table write: a parquet write command over the merge's join. Any
    // cached relation it reads must be the persisted slice, never a cached
    // frame holding the merge join.
    def cachedJoins(qe: QueryExecution): Seq[InMemoryRelation] =
      qe.optimizedPlan.collectWithSubqueries { case r: InMemoryRelation => r }
        .filter(_.cachedPlan.exists(_.isInstanceOf[BaseJoinExec]))
    val dataDir = new java.io.File(p.table.rootPath, "data").getPath
    val tableWrites = execs.filter(_.optimizedPlan.toString.contains(dataDir))
    execs.map(cachedJoins).foreach(_ shouldBe empty)
    val out = ManagedTable.forLocation(spark, md.silverLocation(e)).read()
    out.count() shouldBe 122
    out.filter($"deleted").select("ID").as[Long].collect() shouldBe Array(110L)
    out.filter($"ID" === 85L).select("amount").as[Long].head() shouldBe 2L
    tableWrites should not be empty
  }

  private def targetNeverShuffled(execs: Seq[QueryExecution], t: ManagedTable): Unit =
    graft.PlanTrace.assertStreamedIntoBroadcastJoins(execs,
      new java.io.File(t.rootPath, "data").getPath)

  test("plan lock: a keyed-route Merge slice broadcasts the slice and " +
      "never shuffles the target") {
    spark.conf.set("spark.graft.merge.smallScopeBytes", "0") // keyed route
    try {
      val md = cdcFixture()
      val e = md.getEntity(1)
      writeSlice(md, e, "initial.parquet", cdcRows((0L until 120L).map(i =>
        (i, 2019 + (i / 20).toInt, i * 7, 0L, false))))
      new Processing(md, e, "initial.parquet").process()
      writeSlice(md, e, "slice1.parquet", cdcRows(Seq(
        (100L, 2024, 1L, 1L, false), (121L, 2024, 5L, 1L, false),
        (110L, 2024, 770L, 1L, true))))
      val p = new Processing(md, e, "slice1.parquet")
      val (summary, _, execs) = traced(spark)(p.process())
      summary.updated shouldBe 1
      summary.inserted shouldBe 1
      summary.deleted shouldBe 1
      targetNeverShuffled(execs, p.table)
    } finally spark.conf.unset("spark.graft.merge.smallScopeBytes")
  }

  test("plan lock: a Historic slice broadcasts the slice and never " +
      "shuffles the target") {
    val md = cdcFixture()
    val e = md.getEntity(2)
    writeSlice(md, e, "initial.parquet", (0L until 60L)
      .map(i => (i, 2019 + (i / 20).toInt, i)).toDF("ID", "year", "amount"))
    new Processing(md, e, "initial.parquet").process()
    writeSlice(md, e, "slice1.parquet",
      Seq((5L, 2019, 50L), (59L, 2021, 59L), (70L, 2021, 1L))
        .toDF("ID", "year", "amount"))
    val p = new Processing(md, e, "slice1.parquet")
    val (summary, _, execs) = traced(spark)(p.process())
    summary.updated shouldBe 1
    summary.unchanged shouldBe 1
    summary.inserted shouldBe 1
    targetNeverShuffled(execs, p.table)
  }

  /** The pre-fusion partition-value collection, kept as the oracle. */
  private def distinctCollect(df: DataFrame, partCols: Seq[String]): Set[Map[String, String]] =
    df.select(partCols.map(c => col(s"`$c`").cast("string")): _*)
      .distinct().collect()
      .map(r => partCols.zipWithIndex.map { case (c, i) =>
        c -> (if (r.isNullAt(i)) ManagedTable.NullPartitionValue else r.getString(i))
      }.toMap).toSet

  test("slice partition values from the stats aggregation equal the " +
      "distinct-collect, null partitions included, keyed and unkeyed") {
    val root = Files.createTempDirectory("graft-onepass-pv").toString
    val md = Metadata.fromJson(s"""{
      "environment": { "name": "t", "timezone": "UTC", "root_folder": "$root" },
      "connections": [ { "name": "src1" } ],
      "entities": [
        { "id": 1, "name": "keyed", "connection": "src1", "processtype": "merge",
          "columns": [
            { "name": "ID", "datatype": "integer", "fieldroles": ["businesskey"] },
            { "name": "Region", "datatype": "string", "fieldroles": ["partition"] },
            { "name": "yr", "datatype": "integer", "fieldroles": ["partition"] } ] },
        { "id": 2, "name": "unkeyed", "connection": "src1", "processtype": "full",
          "columns": [
            { "name": "ID", "datatype": "integer" },
            { "name": "Region", "datatype": "string", "fieldroles": ["partition"] } ] }
      ]
    }""")
    val rows = Seq[(Int, String, Integer)]((1, "eu", 2020), (2, null, 2020),
      (3, "eu", null), (4, null, null), (5, "us", 2021), (6, "eu", 2020))
    val keyed = md.getEntity(1)
    writeSlice(md, keyed, "s.parquet", rows.toDF("ID", "Region", "yr"))
    val pk = new Processing(md, keyed, "s.parquet")
    val ks = pk.source
    ks.partitionColumns shouldBe Seq("Region", "yr")
    ks.partitionValues.size shouldBe ks.partitionValues.toSet.size
    ks.partitionValues.toSet shouldBe distinctCollect(ks.df, ks.partitionColumns)
    ks.partitionValues.toSet should contain(
      Map("Region" -> ManagedTable.NullPartitionValue,
        "yr" -> ManagedTable.NullPartitionValue))
    pk.sliceStats.total shouldBe 6
    ks.df.unpersist()

    val unkeyed = md.getEntity(2)
    writeSlice(md, unkeyed, "s.parquet", rows.map(r => (r._1, r._2)).toDF("ID", "Region"))
    val pu = new Processing(md, unkeyed, "s.parquet")
    val us = pu.source
    us.partitionValues.size shouldBe 3
    us.partitionValues.toSet shouldBe distinctCollect(us.df, us.partitionColumns)
    pu.sliceStats shouldBe SliceStats(6L, 1L)
    us.df.unpersist()

    // an empty slice has no partitions to prune to
    writeSlice(md, keyed, "empty.parquet", rows.take(0).toDF("ID", "Region", "yr"))
    val pe = new Processing(md, keyed, "empty.parquet")
    pe.source.partitionValues shouldBe Nil
    pe.sliceStats shouldBe SliceStats(0L, 0L)
    pe.source.df.unpersist()
  }
}
