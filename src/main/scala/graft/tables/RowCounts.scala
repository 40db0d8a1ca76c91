package graft.tables

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, when}

import scala.collection.immutable.ListMap

/** Row counts taken by the job that writes a frame: [[on]] attaches one
  * `count` per named predicate, and once the action that ran the frame
  * has returned, [[counts]] reads them — no job of their own. An
  * [[Observation]] reports the first action that runs its frame, so the
  * frame must be run by exactly one action. */
private[graft] final class RowCounts(predicates: Seq[(String, Column)]) {
  private val observation = Observation()

  def on(df: DataFrame): DataFrame =
    if (predicates.isEmpty) df
    else {
      val cs = predicates.map { case (n, p) => count(when(p, 1)).as(n) }
      df.observe(observation, cs.head, cs.tail: _*)
    }

  /** Counts by name in declared order; an empty observed row reads as
    * zeros. Read once: the commit waits for them, its caller reads them
    * again after the commit. */
  lazy val counts: ListMap[String, Long] =
    if (predicates.isEmpty) ListMap.empty
    else {
      val row = RowCounts.observed(observation)
      ListMap.from(predicates.map(_._1).zipWithIndex.map { case (n, i) =>
        n -> (if (row.length == 0 || row.isNullAt(i)) 0L else row.getLong(i)) })
    }
}

private[graft] object RowCounts {
  /** The row `o` collected in the action that just ran its frame. Spark
    * delivers it on its listener bus just after the action; missing it
    * for minutes means the bus dropped it. A plan whose observed node
    * never ran delivers an empty row. */
  def observed(o: Observation): Row = scala.concurrent.Await.result(
    o.future, scala.concurrent.duration.Duration(2, "min"))
}
