package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The engine's size-decided broadcast-join hints. Each caller decides
  * `small` from a size it already holds — a cached source's bytes, a
  * manifest's deletion-vector position count, an exact row count —
  * checked against a named constant. An explicit hint overrides Spark's
  * `spark.sql.autoBroadcastJoinThreshold`, so this honours that setting's
  * documented off switch (`-1`, "never broadcast") itself: with it, every
  * hinted join is left to a shuffle join. */
private[graft] object BroadcastHint {
  def apply(df: DataFrame, small: Boolean): DataFrame =
    if (small && df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold >= 0)
      broadcast(df)
    else df
}
