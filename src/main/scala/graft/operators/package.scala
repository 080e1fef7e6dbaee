package graft

import org.apache.spark.sql.{Column, DataFrame}

package object operators {

  /** Hash-repartition `df` by `keys` into the session's
    * `spark.sql.shuffle.partitions`. Numbered, so AQE never coalesces it
    * (origin `REPARTITION_BY_NUM`): for a frame whose partitioning a
    * persist must keep (Graph's edge list), or whose CPU-bound stage must
    * run on every core however few bytes it reads (Dedup's pair verify).
    * Not in front of a group-by on the same keys: that group-by then needs
    * no exchange of its own and loses its map-side partial aggregate.
    */
  private[operators] def numberedRepartition(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, keys: _*)
}
