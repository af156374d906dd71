package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-gated broadcast hints for the iterative graph family.
  *
  * A `broadcast()` hint FORCES the build regardless of size — the right
  * call for frames bounded by construction (centroids, codebooks,
  * pivots), but the per-node frames in Louvain and node2vec grow
  * with the graph: one row per vertex (or per
  * degree-capped edge). At bench scale they are kilobytes; on a
  * billion-vertex graph the forced build is a driver/executor OOM.
  *
  * [[broadcastIfSmall]] keeps the broadcast fast path while the caller's
  * known row bound is under `graft.broadcast.maxRows` (default 4M rows —
  * a few hundred MB built, comfortably inside executor memory), and
  * above it drops the hint entirely so AQE plans the join from runtime
  * statistics (typically sort-merge or shuffled-hash at that size).
  * Callers pass a row count they already have or can read off a
  * materialized (localCheckpoint'd) frame — never a fresh count job over
  * an unmaterialized plan.
  */
object Hints {

  /** Default cap on rows for a forced broadcast of a per-node frame. */
  val DefaultBroadcastMaxRows: Long = 4L * 1000L * 1000L

  /** Session override: `graft.broadcast.maxRows` (rows). A non-numeric
    * value fails fast with a message naming the conf key rather than
    * surfacing an opaque NumberFormatException from inside an algorithm. */
  def broadcastMaxRows(df: DataFrame): Long =
    df.sparkSession.conf.getOption("graft.broadcast.maxRows").map { v =>
      scala.util.Try(v.trim.toLong).getOrElse(throw new IllegalArgumentException(
        s"graft.broadcast.maxRows must be a long row count, got '$v'"))
    }.getOrElse(DefaultBroadcastMaxRows)

  /** Broadcast `df` only when `rows` — an upper bound the caller knows
    * (vertex count, capped edge count) — is within range; otherwise
    * return the frame un-hinted and let AQE pick the join strategy. */
  def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= broadcastMaxRows(df)) broadcast(df) else df
}
