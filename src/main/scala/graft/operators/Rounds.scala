package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{broadcast, col}

/** The round driver behind the iterative graph operators: one place owns
  * the per-round recipe of every loop.
  *
  *  - [[pin]] is the eager `localCheckpoint` — without it round k
  *    re-executes rounds 1..k-1 (measured in round 2: the khop skew plan
  *    re-scanned its source 78×). It records the checkpoint's RDD so it
  *    can be released, and dumps the loop-body plan under `tag`
  *    ([[graft.tools.LoopPlan]]; a no-op unless its dir is set).
  *  - [[fixed]] runs single-state fixed-round loops; [[delta]] runs the
  *    changed-frontier loops, whose frontier count is both the loop
  *    condition and the broadcast decision.
  *  - Release: `unpersist(blocking = false)` of each pinned RDD once
  *    nothing can read it — a fixed/delta round's predecessor as soon as
  *    the round is pinned, everything else when [[Rounds.run]] returns,
  *    except the RDDs its result reads (the result's `LogicalRDD` leaves).
  *    A checkpoint has no lineage to fall back on, so releasing one that
  *    a live plan reads would fail that plan; the leaf rule is exactly
  *    what a returned plan can reach.
  */
final class Rounds private[operators] () {
  private val pinned = mutable.LinkedHashMap.empty[Int, RDD[_]]

  /** Eagerly checkpoints `df` and tracks it for release; `tag` names the
    * loop-body plan to dump before the checkpoint hides it. */
  def pin(df: DataFrame, tag: String = ""): DataFrame = {
    if (tag.nonEmpty) graft.tools.LoopPlan.dump(tag, df)
    val c = df.localCheckpoint(true)
    Rounds.leaves(c).foreach(r => pinned(r.id) = r)
    c
  }

  /** `n` rounds of `state = pin(step(state))`, releasing each pinned round
    * once its successor is pinned. `init` is not released here (it may
    * be a lazy view over tables the loop still reads); [[Rounds.run]]
    * frees it if it was pinned. */
  def fixed(init: DataFrame, n: Int, tag: String)
           (step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (s, i) =>
      val next = pin(step(s), tag)
      if (i > 1) drop(s)
      next
    }

  /** Delta iteration over an (id, value) state: `step(state, frontier)`
    * joins only the rows that changed last round and returns
    * (id, new value, chg). The frontier starts as `init`; the loop stops
    * after `rounds` rounds or at an empty frontier, the fixpoint of any
    * idempotent merge (min, max). The frontier's exact row count is in
    * hand for the loop condition, so it also sizes the broadcast hint:
    * checkpointed tables carry no statistics and the planner cannot make
    * that call itself. `hint = false` keeps the ordinary shuffle join
    * where the per-round broadcast build would not pay. */
  def delta(init: DataFrame, rounds: Int, tag: String, hint: Boolean = true)
           (step: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val Array(id, v) = init.columns
    var state = init
    var frontier = init
    var n = frontier.count()
    var prev: Option[DataFrame] = None
    for (_ <- 1 to rounds if n > 0) {
      val f = if (hint) Rounds.hintIfSmall(frontier, n) else frontier
      val merged = pin(step(state, f), tag)
      prev.foreach(drop)
      prev = Some(merged)
      val nv = col(merged.columns(1)).as(v)
      state = merged.select(col(id), nv)
      frontier = merged.where(col("chg")).select(col(id), nv)
      n = frontier.count()
    }
    state
  }

  /** Releases every RDD pinned here that no DataFrame in `keep` reads. */
  private[operators] def release(keep: DataFrame*): Unit = {
    val live = keep.flatMap(Rounds.leaves).map(_.id).toSet
    pinned.keys.filterNot(live).toList.foreach(unpin)
  }

  private def drop(df: DataFrame): Unit =
    Rounds.leaves(df).map(_.id).foreach(unpin)

  private def unpin(id: Int): Unit =
    pinned.remove(id).foreach(_.unpersist(blocking = false))
}

object Rounds {

  /** Runs `body` with a fresh driver and, on return, releases every RDD
    * pinned inside that the returned plan does not read (all of them if
    * `body` throws). */
  def run(body: Rounds => DataFrame): DataFrame = {
    val r = new Rounds
    var out: DataFrame = null
    try { out = body(r); out }
    finally r.release(Option(out).toSeq: _*)
  }

  /** The RDDs a plan reads from checkpoints: its `LogicalRDD` leaves. */
  private def leaves(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }

  /** Broadcast-crossover constants for the iterative loops. Their state
    * tables come from checkpoints, which carry NO statistics — the
    * planner cannot make the broadcast call itself, so the loops hint
    * explicitly using their driver-known exact row counts.
    *
    *  - [[BroadcastFrontierRowCap]]: a frontier/rank/survivor row is two
    *    int64s (+ row overhead) ≈ 16 B, so 2M rows ≈ 32 MB broadcast —
    *    safe on any executor profile (well under the 8 GB/512M-row hard
    *    cap, small against a 1 GB heap). Widening the row schema or
    *    shrinking executors proportionally shrinks the cap: it exists to
    *    bound build memory, not to tune the crossover.
    *  - [[PerRoundBroadcastMinEdges]] / [[PageRankBroadcastMinEdges]]:
    *    the hint only PAYS when the edge list it keeps un-shuffled is
    *    big — each round spends one broadcast-BUILD job, measured at
    *    sf0.1 (single host) to cost more than the small shuffle below
    *    ~200k edge rows (sccColoring; +1.2 s without the gate) resp.
    *    ~5M rows (pageRank's per-iteration rank broadcast; 600k-edge
    *    graph measured 0.2 s faster WITHOUT the hint). Direction of
    *    error is conservative: below the gate the loop falls back to the
    *    ordinary shuffle join, which is never catastrophically wrong,
    *    so single-host crossovers are safe defaults at any scale. */
  private[graft] val BroadcastFrontierRowCap = 2000000L
  private[graft] val PerRoundBroadcastMinEdges = 200000L
  private[graft] val PageRankBroadcastMinEdges = 5000000L

  /** Broadcast-hint a loop-state side whose exact row count the driver
    * already knows (see the constants above for the sizing rationale). */
  private[graft] def hintIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastFrontierRowCap) broadcast(df) else df
}
