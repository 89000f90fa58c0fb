package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sample-DAG traversals (SURVEY §2.4 J7-J9).
  *
  * The reference walks its sample parent/child DAG up (child→patient,
  * register-mtb-data-dropbox.py:645-666), down (patient→descendants,
  * :669-724) and to the roots (get-experimental-design-tsv/script.py:16-34).
  * Here the DAG is an edge table `(child, parent)` and every walk is an
  * iterated self-join to fixpoint — the standard Spark shape for recursive
  * CTEs. Each frontier is pinned and the loop stops when the frontier is
  * empty. A graph still live at `MaxDepth` — a cycle, or a catalog far
  * deeper than any the reference produces (4-5 levels) — FAILS LOUDLY
  * instead of silently truncating: on a cycle the per-pair path counts
  * inflate every lap, so a truncated answer is not an approximation, it
  * is garbage with a green status.
  *
  * Scale notes: the frontier shrinks monotonically for DAGs of bounded
  * depth (the reference's is 4-5 levels), so the expensive join is the
  * first one; `edges` should be pre-partitioned by `child` so every
  * iteration reuses the same shuffle-free join layout.
  */
object Lineage {
  val MaxDepth = 30

  /** All (node, ancestor, depth) pairs reachable by walking child→parent.
    *
    * Each frontier is truncated with an eager [[Checkpoints.pin]]: an
    * iterative self-join otherwise accumulates a plan tree that grows with
    * depth (re-optimized and re-printed every iteration — measurably
    * pathological past ~10 levels). One session conf flips every walk to
    * reliable `checkpoint` for the multi-executor cluster posture. */
  def ancestors(edges: DataFrame): DataFrame = {
    val e = edges.select(col("child"), col("parent"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try walk(e, e.select(col("child").as("node"), col("parent").as("anc"),
      lit(1L).as("depth")))
    finally e.unpersist()
  }

  /** Iterate `first` (node, anc, depth=1) against the persisted edge table
    * to fixpoint. Each level is eagerly pinned with its row count observed
    * on that same action, so a round costs one job and the returned union
    * no longer references `e` — callers may unpersist it before consuming
    * the result.
    *
    * The cap is [[MaxDepth]] rounds: round k builds level k + 1, so a
    * chain of exactly MaxDepth edges converges in the last allowed round
    * (its level MaxDepth + 1 is empty), while a frontier still expandable
    * there — a cycle or an over-deep graph — throws. */
  private def walk(e: DataFrame, first: DataFrame): DataFrame =
    Checkpoints.converge(List(Checkpoints.pin(first)), MaxDepth,
      s"lineage walk still live at depth $MaxDepth — cycle in the edge " +
        "table or a graph deeper than the supported bound; refusing to " +
        "return a silently truncated result") { levels =>
      val (next, n) = Checkpoints.pinObserved(levels.head.alias("f")
        .join(e.alias("e"), col("f.anc") === col("e.child"))
        .select(col("f.node"), col("e.parent").as("anc"),
          (col("f.depth") + 1).as("depth")), count(lit(1)))
      if (n.getLong(0) == 0L) (levels, true) else (next :: levels, false)
    }.reverse.reduce(_ union _)

  /** For every node in the DAG, its root ancestor (one with no parent) and
    * the distance to it — J9's organism-root walk. */
  def roots(edges: DataFrame): DataFrame = {
    val children = edges.select(col("child")).distinct()
    ancestors(edges).alias("w")
      .join(children.alias("c"), col("w.anc") === col("c.child"), "left_anti")
      .select(col("node"), col("anc").as("root"), col("depth"))
  }

  /** Descendants of `start` nodes (down-walk, J8): (start, descendant, depth).
    *
    * The iteration is SEEDED with the start set — the first join's left
    * side is the (typically tiny) start frontier, not the whole edge
    * table, so the work is O(reachable subtree), not O(V·depth). Walking
    * the entire reversed DAG and filtering afterwards would touch the
    * whole catalog to answer a one-patient question at 100×. Per-pair
    * multiplicity (number of distinct paths) is identical to the
    * unrestricted walk restricted to `start`, so results are unchanged. */
  def descendants(edges: DataFrame, start: DataFrame): DataFrame = {
    val down = edges.select(col("parent").as("child"), col("child").as("parent"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val startKeys = start.select(col(start.columns.head).as("node")).distinct()
    val first = startKeys.alias("s")
      .join(down.alias("e"), col("s.node") === col("e.child"))
      .select(col("s.node"), col("e.parent").as("anc"), lit(1L).as("depth"))
    try walk(down, first)
      .select(col("node").as("start"), col("anc").as("descendant"), col("depth"))
    finally down.unpersist()
  }
}
