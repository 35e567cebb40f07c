package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.PlanApi
import org.apache.spark.storage.StorageLevel

/** Shared round-driver for the engine's iterative graph/rank loops
  * (PageRank q119, personalized PageRank q256, BFS q187, label
  * propagation q194, k-core peel q199). One place owns the three
  * disciplines every such loop needs at depth:
  *
  *  1. **Lineage truncation.** Every `checkpointEvery`-th round is
  *     eagerly `localCheckpoint`-ed, replacing the accumulated plan
  *     with a [[org.apache.spark.sql.execution.LogicalRDD]] leaf.
  *     Without this, a step that references its input twice doubles
  *     the logical plan each round (analyzer OOM near round ~30 even
  *     on tiny data), and even single-reference steps grow O(rounds)
  *     plans that re-optimize from scratch each action.
  *  2. **Bounded cached blocks.** When a checkpoint lands, every
  *     superseded materialization — the persisted rounds since the
  *     last checkpoint AND the previous checkpoint's blocks — is
  *     released immediately (persisted frames via `unpersist`,
  *     checkpointed RDDs via [[PlanApi.releaseLocalCheckpoint]]).
  *     A convergence loop's storage footprint is therefore one
  *     checkpoint plus at most `checkpointEvery` round caches, no
  *     matter the depth; previously superseded checkpoint blocks
  *     lingered until the ContextCleaner happened to GC them.
  *  3. **Per-round materialization policy**, because the right
  *     choice is measured, not universal:
  *     - [[GraphIter.Lazy]] — persist without an action. Sequential
  *       single-consumer builds populate each cache exactly once at
  *       the terminal action; skipping per-round `count()`s drops
  *       scheduling round-trips (measured faster for q119/q256 at
  *       every scale probed).
  *     - [[GraphIter.Eager]] — persist + `count()`. Required when a
  *       round's output has multiple downstream consumers in the
  *       SAME later job (e.g. BFS `fresh` feeds both the settled
  *       union and the next anti-join): materializing first prevents
  *       concurrent stages racing to compute the shared subtree.
  *     - [[GraphIter.Chain]] — no per-round materialization; rounds
  *       fuse into one AQE-planned job (right when each round has
  *       exactly one consumer and the unrolled depth is small, e.g.
  *       q194's two LPA rounds).
  *
  * On a real cluster at real depth the same shape holds — a
  * 1000-executor deployment would point `spark.checkpoint.dir` at
  * reliable storage and swap `localCheckpoint` for `checkpoint()` so
  * failure recovery stays one hop; executor-local checkpoints are the
  * right trade under `local[*]` and for re-derivable convergence
  * state.
  *
  * State is a `Seq[DataFrame]` so multi-frame loops (BFS's
  * settled+frontier) ride the same driver; single-frame loops pass a
  * 1-element Seq. The final round is returned under the round policy
  * WITHOUT a forced checkpoint — the caller's terminal action
  * materializes it, exactly like the hand-rolled loops did.
  */
object GraphIter {
  sealed trait Mode
  case object Lazy extends Mode
  case object Eager extends Mode
  case object Chain extends Mode

  /** Persist every frame but run the materializing count() only on the
    * HEAD frame (r11). The BFS-family loops keep state as
    * Seq(fresh, settled-union): `fresh` is the frame with two
    * concurrent downstream consumers and genuinely needs the eager
    * count, while the union is a pure cache-concat of two
    * already-materialized caches — its lazy persist is populated by
    * whichever single-threaded action touches it first. Eager mode
    * spent a whole extra job per round counting that union (q187: 3
    * extra jobs, q339: 3 extra jobs over a wider seed-keyed frame). */
  case object EagerHead extends Mode

  def run(init: Seq[DataFrame], rounds: Int, checkpointEvery: Int,
      mode: Mode)(
      step: (Seq[DataFrame], Int) => Seq[DataFrame]): Seq[DataFrame] = {
    var state = init
    var sinceCk = List.empty[DataFrame] // persisted rounds since last ck
    var lastCk = List.empty[DataFrame]  // previous checkpoint's frames
    (1 to rounds).foreach { i =>
      val next = step(state, i)
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < rounds) {
        // Eager checkpoint FIRST (it may read the superseded blocks),
        // then release everything the new leaf replaces.
        val ck = next.map(_.localCheckpoint(true))
        sinceCk.foreach(_.unpersist(false)); sinceCk = Nil
        lastCk.foreach(PlanApi.releaseLocalCheckpoint); lastCk = ck.toList
        state = ck
      } else {
        state = mode match {
          case Chain => next
          case Lazy =>
            val p = next.map(_.persist(StorageLevel.MEMORY_AND_DISK))
            sinceCk = p.toList ::: sinceCk; p
          case Eager =>
            val p = next.map { f =>
              val q = f.persist(StorageLevel.MEMORY_AND_DISK)
              q.count(); q
            }
            sinceCk = p.toList ::: sinceCk; p
          case EagerHead =>
            val p = next.map(_.persist(StorageLevel.MEMORY_AND_DISK))
            p.head.count()
            sinceCk = p.toList ::: sinceCk; p
        }
      }
    }
    state
  }

  /** Single-frame convenience: the common rank/label loop. */
  def run(init: DataFrame, rounds: Int, checkpointEvery: Int, mode: Mode)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    run(Seq(init), rounds, checkpointEvery, mode) { case (st, i) =>
      Seq(step(st.head, i))
    }.head
}
