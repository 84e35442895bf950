package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** Over-bound carried state at constant plan depth, shared by the
  * maintainer modes whose keyed state outgrew the driver tier (the
  * delta-agg aux state and the window cascade's grouped state). The state
  * is `base` (the last flat checkpoint, or a mode's own layer over it, see
  * [[stack]]) plus a driver-resident `key → V` overlay holding the current
  * value of every key touched since; the touched set also keeps keys whose
  * value vanished. The carried frame is always
  * {{{
  *   base ANTI JOIN broadcast(touched) ∪ render(overlay)
  * }}}
  * one anti join deep however many epochs have passed. Each mode keeps its
  * value type, its key condition, the render of values back to state rows
  * (`render`, in the base's schema), how fresh keys' base rows are
  * collected, and the fold itself.
  *
  * Invariants:
  *  - Identity re-base: the overlay describes only the frame it returned
  *    last. An epoch over any other state frame (a durable restore, a
  *    repair, an epoch another path took) drops the overlay and re-bases on
  *    that frame, which every such path leaves flat. [[invalidate]] forces
  *    this after an epoch escaped without installing the frame it got.
  *  - Commit before emit: everything before [[carry]] is pure, so a mode
  *    may refuse the epoch there. [[carry]] applies the epoch's changes and
  *    builds (and, when due, checkpoints) the next frame; the caller emits
  *    the epoch's changelog ops only after it returns, so a failure in it
  *    has emitted nothing.
  *  - Depth bound: `depth` counts plan layers above the last flat
  *    checkpoint, whether [[carry]] or a mode's own slice stack ([[stack]])
  *    added them. At `every` layers, or when the rendered overlay or the
  *    touched set outgrows `limit` rows, the frame checkpoints flat through
  *    `flatten` and becomes the next base.
  */
private[engine] final class CarriedOverlay[V](spark: SparkSession,
    every: => Int, limit: => Int,
    render: Iterator[(Row, V)] => IndexedSeq[Row],
    flatten: DataFrame => DataFrame) {
  private var base: DataFrame = _
  private var keySchema: StructType = _
  private var keyCond: Column = _
  private val overlay = mutable.LinkedHashMap[Row, V]()
  private val touched = mutable.LinkedHashSet[Row]()
  private var returned: Option[DataFrame] = None
  private var depth = 0
  private var carried = 0L
  /** Epochs the overlay carried: a probe that the fast path engaged, since
    * a silent refusal falls to a slower path that is still correct. */
  def epochs: Long = carried

  def invalidate(): Unit = returned = None

  /** Open an epoch over `state`. Keys are rows of `keys`, whose column
    * names differ from the state's; `cond` matches them to state rows. */
  def begin(state: DataFrame, keys: StructType, cond: Column): Unit = {
    rebase(state)
    keySchema = keys
    keyCond = cond
  }

  /** The keys of `keys` this overlay window has not touched yet. */
  def fresh(keys: IndexedSeq[Row]): IndexedSeq[Row] = keys.filterNot(touched.contains)

  /** The base rows of fresh `keys`, as a plan the mode collects. */
  def probe(keys: IndexedSeq[Row]): DataFrame =
    base.join(broadcast(localDf(keys, keySchema)), keyCond, "left_semi")

  /** Value of `k` before this epoch: the overlay's for a touched key (None
    * once it vanished), else the mode's probe of the base. */
  def current(k: Row, probed: collection.Map[Row, V]): Option[V] =
    if (touched.contains(k)) overlay.get(k) else probed.get(k)

  /** Commit the epoch's new values (None = the key vanished) and return
    * the next carried frame. */
  def carry(changes: Iterable[(Row, Option[V])]): DataFrame = {
    changes.foreach { case (k, v) =>
      touched += k
      v match {
        case Some(x) => overlay.update(k, x)
        case None => overlay.remove(k)
      }
    }
    val rows = render(overlay.iterator)
    val plan = base
      .join(broadcast(localDf(touched.toIndexedSeq, keySchema)), keyCond, "left_anti")
      .unionByName(localDf(rows, base.schema))
    carried += 1
    val out = layer(plan, rows.length > limit || touched.size > limit)
    if (depth == 0) reset(out)
    out
  }

  /** A mode's own layer `plan` over `state`: it becomes the next base. */
  def stack(state: DataFrame, plan: DataFrame): DataFrame = {
    rebase(state)
    val out = layer(plan, oversize = false)
    reset(out)
    out
  }

  private def layer(plan: DataFrame, oversize: Boolean): DataFrame = {
    depth += 1
    val out =
      if (depth >= every || oversize) { depth = 0; flatten(plan) }
      else plan
    returned = Some(out)
    out
  }

  private def rebase(state: DataFrame): Unit =
    if (!returned.exists(_ eq state)) { reset(state); depth = 0 }

  private def reset(b: DataFrame): Unit = {
    overlay.clear(); touched.clear(); base = b
  }

  private def localDf(rows: IndexedSeq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
