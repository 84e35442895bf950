package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** Keyed carried state at constant plan depth, shared in both tiers by
  * the delta-agg aux state, the window cascade's grouped state, the
  * streaming update-mode aggregate, the delta-join cascade's grouped
  * state (output row → multiplicity) and the session MV's raw rows and
  * face (row → multiplicity). The
  * state is `base` (the last flat checkpoint, or a mode's own layer over
  * it, see [[stack]]) plus a driver-resident `key → V` overlay holding the
  * current value of every key touched since; the touched set also keeps
  * keys whose value vanished. The carried frame is always
  * {{{
  *   base ANTI JOIN broadcast(touched) ∪ render(overlay)
  * }}}
  * one anti join deep however many epochs have passed. The anti join
  * names only the touched keys that may have a base row: a key the last
  * [[probe]] or [[probeRange]] covered and the mode's collect did not
  * return is left out, and with no such key the frame is
  * `base ∪ render(overlay)`. With no base (a mode starting from no state,
  * or a state seeded whole into the overlay) the frame is
  * `render(overlay)` as a LocalRelation and nothing is probed, until it
  * outgrows `limit` and checkpoints flat into the first base. Each mode keeps its value type, key condition, render
  * (to state rows), base-probe collect and fold.
  *
  * Invariants:
  *  - Value-hashable keys: `Row.hashCode` hashes a byte array by identity,
  *    so [[begin]] refuses key schemas holding a binary
  *    ([[CarriedOverlay.valueHashable]]) and the mode takes its fallback.
  *  - Identity re-base: the overlay describes only the frame it returned
  *    last. An epoch over any other state frame (a durable restore, a
  *    repair, an epoch another path took or whose emit failed) or over no
  *    state drops the overlay and re-bases on that frame, which every such
  *    path leaves flat; a mode that seeds takes the frame whole into the
  *    overlay instead while it fits `limit`. So "past the bound" is a
  *    property of the frame ([[overBound]]), never a latch. [[invalidate]]
  *    forces a re-base after an epoch escaped without installing the frame
  *    it got.
  *  - Commit before emit: everything before [[carry]] is pure (beyond
  *    [[current]] noting keys the base lacks), so a mode may refuse the
  *    epoch there. [[carry]] applies the epoch's changes and builds (and,
  *    when due, checkpoints) the next frame; the caller emits the epoch's
  *    changelog ops only after it returns, so a failure in it has emitted
  *    nothing.
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
  private var base: Option[DataFrame] = None
  private var schema: StructType = _
  private var keySchema: StructType = _
  private var keyCond: Column = _
  private val overlay = mutable.LinkedHashMap[Row, V]()
  private val touched = mutable.LinkedHashSet[Row]()
  /** Touched keys a probe found no base row for: the anti join skips them. */
  private val absent = mutable.HashSet[Row]()
  /** Whether the last probe covered a key: one it did not return is absent. */
  private var probed: Row => Boolean = _ => false
  private var returned: Option[DataFrame] = None
  private var depth = 0
  private var carried = 0L
  /** Epochs the overlay carried over a base: a probe that the over-bound
    * fast path engaged, since a silent refusal falls to a slower path that
    * is still correct. */
  def epochs: Long = carried

  /** Whether `state` is the frame this overlay returned last, held whole
    * in the overlay (no base). */
  def holdsAll(state: DataFrame): Boolean = base.isEmpty && returned.exists(_ eq state)

  /** Whether `state` is the frame this overlay returned last, carried over
    * a base: a state known to be past `limit`. */
  def overBound(state: DataFrame): Boolean = base.nonEmpty && returned.exists(_ eq state)

  /** The overlay's live keys and their values: the whole state while it
    * has no base. */
  def keyCount: Int = overlay.size
  def values: Iterator[V] = overlay.valuesIterator
  def entries: Iterator[(Row, V)] = overlay.iterator

  /** Drop the state; the next epoch re-bases on the frame it is given. */
  def invalidate(): Unit = rebase(None)

  /** Open an epoch over `state` (None: no state yet) of `stateSchema`
    * rows. Keys are rows of `keys`, whose column names differ from the
    * state's; `cond` matches them to state rows. A `state` this overlay
    * did not return (a backfill, restore or repair frame) is taken whole
    * into the no-base tier when `seed` collects its entries (None: past
    * `limit`, or a mode that does not seed), else it becomes the base.
    * False = refused keys. */
  def begin(state: Option[DataFrame], stateSchema: StructType, keys: StructType,
      cond: Column, seed: DataFrame => Option[Iterable[(Row, V)]] = _ => None): Boolean = {
    if (!CarriedOverlay.valueHashable(keys)) return false
    val seeded = state.filterNot(s => returned.exists(_ eq s)).flatMap(seed)
    rebase(if (seeded.isEmpty) state else None)
    seeded.foreach(_.foreach { case (k, v) => overlay.update(k, v); touched += k })
    schema = stateSchema
    keySchema = keys
    keyCond = cond
    true
  }

  /** The base rows of the `keys` this overlay window has not touched yet,
    * as a plan the mode collects; None (no job) when there are none, as
    * always with no base. */
  def probe(keys: IndexedSeq[Row]): Option[DataFrame] = base.flatMap { b =>
    val fresh = keys.filterNot(touched.contains)
    probed = fresh.toSet
    if (fresh.isEmpty) None
    else Some(b.join(broadcast(localDf(fresh, keySchema)), keyCond, "left_semi"))
  }

  /** The base rows inside the ranges `bounds` names (rows of
    * `boundSchema`, a group key and its bound, matched to state rows by
    * `cond`), as one broadcast semi join the mode collects; None (no job)
    * with no base. `inRange` tells the keys inside the ranges: one the
    * collect does not return has no base row. The rows of touched keys it
    * returns are stale; [[current]] reads the overlay's. */
  def probeRange(bounds: IndexedSeq[Row], boundSchema: StructType, cond: Column,
      inRange: Row => Boolean): Option[DataFrame] = base.map { b =>
    probed = inRange
    b.join(broadcast(localDf(bounds, boundSchema)), cond, "left_semi")
  }

  /** Value of `k` before this epoch: the overlay's for a touched key (None
    * once it vanished), else the mode's collect of the last [[probe]] or
    * [[probeRange]]. */
  def current(k: Row, found: collection.Map[Row, V]): Option[V] =
    if (touched.contains(k)) overlay.get(k)
    else {
      val v = found.get(k)
      if (v.isEmpty && probed(k)) absent += k
      v
    }

  /** Commit the epoch's new values (None = the key vanished) and return
    * the next carried frame. */
  def carry(changes: Iterable[(Row, Option[V])]): DataFrame = {
    // an escape before the new frame is returned (a flatten job) must not
    // leave the applied changes matched to the old frame
    returned = None
    changes.foreach { case (k, v) =>
      touched += k
      v match {
        case Some(x) => overlay.update(k, x)
        case None => overlay.remove(k)
      }
    }
    val rendered = render(overlay.iterator)
    val oversize = rendered.length > limit || touched.size > limit
    val rows = localDf(rendered, schema)
    val out = base match {
      case None if !oversize => rows
      case None => layer(rows, oversize = true)
      case Some(b) =>
        carried += 1
        val shadowed = touched.filterNot(absent).toIndexedSeq
        val kept = if (shadowed.isEmpty) b
          else b.join(broadcast(localDf(shadowed, keySchema)), keyCond, "left_anti")
        layer(kept.unionByName(rows), oversize)
    }
    returned = Some(out)
    out
  }

  /** A mode's own layer `plan` over `state`: it becomes the next base,
    * checkpointed at once when `flat` (a state found past `limit`). */
  def stack(state: DataFrame, plan: DataFrame, flat: Boolean = false): DataFrame = {
    rebase(Some(state))
    returned = Some(layer(plan, oversize = flat))
    reset(returned)
    returned.get
  }

  private def layer(plan: DataFrame, oversize: Boolean): DataFrame = {
    depth += 1
    if (depth < every && !oversize) plan
    else {
      depth = 0
      val flat = flatten(plan)
      reset(Some(flat))
      flat
    }
  }

  private def rebase(state: Option[DataFrame]): Unit =
    if (state.isEmpty || !returned.exists(_ eq state.get)) {
      returned = None; reset(state); depth = 0
    }

  private def reset(b: Option[DataFrame]): Unit = {
    overlay.clear(); touched.clear(); absent.clear(); probed = _ => false; base = b
  }

  private def localDf(rows: IndexedSeq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}

private[engine] object CarriedOverlay {
  /** False when a binary anywhere in `schema` would make Row-keyed map
    * lookups miss equal keys (duplicated keys, not wrong values). */
  def valueHashable(schema: StructType): Boolean = {
    import org.apache.spark.sql.types._
    def ok(dt: DataType): Boolean = dt match {
      case BinaryType => false
      case s: StructType => s.fields.forall(f => ok(f.dataType))
      case a: ArrayType => ok(a.elementType)
      case m: MapType => ok(m.keyType) && ok(m.valueType)
      case _ => true
    }
    schema.fields.forall(f => ok(f.dataType))
  }
}
