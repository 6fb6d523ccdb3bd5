package graft.ops

import graft.sources.TableStore

/** The store-slot protocol. Every single-token slot a store keeps is a
  * [[TableStore]] marker — one on-disk format per backend (a `_HELD`
  * file on parquet, a 1-row table on JDBC) — and this module owns the
  * three rules built on them:
  *
  *  - the WRITER FENCE ([[fenced]]): every mutating entry point of a
  *    sharded state machine (RollupStore init/ingest/reshard, MvStore
  *    init/refresh) runs inside it;
  *  - PENDING-INTENT WINDOWS ([[beginWindow]] / [[resumeWindow]]): a
  *    log follower persists the version window it is about to apply
  *    BEFORE the refresh, so a retry after a crash resumes the exact
  *    stamped window;
  *  - IN-FLIGHT MARKERS ([[holding]]): a token set before a multi-step
  *    mutation and cleared after it (Bm25Store's batch key, IndexStore's
  *    split state) — present at the next call means the last one died
  *    mid-flight.
  */
private[graft] object StoreTxn {

  private def fenceSlot(name: String) = s"${name}__writer_fence"

  /** Run `body` holding `name`'s writer fence, released on every exit,
    * success or failure — only a process death leaves it held. A
    * second writer that starts while the fence is held fails loudly
    * instead of interleaving half-merged shard rewrites with the first
    * (stamp-probe replay detection assumes serialized epochs). The
    * acquire is [[TableStore.markerClaim]]: atomic create-if-absent on
    * the parquet backend; a best-effort probe-then-set on JDBC, where
    * two writers racing a free fence within one write latency can both
    * pass. After a crash, [[RollupStore.clearWriterFence]] is the
    * operator's explicit recovery step.
    */
  def fenced[T](store: TableStore, name: String, op: String)(body: => T): T = {
    acquireFence(store, name, op)
    try body finally clearFence(store, name)
  }

  def acquireFence(store: TableStore, name: String, op: String): Unit =
    store.markerClaim(fenceSlot(name), s"$op:${java.util.UUID.randomUUID()}")
      .foreach { held =>
        throw new IllegalStateException(
          s"'$name' has an active writer ($held) — " +
            "single-writer contract violated; if that writer crashed, " +
            "clearWriterFence() is the explicit recovery step")
      }

  def clearFence(store: TableStore, name: String): Unit =
    store.markerClear(fenceSlot(name))

  /** Codec for pending-window tokens: the advance's (from, to) version
    * windows in table order, "f:t,f:t,…". Decode is tolerant — any
    * malformed token reads as None.
    */
  private object PendingMarker {
    def encode(ws: Seq[(Int, Int)]): String =
      ws.map { case (f, t) => s"$f:$t" }.mkString(",")
    def decode(tok: String): Option[Seq[(Int, Int)]] =
      scala.util.Try(tok.split(",").toSeq.map { p =>
        val Array(f, t) = p.split(":")
        (f.toInt, t.toInt)
      }).toOption.filter(_.nonEmpty)
  }

  /** Persist the window `from` → `to` in `slot` before applying it. */
  def beginWindow(store: TableStore, slot: String, from: Seq[Int], to: Seq[Int]): Unit =
    store.markerSet(slot, PendingMarker.encode(from.zip(to)))

  /** The resume rule: the targets of `slot`'s pending window when it is
    * still live, else None (advance to the live versions). Live means
    * one window per table, starting exactly at the cursor `from` (the
    * cursor moving makes a window stale — no cleanup write needed),
    * moving forward, with every target still retained by its log
    * (`retained(i, v)`; a target pruned by a racing vacuum is gone).
    * The read is TOLERANT: a crash inside the marker write itself
    * leaves a truncated or unreadable token, and that window's refresh
    * provably had not started — it reads as no pending, never as a
    * permanent wedge.
    */
  def resumeWindow(store: TableStore, slot: String, from: Seq[Int])(
      retained: (Int, Int) => Boolean): Option[Seq[Int]] =
    scala.util.Try(store.markerHolder(slot)).toOption.flatten
      .flatMap(PendingMarker.decode)
      .filter { w =>
        w.length == from.length && w.map(_._1) == from &&
          w.forall { case (f, t) => t >= f } && w.exists { case (f, t) => t > f } &&
          w.zipWithIndex.forall { case ((_, t), i) => retained(i, t) }
      }
      .map(_.map(_._2))

  /** Run `body` with `token` held in `slot`: set before, cleared after
    * `body` returns. A failure leaves it held — the next caller's
    * signal that a mutation died mid-flight.
    */
  def holding[T](store: TableStore, slot: String, token: String)(body: => T): T = {
    store.markerSet(slot, token)
    val r = body
    store.markerClear(slot)
    r
  }
}
