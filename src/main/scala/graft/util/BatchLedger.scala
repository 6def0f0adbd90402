package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Micro-batch ledgers: one mark file per batch id, written after the
  * batch's effects land, so a replayed batch (same id after a crash) is a
  * no-op — Structured Streaming's batch id as the idempotence key. Used by
  * the ingest ledger ([[graft.hedera.IngestPipeline]]) and the curation
  * ledger ([[graft.dedup.TextDedupIndex.curateStream]]).
  */
object BatchLedger {

  /** The mark name of batch `id`: zero-padded, so names order as ids do. */
  def mark(prefix: String, id: Long): String = f"$prefix$id%020d"

  /** Delete the marks under `ledger` of batches below `id`: every name
    * `<prefix><digits>`, optionally `.tmp`-suffixed, for one of
    * `prefixes`. Micro-batches are delivered in order, so when batch `id`
    * arrives every lower id has committed its offsets and can never
    * replay; without this a ledger grows by one file per batch forever.
    * Best effort: a mark that fails to delete goes with the next batch. */
  def pruneBelow(f: FileSystem, ledger: Path, id: Long, prefixes: String*): Unit =
    if (f.exists(ledger))
      f.listStatus(ledger).map(_.getPath).foreach { p =>
        val n = p.getName.stripSuffix(".tmp")
        val below = prefixes.find(n.startsWith).map(n.stripPrefix).exists(d =>
          d.nonEmpty && d.forall(_.isDigit) && d.toLong < id)
        if (below)
          try { f.delete(p, false): Unit }
          catch { case _: java.io.IOException => () }
      }
}
