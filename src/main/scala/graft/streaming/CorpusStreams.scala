package graft.streaming

import org.apache.spark.sql.DataFrame

/** The two self-healing `foreachBatch` sinks: each folds a micro-batch of
  * (vec_id, embedding) rows into an at-rest layout and runs the periodic
  * audit keyed off the checkpointed batchId. They are the drivers of
  * [[graft.operators.EmbeddingMaintenance.maintainPersistent]] and
  * [[graft.operators.GraphMaintenance.maintainGraphPersistent]]
  * (SelfHealingIngestSpec and SelfHealingGraphSpec run them on a real
  * stream).
  */
object CorpusStreams {

  /** Ingest-time IVF self-healing (round-11 verdict task 3): the
    * `foreachBatch` sink that keeps a LIVE at-rest cell layout healthy
    * under continuous vector churn without manual intervention. Each
    * micro-batch of (vec_id, embedding) rows is upserted into the layout
    * under the frozen quantizer
    * ([[graft.operators.EmbeddingMaintenance.upsertVecs]] — only the
    * affected cell directories rewrite); every `auditEvery`-th batch runs
    * the drift audit (one column-pruned scan), and when it fires the
    * cycle reclusters and refreshes the quantizer sidecar — exactly the
    * batch [[graft.operators.EmbeddingMaintenance.maintain]] loop, but
    * with the quantizer state persisted IN the layout
    * (`<path>.quantizer.json`) instead of driver memory, so a
    * checkpoint-restarted stream resumes the cycle with the exact
    * centroids the stored cells were assigned under. Batch replays are
    * idempotent (same ids, same vectors → same layout), so
    * foreachBatch's at-least-once delivery is safe; the audit cadence
    * keys off the checkpointed batchId, so it is stable across restarts
    * too. Create the layout with
    * [[graft.operators.EmbeddingMaintenance.writeCellLayoutPersistent]]
    * before starting the stream.
    *
    * `recallFloor > 0` arms the RECALL trigger (round-12 verdict task
    * 3): each audit batch also runs
    * [[graft.operators.EmbeddingMaintenance.recallAudit]] (recall@`recallK`
    * of the `recallNProbe`-probe search vs exact, over a content-addressed
    * panel) and reclusters when it sinks below the floor — catching the
    * boundary-straddling arrivals the drift proxies are blind to. */
  def selfHealingVectorSink(path: String, auditEvery: Int = 4,
                            targetCell: Int = 500,
                            recallFloor: Double = 0.0, recallK: Int = 5,
                            recallNProbe: Int = 1,
                            recallPanelN: Int = 16): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      graft.operators.EmbeddingMaintenance.maintainPersistent(
        batch.sparkSession, path, batch.select("vec_id", "embedding"),
        audit = (batchId + 1) % auditEvery == 0, targetCell,
        recallFloor, recallK, recallNProbe, recallPanelN)

  /** Ingest-time self-healing for the at-rest kNN GRAPH (round-14 verdict
    * task 2) — the graph twin of [[selfHealingVectorSink]]. Each
    * micro-batch of (vec_id, embedding) rows folds into BOTH artifacts
    * through [[graft.operators.GraphMaintenance.maintainGraphPersistent]]:
    * append-only edge/probe/redge/dir deltas, the index drift/recall
    * audit at `auditEvery` cadence (the graph is REBUILT under fresh
    * centroids when it fires — cell boundaries moved, so the candidate
    * discipline changed wholesale), and the edge-log compaction trigger
    * otherwise.
    *
    * Replay idempotence: unlike the vector sink — whose upsert is
    * naturally idempotent (same ids, same vectors, same cells) — the
    * graph fold APPENDS, so foreachBatch's at-least-once delivery needs a
    * cursor. The checkpointed batchId is persisted in the graph sidecar
    * (`lastBatch`), an already-folded batchId is skipped entirely, and a
    * checkpoint-restarted stream resumes from the sidecar cursor alone
    * (the cursor survives audit-triggered rebuilds too). Create the
    * layouts with [[graft.operators.EmbeddingMaintenance
    * .writeCellLayoutPersistent]] +
    * [[graft.operators.GraphMaintenance.writeKnnGraph]] before starting
    * the stream. */
  def selfHealingGraphSink(embPath: String, graphPath: String,
                           auditEvery: Int = 4, targetCell: Int = 500,
                           recallFloor: Double = 0.0, recallK: Int = 5,
                           recallNProbe: Int = 1, recallPanelN: Int = 16,
                           compactMaxGens: Int = 8,
                           compactMaxFrac: Double = 0.5): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      graft.operators.GraphMaintenance.maintainGraphPersistent(
        batch.sparkSession, embPath, graphPath,
        batch.select("vec_id", "embedding"),
        audit = (batchId + 1) % auditEvery == 0, targetCell,
        recallFloor, recallK, recallNProbe, recallPanelN,
        compactMaxGens, compactMaxFrac, batchId)
}
