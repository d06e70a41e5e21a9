package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.build.{IndexBuilder, SegmentCatalog}

/** Continuous index maintenance over a document stream — the Structured
  * Streaming face of the incremental-insert path (reference:
  * src/ruminsert.c:799-837 `ruminsert`, one entry-tree descent per key;
  * here one micro-segment append per micro-batch).
  *
  * Dataflow: `readStream` source → `foreachBatch` → [[IndexBuilder.append]]
  * (tokenize → shard shuffle → pack blocks → parquet append) → manifest
  * commit. foreachBatch is at-least-once, so each applied batchId is
  * stamped into the manifest in the same atomic commit as its data
  * ([[graft.build.IndexMeta.lastBatchId]]); a batch redelivered after a
  * crash (append committed, streaming checkpoint not yet) is detected as
  * `batchId <= lastBatchId` and skipped — the standard exactly-once guard.
  * The other crash window (parquet written, manifest commit lost) is
  * closed by the manifest's data-file listing
  * ([[graft.build.IndexMeta.dataFiles]]): readers and later commits see
  * only listed files, so a replayed write's earlier part files stay
  * invisible orphans (compact garbage-collects them).
  * Query-side k-way merge over overlapping chunk ranges (micro-segments)
  * means readers never block on ingest; [[IndexBuilder.compact]] restores
  * single-run layout out-of-band.
  */
object StreamingIndexer {

  /** Start indexing `stream` (a streaming DataFrame with `docIdCol` and
    * `textCol`) into the existing index at `indexDir`. The index must have
    * been created by [[IndexBuilder.build]] first (possibly on an empty
    * corpus) so params/tokenizer are pinned by the manifest.
    */
  def start(spark: SparkSession, stream: DataFrame, docIdCol: String,
            textCol: String, indexDir: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    run(stream, indexDir, checkpointDir, trigger) { (batch, batchId) =>
      IndexBuilder.append(spark, batch, docIdCol, textCol, indexDir, batchId = batchId)
    }

  /** Multi-column variant: stream into an index built by
    * [[IndexBuilder.buildFields]] — same exactly-once micro-segment commit,
    * with field-prefixed keys via [[IndexBuilder.appendFields]].
    */
  def startFields(spark: SparkSession, stream: DataFrame, docIdCol: String,
                  fields: Seq[(String, String)], indexDir: String,
                  checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    run(stream, indexDir, checkpointDir, trigger) { (batch, batchId) =>
      IndexBuilder.appendFields(spark, batch, docIdCol, fields, indexDir, batchId = batchId)
    }

  /** The foreachBatch exactly-once guard around one append per micro-batch. */
  private def run(stream: DataFrame, indexDir: String, checkpointDir: String,
                  trigger: Trigger)(append: (DataFrame, Long) => Unit): StreamingQuery = {
    require(SegmentCatalog.load(indexDir).nonEmpty,
      s"no index manifest in $indexDir — run IndexBuilder.build or buildFields first")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = SegmentCatalog.load(indexDir).map(_.lastBatchId).getOrElse(-1L)
        // a batchId at or below the committed one is an at-least-once
        // redelivery of an already-applied batch — skip it
        if (batchId > applied && !batch.isEmpty) append(batch, batchId)
      }
      .start()
  }
}
