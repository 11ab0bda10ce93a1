package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Streaming ingest for the persisted lexical index (X152's
  * [[graft.llm.Retrieval.buildLexIndex]] store) — the micro-batch
  * face of index maintenance: document waves land in a directory,
  * each micro-batch appends as the next index version via
  * [[graft.llm.Retrieval.appendToLexIndex]], and serving stays
  * [[graft.llm.Retrieval.searchLexIndex]] — readers never coordinate
  * with the ingest (append-only store, latest-wins resolution).
  * Searches serve from a resolved snapshot keyed by the store's
  * data-file listing: every appended batch adds new files, so the
  * next search after it sees a changed listing and resolves afresh,
  * and a snapshot reads exactly the files it was keyed by — a batch
  * landing mid-resolve is picked up by the following search, never
  * missed and never half-read.
  *
  * Delivery semantics: the latest-wins layout makes DUPLICATE batch
  * delivery harmless by construction — a re-delivered batch appends
  * byte-identical postings at a fresh version, and resolution keeps
  * the (identical) newest copy, so the serve output is unchanged
  * (spec-pinned). Out-of-order waves are safe whenever their doc_id
  * sets are disjoint; same-doc cross-wave ordering follows file
  * order, the single-writer contract of the batch append.
  */
object LexIndexStream {

  /** Drain every available wave file under `wavesDir` into the index
    * at `indexPath` (one file per micro-batch, bounded run — the
    * q182 processing discipline), and return the number of
    * micro-batches processed.
    */
  def ingest(spark: SparkSession, wavesDir: String, schema: StructType,
             idCol: String, textCol: String, indexPath: String,
             checkpointDir: String): Int = {
    val waves = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(wavesDir)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    // single-writer contract: this run owns the index, so the next
    // version is read ONCE and minted per appended batch (base+1,
    // base+2, …) instead of re-scanning the growing doclen store
    // every micro-batch (round-14: the per-batch max-scan was
    // O(waves²) file reads over a run; values are identical — each
    // non-empty batch appends ≥1 doclen row at exactly max+1)
    val ver = new java.util.concurrent.atomic.AtomicLong(
      graft.llm.Retrieval.currentLexVersion(spark, indexPath))
    val q = waves.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.llm.Retrieval.appendToLexIndex(spark, indexPath,
            batch, idCol, textCol, ver.incrementAndGet())
          batches.incrementAndGet()
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    batches.get()
  }
}
