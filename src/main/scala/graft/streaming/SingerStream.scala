package graft.streaming

import graft.pipeline.{SingerConfig, SingerPipeline}
import graft.schema.SchemaMapper.StreamSchema
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Unbounded variant of the Singer ingest (SURVEY.md §1 "Streams vs batch"):
  * the reference reads stdin until EOF — logically an unbounded stream
  * processed in 10k-row micro-batches (`sinks.py:118`). Structured Streaming
  * is the native Spark expression of exactly that model: micro-batch
  * triggers replace the SDK's batch drain, checkpointing replaces the
  * writer-singleton registry (`writers.py:14-33`), and batchId-idempotent
  * partition writes replace its open-file append (foreachBatch is
  * at-least-once; idempotency in batchId makes the pipeline effectively
  * exactly-once end to end).
  *
  * Schemas must be registered up front (Singer taps emit SCHEMA before the
  * first RECORD of a stream; a driver can pre-scan or pass them in). Each
  * micro-batch goes through the batch path's own per-stream writer
  * ([[SingerPipeline.writeStreams]]) — strict validation, coercion,
  * `compression`/`partitionBy` and STATE capture included — into
  * `<outDir>/<stream>.parquet/_batch=<batchId>`; a stream with no records
  * in a batch leaves no `_batch` directory (K4). So the batch and
  * streaming paths share all semantics by construction.
  */
object SingerStream {

  /** Start the ingest over a directory of growing JSON-line files.
    *
    * @param schemas per-stream registry (from
    *                [[graft.schema.SchemaMapper.fromSchemaMessage]])
    * @param maxFilesPerTrigger cap source files per micro-batch — the
    *                knob that forces a bounded input through MULTIPLE
    *                append batches (the parity query pins it to 1 so
    *                the appended union, not a single batch, is what
    *                the oracle checks)
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      schemas: Map[String, StreamSchema],
      config: SingerConfig,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {

    val registry = schemas.map { case (s, ss) =>
      s -> ss.select(config.fixedHeaders.get(s))
    }

    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader
      .text(inputDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // foreachBatch is AT-LEAST-ONCE: a batch can replay after a crash
        // between the write and the checkpoint commit. Every effect here
        // is therefore idempotent in batchId — data lands in a per-batch
        // partition directory that a replay OVERWRITES, and metrics and
        // state go to per-batch files with totals recomputed
        // (writeBatchMetrics, writeBatchState), never accumulated twice.
        val res = SingerPipeline.writeStreams(batch, registry, config,
          stream => s"${config.outDir}/$stream.parquet/_batch=$batchId", SaveMode.Overwrite)
        SingerPipeline.writeBatchMetrics(config.outDir, batchId, res.recordCounts)
        res.lastState.foreach(SingerPipeline.writeBatchState(config.outDir, batchId, _))
      }
      .start()
  }
}
