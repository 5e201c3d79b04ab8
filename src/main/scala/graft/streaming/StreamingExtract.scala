package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming front end for the extraction pipeline: a file-source
  * stream of interleaved-document parquet batches, extracted per micro-batch
  * through the same ExtractJob operators, with checkpointed exactly-once
  * sink semantics. The reference is a pure batch library (SURVEY.md §2.8 —
  * no streaming exists there); this is the idiomatic Spark extension for
  * continuously arriving documents at scale: new doc files land in `inDir`,
  * each micro-batch joins only ITS media refs against the media dimension,
  * and progress/restart come from the checkpoint, not custom state. */
object StreamingExtract {

  /** Start the stream: docs parquet files appearing under `docsDir` are
    * extracted against `media` and appended to `outDir/spans_out`. */
  def start(spark: SparkSession, docsDir: String, media: DataFrame, outDir: String,
            schema: org.apache.spark.sql.types.StructType,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val docsStream = spark.readStream.schema(schema).parquet(docsDir)
    docsStream.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        implicit val s: SparkSession = batch.sparkSession
        graft.ExtractJob.extract(batch, media, s.sessionState.conf.numShufflePartitions)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$outDir/spans_out")
        ()
      }
      .start()
  }

  /** Continuous crawl-archive ingestion: WARC files (`warc_ref`, `bytes`)
    * landing under `warcDir` are exploded and extracted per micro-batch
    * through the same `WarcOps.extractWarc` path as batch — inside
    * `foreachBatch` the batch is a static frame, so the container
    * explode's persist and the kernel's skew routing apply unchanged
    * (batch ≡ stream by construction, asserted in StreamingSpec). */
  def startWarc(spark: SparkSession, warcDir: String, outDir: String,
                schema: org.apache.spark.sql.types.StructType,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val warcStream = spark.readStream.schema(schema).parquet(warcDir)
    warcStream.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        implicit val s: SparkSession = batch.sparkSession
        graft.operators.WarcOps
          .extractWarc(batch, s.sessionState.conf.numShufflePartitions)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(s"$outDir/spans_out")
        ()
      }
      .start()
  }
}
