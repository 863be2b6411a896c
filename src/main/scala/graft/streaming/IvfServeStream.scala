package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity

/** Online serving from the self-contained at-rest IVF index — the
  * [[GraphServeStream]] story on the IVF tier (19th streaming
  * operator): query vectors arrive as a stream, and every micro-batch
  * is answered by the SAME partition-pruned probe as the batch
  * operator ([[graft.operators.Similarity.ivfTopKAtRest]] against an
  * [[graft.operators.Similarity.ivfWriteIndex]] layout), with the
  * query-side cell assignment taken from the layout's own STORED
  * quantizer — never retrained, so a streaming answer and the same
  * query's batch answer are bit-identical (`IvfServeStreamSpec` pins
  * the twin and batch-split invariance).
  *
  * Scale: per-batch cost ∝ the batch — the probe reads only the
  * batch's probed cell directories (PartitionFilters at the file
  * level, probed fraction ≈ nProbe/√n under the autoCells rule) and
  * joins them against the batch's probe table; the corpus is never
  * re-assigned or re-scanned. Unlike the graph walk there is no
  * driver-side anchor bound on the query batch (the only collect is
  * the probed-cell id set, bounded by the ≤1024-cell cap), so batches
  * need no chunking. Restart semantics are at-least-once, the
  * standard `foreachBatch` caveat: the engine commits a batch's
  * offsets only after its sink returns, so a crash after the append
  * but before the commit replays the batch, and a crash inside the
  * append can leave part of it. A replayed batch re-appends identical
  * rows, keyed (q_id, rn) downstream —
  * identical guaranteed by [[GraphServeStream.pinnedVersion]] in the
  * versioned form.
  */
object IvfServeStream {

  private def serveBatch(spark: SparkSession, batch: DataFrame,
                         indexPath: String, outDir: String,
                         nProbe: Int, k: Int, maxEpoch: Long,
                         indexVersion: Option[Int]): Unit = {
    import org.apache.spark.sql.functions.lit
    val answered = Similarity.ivfTopKAtRest(spark, s"$indexPath/codes",
      batch, Similarity.ivfStoredCentroids(spark, indexPath), nProbe, k,
      maxEpoch)
    indexVersion.fold(answered)(v =>
        answered.withColumn("index_version", lit(v)))
      .write.mode("append").parquet(outDir)
  }

  /** Wire a streaming query-vector relation (`vec_id`, `embedding`)
    * to the probe against a FIXED [[graft.operators.Similarity
    * .ivfWriteIndex]] layout; answers append to `outDir` as parquet.
    * The layout is fixed but not necessarily static: [[graft
    * .operators.Similarity.ivfAppendDelta]] may grow it mid-stream,
    * so each batch resolves the CURRENT append epoch once, pins it
    * ([[GraphServeStream.pinnedRecord]]), and probes `epoch <=`
    * that — appended vectors become findable at the next batch, while
    * a checkpoint replay reproduces its original rows even if the
    * index grew in between.
    */
  def start(spark: SparkSession, queries: DataFrame, indexPath: String,
            outDir: String, checkpoint: String, nProbe: Int, k: Int,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val e = GraphServeStream.pinnedRecord(spark, outDir, batchId,
          Similarity.indexEpoch(spark, indexPath).toString).toLong
        serveBatch(spark, batch, indexPath, outDir, nProbe, k,
          maxEpoch = e, indexVersion = None)
      }
      .start()

  /** Serve from a VERSIONED index root
    * ([[graft.operators.Similarity.ivfPublishVersion]] layouts): each
    * micro-batch resolves the highest `_PUBLISHED` version ONCE, pins
    * it in the batchId-keyed sidecar ([[GraphServeStream
    * .pinnedVersion]] — a checkpoint replay serves the version its
    * original run resolved), probes entirely under that layout's own
    * stored quantizer (a rebuild may change the cell count — the
    * assignment must match the cells the stored codes were written
    * under), and tags answers `index_version`. A rebuild landing
    * mid-stream takes effect atomically at the next batch; an
    * in-flight batch never mixes versions.
    */
  def startVersioned(spark: SparkSession, queries: DataFrame,
                     indexRoot: String, outDir: String,
                     checkpoint: String, nProbe: Int, k: Int,
                     trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // version AND append epoch in ONE atomic pin: a replay must
        // see neither a newer rebuild nor rows appended to the pinned
        // version after the original run
        val rec = GraphServeStream.pinnedRecord(spark, outDir, batchId, {
          val v = Similarity.graphCurrentVersion(spark, indexRoot)
            .getOrElse(throw new IllegalStateException(
              s"no published index version under $indexRoot"))
          val e = Similarity.indexEpoch(spark,
            Similarity.graphVersionPath(indexRoot, v))
          s"$v:$e"
        })
        // tolerant parse: a sidecar written by the pre-append
        // pinnedVersion path holds just "<version>" — a checkpoint
        // replay of such a batch must reproduce its rows (epoch 0 =
        // the build, all any pre-append run could have served), not
        // crash the stream on a MatchError
        val p = rec.split(":")
        val v = p(0).toInt
        val e = if (p.length > 1) p(1).toLong else 0L
        serveBatch(spark, batch,
          Similarity.graphVersionPath(indexRoot, v), outDir,
          nProbe, k, maxEpoch = e, indexVersion = Some(v))
      }
      .start()
}
