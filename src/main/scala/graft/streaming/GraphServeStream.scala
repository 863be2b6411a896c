package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity

/** Online serving from the at-rest graph-ANN index — the query side
  * of the vector store gone streaming (18th streaming operator):
  * query vectors arrive as a stream, and every micro-batch is
  * answered by the SAME fixed-round greedy walk as the batch operator
  * ([[graft.operators.Similarity.graphTopKAtRest]] against a
  * [[graft.operators.Similarity.graphWriteAtRest]] layout), so a
  * query answered online and the same query answered in a batch job
  * return bit-identical rows (`GraphServeStreamSpec` pins the twin
  * and batch-split invariance — the answer depends only on the query
  * vector and the immutable index, never on batch boundaries).
  *
  * Scale: per-batch cost ∝ the batch — the walk reads bucket-pruned
  * adjacency and node files sized by the batch's frontier, never the
  * corpus; the ≤4096 anchor rule bounds each chunk's query count
  * (oversized batches are split, see [[start]]). A layout is
  * immutable once written; [[startVersioned]] adds the rebuild story:
  * [[IvfStream]] detects the drift, a batch job publishes a fresh
  * version ([[graft.operators.Similarity.graphPublishVersion]]), and
  * serving rotates to it atomically at the next micro-batch. Restart
  * semantics are at-least-once, the standard `foreachBatch` caveat:
  * the engine commits a batch's offsets only after its sink returns,
  * so a crash after the append but before the commit replays the
  * batch, and a crash inside the append can leave part of it. A
  * replayed batch re-appends its answers — identical rows, keyed
  * (q_id, rn) downstream.
  */
object GraphServeStream {

  /** Serve one micro-batch against one resolved layout path,
    * splitting batches beyond the walk's 4096-query anchor bound into
    * ≤4096-row chunks rather than letting the `require` inside
    * [[graft.operators.Similarity.graphTopKAtRest]] terminate the
    * whole streaming query: answers are batch-split invariant (the
    * spec pins it — each query's walk depends only on its own vector
    * and the immutable index), so chunking changes nothing but the
    * number of jobs. Chunk membership is `pmod(xxhash64(vec_id, salt),
    * chunks)` — a narrow map, no window, no exchange: membership
    * needn't be rank-contiguous (determinism and the ≤4096-per-chunk
    * contract are all that matter), so a backlogged trigger delivering
    * millions of queries never funnels the whole batch through the one
    * reducer a global row_number chunker would. Hash chunks are only
    * EXPECTED-size bounded, so the chunk count targets half the cap
    * (~2048 expected) and the observed max chunk size — read from the
    * same per-chunk count pass that enumerates non-empty chunks — is
    * checked against the hard cap; a hash hot spot (>2× uniform over
    * DISTINCT vec_ids, i.e. xxhash64 collisions, not data skew)
    * deterministically re-salts with double the chunks rather than
    * letting graphTopKAtRest's `require` kill the streaming query.
    */
  private def serveBatch(spark: SparkSession, batch: DataFrame,
                         indexPath: String, centroids: DataFrame,
                         outDir: String, beam: Int, rounds: Int, k: Int,
                         indexVersion: Option[Int],
                         maxEpoch: Long): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // bucket count comes from the layout's OWN meta (graphTopKAtRest's
    // default): a layout written or published with a non-default
    // bucket count serves without any parameter threading — serving
    // can never disagree with the files it prunes
    def serve(chunk: DataFrame): Unit = {
      val answered = Similarity
        .graphTopKAtRest(spark, indexPath, chunk, centroids,
          beam, rounds, k, maxEpoch = maxEpoch)
      indexVersion.fold(answered)(v =>
          answered.withColumn("index_version", lit(v)))
        .write.mode("append").parquet(outDir)
    }
    val b = batch.persist()
    try {
      val n = b.count()
      if (n <= 4096) serve(b)
      else {
        var chunks = 2 * ((n + 4095) / 4096)
        var salt = 0
        var served = false
        // bounded retries: hash membership sends EVERY copy of a
        // duplicated vec_id to the same chunk under every salt, so a
        // batch with one id repeated >4096 times (an at-least-once
        // source replaying upstream) can never pass the size check —
        // unbounded re-salting would double-and-recount forever. After
        // the retry budget the batch degrades to rank chunking (a
        // global row_number — one reducer pass, but it splits
        // duplicates fine), instead of hanging the streaming query.
        while (!served && salt < 3) {
          val marked = b.withColumn("__chunk",
            pmod(xxhash64(col("vec_id"), lit(salt)), lit(chunks))
              .cast("int")).persist()
          try {
            // one distributed pass yields the non-empty chunk ids AND
            // the max-size check (collects ≤ n/2048 chunk counts, not
            // queries)
            val sizes = marked.groupBy(col("__chunk")).count()
              .collect().map(r => (r.getInt(0), r.getLong(1)))
            if (sizes.map(_._2).max <= 4096) {
              sizes.map(_._1).sorted.foreach { i =>
                serve(marked.filter(col("__chunk") === i).drop("__chunk"))
              }
              served = true
            } else { chunks *= 2; salt += 1 }
          } finally { marked.unpersist(); () }
        }
        if (!served) {
          val ranked = b.withColumn("__chunk",
            ((row_number().over(Window.orderBy(col("vec_id"))) - 1)
              / 4096).cast("int")).persist()
          try {
            val ids = ranked.select(col("__chunk")).distinct()
              .collect().map(_.getInt(0)).sorted
            ids.foreach { i =>
              serve(ranked.filter(col("__chunk") === i).drop("__chunk"))
            }
          } finally { ranked.unpersist(); () }
        }
      }
    } finally { b.unpersist(); () }
  }

  /** Wire a streaming query-vector relation (`vec_id`, `embedding`)
    * to the walk against a FIXED layout; answers append to `outDir`
    * as parquet. Fixed but not necessarily static:
    * [[graft.operators.Similarity.graphAppendDelta]] may grow the
    * graph mid-stream, so each batch resolves the CURRENT append
    * epoch once, pins it ([[pinnedRecord]]), and walks `epoch <=`
    * that — inserted nodes become findable at the next batch, while a
    * checkpoint replay reproduces its original rows even if the graph
    * grew in between (the [[IvfServeStream]] contract on this tier).
    */
  def start(spark: SparkSession, queries: DataFrame, indexPath: String,
            centroids: DataFrame, outDir: String, checkpoint: String,
            beam: Int, rounds: Int, k: Int,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val e = pinnedRecord(spark, outDir, batchId,
          Similarity.indexEpoch(spark, indexPath).toString).toLong
        serveBatch(spark, batch, indexPath, centroids, outDir,
          beam, rounds, k, indexVersion = None, maxEpoch = e)
      }
      .start()

  /** The batchId → resolved-index-version record that makes replay
    * deterministic: written ATOMICALLY (temp + rename) next to the
    * output BEFORE the batch serves, so a checkpoint-replayed batch
    * re-reads the version its original run resolved instead of
    * re-resolving — a rebuild landing between original serve and
    * replay can no longer make the replay append DIFFERENT answers
    * under a different `index_version` (the at-least-once contract is
    * "identical rows re-appended", and identical requires the same
    * index).
    */
  private[graft] def pinnedVersion(spark: SparkSession, outDir: String,
                                   batchId: Long,
                                   resolve: => Int): Int =
    pinnedRecord(spark, outDir, batchId, resolve.toString).toInt

  /** The general form of [[pinnedVersion]]: pin ANY resolved serving
    * state as an opaque string — the IVF tiers pin "version:epoch" in
    * ONE atomic record ([[IvfServeStream]]/[[IvfPqServeStream]]), so
    * a replayed batch can neither re-resolve a newer index version
    * NOR see rows appended ([[graft.operators.Similarity
    * .ivfAppendDelta]]) after its original run — two-sidecar pinning
    * would leave a crash window where version committed but epoch
    * didn't, and the replay would serve the old model over a grown
    * row set.
    */
  private[graft] def pinnedRecord(spark: SparkSession, outDir: String,
                                  batchId: Long,
                                  resolve: => String): String = {
    val dir = new org.apache.hadoop.fs.Path(s"$outDir.batchver")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rec = new org.apache.hadoop.fs.Path(dir, s"b=$batchId")
    if (fs.exists(rec)) {
      val in = fs.open(rec)
      try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
    } else {
      val v = resolve
      fs.mkdirs(dir)
      val tmp = new org.apache.hadoop.fs.Path(dir, s".b=$batchId.tmp")
      val out = fs.create(tmp, true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
      // rename is the atomic commit; a concurrent/crashed duplicate
      // attempt is harmless — both wrote the same resolved record
      if (!fs.rename(tmp, rec) && !fs.exists(rec))
        throw new IllegalStateException(s"could not pin record for $rec")
      v
    }
  }

  /** Serve from a VERSIONED index root
    * ([[graft.operators.Similarity.graphPublishVersion]] layouts):
    * each micro-batch resolves the highest `_PUBLISHED` version ONCE
    * and PINS it in a batchId-keyed sidecar record (see
    * [[pinnedVersion]] — a checkpoint replay serves from the version
    * the original run resolved, not whatever is newest at replay
    * time), serves entirely from that layout with its own STORED
    * centroid set (a rebuild may change the cell count — the entry
    * rule must match the heads it enters), and tags answers
    * `index_version` — so a rebuild landing mid-stream takes effect
    * atomically at the next batch, an in-flight batch never mixes
    * versions, and the answer's provenance is auditable downstream.
    */
  def startVersioned(spark: SparkSession, queries: DataFrame,
                     indexRoot: String, outDir: String,
                     checkpoint: String, beam: Int, rounds: Int, k: Int,
                     trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one atomic "version:epoch" pin (the IVF tiers' record): a
        // replay sees neither a newer rebuild nor nodes appended
        // ([[graft.operators.Similarity.graphAppendDelta]]) after its
        // original run. Tolerant parse: a legacy version-only sidecar
        // pins epoch 0 (the build).
        val rec = pinnedRecord(spark, outDir, batchId, {
          val v = Similarity.graphCurrentVersion(spark, indexRoot)
            .getOrElse(throw new IllegalStateException(
              s"no published index version under $indexRoot"))
          val e = Similarity.indexEpoch(spark,
            Similarity.graphVersionPath(indexRoot, v))
          s"$v:$e"
        })
        val parts = rec.split(":")
        val v = parts(0).toInt
        val e = if (parts.length > 1) parts(1).toLong else 0L
        val path = Similarity.graphVersionPath(indexRoot, v)
        serveBatch(spark, batch, path,
          Similarity.graphStoredCentroids(spark, path), outDir,
          beam, rounds, k, indexVersion = Some(v), maxEpoch = e)
      }
      .start()
}
