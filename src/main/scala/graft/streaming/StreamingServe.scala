package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StructField, StructType}
import graft.core.Metric
import graft.operators.{GraphLayout, IndexLayout}

/** Serving a QUERY STREAM against a stored index layout — the deployment
  * shape of a 100 TB index: the index is a persisted store
  * ([[graft.operators.GraphLayout]] / [[graft.operators.IndexLayout]]),
  * queries arrive continuously, and every micro-batch is answered through
  * the family's ONE `serve()` entry point, so each batch gets the same
  * probe-once routing and zero-corpus-shuffle execution the batch API
  * certifies (reference posture: the long-lived orchestrator object
  * queries flow through, include/svs/orchestrators/manager.h:197-245 —
  * here the "orchestrator" is the opened layout plus this attached
  * stream).
  *
  * Sink protocol (exactly-once): results land under `outPath`
  * partitioned by `batch_id` and each micro-batch writes with DYNAMIC
  * partition overwrite, so a REPLAYED batch (foreachBatch's at-least-once
  * redelivery after a failure) rewrites its own `batch_id=` partition
  * instead of appending duplicates — the same idempotence recipe as
  * [[graft.operators.GraphLayout.upsert]]'s dynamic partition overwrite,
  * applied to the result stream. Batch ≡ stream: the union of all batch
  * partitions is bit-identical to one batch `serve()` of the union of the
  * query batches (StreamingServeSpec; per-query top-k is independent
  * across queries, so micro-batch boundaries cannot change any row).
  *
  * Deployment dials (all certified batch ≡ stream in StreamingServeSpec):
  *   - `trigger` — any Structured Streaming trigger passes through;
  *     `Trigger.AvailableNow()` is the CATCH-UP recipe (drain everything
  *     pending in rate-limited micro-batches, then stop — the restartable
  *     backfill for a query backlog).
  *   - `maxQueriesPerBatch` — the query-rate bound: a micro-batch larger
  *     than the dial is served in ≤-dial SLICES (deterministic: distinct
  *     query_ids sorted ascending, chunked), one result write per batch.
  *     Per-query top-k independence makes slicing exact; what it bounds
  *     is the per-serve collected query batch (probe maps and query
  *     broadcasts are ∝ batch size by the serving contract — this keeps
  *     both flat under a burst). No query is ever dropped. Source-side
  *     admission (fewer queries per TRIGGER) composes via the reader's
  *     own `maxFilesPerTrigger`/`maxOffsetsPerTrigger` options.
  *
  * Scale shape: each micro-batch pays I/O ∝ its probed shard union and
  * exchange ∝ |batch|·probes·k (SCALE.md serving laws) — a steady query
  * stream against a 100 TB store reads only what its batches probe. */
object StreamingServe {

  /** The canonical serving result shape every family's `serve()` emits
    * (TopK/Rerank contract): what [[results]] returns for a sink no
    * batch has written yet. */
  val resultSchema: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("rnk", IntegerType),
    StructField("neighbor_id", LongType),
    StructField("dist", DoubleType)))

  /** Attach a query stream to ANY per-batch serving function — the
    * generic core the four family overloads share. Each micro-batch
    * (empty-skipped, then sliced by `maxQueriesPerBatch`) is served via
    * `serve` and written to `outPath/batch_id=N/` with dynamic partition
    * overwrite (idempotent under replay), one result write per batch.
    * Callers own the returned query's lifecycle. */
  def attach(queryStream: DataFrame, outPath: String, checkpoint: String,
             trigger: Option[Trigger] = None, maxQueriesPerBatch: Int = 0)
            (serve: DataFrame => DataFrame): StreamingQuery = {
    val w0 = queryStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
    val w = trigger.fold(w0)(w0.trigger)
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!isKnownEmpty(batch)) {
          val parts =
            if (maxQueriesPerBatch > 0) slices(batch, maxQueriesPerBatch)
            else if (batch.isEmpty) Seq.empty[DataFrame]
            else Seq(batch)
          if (parts.nonEmpty)
            writeBatch(parts.map(serve).reduce(_ union _), batchId, outPath)
        }
      }
      .start()
  }

  /** Driver-side (zero-job) emptiness check: true iff the optimizer
    * already folded the batch to an empty LocalRelation (a trigger whose
    * plan is STATICALLY empty — e.g. the source delivered no rows, or an
    * always-false predicate upstream let PropagateEmptyRelation collapse
    * it). Plans the optimizer cannot prove empty fall through to the
    * one-small-job `batch.isEmpty` guard in [[attach]] — that
    * take(1) is the price of never serving a phantom batch, and it runs
    * only when a row-bearing plan arrived (the steady-state batch then
    * pays real serve jobs anyway, so the guard is noise there). */
  private[graft] def isKnownEmpty(batch: DataFrame): Boolean =
    batch.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** Deterministic ≤-`maxQ`-query slices of one micro-batch: distinct
    * query_ids sorted ascending, chunked — arrival order inside the
    * batch cannot change the slicing, so a REPLAYED batch re-serves the
    * identical slices. The distinct-ids collect doubles as the emptiness
    * check when the rate bound is on (queries are broadcast-small by the
    * serving contract, so the collect is the same size class as the
    * probe map every serve builds anyway). */
  private def slices(batch: DataFrame, maxQ: Int): Seq[DataFrame] = {
    val ids = batch.select(col("query_id")).distinct()
      .orderBy(col("query_id")).collect().map(_.get(0))
    if (ids.isEmpty) Seq.empty
    else {
      val groups = ids.grouped(maxQ).toSeq
      // one source materialization per burst batch: every slice
      // re-filters the batch frame, so a multi-slice batch carrying a
      // heavy upstream plan would recompute that plan once per slice —
      // sever the lineage once (eager localCheckpoint, the batch is
      // broadcast-small by the serving contract) and slice off the
      // checkpoint; the single-slice steady state skips the copy
      val src = if (groups.length > 1) batch.localCheckpoint(true) else batch
      groups.map(g => src.filter(col("query_id").isin(g.toSeq: _*)))
    }
  }

  /** One micro-batch's results into its own `batch_id=` partition.
    * Dynamic overwrite is scoped to THIS WRITER via the per-write
    * option — NOT a session-conf set/restore, which would race across
    * concurrently attached streams sharing the session (a concurrent
    * restore to "static" would turn a batch's overwrite into a full-sink
    * truncation). A replay of batch N rewrites only `batch_id=N`;
    * earlier batches' partitions are untouched. */
  private def writeBatch(result: DataFrame, batchId: Long,
                         outPath: String): Unit =
    result.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outPath)

  /** Everything served so far, batch provenance dropped. TOTAL: a sink
    * no non-empty micro-batch has written yet (the directory does not
    * exist) returns an empty frame with `emptySchema` — the canonical
    * [[resultSchema]] by default — instead of failing the read. */
  def results(spark: SparkSession, outPath: String,
              emptySchema: StructType = resultSchema): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], emptySchema)
    else spark.read.parquet(outPath).drop("batch_id")
  }

  /** Sink retention: delete every `batch_id=` partition except the
    * NEWEST `retainBatches` (by batch id), bounding a long-lived
    * stream's partition count. Returns the expired batch ids.
    *
    * Replay safety: a checkpointed restart can only re-deliver batches
    * whose COMMIT was never recorded — the newest ones — so retaining
    * ≥ 1 newest keeps every possible replay target intact; committed
    * older batches are never re-delivered and can be expired freely.
    * This is a data-retention dial (expired results leave [[results]]
    * by design), the streaming analog of the text index's segment
    * expiry. */
  def expireBatches(spark: SparkSession, outPath: String,
                    retainBatches: Int): Seq[Long] = {
    require(retainBatches >= 1,
      s"retainBatches must be ≥ 1 (the newest batch is a replay " +
        s"target) — got $retainBatches")
    val p = new org.apache.hadoop.fs.Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val ids = fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted.toSeq
    val expired = ids.dropRight(retainBatches)
    expired.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(p, s"batch_id=$id"), true) }
    expired
  }

  /** Full-precision graph serving: every micro-batch through
    * [[GraphLayout.serve]] (probe-once routing, `keep` honored). */
  def attachGraph(queryStream: DataFrame, layout: GraphLayout.Layout,
                  outPath: String, checkpoint: String, k: Int,
                  searchWindow: Int, nProbes: Int, metric: Metric,
                  l1Probes: Int = 0,
                  keep: org.apache.spark.sql.Column = lit(true),
                  trigger: Option[Trigger] = None,
                  maxQueriesPerBatch: Int = 0): StreamingQuery =
    attach(queryStream, outPath, checkpoint, trigger, maxQueriesPerBatch)(
      GraphLayout.serve(layout, _, k, searchWindow, nProbes, metric,
        l1Probes, keep))

  /** Compressed (PQ/ADC) serving: every micro-batch through
    * [[GraphLayout.serveAdc]]. */
  def attachAdc(queryStream: DataFrame, layout: GraphLayout.Layout,
                outPath: String, checkpoint: String, k: Int,
                searchWindow: Int, nProbes: Int, kReorder: Int = 0,
                metric: Metric = Metric.L2,
                keep: org.apache.spark.sql.Column = lit(true),
                trigger: Option[Trigger] = None,
                maxQueriesPerBatch: Int = 0): StreamingQuery =
    attach(queryStream, outPath, checkpoint, trigger, maxQueriesPerBatch)(
      GraphLayout.serveAdc(layout, _, k, searchWindow, nProbes, kReorder,
        metric, keep))

  /** Binary (sign-bit / Hamming) serving: every micro-batch through
    * [[GraphLayout.serveHamming]]. */
  def attachHamming(queryStream: DataFrame, layout: GraphLayout.Layout,
                    outPath: String, checkpoint: String, k: Int,
                    searchWindow: Int, nProbes: Int, kReorder: Int,
                    rerankMetric: Metric = Metric.L2,
                    trigger: Option[Trigger] = None,
                    maxQueriesPerBatch: Int = 0): StreamingQuery =
    attach(queryStream, outPath, checkpoint, trigger, maxQueriesPerBatch)(
      GraphLayout.serveHamming(layout, _, k, searchWindow, nProbes,
        kReorder, rerankMetric))

  /** Stored-IVF codec serving: every micro-batch through
    * [[IndexLayout.serve]] (routed through the persisted level-1 when
    * the layout has one and `l1Probes > 0`). */
  def attachIndex(queryStream: DataFrame, layout: IndexLayout.Layout,
                  outPath: String, checkpoint: String, k: Int,
                  nProbes: Int, metric: Metric, l1Probes: Int = 0,
                  kReorder: Int = 3,
                  trigger: Option[Trigger] = None,
                  maxQueriesPerBatch: Int = 0): StreamingQuery =
    attach(queryStream, outPath, checkpoint, trigger, maxQueriesPerBatch)(
      IndexLayout.serve(layout, _, k, nProbes, metric, l1Probes, kReorder))
}
