package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Continuous ingest into the cell store — the CDC/append path the batch
 * writer lacked. Each micro-batch is routed through the DSv2 cellstore
 * writer in append mode, so EVERY batch gets the planner-enforced layout:
 * salted stores re-cluster the delta into the store's N buckets (manifest
 * pins N; a drifting option is rejected), range stores range-partition it.
 * Region/bucket pruning therefore survives ingest — a point GET on a
 * salted store still plans exactly ONE InputPartition no matter how many
 * batches have landed, because the scan groups bucket files across jobs.
 *
 * Upstream state (watermarked dedup via [[StreamDedup]], sessionization)
 * composes ahead of the sink as plain stream transforms. Append files are
 * job-unique, so a retried batch cannot clobber committed data; exactly-once
 * at the batch level is the checkpoint's replay contract (foreachBatch may
 * re-run a batch after a crash — the compaction pass, `Compaction`, is the
 * idempotent repair for that, exactly like HBase minor compaction).
 */
object CellStoreIngest {

  /**
   * Start streaming `cells` (cell-schema frame) into the store at `path`.
   *
   * @param buckets    salt bucket count for a new store; an existing salted
   *                   store's manifest wins (mismatch throws)
   * @param checkpoint streaming checkpoint dir (offset/commit log)
   */
  def start(
      cells: DataFrame,
      path: String,
      buckets: Int,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val writeBatch: (DataFrame, Long) => Unit = (batch, _) =>
      batch.write.format("cellstore")
        .option("buckets", buckets.toString)
        .mode("append").save(path)
    cells.writeStream
      .foreachBatch(writeBatch)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /**
   * Streaming counters: each micro-batch of deltas (rowKey, family,
   * qualifier, delta) runs the [[graft.operators.StoreCounters]]
   * read-modify-write against the store's CURRENT latest versions and
   * appends the new counter versions — the HBase
   * `Table.incrementColumnValue`-from-a-stream shape with batch-level
   * atomicity: deltas within a batch pre-sum, and the rename-in commit
   * makes the append all-or-nothing.
   *
   * Exactly-once across restarts: new versions stamp ts =
   * `baseTs + batchId + 1`, so a replayed batch reuses ITS OWN ts — if
   * that ts is already present, the batch committed before the crash and
   * the replay is a no-op (without the guard, a replay would re-read its
   * own output as the base and double-count).
   */
  def startIncrements(
      deltas: DataFrame,
      path: String,
      buckets: Int,
      checkpoint: String,
      baseTs: Long,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = deltas.sparkSession
    val applyBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      // the SESSION's Hadoop conf, not the bare-defaults `HadoopConf.shared`: any
      // spark.hadoop.* filesystem settings/credentials (object stores)
      // must apply to this probe too, or it misreports the store as absent
      val dir = new org.apache.hadoop.fs.Path(path)
      val exists = dir
        .getFileSystem(spark.sessionState.newHadoopConf()).exists(dir)
      val base =
        if (exists) spark.read.format("cellstore").load(path)
        else batch.limit(0).select( // first batch: no store yet, empty base
          col("rowKey"), col("family"), col("qualifier"),
          lit(baseTs).as("ts"), lit("Put").as("cellType"),
          lit(Array.emptyByteArray).as("value"))
      val myTs = baseTs + batchId + 1
      // exactly-once: a batch whose append committed but whose checkpoint
      // didn't replays on restart — its own ts already in the store marks
      // it done (ts-stat pruning makes this probe a footer check)
      val alreadyLanded = exists &&
        base.filter(col("ts") === myTs).limit(1).count() > 0
      if (!alreadyLanded) {
        graft.operators.StoreCounters.applyIncrements(base, batch, myTs)
          .write.format("cellstore")
          .option("buckets", buckets.toString)
          .mode("append").save(path)
      }
    }
    deltas.writeStream
      .foreachBatch(applyBatch)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
