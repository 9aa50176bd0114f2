package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{SinkPolicy, Warehouse}

/** Shared drain mechanics for the streaming paths: append the stream to
  * a checkpointed parquet sink and block until `Trigger.AvailableNow`
  * has consumed everything pending (the incremental-batch deployment
  * mode). One implementation so trigger/sink changes happen in one
  * place. */
object Streams {
  def drainOnce(stream: DataFrame, tableDir: String,
                checkpointDir: String): StreamingQuery = {
    val q = stream.writeStream
      .format("parquet")
      .option("path", tableDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Drain the stream into a WAREHOUSE table through the atomic manifest
    * commit path: each micro-batch lands via [[Warehouse.load]] under the
    * given policy, tagged `appId:batchId`. Readers therefore see whole
    * micro-batches or nothing (the parquet file-sink above has no such
    * contract for external readers), and the txn tag makes replay safe:
    * if the process dies between the sink commit and the checkpoint
    * advance, the re-delivered batch is recognized in the log and
    * skipped — exactly-once LANDING, not just exactly-once reading.
    * `appId` must be stable across restarts of the same logical pipeline
    * (it scopes batchIds, which restart from the checkpoint). */
  def drainInto(stream: DataFrame, wh: Warehouse, table: String,
                policy: SinkPolicy, checkpointDir: String,
                appId: String): StreamingQuery = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val txn = s"$appId:$batchId"
        if (wh.txnLanded(table, txn))
          // crash landed the batch but not the checkpoint: the re-run
          // must SKIP the landing yet still CONSUME the batch — Spark
          // 4.1 validates that every active state store commits each
          // micro-batch, and an unconsumed stateful-operator output
          // fails the query (STATE_STORE_COMMIT_VALIDATION_FAILED;
          // caught by scripts/stream_fault_demo.sh's after-commit kill)
          batch.foreach(_ => ())
        else { wh.load(table, batch, policy, txnId = Some(txn)); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
