package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The micro-batch driver of the store-backed incremental operators
  * (dedup, substring scrub, span dedup, winnowing, ANN, corpus stats):
  * ingest any new files under `inputDir` once (AvailableNow), hand
  * each micro-batch's two projected columns and batch id to `body`,
  * then stop. Call repeatedly for a scheduled-cadence pipeline; the
  * checkpoint makes each file ingest exactly once across calls.
  *
  * Replay contract: foreachBatch is at-least-once — a crash after a
  * sink write but before the checkpoint commit re-runs the batch under
  * the same id. Bodies therefore write every output as a `batch_id=<n>`
  * directory with overwrite and read their stores strictly below their
  * own id ([[StoreCompaction]]), so a replay lands in the same place
  * and computes the same rows.
  */
object MicroBatch {

  def run(spark: SparkSession, schema: StructType, inputDir: String,
          idCol: String, valueCol: String, checkpointDir: String)
         (body: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema).parquet(inputDir)
      .select(col(idCol), col(valueCol))
      .writeStream
      .foreachBatch(body)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
