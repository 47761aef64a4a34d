package graft.streaming

import graft.sources.TransactionalLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one `foreachBatch` sink of graft.streaming: every stream that
  * commits per micro-batch (ingest, dedup, decontamination, substring
  * index, ANN index, quality gate) runs its body through [[start]].
  *
  * The replay rule lives here, once. A crash can stop a batch after any
  * of its lake commits, and the restart re-delivers the same batch under
  * the same epoch id. So a body commits through [[Epoch.commit]], which
  * is [[TransactionalLake.commitEpoch]] bound to that id (a committed
  * epoch is skipped, a half-written one rewritten), and reads pre-batch
  * state through [[Epoch.prior]], which never sees the batch's own epoch.
  * A replayed batch then recomputes from the inputs its first attempt
  * saw, and its already-committed artifacts stay as they were. A body
  * commits its consumer-visible artifact last. */
private[graft] object EpochSink {

  /** One micro-batch: the `batch`, its epoch `id`, and the two lake
    * operations bound to that id. */
  final class Epoch(val batch: DataFrame, val id: Long) {

    /** Commit `df` as this epoch of the lake at `root`; false, having
      * written nothing, when the epoch is already committed there. */
    def commit(root: String, df: DataFrame, partitionCols: Seq[String] = Nil): Boolean =
      TransactionalLake.commitEpoch(df, root, id, partitionCols)

    /** The committed rows of `root`, live and folded, minus this epoch,
      * with `epoch` dropped; None when no other epoch is committed. */
    def prior(root: String): Option[DataFrame] = {
      val s = batch.sparkSession
      if (TransactionalLake.allEpochs(s, root).forall(_ == id)) None
      else Some(TransactionalLake.readCommitted(s, root)
        .filter(col("epoch") =!= id.toString).drop("epoch"))
    }
  }

  /** Run `body` on every micro-batch of `stream`, checkpointed at
    * `checkpoint`. */
  def start(stream: DataFrame, checkpoint: String, trigger: Trigger)(
      body: Epoch => Unit): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) => body(new Epoch(batch, epochId)) }
      .start()
}
