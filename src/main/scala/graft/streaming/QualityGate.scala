package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming QUALITY CIRCUIT-BREAKER: per micro-batch, the violation
  * fraction of a caller-supplied rule is measured, and the WHOLE batch
  * is routed — healthy batches commit to the lake, batches breaching
  * `maxViolationFrac` commit to a quarantine lake instead. This is the
  * batch-granular guard the per-row dead-letter split
  * ([[StreamingIngest.start]]) cannot express: a poisoned upstream
  * (schema drift, a bad producer deploy, a truncating proxy) makes
  * every row *individually* parseable but the BATCH statistically
  * wrong, and letting it through corrupts downstream aggregates before
  * anyone notices. Quarantined batches keep their epoch ids, so after
  * the upstream is fixed they can be replayed through the same gate.
  *
  * Exactly-once: the gate runs through [[EpochSink]], and the routing
  * decision is a deterministic function of the batch contents, so a
  * crash-replayed micro-batch re-derives the SAME verdict, its one epoch
  * commit contracts to a no-op, and `onDecision` fires again. The
  * per-batch cost is one cached pass: a 2-value conditional aggregate
  * for the verdict, then one write — O(batch), no corpus access. */
object QualityGate {

  /** `violation`: boolean column over the stream's schema (true = row
    * violates). `onDecision`: observability hook, called once per
    * batch with (epochId, nRows, nViolations, quarantined). */
  def start(stream: DataFrame, violation: Column, maxViolationFrac: Double,
            lakeRoot: String, quarantineRoot: String, checkpoint: String,
            trigger: Trigger,
            onDecision: (Long, Long, Long, Boolean) => Unit = (_, _, _, _) => ())
  : StreamingQuery = {
    require(maxViolationFrac >= 0.0 && maxViolationFrac <= 1.0,
      "maxViolationFrac must be in [0, 1]")
    EpochSink.start(stream, checkpoint, trigger) { ep =>
      val cached = ep.batch.persist()
      try {
        val row = cached.agg(count(lit(1)).as("n"),
          sum(when(violation, 1L).otherwise(0L)).as("v")).head()
        val n = row.getLong(0)
        val v = if (row.isNullAt(1)) 0L else row.getLong(1)
        val quarantine = n > 0 && v.toDouble / n > maxViolationFrac
        if (n > 0) ep.commit(if (quarantine) quarantineRoot else lakeRoot, cached)
        onDecision(ep.id, n, v, quarantine)
      } finally { cached.unpersist(); () }
    }
  }
}
