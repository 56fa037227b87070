package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.{BinlogCatalog, BinlogWire}

/** A replica of a wire-file directory without a dump server, for specs
  * that write wire files and check what a replica makes of them: the
  * checkpointed file tail ([[BinlogWire.tailBinlogFiles]]) → one staging
  * write per trigger ([[WireReplicaJob.stageRouted]]) → the routed apply
  * ([[WireReplicaJob.applyRouted]]), run AvailableNow to the end of the
  * directory. A restart with the same `checkpointDir` consumes only the
  * files it has not seen; each target's committed position drops what a
  * fresh checkpoint re-reads. The decode registry stays `tableCols` (no
  * registry sidecar), so post-rename rows decoded under old names land
  * through the targets' persisted rename lineage.
  *
  * `fromTso` is the dump-from-TSO start: files wholly below
  * [[BinlogCatalog.seekTso]]'s file are listed but never opened, and
  * the targets bootstrap at `fromTso` so the seek file's own prefix
  * skips. */
object WireTail {

  def replicate(spark: SparkSession, wireDir: String,
      tableCols: Map[(String, String), Seq[String]],
      targets: Seq[WireReplicaJob.TableTarget], checkpointDir: String,
      txnsPerCommit: Int = 8, maxFilesPerTrigger: Int = 16,
      fromTso: Option[Long] = None): Unit = {
    val startFile = fromTso
      .map(t => BinlogCatalog.seekTso(spark, wireDir, t)._1)
      .filter(_.nonEmpty)
    BinlogWire.tailBinlogFiles(spark, wireDir, tableCols,
        maxFilesPerTrigger, minFileName = startFile)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        WireReplicaJob.applyRouted(WireReplicaJob.stageRouted(batch,
          s"$checkpointDir/_route_stage", targets), targets,
          txnsPerCommit, fromTso)
      }
      .start()
      .awaitTermination()
  }
}
