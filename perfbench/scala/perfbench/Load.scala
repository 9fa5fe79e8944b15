package perfbench

import graft.model.TsModel
import graft.sources.TsStorage

/** Bulk-loads a durable store from an `events` table through the program's
  * own write path: `TsStorage.write` of `TsModel.ts` into `<store>/ts` and
  * of `TsModel.tsBlob` (one series) into `<store>/ts_blob` — the sibling
  * paths `graft.server.WireMain` serves.
  *
  * Usage: Load <sfDir> <storeDir> <blobSeries> <out.json>
  */
object Load {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, store, blobSeries, out) = args
    val (spark, sessionS) = Common.timed(Common.session())
    val (_, tsS) = Common.timed(
      TsStorage.write(TsModel.ts(spark, sfDir), s"$store/ts"))
    val (_, blobS) = Common.timed(TsStorage.write(
      TsModel.tsBlob(spark, sfDir).filter(s"series_id = '$blobSeries'"),
      s"$store/ts_blob"))
    Common.writeJson(out, Map("session_s" -> sessionS, "ts_write_s" -> tsS,
      "blob_write_s" -> blobS))
    spark.stop()
  }
}
