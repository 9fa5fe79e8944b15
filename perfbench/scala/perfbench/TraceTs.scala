package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

import graft.{GraftEngine, ResultCodec}
import graft.operators.{Earliest, FirstN, Length, TsOps}
import graft.sources.TsStorage
import graft.zestql.{Compiler, PathParser}

/** The traced half of `ts_query`: reopens the store in-process and replays
  * one client's requests, timing each layer's public entry point as its
  * own span, then the whole `GraftEngine.getAuthed` call:
  *
  *  - `zestql.parse`  `PathParser.parseGet`
  *  - `storage.ts_open`  `TsStorage.read` (recovery sweep, listing, schema)
  *  - `query.plan`  `Compiler.compile` / `TsOps.select` + physical planning
  *  - `query.exec`  `ResultCodec.readJson` / `aggJson` / `lengthJson`
  *  - `engine.get`  `GraftEngine.getAuthed`, with Spark jobs, stages, tasks,
  *    files and bytes read attributed to it
  *  - `engine.post`, `storage.ts_flush`  128 own-series writes, every
  *    64th of which flushes; and the replay's own-series writes, each
  *    followed by `GraftEngine.flush`
  *
  * Usage: TraceTs <storeDir> <tokenKey> <spec.json> <seconds> <out-prefix>
  */
object TraceTs {
  import Common.formats

  private object Plans extends AdaptiveSparkPlanHelper

  def main(args: Array[String]): Unit = {
    val Array(store, tokenKey, specPath, secondsS, outPrefix) = args
    val spark = Common.session()
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val files = new java.util.concurrent.atomic.AtomicLong()
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      .register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          files.addAndGet(Plans.collect(qe.executedPlan) {
            case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    val spans = new Spans
    val tsPath = s"$store/ts"
    val (engine, restartS) = Common.timed(new GraftEngine(spark,
      tsStoragePath = Some(tsPath), tokenSecretKey = Some(tokenKey), flushEveryRows = 64))
    val token = graft.auth.Macaroons.serialize(graft.auth.Macaroons.mint(tokenKey, "perfbench"))
    val rounds = (Common.readJson(specPath) \ "clients")(0) \ "rounds"
    val reqs = rounds.extract[List[List[Drive.Req]]]

    // write-behind probe: 128 own-series POSTs, every 64th of which
    // flushes (the replay below posts too rarely to time either)
    (1 to 128).foreach { i =>
      val name = if (i % 64 == 0) "storage.ts_flush" else "engine.post"
      val before = if (i % 64 == 0) countFiles(tsPath) else 0L
      spans(name, -i)(engine.postAuthed(token, s"/ts/trace_probe/at/${1700000000000L + i}",
        s"""{"value": $i.5, "k": "${i % 10}"}"""))
      if (i % 64 == 0) spans.note("storage.files_per_flush", -i, countFiles(tsPath) - before)
    }
    // the parser alone is sub-millisecond: time it on its own over the
    // first 400 replayed GET paths
    reqs.flatten.filter(r => r.verb == "GET" && !r.path.startsWith("/ts/blob/"))
      .take(400).zipWithIndex.foreach { case (r, i) =>
        spans("zestql.parse", -1000 - i)(PathParser.parseGet(r.path))
      }

    val perQuery = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    val opened = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    var id = 0L
    val it = reqs.iterator
    while (System.nanoTime() < deadline && it.hasNext) {
      it.next().foreach { r =>
        id += 1
        if (r.verb == "POST") {
          spans("engine.post", id)(engine.postAuthed(token, r.path, r.payload))
          val before = countFiles(tsPath)
          spans("storage.ts_flush", id)(engine.flush())
          spans.note("storage.files_per_flush", id, countFiles(tsPath) - before)
        } else if (!r.path.startsWith("/ts/blob/")) {
          val q = PathParser.parseGet(r.path)
          val frame = spans("storage.ts_open", id)(TsStorage.read(spark, tsPath))
          val fs = frame.inputFiles
          opened += ((fs.length.toLong,
            fs.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length.toLong))
          val planned = spans("query.plan", id) {
            val df = q.selector match {
              case Length => TsOps.select(frame, q.ids, Length)
              case _ if q.agg.isDefined =>
                q.filter.foldLeft(TsOps.select(frame, q.ids, q.selector))(TsOps.tagFilter)
              case _ => Compiler.compile(frame, q)
            }
            df.queryExecution.executedPlan
            df
          }
          spans("query.exec", id) {
            q.selector match {
              case Length => ResultCodec.lengthJson(planned)
              case _ if q.agg.isDefined => ResultCodec.aggJson(planned, q.agg.get)
              case Earliest | FirstN(_) => ResultCodec.readJson(planned, descending = false)
              case _ => ResultCodec.readJson(planned)
            }
          }
          BusDrain(spark.sparkContext); counters.reset(); files.set(0)
          spans("engine.get", id)(engine.getAuthed(token, r.path))
          BusDrain(spark.sparkContext)
          perQuery += (counters.snapshot + ("files" -> files.get))
        }
      }
    }
    spans.dump(s"$outPrefix.spans.jsonl")
    Common.writeJson(s"$outPrefix.json", Map(
      "engine.restart_s" -> restartS,
      "per_query" -> perQuery.toSeq,
      "ts_files" -> opened.map(_._1).toSeq, "ts_partitions" -> opened.map(_._2).toSeq))
    spark.stop()
  }

  private def countFiles(root: String): Long = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try it.filter(p => p.toString.endsWith(".parquet")).count() finally it.close()
  }
}
