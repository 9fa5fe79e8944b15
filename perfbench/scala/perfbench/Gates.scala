package perfbench

import org.apache.spark.BusDrain

import graft.SparkEntry

/** Times a fixed sample of the gate roster (`SparkEntry.queries`) in a
  * session built like `graft.Bench`'s.
  *
  * 1. Check pass (also the warm-up): every gate's output is written as
  *    parquet under `<outDir>/<gate>` with its DuckDB oracle SQL in
  *    `<outDir>/oracle_sql.json`, as `graft.Verify` does.
  * 2. Two untimed passes of the timed path, then timed passes: each gate
  *    materialised once per pass
  *    (`queryExecution.toRdd.count()`), whole passes until `seconds` are
  *    up. A control gate is timed at the start, between the passes once
  *    half of `seconds` has gone by, and at the end, outside the timed
  *    window.
  * 3. With tracing on, a Spark listener attributes jobs, stages, tasks,
  *    task time, shuffle, spill, input and output to each gate, and the
  *    time before each gate's first job is kept.
  *
  * Usage: Gates <sfDir> <outDir> <seconds> <trace 0|1> <control> <gate,...> <result.json>
  */
object Gates {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, secondsS, traceS, control, gateList, resultPath) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val gates = gateList.split(",").toSeq
    val (spark, sessionS) = Common.timed(Common.session())
    val counters = new Counters
    if (trace) spark.sparkContext.addSparkListener(counters)
    val roster = SparkEntry.queries
    // the launcher generates the tables while this JVM starts up
    while (!new java.io.File(s"$sfDir/_READY").exists()) Thread.sleep(20)

    // 1. check + warm-up pass
    val t0 = System.nanoTime()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val checkS = gates.map { g =>
      val t = System.nanoTime()
      try roster(g)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$g")
      catch { case e: Throwable => errors(g) = String.valueOf(e.getMessage).take(300) }
      g -> Common.secs(t)
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => gates.contains(k) }
    Common.writeJson(s"$outDir/oracle_sql.json", oracle)
    val checkPassS = Common.secs(t0)

    def runGate(g: String): Double = {
      val t = System.nanoTime()
      roster(g)(spark, sfDir).queryExecution.toRdd.count()
      Common.secs(t)
    }
    // untimed warm-up of the timed path (`toRdd.count()`, not the check
    // pass's write): with none the first timed pass ran 20-50% slower, and
    // with one the passes still sped up by 10-20% through the run
    for (_ <- 1 to 2) gates.foreach(runGate)
    // the control is not in the check pass; two untimed runs warm it
    runGate(control); runGate(control)
    val controlS = scala.collection.mutable.ArrayBuffer[Double]()
    controlS += runGate(control)

    // 2. timed passes
    val times = gates.map(_ -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val preJob = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val perGate = scala.collection.mutable.Map[String, Map[String, Long]]()
    val tTimed = System.nanoTime()
    val deadline = tTimed + (seconds * 1e9).toLong
    var passes = 0
    var middleNs = 0L
    val timedStartMs = System.currentTimeMillis()
    while (passes == 0 || System.nanoTime() < deadline) {
      gates.foreach { g =>
        if (trace) { BusDrain(spark.sparkContext); counters.reset() }
        val startMs = System.currentTimeMillis()
        times(g) += runGate(g)
        if (trace) {
          BusDrain(spark.sparkContext)
          if (counters.firstJobMs > 0) preJob(g) += (counters.firstJobMs - startMs) / 1e3
          val snap = counters.snapshot
          perGate(g) = snap.map { case (k, v) => k -> (perGate.get(g).map(_(k)).getOrElse(0L) + v) }
        }
      }
      passes += 1
      // the control's middle timing: between passes, once half the timed
      // phase has gone by, and kept out of the timed window
      if (middleNs == 0L && System.nanoTime() >= tTimed + (seconds * 0.5e9).toLong) {
        val t = System.nanoTime()
        controlS += runGate(control)
        middleNs = System.nanoTime() - t
      }
    }
    val timedS = Common.secs(tTimed) - middleNs / 1e9
    controlS += runGate(control)

    Common.writeJson(resultPath, Map(
      "session_s" -> sessionS, "check_pass_s" -> checkPassS, "check_s" -> checkS,
      "timed_start_epoch_ms" -> timedStartMs,
      "timed_s" -> timedS, "passes" -> passes,
      "times" -> times.map { case (k, v) => k -> v.toSeq },
      "control" -> controlS.toSeq, "errors" -> errors.toMap,
      "pre_job_s" -> preJob.toMap.map { case (k, v) => k -> v / passes },
      "counters" -> perGate.toMap))
    spark.stop()
  }
}
