package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ext.Shared

/** query_batch: one client runs a fixed list of registered queries in
  * a closed loop, a fixed number of passes.
  */
object QueryBatch {
  def run(spark: SparkSession, spec: JsonNode, stats: Option[TaskStats]): Map[String, Any] = {
    val sfDir = spec.get("sf_dir").asText()
    val names = Json.strings(spec.get("queries"))
    val passCount = spec.get("passes").asInt()
    val sc = spark.sparkContext
    // setup: stage the shared relations the listed queries read, then
    // untimed passes, so the timed passes see warm code paths
    val staged = Json.strings(spec.get("staged")).map { key =>
      val gen = Shared.registry.toMap.apply(key)
      Obs.tag(sc, s"stage:$key")
      key -> Main.timed(Obs.span("ext", s"stage:$key") {
        gen(spark, sfDir).queryExecution.toRdd.count()
      })._1
    }
    // the untimed pass writes each result for the oracle check (legacy
    // INT96 timestamps read back as naive TIMESTAMP, like the oracle's)
    val dumpDir = spec.get("dump_dir").asText()
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val tsType = spark.conf.get(tsKey)
    spark.conf.set(tsKey, "INT96")
    val warmErrors = names.flatMap { n =>
      Obs.tag(sc, s"warm:$n")
      try {
        SparkEntry.queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$dumpDir/$n")
        None
      } catch { case t: Throwable => Some(n -> Main.errorOf(t)) }
    }.toMap
    spark.conf.set(tsKey, tsType)
    // two more untimed passes: the timed ones start close to steady
    // state instead of getting faster pass after pass as the JIT warms
    for (_ <- 1 to 2; n <- names if !warmErrors.contains(n)) {
      Obs.tag(sc, s"warm:$n")
      SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
    }
    val setupEnd = Main.nowMs
    val gc0 = Obs.gcMillis

    val samples = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    for (_ <- 1 to passCount) {
      val p0 = System.nanoTime()
      for (n <- names) {
        Obs.tag(sc, s"query:$n")
        val q0 = System.nanoTime()
        var plan = 0.0
        val err = try {
          Obs.span("queries", n) {
            val df = SparkEntry.queries(n)(spark, sfDir)
            val qe = df.queryExecution
            qe.toRdd.count()
            plan = Main.planMs(qe)
          }
          None
        } catch { case t: Throwable => Some(Main.errorOf(t)) }
        samples += Map("op" -> n, "ms" -> (System.nanoTime() - q0) / 1e6,
          "plan_ms" -> plan, "error" -> err.orNull)
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val loopEnd = Main.nowMs
    val gcLoop = Obs.gcMillis - gc0

    Map("setup_end_ms" -> setupEnd, "loop_s" -> loopS, "samples" -> samples.toSeq,
      "passes_s" -> passes.toSeq, "staged_s" -> staged.toMap,
      "warm_errors" -> warmErrors,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "loop_gc_ms" -> gcLoop,
      "driver_idle_ms" -> stats.map(_.idleMs(setupEnd, loopEnd)).getOrElse(-1L))
  }
}
