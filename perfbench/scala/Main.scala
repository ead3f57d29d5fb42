package perfbench

import org.apache.spark.sql.SparkSession

object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Engine side of the benchmark: runs one workload over inputs the
  * Python runner generated, and writes raw samples as JSON.
  *
  * Usage: Main <workload> <spec.json> <raw.json> <trace 0|1> <cores>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, specPath, outPath, trace, cores) = args
    Obs.tracing = trace == "1"
    val spec = Json.read(specPath)
    val spark = graft.GraftSession.build(s"local[$cores]", cores.toInt)
    val stats = if (Obs.tracing) Some(new TaskStats) else None
    stats.foreach(spark.sparkContext.addSparkListener)
    val out = try workload match {
      case "cdc_ingest"  => CdcIngest.run(spark, spec, stats)
      case "cdc_baselines" => CdcIngest.baselines(spark, spec)
      case "table_ops"   => TableOps.run(spark, spec, stats)
      case "query_batch" => QueryBatch.run(spark, spec, stats)
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    } finally scala.util.Try(spark.streams.active.foreach(q => scala.util.Try(q.stop())))
    Json.write(outPath, out ++ Map(
      "peak_rss_mb" -> Obs.peakRssMb,
      "spans" -> Obs.spanRecords,
      "tasks" -> stats.map(_.report).getOrElse(Map.empty)))
    spark.stop()
  }

  def nowMs: Long = System.currentTimeMillis()

  /** Wall ms of `body`, with its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e6, r)
  }

  /** Analysis + optimization + planning ms of an executed query. */
  def planMs(qe: org.apache.spark.sql.execution.QueryExecution): Double =
    Seq("analysis", "optimization", "planning")
      .flatMap(p => qe.tracker.phases.get(p)).map(s => (s.endTimeMs - s.startTimeMs).toDouble).sum

  /** SQL metrics summed over the executed plan's leaves (scans). */
  def leafMetrics(qe: org.apache.spark.sql.execution.QueryExecution): Map[String, Long] =
    Plans.collectLeaves(qe.executedPlan).flatMap(_.metrics.toSeq)
      .groupMapReduce(_._1)(_._2.value)(_ + _)

  def errorOf(t: Throwable): String =
    Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(t.getClass.getName).take(300)

  def sizeOf(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}
