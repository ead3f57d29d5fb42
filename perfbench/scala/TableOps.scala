package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ParquetUpsertSink

/** table_ops: one client runs a fixed, seeded sequence of commits and
  * reads against a copy-on-write and a merge-on-read table. Every
  * logical commit lands in both tables (the COW one through its own
  * path: upsert, SQL DELETE / UPDATE / MERGE; the MOR one as a delta
  * append of the equivalent rows), so the two must read the same.
  */
object TableOps {
  val Keys = Seq("l_orderkey", "l_linenumber")

  def run(spark: SparkSession, spec: JsonNode, stats: Option[TaskStats]): Map[String, Any] = {
    val sc = spark.sparkContext
    val cowPath = spec.get("cow_path").asText()
    val morPath = spec.get("mor_path").asText()
    val cowT = s"graft.`$cowPath`"
    val ops = spec.get("ops").elements().asScala.toIndexedSeq
    def sink(path: String, mode: String, compactEvery: Int) = ParquetUpsertSink(
      path, Keys, "l_version", "l_shipmonth", deleteCol = Some("l_deleted"),
      keepVersions = 3, compactEvery = compactEvery, writeMode = mode)
    val cow = sink(cowPath, ParquetUpsertSink.ModeCow, 0)
    val mor = sink(morPath, ParquetUpsertSink.ModeMor, 5)

    // setup: both tables preloaded from the same rows; MOR folds its
    // first delta into the base
    val preload = spark.read.parquet(spec.get("preload").asText())
    Obs.tag(sc, "preload")
    val setupSteps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    setupSteps("preload_cow") = Main.timed(cow.upsert(preload, 0L))._1
    setupSteps("preload_mor") = Main.timed(mor.upsert(preload, 0L))._1
    setupSteps("compact_mor") = Main.timed(mor.compactMor(spark))._1
    val commitOp = scala.collection.mutable.Map.empty[String, Int]
    def lastCommit: Option[String] =
      ParquetUpsertSink.listArchivedCommits(spark, cowPath).lastOption
    lastCommit.foreach(commitOp(_) = -1)
    var morBatch = 0L

    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map((r: Row) => r.toSeq.map {
        case d: java.math.BigDecimal => d.doubleValue
        case v => v
      })

    /** Runs op `i`; returns the timed records it produced. */
    def exec(i: Int, op: JsonNode): Seq[Map[String, Any]] = {
      def rec(name: String, ms: Double, extra: (String, Any)*): Map[String, Any] =
        Map("i" -> i, "op" -> name, "ms" -> ms) ++ extra
      def morAppend(file: String): Map[String, Any] = {
        morBatch += 1
        val name = if (morBatch % 5 == 4) "compact_mor" else "append_mor"
        Obs.tag(sc, name)
        val df = spark.read.parquet(file)
        rec(name, Main.timed(Obs.span("io", s"sink.$name")(mor.upsert(df, morBatch)))._1)
      }
      def cowCommit(name: String)(body: => Unit): Map[String, Any] = {
        Obs.tag(sc, name)
        val ms = Main.timed(Obs.span("io", s"sink.$name")(body))._1
        val c = lastCommit
        c.foreach(id => if (!commitOp.contains(id)) commitOp(id) = i)
        rec(name, ms, "commit" -> c.orNull)
      }
      def read(name: String, module: String)(df: => DataFrame): Map[String, Any] = {
        Obs.tag(sc, name)
        val t0 = System.nanoTime()
        val d = Obs.span(module, s"scan.$name")(df)
        val r = Obs.span(module, s"scan.$name")(rows(d))
        rec(name, (System.nanoTime() - t0) / 1e6, "plan_ms" -> Main.planMs(d.queryExecution),
          "result" -> r,
          "scan" -> (if (Obs.tracing) Main.leafMetrics(d.queryExecution) else Map.empty))
      }
      def retained: Seq[String] = ParquetUpsertSink.listArchivedCommits(spark, cowPath)
      op.get("kind").asText() match {
        case "upsert" =>
          val file = op.get("file").asText()
          Seq(cowCommit("upsert_cow")(cow.upsert(spark.read.parquet(file), i.toLong + 1)),
            morAppend(file))
        case "delete" =>
          val keys = Json.strings(op.get("orderkeys")).mkString(",")
          Seq(cowCommit("sql_delete")(spark.sql(s"DELETE FROM $cowT WHERE l_orderkey IN ($keys)")),
            morAppend(op.get("file").asText()))
        case "update" =>
          val m = op.get("month").asText()
          val sql = s"UPDATE $cowT SET l_quantity = l_quantity + 1, l_version = ${op.get("v").asLong()} " +
            s"WHERE l_shipmonth = '$m' AND l_orderkey % ${op.get("mod").asInt()} = ${op.get("rem").asInt()}"
          Seq(cowCommit("sql_update")(spark.sql(sql)), morAppend(op.get("file").asText()))
        case "merge" =>
          val file = op.get("file").asText()
          spark.read.parquet(file).createOrReplaceTempView("merge_src")
          val sql = s"""MERGE INTO $cowT t USING merge_src s
                       |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
                       |WHEN MATCHED THEN UPDATE SET *
                       |WHEN NOT MATCHED THEN INSERT *""".stripMargin
          Seq(cowCommit("sql_merge")(spark.sql(sql)), morAppend(file))
        case "point" =>
          Seq(read("point_lookup", "io")(spark.sql(
            s"SELECT l_quantity, l_version FROM $cowT " +
              s"WHERE l_orderkey = ${op.get("k").asLong()} AND l_linenumber = ${op.get("n").asInt()}")))
        case "range" =>
          Seq(read("range_scan", "io")(spark.sql(
            s"SELECT count(*), sum(l_quantity), sum(l_version) FROM $cowT " +
              s"WHERE l_shipdate >= TIMESTAMP '${op.get("d0").asText()}' " +
              s"AND l_shipdate < TIMESTAMP '${op.get("d1").asText()}' AND l_discount >= 0.05")))
        case "agg" =>
          Seq(read("agg_pushdown", "io")(spark.sql(
            s"SELECT count(*), min(l_orderkey), max(l_orderkey) FROM $cowT " +
              s"WHERE l_shipmonth = '${op.get("month").asText()}'")))
        case "mor" =>
          val months = Json.strings(op.get("months"))
          Seq(read("read_mor", "io")(mor.readMor(spark)
            .filter(col("l_shipmonth").isin(months: _*))
            .agg(count(lit(1)), sum("l_quantity"), sum("l_version"))))
        case "asof" =>
          val rs = retained
          val c = if (rs.size >= 2) rs(rs.size - 2) else rs.last
          Seq(read("as_of", "io")(spark.sql(
            s"SELECT count(*), sum(l_quantity), sum(l_version) FROM $cowT VERSION AS OF '$c' " +
              s"WHERE l_shipmonth = '${op.get("month").asText()}'")) +
            ("at" -> commitOp.getOrElse(c, Int.MinValue)))
        case "cdf" =>
          val rs = retained
          if (rs.size < 2) Seq(rec("change_feed", 0.0, "skipped" -> true))
          else {
            val (a, b) = (rs(rs.size - 2), rs.last)
            Seq(read("change_feed", "io")(cow.changeFeed(spark, a, b)
              .groupBy("_change_type").count()) +
              ("since" -> commitOp.getOrElse(a, Int.MinValue)) +
              ("until" -> commitOp.getOrElse(b, Int.MinValue)))
          }
      }
    }

    // warm the read paths untimed (reads leave the tables unchanged)
    setupSteps("warm_reads") = Main.timed(Seq("point", "range", "agg", "mor", "asof").foreach { k =>
      ops.indexWhere(_.get("kind").asText() == k) match {
        case -1 => ()
        case j => scala.util.Try(exec(j, ops(j)))
      }
    })._1
    val setupEnd = Main.nowMs
    val gc0 = Obs.gcMillis

    val records = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    // the op list is whole cycles sized to the run length: run it all
    val t0 = System.nanoTime()
    var i = 0
    var broken: String = null
    while (i < ops.size && broken == null) {
      try records ++= exec(i, ops(i))
      catch { case t: Throwable =>
        val kind = ops(i).get("kind").asText()
        records += Map("i" -> i, "op" -> kind, "ms" -> 0.0, "error" -> Main.errorOf(t))
        // a failed commit leaves the model and the tables apart: stop
        if (Set("upsert", "delete", "update", "merge")(kind)) broken = Main.errorOf(t)
      }
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val loopEnd = Main.nowMs
    val gcLoop = Obs.gcMillis - gc0

    // correctness dumps and space accounting, outside the timed region
    val dumpDir = spec.get("dump_dir").asText()
    Obs.tag(sc, "dump")
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_version")
    spark.sql(s"SELECT ${cols.mkString(", ")} FROM $cowT").write.parquet(s"$dumpDir/cow")
    mor.readMor(spark).select(cols.map(col): _*).write.parquet(s"$dumpDir/mor")
    // traced run only: space amplification (both tables hold the same
    // live rows, written once into a fresh compacted copy) and files
    val space: Map[String, Any] = if (!Obs.tracing) Map.empty else {
      spark.sql(s"SELECT * FROM $cowT").repartition(col("l_shipmonth"))
        .write.partitionBy("l_shipmonth").parquet(s"$dumpDir/compact")
      val p = new org.apache.hadoop.fs.Path(cowPath)
      Map("table_bytes" -> (Main.sizeOf(spark, cowPath) + Main.sizeOf(spark, morPath)),
        "compact_bytes" -> 2 * Main.sizeOf(spark, s"$dumpDir/compact"),
        "archive_bytes" -> (Main.sizeOf(spark, s"$cowPath/_archive") +
          Main.sizeOf(spark, s"$morPath/_archive")),
        "live_files" -> ParquetUpsertSink.liveDataFileStatuses(
          p.getFileSystem(sc.hadoopConfiguration), cowPath, "l_shipmonth").size)
    }

    Map("setup_end_ms" -> setupEnd, "setup_steps_ms" -> setupSteps.toMap, "loop_s" -> loopS, "executed" -> i,
      "records" -> records.toSeq, "broken" -> broken,
      "space" -> space,
      "loop_gc_ms" -> gcLoop,
      "driver_idle_ms" -> stats.map(_.idleMs(setupEnd, loopEnd)).getOrElse(-1L))
  }
}
