package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}

import graft.agg.ActivityAggs
import graft.cdc.Debezium
import graft.enrich.Enrichments
import graft.io.ParquetUpsertSink
import graft.model.Schemas
import graft.streaming.Pipeline

/** cdc_ingest: the reference topology over Debezium-wire files. Two
  * upsert streams (employees, activities) into copy-on-write tables,
  * plus the watermarked hourly and daily aggregates. Phase 1 drains a
  * pre-written backlog; phase 2 is an open loop in which a generator
  * thread moves pre-rendered files into the source directories on a
  * fixed schedule.
  */
object CdcIngest {
  private val HourlyKeys = Seq("window_start", "employee_id", "activity_type")

  /** [[graft.io.JsonFileSource]]'s projection, with the batch size
    * fixed by `maxFilesPerTrigger` (the source takes no options).
    */
  private def wireSource(spark: SparkSession, dir: String, maxFiles: Int): DataFrame =
    spark.readStream.format("text").option("maxFilesPerTrigger", maxFiles.toString).load(dir)
      .select(col("value").cast("string").as("value"), current_timestamp().as("timestamp"))

  /** Phase 1 alone, untraced, once per entry of `baselines` (each with
    * its own inputs and core count), in one JVM: the reference for the
    * tracing overhead and the single-core baseline.
    */
  def baselines(spark: SparkSession, spec: JsonNode): Map[String, Any] = {
    var session = spark
    val runs = spec.get("baselines").elements().asScala.toSeq.map { b =>
      val cores = b.get("cores").asInt()
      if (session.sparkContext.defaultParallelism != cores) {
        session.stop()
        session = graft.GraftSession.build(s"local[$cores]", cores)
      }
      run(session, b.get("spec"), None)
    }
    if (session ne spark) session.stop()
    Map("runs" -> runs)
  }

  def run(spark: SparkSession, spec: JsonNode, stats: Option[TaskStats]): Map[String, Any] = {
    val sc = spark.sparkContext
    def s(k: String) = spec.get(k).asText()
    val now: Column = lit(s("processing_date")).cast("date")
    def every(key: String) = Trigger.ProcessingTime(s"${spec.get(key).asInt()} milliseconds")
    val maxFiles = spec.get("max_files").asInt()
    val phase1Only = spec.get("phase1_only").asBoolean()
    val expected1 = spec.get("backlog_lines").asLong()
    val expectedAll = spec.get("total_lines").asLong()

    // input rows per query, as the progress events report them (the
    // listener is asynchronous: it paces the phases, while the recorded
    // progress comes from each query's own history when it stops)
    val inputRows = scala.collection.concurrent.TrieMap.empty[String, Long]
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        inputRows.synchronized { inputRows(p.name) = inputRows.getOrElse(p.name, 0L) + p.numInputRows }
      }
    })

    def sink(path: String) = ParquetUpsertSink(path, Seq("id"), "event_timestamp",
      "processing_date", keepVersions = 3)
    val empSink = sink(s("emp_table"))
    val actSink = sink(s("act_table"))

    // setup: preload both tables through the same parse path, batch-read
    Obs.tag(sc, "preload")
    val setupSteps = Map(
      "preload_emp" -> Main.timed(
        empSink.upsert(Pipeline.employeeStream(spark.read.text(s("emp_preload")), now), 0L))._1,
      "preload_act" -> Main.timed(
        actSink.upsert(Pipeline.activityStream(spark.read.text(s("act_preload")), now), 0L))._1)

    val ckpt = s("ckpt_root")
    def upsertQuery(df: DataFrame, target: ParquetUpsertSink, name: String, trigger: Trigger) =
      if (!Obs.tracing)
        Pipeline.upsertSink(df, target, s"$ckpt/$name", trigger).queryName(name).start()
      else
        df.writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            Obs.tag(b.sparkSession.sparkContext, s"upsert:$name")
            Obs.span("io", s"sink.upsert:$name")(target.upsert(b, id))
          }
          .option("checkpointLocation", s"$ckpt/$name")
          .outputMode(OutputMode.Append()).trigger(trigger).queryName(name).start()
    // aggregate updates collect to the driver, as a memory sink's do;
    // the hourly ones are kept for the check
    val hourlyCols = HourlyKeys ++ Seq("activity_count", "total_duration", "avg_duration")
    val hourlyRows = new ConcurrentLinkedQueue[Row]()
    def aggQuery(df: DataFrame, name: String, trigger: Trigger, keep: Option[Seq[String]]) =
      df.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val rows = b.collect()
          keep.foreach(cols => rows.foreach(r => hourlyRows.add(Row.fromSeq(cols.map(r.getAs[Any])))))
        }
        .option("checkpointLocation", s"$ckpt/$name")
        .outputMode(OutputMode.Update()).trigger(trigger).queryName(name).start()
    /** The four queries of the topology, on one trigger. */
    def topology(trigger: Trigger): Seq[StreamingQuery] = {
      val emp = Pipeline.employeeStream(wireSource(spark, s("emp_src"), maxFiles), now)
      val act = Pipeline.activityStream(wireSource(spark, s("act_src"), maxFiles), now)
      Seq(upsertQuery(emp, empSink, "emp_upsert", trigger),
        upsertQuery(act, actSink, "act_upsert", trigger),
        aggQuery(ActivityAggs.hourlyStreaming(act), "hourly_agg", trigger, Some(hourlyCols)),
        aggQuery(ActivityAggs.dailyStreaming(act), "daily_agg", trigger, None))
    }

    // every progress event of the run stays in each query's history
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val setupEnd = Main.nowMs
    val gc0 = Obs.gcMillis
    // untagged: jobs of the query threads fall back to their query id
    sc.setLocalProperty("perfbench.op", null)
    val queries = topology(every("trigger_ms"))
    val progress = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    def stopAll(): Unit = queries.foreach { q =>
      q.stop()
      progress ++= q.recentProgress.map(p => Map("query" -> q.name, "json" -> p.json))
    }
    /** Waits until every query read its topic's first `emp` / `act` lines. */
    def awaitInput(emp: Long, act: Long, timeoutMs: Long): Boolean = {
      val deadline = Main.nowMs + timeoutMs
      def need(q: StreamingQuery) = if (q.name == "emp_upsert") emp else act
      def done = queries.forall(q => inputRows.getOrElse(q.name, 0L) >= need(q))
      while (!done && Main.nowMs < deadline) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(20)
      }
      done
    }
    val empLines1 = spec.get("backlog_lines_emp").asLong()
    val p1Done = awaitInput(empLines1, expected1 - empLines1, 120000)

    val moves = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var p2Done = true
    if (!phase1Only && p1Done) {
      // phase 2 keeps the queries and their trigger; triggers fire on
      // multiples of their interval, and the schedule starts a fixed
      // offset after one, so every run sees the same arrival pattern
      val interval = spec.get("trigger_ms").asLong()
      val phase2Start = ((Main.nowMs + 200) / interval + 1) * interval +
        spec.get("phase2_offset_ms").asLong()
      val schedule = spec.get("schedule").elements().asScala.toSeq
      // the open loop: a dedicated thread moves each file in when due
      val gen = new Thread(() => schedule.foreach { e =>
        val due = phase2Start + e.get(0).asLong()
        val wait = due - Main.nowMs
        if (wait > 0) Thread.sleep(wait)
        val (from, to) = (e.get(1).asText(), e.get(2).asText())
        Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
        moves.synchronized { moves += Map("file" -> to, "due_ms" -> due, "moved_ms" -> Main.nowMs) }
      }, "perfbench-generator")
      gen.setPriority(Thread.MAX_PRIORITY)
      gen.start()
      gen.join()
      val empLines = spec.get("total_lines_emp").asLong()
      p2Done = awaitInput(empLines, expectedAll - empLines, 60000)
    }
    val loopEnd = Main.nowMs
    val gcLoop = Obs.gcMillis - gc0
    queries.foreach(_.processAllAvailable())
    stopAll()
    val timeline = Map("setup_end_ms" -> setupEnd, "setup_steps_ms" -> setupSteps,
      "phase1_done" -> p1Done, "phase2_done" -> p2Done,
      "moves" -> moves.toSeq,
      "progress" -> progress.toSeq,
      "query_ids" -> queries.map(q => q.id.toString -> q.name).toMap,
      "checkpoints" -> queries.map(q => q.name -> s"$ckpt/${q.name}").toMap)
    if (phase1Only) return timeline

    // ——— outside the timed region: dumps for the checks, space, layers ———
    val dump = s("dump_dir")
    Obs.tag(sc, "dump")
    spark.read.parquet(s("emp_table"))
      .select("id", "name", "email", "department", "event_timestamp").write.parquet(s"$dump/emp")
    spark.read.parquet(s("act_table"))
      .select("id", "employee_id", "duration_seconds", "event_timestamp").write.parquet(s"$dump/act")
    val hourlySchema = ActivityAggs.hourly(Pipeline.activityStream(spark.read.text(s("act_src")), now))
      .select(hourlyCols.map(col): _*).schema
    spark.createDataFrame(new java.util.ArrayList(hourlyRows), hourlySchema)
      .write.parquet(s"$dump/hourly_stream")
    // the generator makes every event older than the cutoff late
    // enough that the watermark drops it, and no other event
    val admitted = Pipeline.activityStream(spark.read.text(s("act_src")), now)
      .filter(col("activity_timestamp") >= timestamp_millis(lit(spec.get("late_cutoff_ms").asLong())))
    ActivityAggs.hourly(admitted).select(hourlyCols.map(col): _*).write.parquet(s"$dump/hourly_batch")
    // traced run only: space amplification, against the live rows
    // written once into a fresh, compacted copy
    val space: Map[String, Any] = if (!Obs.tracing) Map.empty else {
      Seq("emp_table", "act_table").foreach { t =>
        spark.read.parquet(s(t)).repartition(col("processing_date"))
          .write.partitionBy("processing_date").parquet(s"$dump/compact_$t")
      }
      Map("table_bytes" -> (Main.sizeOf(spark, s("emp_table")) + Main.sizeOf(spark, s("act_table"))),
        "compact_bytes" -> (Main.sizeOf(spark, s"$dump/compact_emp_table") +
          Main.sizeOf(spark, s"$dump/compact_act_table")),
        "archive_bytes" -> (Main.sizeOf(spark, s"${s("emp_table")}/_archive") +
          Main.sizeOf(spark, s"${s("act_table")}/_archive")))
    }

    // traced run only: parse and enrich timed on phase 1's wire files,
    // batch-read and cached so the file read is not counted
    val layers: Map[String, Any] = if (!Obs.tracing) Map.empty else {
      def noop(df: DataFrame): Double = Main.timed(df.write.format("noop").mode("overwrite").save())._1
      def topic(files: Seq[String], schema: org.apache.spark.sql.types.StructType,
          enrich: DataFrame => DataFrame): Map[String, Any] = {
        val raw = spark.read.text(files: _*).cache()
        val envelopes = raw.count()
        val parsed = Debezium.parse(raw, schema, "row")
        noop(parsed); noop(enrich(parsed)) // warm
        val parseMs = Obs.span("cdc", "parse")(noop(parsed))
        val bothMs = Obs.span("enrich", "enrich")(noop(enrich(parsed)))
        val kept = parsed.count()
        raw.unpersist()
        Map("envelopes" -> envelopes, "kept" -> kept, "parse_ms" -> parseMs,
          "enrich_ms" -> math.max(0.0, bothMs - parseMs))
      }
      Obs.tag(sc, "layer:cdc")
      Map("emp" -> topic(Json.strings(spec.get("backlog_files_emp")), Schemas.employee,
          Enrichments.enrichEmployees(_, now)),
        "act" -> topic(Json.strings(spec.get("backlog_files_act")), Schemas.activity,
          Enrichments.enrichActivities(_, now)))
    }

    timeline ++ Map("space" -> space, "layers" -> layers, "loop_gc_ms" -> gcLoop,
      "driver_idle_ms" -> stats.map(_.idleMs(setupEnd, loopEnd)).getOrElse(-1L))
  }
}
