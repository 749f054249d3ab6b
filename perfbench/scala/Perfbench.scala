package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkEntry
import graft.model.Span
import graft.operators.{BucketedLayout, SpanOps, TraceSearch}
import graft.streaming.SpanBufferStream
import graft.trace.{TraceDataset, TraceStoreWriter, TraceTransforms}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

/** Benchmark process for one run of one workload. Usage:
  *
  *   Perfbench <ingest|lookup|analytics> <seed> <seconds> <trace 0|1> <runDir> <launchEpochMs>
  *
  * Inputs are staged in `runDir` by perfbench/run.py; the process writes
  * `result.json` (timings, counts, per-layer metrics) and the outputs the
  * checks read back. Every workload has the same shape: a Spark session,
  * then `SetupReps` repetitions of the workload's set-up step (which also
  * warm the JIT), then whole rounds of operations until `seconds` have
  * passed, then everything that is checked or counted outside the
  * measured interval. */
object Perfbench {

  val SetupReps = 3
  val Slots: Int = math.min(2, Runtime.getRuntime.availableProcessors())
  val ShufflePartitions = 2

  final case class OpRecord(id: String, kind: String, ms: Double, ok: Boolean)

  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val traced: Boolean, val dir: String, val spark: SparkSession) {
    val tracer = new Tracer(traced)
    val jobs = new JobListener
    val ops = scala.collection.mutable.ArrayBuffer[OpRecord]()
    val perLayer = scala.collection.mutable.LinkedHashMap[String, Double]()
    val diag = scala.collection.mutable.LinkedHashMap[String, Any]()
    var measuredS = 0.0
    var gcMs0 = 0L
    var jitMs0 = 0L
    var codegen0 = 0L

    /** One timed operation: a trace root span, the job group, the
      * latency. A failure is recorded, not thrown. */
    def timed(id: String, kind: String)(body: => Unit): Unit = {
      spark.sparkContext.setJobGroup(id, kind, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val ok = try { tracer.op(id, kind)(body); true }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $id $kind failed: $e"); false }
      ops += OpRecord(id, kind, (System.nanoTime() - t0) / 1e6, ok)
      spark.sparkContext.clearJobGroup()
    }

    def startMeasuring(): Unit = {
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      Layers.batches.clear()
      ops.clear()
      scanRows = 0L
      scanFiles = 0L
      rowsReturned = 0L
      gcMs0 = Layers.gcMs
      jitMs0 = Layers.jitMs
      codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Layers.measuring = true
    }

    def stopMeasuring(t0: Long): Unit = {
      measuredS = (System.nanoTime() - t0) / 1e9
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      Layers.measuring = false
      val n = ops.size.max(1).toDouble
      val c = jobs.c
      perLayer ++= Seq(
        "spark.jobs_per_op" -> c.jobs / n,
        "spark.stages_per_op" -> c.stages / n,
        "spark.single_task_stages_per_op" -> c.singleTaskStages / n,
        "spark.tasks_per_op" -> c.tasks / n,
        "spark.shuffle_write_kb_per_op" -> c.shuffleWriteBytes / 1024.0 / n,
        "spark.spill_kb_per_op" -> c.spillBytes / 1024.0 / n,
        "spark.executor_busy_ratio" -> c.executorRunMs / (measuredS * 1000.0 * Slots),
        "jvm.gc_ms_per_op" -> (Layers.gcMs - gcMs0) / n,
        "jvm.jit_ms" -> (Layers.jitMs - jitMs0).toDouble,
        "spark.codegen_compiles_per_op" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0) / n)
      diag("op_job_groups") = c.jobsByGroup.keys.count(opIds)
    }

    def opIds: Set[String] = ops.map(_.id).toSet

    /** Records a per-layer metric only when its probe saw something, so a
      * probe that stops matching shows as missing, not as 0. */
    def measured(name: String, v: Option[Double]): Unit = v.foreach(perLayer(name) = _)

    /** Mean duration of the spans with this layer and name over the
      * measured operations. */
    def spanMean(name: String, layer: String, span: String): Unit =
      measured(name, tracer.meanMs(layer, span, opIds))

    /** Plan and execute a Dataset, timing the two phases as spark spans
      * when traced (collect reuses the planned QueryExecution). */
    def collect[T](ds: Dataset[T]): Array[T] =
      if (!traced) ds.collect()
      else {
        tracer.span("spark", "plan")(ds.queryExecution.executedPlan)
        val out = tracer.span("spark", "exec")(ds.collect())
        scans(ds.queryExecution.executedPlan)
        out
      }

    var scanRows = 0L
    var scanFiles = 0L
    var rowsReturned = 0L
    private def scans(p: SparkPlan): Unit =
      ScanMetrics.collectScans(p).foreach { s =>
        scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }

    /** Streaming micro-batch figures over the measured phase. */
    def streamingLayer(dataBatches: Seq[BatchReport]): Unit = if (dataBatches.nonEmpty) {
      def mean(f: BatchReport => Double): Double = dataBatches.map(f).sum / dataBatches.size
      def d(b: BatchReport, k: String): Double = b.durations.getOrElse(k, 0L).toDouble
      perLayer ++= Seq(
        "streaming.add_batch_ms" -> mean(d(_, "addBatch")),
        "streaming.query_planning_ms" -> mean(d(_, "queryPlanning")),
        "streaming.latest_offset_ms" -> mean(d(_, "latestOffset")),
        "streaming.commit_ms" -> mean(b => d(b, "walCommit") + d(b, "commitOffsets")),
        "streaming.state_commit_ms" -> mean(_.stateCommitMs.toDouble),
        "streaming.state_rows" -> mean(_.stateRows.toDouble),
        "streaming.state_mb" -> mean(_.stateBytes / 1048576.0))
    }
  }

  object ScanMetrics extends AdaptiveSparkPlanHelper {
    def collectScans(p: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(p) { case s: FileSourceScanExec => s }
  }

  def session(dir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.default.parallelism", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.streaming.streamingQueryListeners", "perfbench.StreamListener")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dir, launchMs) = args
    val spark = session(dir)
    val run = new Run(workload, seed.toLong, seconds.toDouble, trace == "1", dir, spark)
    spark.sparkContext.addSparkListener(run.jobs)
    val sessionS = (System.currentTimeMillis() - launchMs.toLong) / 1000.0
    val (reps, warmupS) = workload match {
      case "ingest" => Ingest.run(run)
      case "lookup" => Lookup.run(run)
      case "analytics" => Analytics.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (run.traced) SpanOutput.writeAndValidate(run)
    val m = new ObjectMapper()
    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("session_s", sessionS)
    res.put("setup_reps_s", reps.asJava)
    res.put("warmup_s", warmupS)
    res.put("measured_s", run.measuredS)
    res.put("attempted", run.ops.size)
    res.put("failed", run.ops.count(!_.ok))
    res.put("latencies_ms", run.ops.filter(_.ok).map(_.ms).asJava)
    res.put("retained_heap_mb", run.diag.getOrElse("retained_heap_mb", 0.0))
    val layers = new java.util.LinkedHashMap[String, Double]()
    run.perLayer.foreach { case (k, v) => layers.put(k, v) }
    res.put("per_layer", layers)
    res.put("ms_by_kind", run.ops.groupBy(_.kind).map { case (k, v) =>
      k -> v.map(_.ms).sum / v.size }.asJava)
    res.put("diag", run.diag.map { case (k, v) => k -> v.toString }.asJava)
    Files.writeString(Paths.get(s"$dir/result.json"), m.writeValueAsString(res))
    spark.stop()
  }

  // ------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def filesUnder(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def dataFiles(dir: String): Seq[Path] = filesUnder(dir).filter { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }
}

/** Traced runs write their spans in graft's span-relation schema and
  * check them with graft's own validator: one root per trace, every
  * parent resolves. */
object SpanOutput {
  def writeAndValidate(run: Perfbench.Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val m = new ObjectMapper()
    val rows = run.tracer.all.map { s =>
      (s.traceId, s.spanId, s.parentSpanId, s.service, s.operation, s.startUs, s.durationUs,
        "", m.writeValueAsString(s.tags.asJava))
    }
    val path = s"${run.dir}/spans"
    rows.toDF("trace_id", "span_id", "parent_span_id", "service", "operation",
      "start_us", "duration_us", "kind", "tags")
      .coalesce(1).write.mode("overwrite").parquet(path)
    val report = TraceDataset.validateTraces(
      TraceDataset.toSpanDataset(spark.read.parquet(path))).collect()
    val bad = report.filterNot(_.valid)
    run.diag("trace_spans") = rows.size
    run.diag("trace_traces") = report.length
    run.diag("trace_invalid") = bad.length
    bad.take(3).foreach(b => System.err.println(s"[perfbench] invalid trace span tree: $b"))
  }
}

// ================================================================= ingest

/** Streaming write path: staged batch files → toSpanDataset → assemble →
  * writeAllStream, one file per trigger. The measured stream moves
  * `RoundFiles` staged files into its source directory per round and
  * drains them with one writeAllStream call (AvailableNow), resuming
  * from its checkpoint; one operation is one data micro-batch, timed by
  * the query progress (triggerExecution). */
object Ingest {
  // sealing parameters; perfbench/gen.py (GAP_SECONDS, MAX_SPANS) and the
  // checks assume the same values
  val GapSeconds = 10L
  val MaxSpans = 64
  val RoundFiles = 10
  val MinRounds = 2

  def run(r: Perfbench.Run): (Seq[Double], Double) = {
    val spark = r.spark
    val staged = s"${r.dir}/stage"
    val schema = spark.read.parquet(s"$staged/warm").schema
    var spanned = 0 // progress reports already recorded as spans (traced runs)

    def stream(src: String, base: String): Unit = {
      val raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
      val spans = r.tracer.span("trace", "toSpanDataset")(TraceDataset.toSpanDataset(raw))
      val buffers = r.tracer.span("streaming", "assemble")(
        SpanBufferStream.assemble(spans, GapSeconds, MaxSpans))
      r.tracer.span("trace", "writeAllStream") {
        val parent = r.tracer.current
        TraceStoreWriter.writeAllStream(buffers, base)
        parent.foreach { case (traceId, id) => spanned = batchSpans(r, traceId, id, spanned) }
      }
    }

    val warm = Perfbench.dataFiles(s"$staged/warm").sortBy(_.getFileName.toString)
    val reps = (1 to Perfbench.SetupReps).map { i =>
      Perfbench.secondsOf {
        val src = Paths.get(s"${r.dir}/warm$i/src")
        Files.createDirectories(src)
        warm.foreach(f => Files.copy(f, src.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
        stream(src.toString, s"${r.dir}/warm$i/out")
      }
    }

    val main = Perfbench.dataFiles(s"$staged/main").sortBy(_.getFileName.toString)
    val src = Paths.get(s"${r.dir}/ingest/src")
    Files.createDirectories(src)
    val out = s"${r.dir}/ingest/out"
    r.startMeasuring()
    spanned = 0
    val t0 = System.nanoTime()
    var next = 0
    var round = 0
    var failed = false
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (!failed && next + RoundFiles <= main.size && (elapsed < r.seconds || round < MinRounds)) {
      main.slice(next, next + RoundFiles).foreach(f => Files.move(f, src.resolve(f.getFileName)))
      next += RoundFiles
      round += 1
      try r.tracer.op(s"ingest-${r.seed}-round$round", "ingest.round") {
        stream(src.toString, out)
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] ingest round $round failed: $e"); failed = true }
    }
    // ops come from the progress reports: one per data micro-batch
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val batches = Layers.batches.asScala.toSeq.filter(_.inputRows > 0)
    r.ops ++= batches.map(b => Perfbench.OpRecord(s"batch${b.batchId}", "micro_batch",
      b.durations.getOrElse("triggerExecution", 0L).toDouble, ok = true))
    if (failed) r.ops ++= (1 to RoundFiles).map(i =>
      Perfbench.OpRecord(s"failed$i", "micro_batch", 0.0, ok = false))
    r.stopMeasuring(t0)
    r.diag("retained_heap_mb") = Layers.retainedHeapMb
    r.diag("files_consumed") = next
    r.diag("rounds") = round

    if (r.traced) {
      r.streamingLayer(batches)
      val n = batches.size.max(1).toDouble
      val written = Seq("spans", "index", "meta").flatMap(d => Perfbench.dataFiles(s"$out/$d"))
      val storedSpans = spark.read.parquet(s"$out/spans").count()
      r.perLayer ++= Seq(
        "streaming.sealed_buffers_per_op" -> spark.read.parquet(s"$out/index").count() / n,
        "trace.files_written_per_write" -> written.size / n,
        "trace.stored_bytes_per_span" ->
          written.map(Files.size(_)).sum.toDouble / storedSpans.max(1L))
    }
    (reps, 0.0)
  }

  /** Micro-batches reported since the last call become child spans of the
    * writeAllStream span, with their phases laid out in execution order.
    * Returns how many reports have been turned into spans. */
  private def batchSpans(r: Perfbench.Run, traceId: String, parent: Long, seen: Int): Int = {
    PerfbenchBridge.drainListenerBus(r.spark.sparkContext)
    val all = Layers.batches.asScala.toSeq
    all.drop(seen).foreach { b =>
      val start = b.timestampMs * 1000L
      val id = r.tracer.add(traceId, parent, "streaming", "microBatch", start,
        b.durations.getOrElse("triggerExecution", 0L) * 1000L,
        Map("batch_id" -> b.batchId.toString, "input_rows" -> b.inputRows.toString))
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = b.durations.getOrElse(k, 0L) * 1000L
          r.tracer.add(traceId, id, "streaming", k, t, d, Map("laid_out" -> "sequential"))
          t += d
        }
    }
    all.size
  }
}

// ================================================================= lookup

/** Read path over the store that writeAll builds: seeded point and
  * search requests, back to back. Responses are written to
  * responses.jsonl after the measured phase for the checks. */
object Lookup {
  def run(r: Perfbench.Run): (Seq[Double], Double) = {
    val spark = r.spark
    val m = new ObjectMapper()
    val layout = TraceStoreWriter.StoreLayout(
      bucketTable = "graft_spans", indexDir = s"${r.dir}/store/index",
      metaDir = s"${r.dir}/store/meta")
    val catalogDir = s"${r.dir}/store/catalog"
    val corpus = spark.read.parquet(s"${r.dir}/corpus.parquet")
    val lines = Files.readAllLines(Paths.get(s"${r.dir}/requests.jsonl")).asScala.map(m.readTree)
    val warmRounds = lines.filter(_.get("phase").asText == "warm").groupBy(_.get("round").asInt)
    val mainRounds = lines.filter(_.get("phase").asText == "main").groupBy(_.get("round").asInt)
      .toSeq.sortBy(_._1).map(_._2.toSeq)

    val writeS = scala.collection.mutable.ArrayBuffer[Double]()
    val reps = (1 to Perfbench.SetupReps).map { i =>
      Perfbench.secondsOf(r.tracer.op(s"lookup-${r.seed}-setup$i", "setup") {
        writeS += Perfbench.secondsOf(
          r.tracer.span("trace", "writeAll")(TraceStoreWriter.writeAll(corpus, layout)))
        r.tracer.span("operators", "serviceOperationCatalog")(
          SpanOps.serviceOperationCatalog(TraceStoreWriter.traceStore(spark, layout))
            .write.mode("overwrite").parquet(catalogDir))
      })
    }
    val catalog = spark.read.parquet(catalogDir)
    // a fixed number of warm-up rounds: the JIT does not settle here, since
    // most requests compile new generated code (spark.codegen_compiles_per_op)
    val warmupS = Perfbench.secondsOf(warmRounds.toSeq.sortBy(_._1).foreach { case (i, reqs) =>
      val j0 = Layers.jitMs
      val s = Perfbench.secondsOf(reqs.foreach(req => request(r, layout, catalog, req, _ => ())))
      r.diag(s"warm_round$i") = f"$s%.2f s, jit ${Layers.jitMs - j0} ms"
    })

    // responses go straight to disk, so the heap figure holds none of them
    val responses = Files.newBufferedWriter(Paths.get(s"${r.dir}/responses.jsonl"))
    r.startMeasuring()
    val t0 = System.nanoTime()
    var k = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (k < mainRounds.size && (elapsed < r.seconds || k < 3)) {
      mainRounds(k).foreach(req => request(r, layout, catalog, req, { line =>
        responses.write(line); responses.newLine() }))
      k += 1
    }
    r.stopMeasuring(t0)
    responses.close()
    r.diag("retained_heap_mb") = Layers.retainedHeapMb
    r.diag("rounds") = k

    if (r.traced) {
      val n = r.ops.size.max(1).toDouble
      val store = Perfbench.dataFiles(s"${r.dir}/warehouse/graft_spans") ++
        Perfbench.dataFiles(layout.indexDir) ++ Perfbench.dataFiles(layout.metaDir)
      r.perLayer ++= Seq(
        "trace.files_written_per_write" -> store.size.toDouble,
        "trace.store_write_s" -> Perfbench.median(writeS.toSeq),
        "trace.stored_bytes_per_span" ->
          store.map(Files.size(_)).sum.toDouble /
            corpus.count())
      if (r.scanFiles > 0) r.perLayer ++= Seq(
        "operators.rows_read_per_row_returned" -> r.scanRows.toDouble / r.rowsReturned.max(1L),
        "operators.files_read_per_op" -> r.scanFiles / n)
      r.spanMean("trace.pipeline_ms", "trace", "defaultPipeline")
      r.spanMean("operators.get_trace_ms", "operators", "getTrace")
      r.spanMean("operators.search_ms", "operators", "searchTraces")
      r.spanMean("operators.expr_search_ms", "operators", "TraceSearch.search")
      r.spanMean("operators.counts_ms", "operators", "traceCounts")
      r.spanMean("operators.field_values_ms", "operators", "fieldValuesFromCatalog")
      r.spanMean("spark.plan_ms", "spark", "plan")
      r.spanMean("spark.exec_ms", "spark", "exec")
    }
    (reps, warmupS)
  }

  private def spanJson(s: Span): java.util.List[Any] =
    java.util.Arrays.asList(s.traceId, s.spanId, s.parentSpanId, s.service, s.operation,
      s.startUs, s.durationUs, s.kind, s.tags.asJava)

  private def rowJson(row: Row): java.util.List[Any] =
    row.toSeq.map {
      case d: java.math.BigDecimal => d.toString
      case v => v
    }.asJava

  private def request(r: Perfbench.Run, layout: TraceStoreWriter.StoreLayout,
      catalog: DataFrame, req: JsonNode, emit: String => Unit): Unit = {
    val spark = r.spark
    val m = new ObjectMapper()
    val op = req.get("op").asText
    val id = s"lookup-${r.seed}-${req.get("phase").asText}-${req.get("round").asInt}-" +
      s"${req.get("i").asInt}-$op"
    def str(k: String) = req.get(k).asText
    def lng(k: String) = req.get(k).asLong
    def fetch(traceId: String): Array[Span] = r.tracer.span("operators", "getTrace")(
      r.collect(TraceDataset.toSpanDataset(BucketedLayout.getTrace(spark, layout.bucketTable, traceId))))
    def pipeline(spans: Seq[Span]): Seq[Span] =
      r.tracer.span("trace", "defaultPipeline")(TraceTransforms.defaultPipeline(spans))
    def rows(df: DataFrame): Array[Row] = r.collect(df)
    val store = TraceStoreWriter.traceStore(spark, layout)
    var out: java.util.Map[String, Any] = null
    r.timed(id, op) {
      val res = new java.util.LinkedHashMap[String, Any]()
      var returned = 0L
      op match {
        case "get_trace" =>
          val raw = fetch(str("trace_id"))
          val processed = pipeline(raw.toSeq)
          returned = raw.length
          res.put("raw", raw.map(spanJson).toSeq.asJava)
          res.put("processed", processed.map(spanJson).asJava)
        case "get_raw_span" =>
          val got = r.tracer.span("operators", "getRawSpan")(r.collect(TraceDataset.toSpanDataset(
            BucketedLayout.getTrace(spark, layout.bucketTable, str("trace_id"))
              .filter(col("span_id") === lng("span_id")))))
          returned = got.length
          res.put("raw", got.map(spanJson).toSeq.asJava)
        case "get_raw_traces" =>
          val tids = req.get("trace_ids").elements().asScala.map(_.asText).toSeq
          val got = r.tracer.span("operators", "getRawTraces")(r.collect(TraceDataset.toSpanDataset(
            tids.map(t => BucketedLayout.getTrace(spark, layout.bucketTable, t)).reduce(_ union _))))
          returned = got.length
          res.put("raw", got.map(spanJson).toSeq.asJava)
        case "call_graph" =>
          val raw = fetch(str("trace_id"))
          val edges = r.tracer.span("trace", "callGraph")(TraceTransforms.callGraph(pipeline(raw.toSeq)))
          returned = raw.length
          res.put("edges", edges.map(e => java.util.Arrays.asList[Any](e.fromService,
            e.fromOperation, e.toService, e.toOperation, e.networkDeltaUs)).asJava)
        case "search" =>
          val got = r.tracer.span("operators", "searchTraces")(rows(SpanOps.searchTraces(
            store, str("service"), lng("start_us"), lng("end_us"), req.get("limit").asInt)))
          returned = got.length
          res.put("rows", got.map(rowJson).toSeq.asJava)
        case "expr_search" =>
          import TraceSearch._
          val groups = Seq(
            And(Seq(Eq("service", str("service")), RangeUs("start_us", lng("start_us"), lng("end_us")))),
            And(Seq(Eq("operation", str("operation")),
              RangeUs("duration_us", lng("min_duration_us"), Long.MaxValue))))
          val got = r.tracer.span("operators", "TraceSearch.search")(
            rows(TraceSearch.search(store, groups, req.get("limit").asInt)))
          returned = got.length
          res.put("rows", got.map(rowJson).toSeq.asJava)
        case "counts" =>
          val got = r.tracer.span("operators", "traceCounts")(rows(SpanOps.traceCounts(
            store, str("service"), lng("start_us"), lng("end_us"), lng("interval_us"))))
          returned = got.length
          res.put("rows", got.map(rowJson).toSeq.asJava)
        case "field_values" =>
          val got = r.tracer.span("operators", "fieldValuesFromCatalog")(rows(
            SpanOps.fieldValuesFromCatalog(catalog, "operation", col("service") === str("service"))))
          returned = got.length
          res.put("rows", got.map(rowJson).toSeq.asJava)
      }
      r.rowsReturned += returned
      out = res
    }
    if (out != null) {
      out.put("request", m.convertValue(req, classOf[java.util.Map[String, Any]]))
      emit(m.writeValueAsString(out))
    }
  }
}

// ============================================================== analytics

/** Whole-corpus analytics: a fixed list of SparkEntry surfaces over the
  * generated events table, each materialised as graft.Bench does (noop
  * sink), in a seeded order each round. */
object Analytics {
  val Surfaces: Seq[String] = Seq(
    "trace_queue_wait", "trace_incidents", "trace_concurrency", "trace_breach_runs",
    "trace_processed", "trace_call_graph", "trace_critical_path", "trace_search",
    "trace_index_docs", "streaming_span_buffer")
  val MinRounds = 2

  def tempDirs(): Int = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.list()).map(_.count(_.startsWith("graft_stream_"))).getOrElse(0)
  }

  def run(r: Perfbench.Run): (Seq[Double], Double) = {
    val spark = r.spark
    val dir = s"${r.dir}/events"
    val out = s"${r.dir}/oracle_out"
    def order(salt: Long): Seq[String] = new scala.util.Random(r.seed * 31 + salt).shuffle(Surfaces)

    def once(name: String, id: String, dump: Boolean = false): Unit = r.timed(id, name) {
      r.tracer.span("queries", name) {
        val df = r.tracer.span("queries", "build")(SparkEntry.queries(name)(spark, dir))
        if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        else {
          // traced runs time the query's planning on its own; the noop
          // write then plans its command again inside spark.exec
          if (r.traced) r.tracer.span("spark", "plan")(df.queryExecution.executedPlan)
          r.tracer.span("spark", "exec")(df.write.mode("overwrite").format("noop").save())
        }
      }
    }

    // the set-up round also writes each surface's output for the oracle
    // compare; a full round is the set-up step, run once (see README)
    val reps = Seq(Perfbench.secondsOf(
      order(0).foreach(n => once(n, s"analytics-${r.seed}-setup-$n", dump = true))))
    val warmFailed = r.ops.count(!_.ok)
    r.diag("warm_failed") = warmFailed

    val dirs0 = tempDirs()
    r.startMeasuring()
    val t0 = System.nanoTime()
    var round = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < r.seconds || round < MinRounds) {
      round += 1
      order(round).foreach(n => once(n, s"analytics-${r.seed}-r$round-$n"))
    }
    r.stopMeasuring(t0)
    val leaked = tempDirs() - dirs0
    r.diag("retained_heap_mb") = Layers.retainedHeapMb
    r.diag("rounds") = round

    if (r.traced) {
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      r.streamingLayer(Layers.batches.asScala.toSeq.filter(_.inputRows > 0))
      Surfaces.foreach { s =>
        val ms = r.ops.filter(_.kind == s).map(_.ms)
        r.measured(s"queries.${s}_ms", if (ms.isEmpty) None else Some(ms.sum / ms.size))
      }
      r.perLayer("queries.temp_dirs_left_per_op") = leaked.toDouble / r.ops.size.max(1)
      r.spanMean("queries.build_ms", "queries", "build")
      r.spanMean("spark.plan_ms", "spark", "plan")
      r.spanMean("spark.exec_ms", "spark", "exec")
    }

    val sql = new java.util.TreeMap[String, String]()
    Surfaces.foreach(n => SparkEntry.oracleSql.get(n).foreach(sql.put(n, _)))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), new ObjectMapper().writeValueAsString(sql))
    (reps, 0.0)
  }
}
