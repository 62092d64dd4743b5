package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.pipeline.FilePipeline
import graft.streaming.StreamingIngest

/** The benchmark's JVM side. Runs one workload as a sequence of passes,
  * each on a fresh SparkContext and SparkSession, and writes every raw
  * measurement as one JSON document; `run.py` turns that into metrics and
  * checks the outputs.
  *
  * The run's set-up time is the cold start: JVM start to a first session
  * that has completed the query the engine's `SparkEntry.entry` runs. A
  * pass is: stop the previous session, build a new one and run that
  * entry query again, then run every operation of the workload once. Warm-up passes
  * are untimed; timed passes repeat until the time budget is spent; with
  * `--trace 1` one more pass runs with the listeners of [[Tracer]]
  * attached.
  *
  * The engine is driven only through its public entry points
  * (`SparkEntry.queries`, `FilePipeline.run`,
  * `FilePipeline.backfillEnrichment`, `StreamingIngest.start`) and
  * observed only through Spark's public listener APIs.
  */
object Harness {

  final case class Conf(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      dataDir: String,
      entryDir: String,
      corpusDir: String,
      workDir: String,
      outFile: String,
      cpus: Int,
      warmupPasses: Int,
      minPasses: Int,
      maxPasses: Int,
      stealMillis: Long,
      queries: Seq[String])

  private def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def s(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(
      workload = s("workload"),
      seed = s("seed").toLong,
      seconds = s("seconds").toDouble,
      trace = s("trace") == "1",
      dataDir = s("data"),
      entryDir = s("entry-data"),
      corpusDir = kv.getOrElse("corpus", ""),
      workDir = s("work"),
      outFile = s("out"),
      cpus = s("cpus").toInt,
      warmupPasses = s("warmup-passes").toInt,
      minPasses = s("min-passes").toInt,
      maxPasses = s("max-passes").toInt,
      stealMillis = s("steal-ms").toLong,
      queries = kv.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty))
  }

  // ---------------------------------------------------------------------
  // session lifecycle

  private def newSession(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.workDir}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Build a session and complete the engine's entry query on it, the
    * way `SparkEntry.entry` does (q01 on the sf0.001 tables). */
  private def setUp(c: Conf): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = newSession(c)
    val rows = SparkEntry.queries("q01_pricing_summary")(s, c.entryDir).collect()
    require(rows.nonEmpty, "entry query returned no rows")
    (s, (System.nanoTime() - t0) / 1e9)
  }

  private def tearDown(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap pools that hold what outlives a young collection. Eden is left
    * out: under G1 its fill level follows the collector's own sizing
    * (with a fixed -Xms it simply fills the young generation), not the
    * workload. */
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p =>
      p.getType == MemoryType.HEAP && !p.getName.contains("Eden")).toSeq

  private def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  private def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  // ---------------------------------------------------------------------
  // operations

  /** One timed operation; `phases` are (name, startMs, endMs). */
  final case class Op(
      name: String,
      ok: Boolean,
      error: String,
      latencyS: Double,
      startMs: Long,
      endMs: Long,
      phases: Seq[(String, Long, Long)],
      info: Map[String, Any])

  private def nowMs(): Long = System.currentTimeMillis()

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Query op: build the frame, then collect it. */
  private def queryOp(spark: SparkSession, c: Conf, name: String,
      keep: Option[scala.collection.mutable.Map[String, (Array[Row], StructType)]],
      rebuild: Boolean): Op = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val w0 = nowMs()
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, c.dataDir)
      val w1 = nowMs()
      val rows = df.collect()
      val t2 = System.nanoTime()
      val w2 = nowMs()
      keep.foreach(_(name) = (rows, df.schema))
      var info = Map[String, Any]("rows" -> rows.length)
      if (rebuild) {
        // the same builder again in the same session: memo entries hit
        sc.setJobGroup(s"rebuild:$name", name, interruptOnCancel = false)
        val r0 = System.nanoTime()
        SparkEntry.queries(name)(spark, c.dataDir)
        info += ("rebuild_s" -> (System.nanoTime() - r0) / 1e9)
      }
      Op(name, ok = true, "", (t2 - t0) / 1e9, w0, w2,
        Seq(("build", w0, w1), ("action", w1, w2)), info)
    } catch {
      case NonFatal(e) =>
        Op(name, ok = false, errorText(e), (System.nanoTime() - t0) / 1e9,
          w0, nowMs(), Seq.empty, Map.empty)
    } finally sc.clearJobGroup()
  }

  private def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
      finally st.close()
    }

  /** Arrival: copy one corpus batch into `incoming/<day>/`. */
  private def stage(batchDir: Path, root: String): Unit =
    listFiles(batchDir).foreach { f =>
      val dest = Paths.get(root, "incoming").resolve(batchDir.relativize(f))
      Files.createDirectories(dest.getParent)
      Files.copy(f, dest, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Fact rows still lacking simulation_num although their dim row has
    * arrived. Zero after every backfill. Untimed. */
  private def unenriched(spark: SparkSession, root: String): Long = {
    val layout = FilePipeline.Layout(root)
    spark.sparkContext.setJobGroup("check", "check", interruptOnCancel = false)
    try {
      val fact = spark.read.parquet(layout.factTable)
      val dim = spark.read.parquet(layout.dimTable).select("simulation_id").distinct()
      fact.filter(col("simulation_num").isNull).join(dim, "simulation_id").count()
    } catch {
      case _: org.apache.spark.sql.AnalysisException => 0L // no table yet
    } finally spark.sparkContext.clearJobGroup()
  }

  private def dirBytesAndFiles(dir: String): (Long, Long) = {
    val fs = listFiles(Paths.get(dir))
    (fs.map(Files.size).sum, fs.count(_.getFileName.toString.endsWith(".parquet")).toLong)
  }

  /** Ingest op: one arrival batch through the batch pipeline or through
    * the stream, then the backfill. */
  private def ingestOp(spark: SparkSession, root: String, batch: Int,
      streaming: Boolean): Op = {
    val sc = spark.sparkContext
    val name = f"batch_$batch%02d"
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val w0 = nowMs()
    val t0 = System.nanoTime()
    try {
      var info = Map.empty[String, Any]
      if (streaming) {
        val q = StreamingIngest.start(spark, root, s"$root/_checkpoint")
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        val progress = q.recentProgress.filter(_.numInputRows > 0)
        info ++= Map("run_id" -> q.runId.toString,
          "micro_batches" -> progress.length)
      } else {
        val r = FilePipeline.run(spark, root)
        info ++= Map(
          "csv_files" -> r.csvFilesIngested,
          "fact_rows" -> r.factRowsInserted,
          "metadata_files" -> r.metadataFilesIngested,
          "dim_rows" -> r.dimRowsInserted,
          "archived" -> r.filesArchived,
          "failures" -> r.failures)
      }
      val w1 = nowMs()
      val backfilled = FilePipeline.backfillEnrichment(spark, root)
      val t2 = System.nanoTime()
      val w2 = nowMs()
      info += ("backfilled_rows" -> backfilled)
      Op(name, ok = true, "", (t2 - t0) / 1e9, w0, w2,
        Seq((if (streaming) "stream" else "pipeline", w0, w1),
          ("backfill", w1, w2)), info)
    } catch {
      case NonFatal(e) =>
        Op(name, ok = false, errorText(e), (System.nanoTime() - t0) / 1e9,
          w0, nowMs(), Seq.empty, Map.empty)
    } finally sc.clearJobGroup()
  }

  // ---------------------------------------------------------------------
  // passes

  final case class Pass(
      kind: String,
      index: Int,
      setupS: Double,
      runS: Double,
      peakHeapMb: Double,
      ops: Seq[Op],
      extra: Map[String, Any])

  private def isIngest(w: String): Boolean = w == "ingest" || w == "stream-ingest"

  private def runPass(spark: SparkSession, c: Conf, kind: String, index: Int,
      setupS: Double, order: Seq[String],
      keep: Option[scala.collection.mutable.Map[String, (Array[Row], StructType)]],
      traced: Boolean): Pass = {
    System.gc()
    resetHeapPeak()
    val ops = ArrayBuffer.empty[Op]
    var extra = Map.empty[String, Any]
    if (isIngest(c.workload)) {
      val root = s"${c.workDir}/ingest/${kind}_$index"
      val batches = new File(c.corpusDir).list().filter(_.startsWith("batch_")).sorted
      var violations = 0L
      batches.zipWithIndex.foreach { case (b, i) =>
        stage(Paths.get(c.corpusDir, b), root)
        val op = ingestOp(spark, root, i, c.workload == "stream-ingest")
        ops += op
        if (op.ok && kind != "warmup") violations += unenriched(spark, root)
      }
      val wh = FilePipeline.Layout(root)
      val tables = Seq("fact" -> wh.factTable, "dim" -> wh.dimTable,
        "ledger" -> wh.ledger).map { case (k, d) =>
          val (b, f) = dirBytesAndFiles(d)
          k -> Map("bytes" -> b, "parquet_files" -> f)
        }.toMap
      extra ++= Map("root" -> root, "unenriched_after_backfill" -> violations,
        "tables" -> tables)
    } else {
      order.foreach(n => ops += queryOp(spark, c, n, keep, rebuild = traced))
    }
    val peak = heapPeakMb()
    Pass(kind, index, setupS, ops.map(_.latencyS).sum, peak, ops.toSeq, extra)
  }

  /** Write the kept query results as one Parquet file per query, for the
    * DuckDB comparison. Untimed. */
  private def writeResults(spark: SparkSession,
      kept: scala.collection.Map[String, (Array[Row], StructType)],
      dir: String): Unit =
    kept.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name")
    }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val probe0 = System.nanoTime()
    val stealPre = graft.tools.StealProbe.measure(c.cpus, c.stealMillis)
    val probeS = (System.nanoTime() - probe0) / 1e9
    val passes = ArrayBuffer.empty[Pass]
    // every pass runs the queries in its own order, drawn from the seed, so
    // no query always pays a fresh session's first-use costs
    def order(): Seq[String] = new Random(c.seed * 1009 + passes.size).shuffle(c.queries)
    var (spark, firstSetup) = setUp(c)
    // JVM start to a ready session that has completed the entry query,
    // less the weather probe that ran in between
    val coldSetupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - probeS
    var setupS = firstSetup
    def fresh(): Unit = {
      tearDown(spark)
      val (s, t) = setUp(c)
      spark = s
      setupS = t
    }

    // warm-up: untimed passes of the same workload
    var w = 0
    while (w < c.warmupPasses) {
      if (w > 0) fresh()
      passes += runPass(spark, c, "warmup", w, setupS, order(), None, traced = false)
      w += 1
    }

    // timed passes, each on a fresh session
    val kept = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]
    val timedStart = System.nanoTime()
    var t = 0
    while (t < c.maxPasses && (t < c.minPasses ||
        (System.nanoTime() - timedStart) / 1e9 < c.seconds)) {
      if (w > 0 || t > 0) fresh()
      kept.clear()
      passes += runPass(spark, c, "timed", t, setupS, order(), Some(kept), traced = false)
      t += 1
    }
    val timedWallS = (System.nanoTime() - timedStart) / 1e9
    val resultsDir = s"${c.workDir}/results"
    if (!isIngest(c.workload)) writeResults(spark, kept, resultsDir)
    kept.clear()

    // traced pass: same work, listeners attached after set-up
    var trace: Map[String, Any] = Map.empty
    if (c.trace) {
      fresh()
      val tracer = new Tracer(spark)
      val traced = runPass(spark, c, "traced", 0, setupS, order(), None, traced = true)
      passes += traced
      trace = tracer.finish(traced)
    }
    tearDown(spark)
    val stealPost = graft.tools.StealProbe.measure(c.cpus, c.stealMillis)

    val doc = Map(
      "workload" -> c.workload,
      "seed" -> c.seed,
      "cpus" -> c.cpus,
      "steal_pre_pct" -> stealPre,
      "steal_post_pct" -> stealPost,
      "cold_setup_s" -> coldSetupS,
      "timed_wall_s" -> timedWallS,
      "results_dir" -> resultsDir,
      "passes" -> passes.map(passJson).toSeq,
      "oracle_sql" -> c.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "trace" -> trace)
    val out = new File(c.outFile)
    out.getParentFile.mkdirs()
    Files.writeString(out.toPath,
      org.json4s.jackson.Serialization.write(doc)(org.json4s.DefaultFormats))
  }

  private def opJson(o: Op): Map[String, Any] = Map(
    "name" -> o.name, "ok" -> o.ok, "error" -> o.error,
    "latency_s" -> o.latencyS, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
    "phases" -> o.phases.map { case (n, s, e) =>
      Map("name" -> n, "start_ms" -> s, "end_ms" -> e) },
    "info" -> o.info)

  private def passJson(p: Pass): Map[String, Any] = Map(
    "kind" -> p.kind, "index" -> p.index, "setup_s" -> p.setupS,
    "run_s" -> p.runS, "peak_heap_mb" -> p.peakHeapMb,
    "ops" -> p.ops.map(opJson)) ++ p.extra
}
