package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side. One process runs one workload with one
  * seed: it sets up (several times, timing each), then drives a closed
  * loop of operations from this one thread for the requested seconds,
  * and writes a JSON report that `run.py` turns into metrics.
  *
  * Usage: Main --mode run --workload W --seed N --seconds S --trace 0|1
  *             --setups K --run-dir D [--ops q_a,q_b]
  *        Main --mode digests --seeds A-B --run-dir D
  *        Main --mode classify --run-dir D   (tables in D/data_1)
  */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Generated MOH dump size of the `clearmap` workload. */
  val MohSize: Inputs.Moh = Inputs.Moh(cities = 20, maxAreas = 4, days = 240, vertices = 12)

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap)
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    args.get("mode").getOrElse("run") match {
      case "run" => new Run(args, runDir).go()
      case "digests" => Digests.go(args, runDir)
      case "classify" => Classify.go(args, runDir)
      case other => sys.error(s"unknown mode $other")
    }
  }

  // ---------------------------------------------------------------- helpers

  def session(runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.io.GraftLakeExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def wipe(p: Path): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(del))
      f.delete()
    }
    del(p.toFile)
    Files.createDirectories(p)
  }

  def now: Double = System.nanoTime() / 1e9

  def peakRssMb: Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Order-insensitive digest of a result: columns sorted by name, each
    * row rendered to text, rows sorted, SHA-256 over the lines. */
  def digest(schema: StructType, rows: scala.collection.Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def render(v: Any): String = v match {
      case null => "␀"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
          .mkString("<", ",", ">")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    sha256(lines.mkString(s"${schema.fieldNames.sorted.mkString(",")}\n", "\n", ""))
  }

  def sha256(s: String): String = sha256(s.getBytes("UTF-8"))
  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  /** Minimal JSON writer for reports. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => "\\u%04x".format(c.toInt); case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
  }

  def write(p: Path, s: String): Unit = Files.write(p, s.getBytes("UTF-8"))

  /** Every registry query with the registry module it belongs to. */
  lazy val modules: Seq[(String, graft.queries.Q)] = {
    import graft.queries._
    Seq("CoreQueries" -> CoreQueries.all, "RelationalQueries" -> RelationalQueries.all,
      "ExtensionQueries" -> ExtensionQueries.all, "AnalyticQueries" -> AnalyticQueries.all,
      "ProfilingQueries" -> ProfilingQueries.all, "TypedQueries" -> TypedQueries.all,
      "BehaviorQueries" -> BehaviorQueries.all, "TemporalQueries" -> TemporalQueries.all,
      "TextQueries" -> TextQueries.all, "PipelineQueries" -> PipelineQueries.all,
      "SimilarityQueries" -> SimilarityQueries.all, "GeoQueries" -> GeoQueries.all,
      "MultimodalQueries" -> MultimodalQueries.all, "GraphQueries" -> GraphQueries.all,
      "DecisionQueries" -> DecisionQueries.all, "CorpusQueries" -> CorpusQueries.all,
      "CorpusPipelineQuery" -> CorpusPipelineQuery.all,
      "RagPipelineQuery" -> RagPipelineQuery.all,
      "JourneyPipelineQuery" -> JourneyPipelineQuery.all,
      "MaintenancePipelineQuery" -> MaintenancePipelineQuery.all,
      "GovernancePipelineQuery" -> GovernancePipelineQuery.all)
      .flatMap { case (m, qs) => qs.map(m -> _) }
  }

  val Windows: Seq[String] = Seq("all", "wave", "weeks_2", "weeks_1")

  /** Checks a `clearmap` output directory: every GeoJSON layer parses as
    * a FeatureCollection (given the frames: with one feature per frame
    * row) and the side CSV has 12 columns. Returns the problems and an
    * order-insensitive digest of the outputs (each layer's features
    * re-serialized and sorted, then the CSV). */
  def checkOutputs(dir: Path, frames: Option[Map[String, DataFrame]]): (Seq[String], String) = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val problems = ArrayBuffer.empty[String]
    val parts = ArrayBuffer.empty[String]
    for (w <- Windows; kind <- Seq("map", "lines")) {
      val f = dir.resolve(s"${kind}_$w.geojson").toFile
      try {
        val tree = mapper.readTree(f)
        if (tree.path("type").asText != "FeatureCollection")
          problems += s"${f.getName}: not a FeatureCollection"
        val feats = tree.get("features").elements().asScala
          .map(mapper.writeValueAsString).toSeq.sorted
        parts += (f.getName +: feats).mkString("\n")
        frames.foreach { fr =>
          val expect = fr(w).count()
          if (feats.size != expect) problems += s"${f.getName}: ${feats.size} features vs $expect frame rows"
        }
      } catch { case NonFatal(e) => problems += s"${f.getName}: ${e.getClass.getSimpleName}" }
    }
    val csv = dir.resolve("dates_colors_sums.csv")
    val text = if (Files.exists(csv)) new String(Files.readAllBytes(csv), "UTF-8") else ""
    val columns = text.linesIterator.take(1).map(_.split(",", -1).length).toSeq.headOption.getOrElse(0)
    if (columns != 12) problems += s"dates_colors_sums.csv: $columns columns"
    parts += text
    (problems.toSeq, sha256(parts.mkString("\n\n")))
  }

  /** Order-insensitive digest of the four window frames. */
  def frameDigest(frames: Map[String, DataFrame]): String =
    sha256(Windows.map { w =>
      val f = frames(w); s"$w:${digest(f.schema, f.collect().toSeq)}"
    }.mkString("\n"))

  /** Saves a query result as parquet for the oracle comparison. */
  def saveResult(spark: SparkSession, schema: StructType, rows: Array[Row],
                 path: String): Option[String] =
    try {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
      None
    } catch { case NonFatal(e) => Some(s"result not saved: ${e.getClass.getSimpleName}") }

  def release(spark: SparkSession): Unit = {
    graft.ops.SideCache.releaseAll()
    spark.catalog.clearCache()
  }
}

/** One measured operation's record. */
final case class Rec(op: String, module: String, pass: Int, traced: Boolean,
                     latencyS: Double, ok: Boolean, error: String, rows: Long)

/** What an operation's body returns for checking. */
sealed trait Outcome
final case class QueryOut(schema: StructType, rows: Array[Row]) extends Outcome
final case class BatchOut(frames: Map[String, DataFrame], outDir: Path,
                          stepwise: Boolean) extends Outcome

/** A `run` invocation: set-up repetitions, the closed loop, the report. */
final class Run(args: Main.Args, runDir: Path) {
  import Main._
  private val workload = args("workload")
  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") == "1"
  private val setups = args("setups").toInt
  private val opNames: Seq[String] =
    args.get("ops").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val outDir = runDir.resolve("out")
  private val resultsDir = runDir.resolve("results")
  private val registry = modules.map { case (m, q) => q.name -> (m, q) }.toMap

  private var spark: SparkSession = _
  private var dataDir: Path = _
  private var rawRows = 0L
  private var tracer: Option[Tracer] = None
  private val records = ArrayBuffer.empty[Rec]
  private val setupFailures = ArrayBuffer.empty[String]
  private val setupPhases = ArrayBuffer.empty[Map[String, Double]]
  // per-operation time of the current set-up's warm-up pass
  private val warmUpOps = scala.collection.mutable.Map.empty[String, Double]
  private val layerRows = ArrayBuffer.empty[Map[String, Double]]
  // reference digests (queries) and output file hashes (clearmap),
  // taken from the last set-up pass
  private val reference = scala.collection.mutable.Map.empty[String, String]
  private var referenceFiles = Map.empty[String, String]
  private var outputDigest = ""
  private var framesDigest = ""

  def go(): Unit = {
    require(Set("clearmap", "registry_mix")(workload),
      s"unknown workload $workload")
    opNames.foreach(n => require(registry.contains(n), s"unknown query $n"))
    val loadStart = loadAvg
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val setupTimes = (1 to setups).map { k =>
      val t0 = if (k == 1) jvmStartS else System.currentTimeMillis() / 1e3
      if (spark != null) stop(spark)
      wipe(tmp); wipe(runDir.resolve("local")); wipe(resultsDir)
      spark = session(runDir)
      dataDir = runDir.resolve(s"data_$k")
      val t1 = now
      generate()
      val t2 = now
      val takeReference = warmUp()
      val dt = System.currentTimeMillis() / 1e3 - t0
      setupPhases += Map("session_s" -> (dt - (now - t1)), "generate_s" -> (t2 - t1),
        "warm_up_s" -> (now - t2)) ++ warmUpOps
      warmUpOps.clear()
      if (k == setups) takeReference()
      dt
    }
    val loop = measure()
    val rss = peakRssMb
    val report = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg,
      "setup_s" -> setupTimes, "setup_phases" -> setupPhases,
      "measure_s" -> loop, "peak_rss_mb" -> rss,
      "raw_rows" -> rawRows, "data_dir" -> dataDir.toString,
      "setup_failures" -> setupFailures,
      "records" -> records.map(r => Map("op" -> r.op, "module" -> r.module,
        "pass" -> r.pass, "traced" -> r.traced, "latency_s" -> r.latencyS,
        "ok" -> r.ok, "error" -> r.error, "rows" -> r.rows)),
      "oracle" -> opNames.flatMap(n => registry(n)._2.oracle.map(n -> _)).toMap,
      "results_dir" -> resultsDir.toString,
      "output_digest" -> outputDigest, "frame_digest" -> framesDigest,
      "layers" -> layerRows,
      "spans" -> tracer.map(_.spans.map(s => Map("name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))).getOrElse(Nil))
    write(runDir.resolve("report.json"), json(report))
    stop(spark)
  }

  // --------------------------------------------------------------- set-up

  /** Writes the MOH dump (`clearmap`), or opens the tables that
    * `run.py` generated for this set-up (`registry_mix`). */
  private def generate(): Unit = workload match {
    case "clearmap" =>
      wipe(dataDir)
      rawRows = Inputs.writeMoh(dataDir, seed, MohSize)
    case _ =>
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => graft.tables.Tables.table(spark, dataDir.toString, t).count())
  }

  /** One pass of every operation: builds the fixtures a first call
    * creates under the private tmpdir and JIT-compiles the code paths.
    * Returns the (untimed) step that takes the reference outputs from
    * this pass. */
  private def warmUp(): () => Unit = workload match {
    case "clearmap" =>
      wipe(outDir)
      val (raw, shape) = Inputs.readMoh(spark, dataDir.toString)
      graft.pipeline.ClearMapPipeline.run(raw, shape, outDir.toString)
      () => {
        referenceFiles = fileHashes(outDir)
        val (problems, d) = checkOutputs(outDir, None)
        outputDigest = d
        problems.foreach(p => setupFailures += s"clearmap_batch: $p")
      }
    case _ =>
      val results = opNames.flatMap { n =>
        val fn = registry(n)._2.run
        val t0 = now
        try {
          val df = fn(spark, dataDir.toString)
          Some((n, df.schema, df.collect()))
        } catch { case NonFatal(e) =>
          setupFailures += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
        } finally {
          warmUpOps(s"warm_up:$n") = now - t0
          release(spark)
        }
      }
      () => results.foreach { case (n, schema, rows) =>
        reference(n) = digest(schema, rows)
        saveResult(spark, schema, rows, resultsDir.resolve(n).toString)
          .foreach(m => setupFailures += s"$n: $m")
      }
  }

  // ----------------------------------------------------------- the loop

  private def measure(): Double = {
    if (traced) tracer = Some(new Tracer(spark.sparkContext))
    val t0 = now
    var pass = 0
    var done = 0
    // passes of every operation in a seeded order: one whole pass (two
    // in the traced run, which alternates untraced and traced passes),
    // then single operations while the next one is expected to end
    // within `seconds`, so that a small change of speed moves the
    // operation count by one, not by a pass
    val minPasses = if (traced) 2 else 1
    def more: Boolean = pass < minPasses || now - t0 + (now - t0) / done <= seconds
    while (more) {
      val on = traced && pass % 2 == 1
      tracer.foreach(t => if (on) spark.sparkContext.addSparkListener(t))
      passOrder(pass).iterator.takeWhile(_ => more).foreach { n =>
        runOp(n, pass, on)
        done += 1
      }
      tracer.foreach(t => if (on) spark.sparkContext.removeSparkListener(t))
      pass += 1
    }
    now - t0
  }

  private def passOrder(pass: Int): Seq[String] = workload match {
    case "clearmap" => Seq("clearmap_batch")
    case _ => new scala.util.Random(seed * 1000003L + pass).shuffle(opNames)
  }

  private var opSeq = 0

  private def runOp(name: String, pass: Int, on: Boolean): Unit = {
    val op = { opSeq += 1; opSeq }
    val module = if (workload == "clearmap") "ClearMapPipeline" else registry(name)._1
    if (workload == "clearmap") wipe(outDir)
    // every operation starts on a collected heap (untimed), so that its
    // latency and the peak RSS do not depend on the garbage that earlier
    // operations left in the old generation
    System.gc()
    val roots = Seq(tmp.toFile, outDir.toFile)
    val before = if (on) Trace.snapshot(roots) else Map.empty[String, (Long, Long)]
    tracer.foreach(t => if (on) t.begin(op))
    val phase = scala.collection.mutable.Map.empty[String, Double]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out: Either[Throwable, Outcome] =
      try Right(if (workload == "clearmap") batch(op, on, phase) else query(name, op, on, phase))
      catch { case NonFatal(e) => Left(e) }
    val latency = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val counters = tracer.filter(_ => on).map(_.end(op))
    val error = out match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      case Right(o) => check(name, o)
    }
    val rows = out match {
      case Right(QueryOut(_, r)) => r.length.toLong
      case Right(_: BatchOut) => rawRows
      case _ => 0L
    }
    out match { case Right(b: BatchOut) => b.frames.values.foreach(_.unpersist()); case _ => }
    release(spark)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    records += Rec(name, module, pass, on, latency, error.isEmpty, error.getOrElse(""), rows)
    counters.foreach { c =>
      val (files, bytes) = Trace.written(before, Trace.snapshot(roots))
      val wall = (endMs - startMs).toDouble
      layerRows += Map(
        "op" -> op.toDouble, "latency_s" -> latency,
        "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble, "spark.failed_tasks" -> c.failedTasks.toDouble,
        "spark.driver_only_s" -> Trace.driverOnlyMs(startMs, endMs, c.jobIntervals.toSeq) / 1e3,
        "spark.task_cpu_s" -> c.taskCpuNs / 1e9, "spark.task_run_s" -> c.taskRunMs / 1e3,
        "spark.gc_s" -> c.gcMs / 1e3,
        "spark.slot_util" -> (if (wall > 0) c.taskRunMs / (wall * cores) else 0.0),
        "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
        "spark.spill_bytes" -> c.spillBytes.toDouble,
        "spark.output_bytes" -> c.outputBytes.toDouble,
        "queries.eager_jobs" -> phase.get("construct_end_ms")
          .map(e => c.jobStartMs.count(_ < e).toDouble).getOrElse(0.0),
        "io.files_written" -> files.toDouble, "io.bytes_written" -> bytes.toDouble,
        "cache.persisted_after_release" -> persisted.toDouble
      ) ++ phase.filter(_._1 != "construct_end_ms") + (s"module:$module" -> latency)
    }
  }

  /** A registry operation: the query call, planning, the final action. */
  private def query(name: String, op: Int, on: Boolean,
                    phase: scala.collection.mutable.Map[String, Double]): Outcome = {
    val fn = registry(name)._2.run
    def timed[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.filter(_ => on).fold(body)(_.span(key, name, op)(body))
      phase(key) = phase.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
      r
    }
    val df = timed("queries.construct_s")(fn(spark, dataDir.toString))
    phase("construct_end_ms") = System.currentTimeMillis().toDouble
    timed("plans.plan_s")(df.queryExecution.executedPlan)
    val rows = timed("queries.exec_s")(df.collect())
    QueryOut(df.schema, rows)
  }

  /** A `clearmap` batch: ingest the generated files and run the paper's
    * pipeline. The traced form runs the same steps as
    * `ClearMapPipeline.run` one by one, so each layer gets a span. */
  private def batch(op: Int, on: Boolean,
                    phase: scala.collection.mutable.Map[String, Double]): Outcome = {
    import graft.pipeline.ClearMapPipeline
    import graft.geo.GeoFunctions
    import graft.io.GeoJsonIO
    import org.apache.spark.sql.functions.col
    val dir = outDir.toString
    val t = tracer.filter(_ => on)
    if (t.isEmpty) {
      val (raw, shape) = Inputs.readMoh(spark, dataDir.toString)
      return BatchOut(ClearMapPipeline.run(raw, shape, dir), outDir, stepwise = false)
    }
    val tr = t.get
    def timed[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tr.span(key, "clearmap_batch", op)(body)
      phase(key) = phase.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
      r
    }
    // construct: ingest + DataFrame building, as run() does before its
    // first action; plan: physical planning of the base frame
    val (raw, shape, base) = timed("queries.construct_s") {
      val (r, s) = Inputs.readMoh(spark, dataDir.toString)
      Files.createDirectories(outDir)
      val (b, _) = ClearMapPipeline.baseFrame(r, s)
      (r, s, b)
    }
    phase("construct_end_ms") = System.currentTimeMillis().toDouble
    timed("plans.plan_s")(base.queryExecution.executedPlan)
    val frames = timed("queries.exec_s") {
      timed("pipeline.base_s")(base.count())
      timed("geo.reconcile_shape_s")(ClearMapPipeline.reconcileShape(shape,
        ClearMapPipeline.clean(raw)).collect())
      val windows = Seq("all" -> None, "wave" -> Some(180), "weeks_2" -> Some(14),
        "weeks_1" -> Some(7))
      val fs = windows.map { case (name, days) =>
        val f = timed("ops.windows_s") {
          val w = ClearMapPipeline.windowFrame(base, days).persist()
          w.count(); w
        }
        timed("io.geojson_write_s") {
          GeoJsonIO.writeFeatureCollection(f, s"$dir/map_$name.geojson")
          GeoJsonIO.writeFeatureCollection(
            f.select(col("date"), col("num_cases"),
              GeoFunctions.cols.stBoundary(col("geometry")).as("geometry")),
            s"$dir/lines_$name.geojson")
        }
        name -> f
      }
      timed("pipeline.side_csv_s")(ClearMapPipeline.writeSideCsv(fs.toMap,
        windows.map(_._1), s"$dir/dates_colors_sums.csv"))
      base.unpersist()
      fs.toMap
    }
    phase("io.geojson_bytes") = Option(outDir.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".geojson")).map(_.length).sum.toDouble
    BatchOut(frames, outDir, stepwise = true)
  }

  // -------------------------------------------------------------- checks

  private def check(name: String, o: Outcome): Option[String] = o match {
    case QueryOut(schema, rows) =>
      reference.get(name) match {
        case None => Some("no reference result (set-up call failed)")
        case Some(d) if d != digest(schema, rows) => Some("result digest differs from set-up result")
        case _ => None
      }
    case BatchOut(frames, dir, stepwise) =>
      val hashes = fileHashes(dir)
      if (hashes != referenceFiles)
        Some("outputs differ from ClearMapPipeline.run's set-up outputs: " +
          (hashes.keySet ++ referenceFiles.keySet)
            .filter(k => hashes.get(k) != referenceFiles.get(k)).toSeq.sorted.mkString(","))
      else if (stepwise) {
        // the traced batch persisted its frames: check them against the files
        framesDigest = frameDigest(frames)
        val (problems, _) = checkOutputs(dir, Some(frames))
        if (problems.isEmpty) None else Some(problems.mkString("; "))
      } else None
  }

  private def fileHashes(dir: Path): Map[String, String] =
    Option(dir.toFile.listFiles()).toSeq.flatten.filter(_.isFile)
      .map(f => f.getName -> sha256(Files.readAllBytes(f.toPath))).toMap
}

/** Records, per seed, the digest of the four `clearmap` window frames and
  * of the batch's outputs. */
object Digests {
  import Main._
  def go(args: Args, runDir: Path): Unit = {
    val Array(a, b) = args("seeds").split("-").map(_.toLong)
    val spark = session(runDir)
    val out = (a to b).map { s =>
      val dir = runDir.resolve(s"data_$s"); wipe(dir)
      Inputs.writeMoh(dir, s, MohSize)
      val o = runDir.resolve("out"); wipe(o)
      val (raw, shape) = Inputs.readMoh(spark, dir.toString)
      val frames = graft.pipeline.ClearMapPipeline.run(raw, shape, o.toString)
      val (problems, outputs) = checkOutputs(o, Some(frames))
      require(problems.isEmpty, s"seed $s: ${problems.mkString("; ")}")
      val d = Map("frames" -> frameDigest(frames), "outputs" -> outputs)
      release(spark); wipe(dir)
      System.err.println(s"seed $s $d")
      s.toString -> d
    }.toMap
    write(runDir.resolve("digests.json"), json(out))
    stop(spark)
  }
}

/** Calls every registry query twice in a fresh private tmpdir and
  * records whether the second (warm) call created or changed files
  * there, its latency, its result size, and whether both calls agreed.
  * The split of the registry into the read and write workloads is made
  * from this record. */
object Classify {
  import Main._
  def go(args: Args, runDir: Path): Unit = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val spark = session(runDir)
    val data = runDir.resolve("data_1")
    val res = modules.map { case (m, q) =>
      def call(): (Double, (Long, Long), Either[String, (String, Array[Row], StructType)]) = {
        val before = Trace.snapshot(Seq(tmp.toFile))
        val t0 = now
        val r = try {
          val df = q.run(spark, data.toString); val rows = df.collect()
          Right((digest(df.schema, rows), rows, df.schema))
        } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(200)) }
        val dt = now - t0
        release(spark)
        (dt, Trace.written(before, Trace.snapshot(Seq(tmp.toFile))), r)
      }
      val (t1, w1, r1) = call()
      val (t2, w2, r2) = call()
      val saved = r2.toOption.flatMap { case (_, rows, schema) =>
        saveResult(spark, schema, rows, runDir.resolve("results").resolve(q.name).toString)
      }
      System.err.println(f"${q.name}%-28s $t1%6.2f $t2%6.2f writes=${w2._1}")
      q.name -> Map("module" -> m, "first_s" -> t1, "warm_s" -> t2,
        "first_files" -> w1._1, "warm_files" -> w2._1, "warm_bytes" -> w2._2,
        "rows" -> r2.map(_._2.length).getOrElse(-1),
        "error" -> Seq(r1, r2).collectFirst { case Left(e) => e },
        "repeatable" -> (r1.isRight && r1.map(_._1) == r2.map(_._1)),
        "has_oracle" -> q.oracle.isDefined, "save_error" -> saved)
    }
    write(runDir.resolve("classify.json"), json(res.toMap))
    write(runDir.resolve("oracle_sql.json"), json(modules.flatMap { case (_, q) =>
      q.oracle.map(q.name -> _) }.toMap))
    stop(spark)
  }
}
