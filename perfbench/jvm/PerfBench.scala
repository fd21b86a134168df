package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark. It drives the engine's public entry
  * points from outside as one closed-loop client: each call starts
  * after the previous one returned. One process runs exactly one unit
  * of work (every call of the workload once) in a fresh JVM, then
  * writes a raw record of what it timed to `result.json` in its work
  * directory. Metric arithmetic (self time, per-layer roll-ups) and
  * the output digest checks live in `run.py`.
  *
  * Arguments are `key=value`:
  *   workload  ski_cold | analytics_mix
  *   data      input table directory
  *   work      per-run work directory (outputs, scaffold, result.json)
  *   seed      permutes the analytics_mix query order
  *   trace     1 = record spans and fence the listener bus per call
  *   cpus      local[cpus] and shuffle partitions
  *   oracles   optional path: write the DuckDB oracle SQL of the
  *             workload's queries there as JSON, then exit
  *
  * stdout carries exactly one line, `@ready`, printed once the session
  * exists; `run.py` times JVM launch to that line.
  */
object PerfBench {

  /** One timed call into a layer's public entry point. `build` is the
    * entry-point call itself; a returned DataFrame is then written to
    * `out` as parquet (the materialization step). Writers return None.
    * `oracle` names the registered query whose DuckDB oracle checks
    * the call's output.
    */
  final case class Call(layer: String, name: String,
      build: (SparkSession, String, Path) => Option[DataFrame],
      oracle: Option[String] = None)

  private def query(layer: String, name: String): Call =
    Call(layer, name, (s, d, _) => Some(graft.SparkEntry.queries(name)(s, d)),
      Some(name))

  /** The nightly ski build in dependency order, then the incremental
    * tile refresh that keeps its tile set current.
    */
  val skiChain: Seq[Call] =
    Seq("q_ski_format_runs", "q_ski_format_lifts", "q_ski_format_spots",
      "q_ski_area_format_union").map(query("Formatters", _)) ++
    Seq(query("Normalization", "q_ski_normalize"),
      query("PipelineE2E", "q_pipeline_e2e"),
      query("Clustering", "q_ski_cluster"),
      query("Statistics", "q_ski_statistics_full")) ++
    Seq("runs", "lifts", "ski_areas", "spots").flatMap(f =>
      Seq(query("OutputFormats", s"q_csv_$f"),
        query("OutputFormats", s"q_mapbox_$f"))) ++
    Seq(
      Call("GeoPackage", "writeGpkgFile", (s, d, out) => {
        graft.operators.GeoPackage.writeGpkgFile(s, d, out.resolve("ski.gpkg"))
        None
      }),
      Call("MvtTiles", "writeMbtilesFile", (s, d, out) => {
        graft.operators.MvtTiles.writeMbtilesFile(s, d,
          out.resolve("ski.mbtiles"))
        None
      }),
      Call("TilesStreaming", "refreshViaStream", (s, d, _) =>
        Some(graft.streaming.TilesStreaming.refreshViaStream(s, d)),
        Some("q_stream_tiles_refresh")))

  val analytics: Seq[Call] =
    Seq("q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
      "q6_forecast_revenue", "q_supplier_rank_window", "q10_top_customers")
      .map(query("RelationalQueries", _)) ++
    Seq(query("TextAnalysis", "q_text_token_stats"),
      query("Dedup", "q_dedup_minhash_lsh"),
      query("CorpusProfile", "q_corpus_prep"),
      query("Similarity", "q_ann_bruteforce"),
      query("Events", "q_events_hourly"),
      query("Events", "q_events_sessionize"),
      query("AsofJoin", "q_asof_join"),
      query("AsofJoin", "q_ts_resample"))

  /** The calls of one unit of work, in the order they run. */
  def unitCalls(workload: String, seed: Long): Seq[Call] =
    workload match {
      case "ski_cold" => skiChain
      case "analytics_mix" => new scala.util.Random(seed).shuffle(analytics)
      case other => sys.error(s"unknown workload '$other'")
    }

  /** Listener totals for one call (or the whole process). */
  final class Acc {
    var jobs = 0
    var tasks = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    var planMs = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    def toJson: String = {
      val spans = jobSpans.map { case (a, b) => s"[$a,$b]" }.mkString(",")
      s"""{"jobs":$jobs,"tasks":$tasks,"cpu_ns":$cpuNs,""" +
        s""""shuffle_bytes":$shuffleBytes,"spill_bytes":$spillBytes,""" +
        s""""gc_ms":$gcMs,"plan_ms":$planMs,"job_spans_ms":[$spans]}"""
    }
  }

  /** Attributes Spark listener events to calls. A job carries its call
    * in the `pb-<id>` job group; jobs started under another group (a
    * streaming query sets its own) go to the call running now. Plan
    * phases (`QueryExecution.tracker`) go to the call running now; the
    * per-call bus fence of a traced run makes that exact.
    */
  final class Attribution extends SparkListener with QueryExecutionListener {
    @volatile var current: Int = -1
    val total = new Acc
    val perCall = mutable.Map[Int, Acc]()
    private val stageCall = mutable.Map[Int, Int]()
    private val jobCall = mutable.Map[Int, Int]()
    private val jobStart = mutable.Map[Int, Long]()

    private def add(call: Int)(f: Acc => Unit): Unit = synchronized {
      f(total)
      if (call >= 0) f(perCall.getOrElseUpdate(call, new Acc))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val call =
        if (group.startsWith("pb-")) group.stripPrefix("pb-").toInt else current
      jobCall(e.jobId) = call
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageCall(_) = call)
      add(call)(_.jobs += 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val start = jobStart.getOrElse(e.jobId, e.time)
      add(jobCall.getOrElse(e.jobId, current))(_.jobSpans += ((start, e.time)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      add(stageCall.getOrElse(e.stageId, current)) { a =>
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.gcMs += m.jvmGCTime
        }
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      add(current)(_.planMs += qe.tracker.phases.values.map(_.durationMs).sum)

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Trigger durations of micro-batches that carried input rows. */
  final class Batches extends StreamingQueryListener {
    val ms = mutable.ArrayBuffer[Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) synchronized {
        ms += e.progress.durationMs.getOrDefault("triggerExecution", 0L).longValue
      }
  }

  /** In-memory span log, written once at the end of the run. Closing
    * is a no-op when tracing is off.
    */
  final class Spans(run: String, on: Boolean) {
    private val buf = mutable.ArrayBuffer[String]()
    private var next = 0
    def open(): (Int, Long) = { next += 1; (next, System.nanoTime) }
    def close(id: Int, name: String, parent: Int, start: Long): Unit =
      if (on) buf += s"""{"id":$id,"name":${str(name)},"parent":$parent,""" +
        s""""start_ns":$start,"end_ns":${System.nanoTime},"run":${str(run)}}"""
    def json: String = buf.mkString("[", ",", "]")
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** (entries, bytes) of the scaffold directory. */
  private def dirStats(root: Path): (Int, Long) =
    if (!Files.isDirectory(root)) (0, 0L)
    else {
      def visible(p: Path) = !p.getFileName.toString.startsWith(".")
      val top = Files.list(root)
      val n = try top.iterator.asScala.count(visible) finally top.close()
      val all = Files.walk(root)
      val b = try all.iterator.asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum finally all.close()
      (n, b)
    }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    opt.get("oracles") match {
      case Some(path) =>
        val sql = graft.SparkEntry.oracleSql
        val entries = unitCalls(workload, seed).flatMap(c =>
          c.oracle.flatMap(sql.get).map(q => s"${str(c.name)}:${str(q)}"))
        Files.writeString(Paths.get(path), entries.mkString("{", ",", "}"))
        return
      case None =>
    }
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val scaffold = work.resolve("scaffold")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "10000000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.scaffoldDir", scaffold.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val attr = new Attribution
    spark.sparkContext.addSparkListener(attr)
    spark.listenerManager.register(attr)
    val batches = new Batches
    spark.streams.addListener(batches)
    println("@ready")
    System.out.flush()

    var traceNs = 0L
    def fence(): Unit = {
      val t = System.nanoTime
      org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
      traceNs += System.nanoTime - t
    }
    val spans = new Spans(s"$workload-$seed", traced)
    val calls = mutable.ArrayBuffer[String]()
    val out = work.resolve("out")
    Files.createDirectories(out)
    val (scaffoldN0, scaffoldB0) = dirStats(scaffold)

    val (unitId, unit0) = spans.open()
    var layer: Option[(String, Int, Long)] = None
    def closeLayer(): Unit =
      layer.foreach { case (n, id, t) => spans.close(id, n, unitId, t) }
    for ((c, callId) <- unitCalls(workload, seed).zipWithIndex) {
      if (!layer.exists(_._1 == c.layer)) {
        closeLayer()
        val (id, t) = spans.open()
        layer = Some((c.layer, id, t))
      }
      attr.current = callId
      spark.sparkContext.setJobGroup(s"pb-$callId", c.name)
      val (id, t0) = spans.open()
      var error: Option[String] = None
      var built = t0
      try {
        val (bid, b0) = spans.open()
        val df = c.build(spark, data, out)
        built = System.nanoTime
        spans.close(bid, "build", id, b0)
        df.foreach { d =>
          val (mid, m0) = spans.open()
          d.write.parquet(out.resolve(c.name).toString)
          spans.close(mid, "materialize", id, m0)
        }
      } catch {
        case e: Throwable =>
          error = Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(3).mkString(" | ").take(400))
          System.err.println(s"[perfbench] ${c.name} failed: ${error.get}")
      }
      val t1 = System.nanoTime
      spans.close(id, c.name, layer.get._2, t0)
      if (traced) fence()
      spark.sparkContext.clearJobGroup()
      calls +=
        s"""{"id":$callId,"layer":${str(c.layer)},"name":${str(c.name)},""" +
        s""""build_ns":${built - t0},"wall_ns":${t1 - t0},""" +
        s""""error":${error.map(str).getOrElse("null")}}"""
    }
    closeLayer()
    val wallNs = System.nanoTime - unit0
    spans.close(unitId, "unit", 0, unit0)
    attr.current = -1
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
    val (scaffoldN1, scaffoldB1) = dirStats(scaffold)

    val perCall = attr.synchronized(attr.perCall.toSeq.sortBy(_._1)
      .map { case (id, a) => s""""$id":${a.toJson}""" })
    val json =
      s"""{"workload":${str(workload)},"seed":$seed,"traced":$traced,""" +
      s""""wall_ns":$wallNs,"cpu_ns":${attr.total.cpuNs},""" +
      s""""trace_ns":$traceNs,"vmhwm_kb":${vmHwmKb()},""" +
      s""""batch_ms":${batches.synchronized(batches.ms.mkString("[", ",", "]"))},""" +
      s""""scaffold_builds":${scaffoldN1 - scaffoldN0},""" +
      s""""scaffold_bytes":${scaffoldB1 - scaffoldB0},""" +
      s""""calls":${calls.mkString("[", ",", "]")},""" +
      s""""listener":${perCall.mkString("{", ",", "}")},""" +
      s""""spans":${spans.json}}"""
    Files.writeString(work.resolve("result.json"), json)
    spark.stop()
  }
}
