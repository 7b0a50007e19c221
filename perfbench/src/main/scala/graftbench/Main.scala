package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Graft, SparkEntry, Tables}
import graft.operators.OpCache
import graft.sources.api.{GraftConfigure, QueryCache, ScanLedger}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One operation of a plan: a registered entry, a SQL text, or a memo
  * build. */
final case class OpDef(id: String, kind: String, name: String, sql: String)

/** One executed operation; `ms` is its wall time, `error` set if it threw. */
final case class OpRun(id: String, unit: Int, segment: String, ms: Double,
    error: Option[String])

/** The benchmark's JVM side: reads the plan that run.py generated from the
  * seed, sets up the session, runs the untimed warm-up pass (dumping each
  * distinct operation's result for the output check), the timed region,
  * and an optional check pass, then writes everything it measured to
  * `run.json` (and the spans to `spans.json` when tracing). Usage:
  * `graftbench.Main <plan.json>`. */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    new Run(plan).execute()
  }

  /** Scala values to the Java collections Jackson serializes. */
  def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case Some(x) => toJava(x)
    case None => null
    case x => x
  }

  def writeJson(path: String, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), toJava(v))
}

final class Run(plan: JsonNode) {
  private def str(k: String): String = plan.get(k).asText()
  private def strs(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Nil else n.elements().asScala.map(_.asText()).toSeq

  val workload: String = str("workload")
  val cpus: Int = plan.get("cpus").asInt()
  val seconds: Double = plan.get("seconds").asDouble()
  val traced: Boolean = plan.get("trace").asInt() == 1
  val dataDir: String = str("data_dir")
  val outDir: String = str("out_dir")
  val scratch: String = str("scratch_dir")
  val ops: Map[String, OpDef] = plan.get("ops").fields().asScala.map { e =>
    val o = e.getValue
    def f(k: String) = Option(o.get(k)).map(_.asText()).getOrElse("")
    e.getKey -> OpDef(e.getKey, f("kind"), f("name"), f("sql"))
  }.toMap

  private val memoBuilds: Map[String, (SparkSession, String) => Unit] = Map(
    "warmSharedIndex" -> graft.operators.Similarity.warmSharedIndex,
    "warmVecs" -> graft.operators.Similarity.warmVecs,
    "warmGram3" -> graft.operators.TextOps.warmGram3,
    "warmPhashIndex" -> graft.operators.Multimodal.warmPhashIndex,
    "warmBpe" -> graft.operators.Curation2.warmBpe,
    "warmStaging" -> graft.streaming.Streams.warmStaging)

  private val tracer = new Tracer
  /** Input rows of every micro-batch; attached in untraced regions too,
    * since events_per_s is an end-to-end figure. */
  private val inputRows = new AtomicLong
  private val inputRowsListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      inputRows.addAndGet(e.progress.numInputRows); ()
    }
  }
  private var workloadSpan = 0L
  private var tracing = false

  def session(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"graftbench-$workload")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$scratch/spark-local")
    .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    .config("spark.graft.stream.checkpointDir", s"$scratch/checkpoints")
    .getOrCreate()

  /** Session start, Graft.init, connector registration, table touch and the
    * workload's setup builds, timed phase by phase. */
  private def setUp(): (SparkSession, Map[String, Any]) = {
    val t0 = Clock.nowMs
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = Clock.nowMs
    Graft.init(spark)
    val t2 = Clock.nowMs
    Option(plan.get("connector")).filterNot(_.isNull).foreach { c =>
      Option(c.get("standin_delay_ms")).foreach(d => Graft.registerPlugin(StandInPlugin(d.asLong())))
      c.get("configure").fields().asScala.foreach { e =>
        GraftConfigure.configure(spark, e.getKey, e.getValue.asText())
      }
    }
    // touch: file listing, footer schema and a temp view per table; the
    // data itself is first read by the warm-up pass
    strs(plan.get("tables")).foreach { t =>
      val df = Tables.t(spark, dataDir, t)
      df.inputFiles
      df.createOrReplaceTempView(t)
    }
    val t3 = Clock.nowMs
    val builds = strs(plan.get("setup_builds")).map { b =>
      val b0 = Clock.nowMs
      memoBuilds(b)(spark, dataDir)
      b -> (Clock.nowMs - b0)
    }
    val t4 = Clock.nowMs
    spark -> Map("session_ms" -> (t1 - t0), "graft_init_ms" -> (t2 - t1),
      "touch_ms" -> (t3 - t2), "builds_ms" -> builds.toMap, "total_ms" -> (t4 - t0))
  }

  /** Build and execute one operation: through the noop sink, or into a
    * parquet dump when its result is to be checked. */
  private def runOp(spark: SparkSession, id: String, dir: String, dump: Option[String],
      unit: Int, segment: String): OpRun = {
    val op = ops(id)
    val trace = if (tracing) tracer.newSpanId() else -1L
    val opSpan = if (tracing) tracer.newSpanId() else -1L
    if (tracing) spark.sparkContext.setLocalProperty(tracer.OpProp, trace.toString)
    val start = Clock.nowMs
    var built = start
    val error = try {
      op.kind match {
        case "build" => memoBuilds(op.name)(spark, dir)
        case kind =>
          val df: DataFrame =
            if (kind == "entry") SparkEntry.queries(op.name)(spark, dir) else spark.sql(op.sql)
          built = Clock.nowMs
          // the DataFrame's own analysis ran eagerly while it was built;
          // the listener only sees the write command's (empty) analysis.
          // A memoized DataFrame was analysed long before: not counted.
          if (tracing) tracer.addAnalysis(df, start)
          dump match {
            // collect first: the query runs with the same physical plan as
            // through the noop sink, so the warm-up compiles the code the
            // timed region runs
            case Some(p) => spark.createDataFrame(df.collectAsList(), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(p)
            case None => df.write.format("noop").mode("overwrite").save()
          }
      }
      None
    } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] $id failed: ${e.getMessage}")
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally {
      if (tracing) spark.sparkContext.setLocalProperty(tracer.OpProp, null)
    }
    val end = Clock.nowMs
    if (tracing) {
      tracer.record(Span(trace, opSpan, workloadSpan, s"op $id", start, end))
      if (op.kind != "build")
        tracer.record(Span(trace, tracer.newSpanId(), opSpan, "build", start, built))
      tracer.record(Span(trace, tracer.newSpanId(), opSpan, "execute", built, end))
    }
    OpCache.releaseScoped(spark)
    OpRun(id, unit, segment, end - start, error)
  }

  private def connectorCounters(): Map[String, Long] = Map(
    "scans" -> ScanLedger.scans.get, "retries" -> ScanLedger.retries.get,
    "cache_hits" -> QueryCache.hits.get, "cache_misses" -> QueryCache.misses.get,
    "api_wait_ns" -> StandIn.apiWaitNs.get)

  /** Micro-batch input rows so far, once the listener bus has delivered
    * every event posted until now. */
  private def streamInputRows(spark: SparkSession): Long = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    inputRows.get
  }

  private def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** The timed region: whole units (block, cycle or round) until `seconds`
    * have passed, at least one. */
  private def timedRegion(spark: SparkSession, withTrace: Boolean): Map[String, Any] = {
    val units = plan.get("units").elements().asScala.toSeq
    QueryCache.clear()
    if (withTrace) tracer.attach(spark)
    tracing = withTrace
    val c0 = connectorCounters()
    val i0 = streamInputRows(spark)
    val k0 = if (withTrace) tracer.snapshot(spark) else Map.empty[String, Long]
    val start = Clock.nowMs
    if (withTrace) workloadSpan = tracer.newSpanId()
    val runs = ArrayBuffer.empty[OpRun]
    val segments = ArrayBuffer.empty[Map[String, Any]]
    var u = 0
    while (u == 0 || Clock.nowMs - start < seconds * 1000) {
      units(u % units.size).elements().asScala.foreach { seg =>
        if (seg.path("release").asBoolean(false)) OpCache.release(spark)
        val tag = seg.get("tag").asText()
        val s0 = Clock.nowMs
        strs(seg.get("ops")).foreach(id => runs += runOp(spark, id, dataDir, None, u, tag))
        segments += Map("unit" -> u, "tag" -> tag, "ms" -> (Clock.nowMs - s0))
      }
      u += 1
    }
    val end = Clock.nowMs
    val c1 = connectorCounters()
    val i1 = streamInputRows(spark)
    val k1 = if (withTrace) tracer.snapshot(spark) else Map.empty[String, Long]
    if (withTrace) {
      tracer.record(Span(0, workloadSpan, 0, s"workload $workload", start, end))
      tracer.detach(spark)
    }
    tracing = false
    val storage = spark.sparkContext.getRDDStorageInfo
    Map("traced" -> withTrace, "wall_ms" -> (end - start), "units" -> u,
      "ops" -> runs.map(r => Map("id" -> r.id, "unit" -> r.unit, "segment" -> r.segment,
        "ms" -> r.ms, "error" -> r.error)),
      "segments" -> segments.toSeq,
      "connector" -> delta(c0, c1),
      "stream_input_rows" -> (i1 - i0),
      "cache_weight_rows" -> QueryCache.currentWeight,
      "listener" -> delta(k0, k1),
      "storage_bytes" -> storage.map(_.memSize).sum,
      "cached_rdds" -> storage.length)
  }

  private def pass(spark: SparkSession, key: String): Seq[Map[String, Any]] = {
    val p = plan.get(key)
    if (p == null || p.isNull) Nil
    else {
      val dir = p.get("dir").asText()
      val dump = p.path("dump").asBoolean(false)
      strs(p.get("ops")).map { id =>
        val r = runOp(spark, id, dir, if (dump) Some(s"$outDir/dump/$id") else None, 0, key)
        Map("id" -> id, "ms" -> r.ms, "error" -> r.error, "dumped" -> dump)
      }
    }
  }

  def execute(): Unit = {
    val nSetups = plan.get("setups").asInt()
    val setups = ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    (1 to nSetups).foreach { i =>
      val (s, rec) = setUp()
      setups += rec
      spark = s
      if (i < nSetups) { OpCache.release(s); s.stop() }
    }
    spark.streams.addListener(inputRowsListener)
    val warmup = pass(spark, "warmup")
    if (plan.path("release_after_warmup").asBoolean(false)) OpCache.release(spark)
    // traced runs measure untraced, traced, untraced: the traced region's
    // overhead is judged against both neighbours, which cancels warm-up drift
    val regions = ArrayBuffer(timedRegion(spark, withTrace = false))
    if (traced) {
      regions += timedRegion(spark, withTrace = true)
      regions += timedRegion(spark, withTrace = false)
    }
    val check = pass(spark, "check")
    val probes: Map[String, Any] =
      if (!traced) Map.empty
      else Map("kernels_ns_per_row" -> Probes.kernels(spark, dataDir),
        "connector_scan_ns_per_row" -> Probes.connectorScan(plan.path("page_size").asLong(10000L)))
    val oracles = ops.values.filter(_.kind == "entry")
      .flatMap(o => SparkEntry.oracleSql.get(o.name).map(o.id -> _)).toMap
    val rt = Runtime.getRuntime
    Main.writeJson(s"$outDir/run.json", Map(
      "workload" -> workload,
      "setups" -> setups.toSeq, "warmup" -> warmup, "regions" -> regions.toSeq,
      "check" -> check, "probes" -> probes, "oracles" -> oracles,
      "env" -> Map("cpus" -> cpus, "heap_max_mb" -> (rt.maxMemory() >> 20),
        "host_nproc" -> rt.availableProcessors(),
        "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.version")}",
        "spark" -> spark.version)))
    if (traced) Main.writeJson(s"$outDir/spans.json", tracer.allSpans.map(s => Map(
      "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    OpCache.release(spark)
    spark.stop()
  }
}
