package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo

import graft.{Log, QueriesCore, QueriesGraph, QueriesLake, QueriesSim, QueriesStats,
  QueriesStream, QueriesText, QueriesTs, SparkEntry}
import graft.qcew.{Ingest, NaicsAgg, Resample, Series, Wages}

/** Closed-loop, single-client load loop for one benchmark workload.
  *
  * Usage: `Harness <config.tsv>`. The config (written by `run.py`)
  * names the workload, the measuring window, the generated inputs and
  * the seeded request sequence, which the loop cycles through until
  * the window closes. The harness times calls into the library's public
  * functions and writes what it saw under `<work>/out`:
  *
  *   - `setup.json`: each set-up's seconds and the old-generation peak;
  *   - `ops.jsonl`: one line per operation: kind, parameters, latency,
  *     error, and the digest of its output (written to `<digest>.json`)
  *     or, for registry queries, the parquet directory it wrote;
  *   - `spans.jsonl`, `stages.jsonl`: with tracing on, the spans around
  *     each public call and the Spark stages run inside them.
  *
  * It prints nothing on stdout; the checks and metrics are `run.py`'s.
  */
object Harness {
  val SpanProp = "perfbench.span"

  final class Config(path: String) {
    private val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t", -1)).toIndexedSeq
    private val kv = lines.filter(a => a(0) != "req").map(a => a(0) -> a(1)).toMap
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"config: no $k"))
    def int(k: String): Int = apply(k).toInt
    val requests: IndexedSeq[Array[String]] =
      lines.filter(_(0) == "req").map(_.drop(1))
  }

  final case class Table(cols: Seq[String], rows: Array[org.apache.spark.sql.Row])
  final case class Span(id: Long, parent: Long, op: Int, name: String,
                        start: Long, var end: Long = 0L)

  // ---- tracing: spans in memory, Spark stages and phases by span ------

  final class Tracer extends SparkListener with QueryExecutionListener {
    @volatile var op: Int = -1
    private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    val stages = mutable.ArrayBuffer.empty[String]
    val jobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val phases = mutable.Map.empty[(Int, String), Long].withDefaultValue(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      synchronized { jobs(op) += 1 }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) {
        val span: Long = Option(stageSpan.get(si.stageId)).map(_.longValue).getOrElse(-1L)
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        val line = Json.obj(
          "op" -> op, "span" -> span, "stage" -> si.stageId, "tasks" -> si.numTasks,
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "in_bytes" -> m.inputMetrics.bytesRead,
          "in_records" -> m.inputMetrics.recordsRead,
          "out_bytes" -> m.outputMetrics.bytesWritten,
          "shuffle_read_bytes" -> (sr.remoteBytesRead + sr.localBytesRead),
          "shuffle_write_bytes" -> sw.bytesWritten,
          "shuffle_write_ns" -> sw.writeTime)
        synchronized { stages += line }
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        qe.tracker.phases.foreach { case (p, s) => phases((op, p)) += s.durationMs }
      }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- JSON output ------------------------------------------------------

  object Json {
    private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    def apply(v: Any): String = mapper.writeValueAsString(v)
    def obj(kv: (String, Any)*): String = apply(ListMap(kv: _*))
    /** A collected table; dates and other non-JSON cells as their string form. */
    def table(t: Table): ListMap[String, Any] = ListMap(
      "cols" -> t.cols,
      "rows" -> t.rows.toSeq.map(r => t.cols.indices.map(i => r.get(i) match {
        case x @ (null | _: String | _: java.lang.Number | _: java.lang.Boolean) => x
        case x => x.toString
      })))
  }

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  def treeStats(p: Path): (Long, Long) = {
    val files = Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      .toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Peak old-generation use after a collection, read from the JVM's own
    * GC notifications; the benchmark forces no collection.
    */
  final class HeapWatch extends NotificationListener {
    @volatile var peakMb = 0.0
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val oldMb = after.collect { case (pool, u) if pool.contains("Old Gen") ||
          pool.contains("Tenured") => u.getUsed }.sum / 1e6
        synchronized { peakMb = math.max(peakMb, oldMb) }
      }
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Log.silenceNoisyWarnings()
    s
  }

  /** The registry sample: the first query registered in each shard. */
  lazy val firstQuery: Map[String, String] = Seq(
    "core" -> QueriesCore.queries, "lake" -> QueriesLake.queries,
    "stream" -> QueriesStream.queries, "text" -> QueriesText.queries,
    "sim" -> QueriesSim.queries, "graph" -> QueriesGraph.queries,
    "stats" -> QueriesStats.queries, "ts" -> QueriesTs.queries)
    .map { case (shard, qs) => shard -> qs.head._1 }.toMap

  def main(args: Array[String]): Unit = {
    val cfg = new Config(args(0))
    val workload = cfg("workload")
    val work = cfg("work")
    val out = Paths.get(work, "out")
    Files.createDirectories(out)
    val cores = cfg.int("cores")
    val seconds = cfg("seconds").toDouble
    val traceOn = cfg("trace") == "1"
    val rawGlob = cfg("raw_glob")

    def collectTable(df: DataFrame): Table = Table(df.columns.toSeq, df.collect())

    var spark: SparkSession = null
    val heap = new HeapWatch
    val regDir = if (workload == "registry_mix") cfg("registry_dir") else ""

    // ---- spans ----------------------------------------------------------
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0L
    var current: Span = null
    def span[A](name: String, op: Int)(body: => A): A = {
      nextSpan += 1
      val s = Span(nextSpan, if (current == null) 0L else current.id, op, name, System.nanoTime())
      val parent = current
      current = s
      spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        spans += s
        current = parent
        spark.sparkContext.setLocalProperty(SpanProp,
          if (parent == null) null else parent.id.toString)
      }
    }

    // ---- one operation ------------------------------------------------
    final case class Result(tables: Seq[(String, Table)], extra: Seq[(String, Any)] = Nil)

    // qcew_pipeline: one pass of the paper's pipeline on the seeded raw
    // tree: ingest into a fresh lake, the NAICS4 aggregate, then the
    // serving calls on that lake. req = pass, year, qtr, resample naics4,
    // series naics4, wage frame, wage label.
    // registry_mix: req = shard; runs the shard's first query.
    def runOp(i: Int, req: Array[String]): Result = workload match {
      case "qcew_pipeline" =>
        val dir = s"$work/lake_$i"
        val lake = span("ingest", i)(Ingest.ingestAll(spark, rawGlob, dir))
        def industry(n4: String) = lake.filter(substring(col("naics_code"), 1, 4) === n4)
        val agg = span("naicsagg", i)(collectTable(NaicsAgg.aggregate(lake)))
        val quarter = span("agg_quarter", i)(collectTable(NaicsAgg.aggregate(
          lake.filter(col("year") === req(1).toInt && col("qtr") === req(2).toInt))))
        val (monthsQ, monthsY) = span("resample", i) {
          val m = Resample.monthly(industry(req(3)))
          (collectTable(Resample.quarterlyMean(m)), collectTable(Resample.yearlyMean(m)))
        }
        val series = span("series_diff", i)(collectTable(Series.withDiffs(
          NaicsAgg.aggregate(industry(req(4))), "total_wages", Seq("naics4"), Seq("year", "qtr"))))
        val (wageSeries, picklist) = span("wages", i) {
          val (file, frame) =
            if (req(5) == "quarterly") ("quarterly.csv", Wages.Quarterly)
            else ("yearly.csv", Wages.Yearly)
          val wages = spark.read.option("header", "true").csv(s"${cfg("wages_dir")}/$file")
          val dim = Wages.readNaicsDim(spark, s"${cfg("dims_dir")}/naics.csv")
          val invalid = Wages.readInvalidCodes(spark, s"${cfg("dims_dir")}/invalid.csv")
          val enriched = Wages.enrich(Wages.withTimePeriod(wages, frame), dim, invalid)
          val (ws, pl) = Wages.filterWages(enriched, "total_wages", req(6))
          (collectTable(ws), collectTable(pl))
        }
        Result(Seq("agg" -> agg, "agg_quarter" -> quarter, "quarterly" -> monthsQ,
                   "yearly" -> monthsY, "series" -> series, "wage_series" -> wageSeries,
                   "picklist" -> picklist),
               Seq("lake" -> dir))
      case "registry_mix" =>
        val name = firstQuery(req(0))
        val dir = s"$work/reg/$i"
        val df = span("build", i)(SparkEntry.queries(name)(spark, regDir))
        span("action", i)(df.write.mode("overwrite").parquet(dir))
        Result(Nil, Seq("result_dir" -> dir, "query" -> name))
    }
    val reqs = cfg.requests
    require(reqs.nonEmpty, "config: no requests")

    // ---- set-up, repeated so the median is stable ------------------------
    // session start + warm-up (a small tree through ingest and aggregate,
    // or a range sum and a table read for the registry)
    val setupS = (1 to cfg.int("setup_reps")).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      if (workload == "registry_mix") {
        spark.range(1000000).selectExpr("sum(id)").collect()
        spark.read.parquet(s"$regDir/region.parquet").count()
      } else {
        val warm = Ingest.ingestAll(spark, cfg("warm_glob"), s"$work/warm_$rep")
        NaicsAgg.aggregate(warm).collect()
      }
      val s = (System.nanoTime() - t0) / 1e9
      deleteTree(Paths.get(s"$work/warm_$rep"))
      s
    }
    val sc = spark.sparkContext
    if (workload == "registry_mix") {
      val pool = reqs.map(r => firstQuery(r(0))).distinct
      Files.write(out.resolve("oracle.json"),
        Json.obj(pool.map(q => q -> SparkEntry.oracleSql(q)): _*).getBytes(UTF_8))
    }
    val traceBlock = cfg.int("trace_block")

    // ---- warm-up: first touch, codegen and JIT stay out of the window ----
    // At least one whole block of the mix (every request type once), then
    // more while the next operation is expected to end in `warm_seconds`.
    val warmS = cfg("warm_seconds").toDouble
    val w0 = System.nanoTime()
    var lastS = 0.0
    var k = 0
    while (k < traceBlock || (System.nanoTime() - w0) / 1e9 + lastS < warmS) {
      val t = System.nanoTime()
      try runOp(-1, reqs(reqs.size - 1 - k % reqs.size))
      catch { case NonFatal(_) => () }
      lastS = (System.nanoTime() - t) / 1e9
      spark.catalog.clearCache()
      deleteTree(Paths.get(s"$work/lake_-1"))
      deleteTree(Paths.get(s"$work/reg/-1"))
      k += 1
    }

    // ---- the closed loop ------------------------------------------------
    val tracer = new Tracer
    val ops = mutable.ArrayBuffer.empty[String]
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      val req = reqs(i % reqs.size)
      // with tracing on, every other block of operations runs untraced,
      // so the tracing overhead is measured in the same process on the
      // same request types
      val traced = traceOn && (i / traceBlock) % 2 == 1
      if (traced) {
        tracer.op = i
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val t0 = System.nanoTime()
      val res: Either[Throwable, Result] =
        try Right(span(req(0), i)(runOp(i, req)))
        catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced) {
        PerfbenchBridge.drainListenerBus(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      // everything below is outside the timed call
      val fields = mutable.ArrayBuffer[(String, Any)](
        "i" -> i, "req" -> req.toSeq, "ms" -> ms, "traced" -> traced,
        "ok" -> res.isRight)
      res match {
        case Left(e) =>
          fields += "err" -> (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400)
        case Right(r) =>
          val body = Json(ListMap(r.tables.map { case (n, t) => n -> Json.table(t) }: _*))
          val digest = sha1(body)
          val f = out.resolve(s"$digest.json")
          if (!Files.exists(f)) Files.write(f, body.getBytes(UTF_8))
          fields += "out" -> digest
          fields ++= r.extra
          r.tables.toMap.get("agg").foreach(t => fields += "groups_out" -> t.rows.length)
          r.extra.toMap.get("lake").foreach { case dir: String =>
            // the lake this pass wrote: size, files, and null counts of
            // every cast field, then drop it
            val (files, bytes) = treeStats(Paths.get(dir))
            val lakeDf = spark.read.parquet(dir)
            val fieldsCast = Seq("year", "qtr", "first_month_employment",
              "second_month_employment", "third_month_employment", "total_wages",
              "taxable_wages", "latitude", "longitude")
            val nulls = collectTable(lakeDf.select(
              (count(lit(1)).as("rows") +: fieldsCast.map(c =>
                count(when(col(c).isNull, 1)).as(c))): _*))
            val nb = Json.obj("nulls" -> Json.table(nulls))
            val nd = sha1(nb)
            val nf = out.resolve(s"$nd.json")
            if (!Files.exists(nf)) Files.write(nf, nb.getBytes(UTF_8))
            fields ++= Seq("nulls" -> nd, "lake_files" -> files, "lake_bytes" -> bytes)
            if (traced) {
              val groups = NaicsAgg.derive(lakeDf).groupBy("year", "qtr", "naics4").count().count()
              fields += "groups_total" -> groups
            }
            deleteTree(Paths.get(dir))
          }
      }
      if (workload == "registry_mix") {
        fields += "entries_left" -> PerfbenchBridge.cachedEntries(spark)
        spark.catalog.clearCache()
      }
      if (traced) {
        fields += "jobs" -> tracer.jobs(i)
        fields += "phases_ms" -> Seq("analysis", "optimization", "planning")
          .map(p => p -> tracer.phases((i, p))).toMap
      }
      ops += Json.obj(fields.toSeq: _*)
      i += 1
    }
    Files.write(out.resolve("ops.jsonl"), ops.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(out.resolve("spans.jsonl"), spans.map(s => Json.obj(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> (s.start - start), "end_ns" -> (s.end - start)))
      .mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(out.resolve("stages.jsonl"),
      tracer.stages.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(out.resolve("setup.json"),
      Json.obj("setup_s" -> setupS, "heap_peak_mb" -> heap.peakMb).getBytes(UTF_8))
    spark.stop()
  }
}
