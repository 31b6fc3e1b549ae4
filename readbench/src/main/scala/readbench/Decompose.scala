package readbench

import graft.core.{Assembler, TimeRange}
import graft.frontend.TenantSession
import graft.schema.SchemaRegistry
import graft.sources.SourceSet
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.schema.Metric
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftshim.GraftSessions

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Jobs and tasks per statement, keyed by the job group the benchmark sets
  * on the thread that runs the statement. */
final class JobCounter extends SparkListener {
  private val jobs = new ConcurrentHashMap[String, AtomicLong]()
  private val tasks = new ConcurrentHashMap[String, AtomicLong]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobs.computeIfAbsent(g, _ => new AtomicLong()).incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach(g =>
      tasks.computeIfAbsent(g, _ => new AtomicLong()).incrementAndGet())

  def of(group: String): (Long, Long) =
    (Option(jobs.get(group)).map(_.get).getOrElse(0L), Option(tasks.get(group)).map(_.get).getOrElse(0L))
}

/** The traced run's per-layer decomposition: each sampled statement runs
  * in-process under benchmark spans (build → engine phases → execute), then
  * once over every wire, and its scan nodes' SQL metrics are read off the
  * executed plan. */
final class Decompose(
    spark: SparkSession,
    registry: SchemaRegistry,
    sources: SourceSet,
    maxRows: Int) extends AdaptiveSparkPlanHelper {

  private val sessions = new ConcurrentHashMap[String, TenantSession]()
  private def tenants(org: String): TenantSession =
    sessions.computeIfAbsent(org, o => TenantSession.open(spark, registry, o, sources))

  private val counter = new JobCounter
  spark.sparkContext.addSparkListener(counter)

  private def ms(ns: Long): Double = ns / 1e6

  /** Scan and cutoff metrics of an executed plan, by source kind. */
  private def planMetrics(plan: SparkPlan): Map[String, Double] = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def kind(s: FileSourceScanExec): String =
      if (s.relation.location.rootPaths.exists(_.toString.contains("/nearline/"))) "nearline"
      else if (s.relation.fileFormat.toString.toLowerCase.contains("json")) "json"
      else "parquet"
    def m(s: FileSourceScanExec, k: String): Double = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val byKind = scans.groupBy(kind)
    def sumOf(k: String, kinds: String*): Double =
      kinds.flatMap(byKind.getOrElse(_, Nil)).map(m(_, k)).sum
    val all = Seq("parquet", "json", "nearline")
    Map(
      "sources.partitions_read.parquet" -> sumOf("numPartitions", "parquet"),
      "sources.partitions_read.json" -> sumOf("numPartitions", "json"),
      "sources.files_read.parquet" -> sumOf("numFiles", "parquet"),
      "sources.files_read.json" -> sumOf("numFiles", "json"),
      "sources.files_read.nearline" -> sumOf("numFiles", "nearline"),
      "sources.bytes_read" -> sumOf("filesSize", all: _*),
      "sources.rows_scanned" -> sumOf("numOutputRows", all: _*),
      "sources.scan_ms" -> sumOf("scanTime", all: _*),
      "sources.listing_ms" -> sumOf("metadataTime", all: _*))
  }

  /** Archive rows in the statement's range that the overlap cutoff removes:
    * rows inside a kept nearline window, counted straight off the archive
    * files (the scans apply the cutoff as a pushed filter, so no plan
    * metric sees those rows go). */
  private def overlapRowsCut(org: String, metricId: String, range: TimeRange): Long = {
    val kept = sources.prune(range).nearline
    if (kept.isEmpty) return 0L
    val ts = col(Metric.TimestampField)
    val inWindow = kept.map(w => ts >= w.startMillis && ts < w.endMillis).reduce(_ || _)
    val onlyTs = StructType(Seq(StructField(Metric.TimestampField, LongType)))
    sources.fs.map { src =>
      val path = src.metricPath(org, metricId)
      if (!new java.io.File(path).exists) 0L
      else {
        val df = if (src.format == "json") spark.read.schema(onlyTs).json(path) else spark.read.parquet(path)
        df.filter(ts >= range.min && ts <= range.max && inWindow).count()
      }
    }.sum
  }

  /** Run one statement in-process under spans; returns its layer numbers.
    * The statement is built on an unclamped session so its own analysis
    * phase stays observable, then clamped exactly as every wire clamps it. */
  def inProcess(s: Stmt): Map[String, Double] = {
    val tenant = tenants(s.org)
    val sc = spark.sparkContext
    sc.setJobGroup(s.id, s.cls, interruptOnCancel = false)
    var rows = 0L
    var build, prepare, execute = 0L
    var buildSpan, prepareSpan = 0L
    val (inner, df, total) = Tracer.statement(s.id, "statement.inproc") {
      val t0 = System.nanoTime()
      val inner = Tracer.span("frontend.build") { buildSpan = Tracer.current; tenant.sql(s.sql) }
      val df = inner.limit(maxRows)
      val t1 = System.nanoTime()
      Tracer.span("engine.prepare") { prepareSpan = Tracer.current; df.queryExecution.executedPlan }
      val t2 = System.nanoTime()
      rows = Tracer.span("engine.execute")(tenant.runGated(df.collect().length.toLong))
      val t3 = System.nanoTime()
      build = t1 - t0; prepare = t2 - t1; execute = t3 - t2
      (inner, df, t3 - t0)
    }
    sc.clearJobGroup()
    GraftSessions.drainListenerBus(spark)
    def phase(qe: org.apache.spark.sql.execution.QueryExecution, p: String, parent: Long, name: String): Double =
      qe.tracker.phases.get(p).map { x =>
        Tracer.record(name, parent, s.id, Tracer.epochMsToNs(x.startTimeMs), Tracer.epochMsToNs(x.endTimeMs))
        (x.endTimeMs - x.startTimeMs).toDouble
      }.getOrElse(0.0)
    val analyze = phase(inner.queryExecution, "analysis", buildSpan, "engine.analyze")
    val optimize = phase(df.queryExecution, "optimization", prepareSpan, "engine.optimize")
    val plan = phase(df.queryExecution, "planning", prepareSpan, "engine.plan")
    val (jobs, tasks) = counter.of(s.id)
    val pm = planMetrics(df.queryExecution.executedPlan)
    val range = TimeRange(s.lo, s.hi)
    val kept = sources.prune(range).nearline.size
    val m = registry.metric(s.org, s.metric).get
    val cut = overlapRowsCut(s.org, m.canonicalId, range)
    val a0 = System.nanoTime()
    Tracer.statement(s.id, "core.assemble") {
      Assembler.metricTable(tenant.spark, s.org, m, sources.prune(range), sorted = false)
    }
    val assemble = System.nanoTime() - a0
    pm ++ Map(
      "inproc_ms" -> ms(total),
      "frontend.build_ms" -> ms(build),
      "engine.prepare_ms" -> ms(prepare),
      "engine.analyze_ms" -> analyze,
      "engine.optimize_ms" -> optimize,
      "engine.plan_ms" -> plan,
      "engine.execute_ms" -> ms(execute),
      "engine.jobs_per_statement" -> jobs.toDouble,
      "engine.tasks_per_statement" -> tasks.toDouble,
      "core.assemble_ms" -> ms(assemble),
      "core.nearline_windows_kept" -> kept.toDouble,
      "core.nearline_windows_pruned" -> (sources.nearline.size - kept).toDouble,
      "core.overlap_rows_cut" -> cut.toDouble,
      "rows_returned" -> rows.toDouble,
      "sources.rows_scanned_per_row_returned" ->
        pm("sources.rows_scanned") / math.max(rows, 1L).toDouble)
  }
}
