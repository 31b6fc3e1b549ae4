package readbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.frontend._
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpResponse.BodyHandlers
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

/** One executed statement: the `seq`-th of its client's stream, sent in
  * the timed phase or, untimed, to complete the check set. */
final case class Exec(
    client: String, wire: String, stmt: Stmt, seq: Int, startNs: Long, endNs: Long,
    answer: Answer, error: String, refused: Boolean, traced: Boolean, timed: Boolean)

final case class Append(batch: Int, startNs: Long, endNs: Long)

/** The read-path benchmark program. It receives a generated plan (layout
  * spec, per-client statement streams, writer schedule), builds the
  * layout, boots the four wires over one shared Spark context, drives the
  * closed loops and writes raw per-statement records; run.py turns them
  * into metrics.
  *
  * Usage: readbench.Main <plan.json> <out.json> */
object Main {

  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val out = new java.io.File(args(1))
    val spark = SparkSession.builder()
      .master(s"local[${plan.cpus}]")
      .config("spark.sql.shuffle.partitions", plan.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${plan.workDir}/warehouse")
      .config("spark.local.dir", s"${plan.workDir}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, plan, out) finally spark.stop()
  }

  /** Seconds since the program started, per set-up step, for the record. */
  private val t0 = System.nanoTime()
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def mark(what: String): Unit = marks(what) = (System.nanoTime() - t0) / 1e9

  private def run(spark: SparkSession, plan: Plan, out: java.io.File): Unit = {
    mark("session up")
    val built = Layout.build(spark, plan)
    mark("layout built")
    val truth = new Truth(plan.layout, built.raw, plan.writer)

    // one TenantSession per org behind both HTTP wires: the per-tenant
    // clamp and FAIR pool are shared the way one deployment shares them
    val tenants = new ConcurrentHashMap[String, TenantSession]()
    def tenant(org: String): TenantSession = tenants.computeIfAbsent(org, o =>
      TenantSession.open(spark, built.registry, o, built.sources,
        maxRows = Some(plan.maxRows), maxConcurrentStatements = plan.tenantClamp))
    val metrics = new ServingMetrics
    val http = new GraftHttpServer(tenant, defaultMaxRows = plan.maxRows,
      engine = Some(spark), metrics = metrics)
    val avatica = new GraftAvaticaServer(tenant, defaultFrameRows = plan.frameRows,
      serverMaxRows = plan.maxRows, engine = Some(spark), metrics = metrics)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val thrift = GraftJdbcServer.startMultiTenant(spark, built.registry, built.sources,
      maxRows = Some(plan.maxRows), metrics = metrics)
    val ports = Ports(http.boundPort, avatica.boundPort, thrift.jdbcUrl)
    mark("servers up")
    try {
      val clients = plan.clients.map(c => c -> WireClient(c.wire, ports, plan.frameRows))
      val warm = plan.warmup.zip(clients).map { case (w, (_, wc)) => w -> wc }
      val warmExecs = closedLoop(warm, plan.warmupSeconds, None, spark, plan, built, truth)._1
      val warmErrors = warmExecs.count(_.error != null)
      warmExecs.filter(_.error != null).take(3).foreach(e => System.err.println(s"[readbench] warm-up error: ${e.error}"))

      mark("warm-up done")
      val timedStartMs = System.currentTimeMillis()
      val sampler = new PoolSampler(ports.avatica)
      // a traced run traces every second statement of each client, so the
      // tracing overhead is read off one phase: traced vs untraced latency
      Tracer.enabled = plan.trace
      val (execs, appends, phaseNs) =
        closedLoop(clients, plan.seconds, plan.writer, spark, plan, built, truth,
          traceEvery = if (plan.trace) 2 else 0)
      sampler.stop()
      mark("timed phase done")
      val heapMb = heapAfterGc()

      val decomposition =
        if (!plan.trace) None
        else {
          val dec = new Decompose(spark, built.registry, built.sources, plan.maxRows)
          val samples = decompose(dec, plan, ports)
          Tracer.enabled = false
          Some((samples, Tracer.drain()))
        }

      val rest = completeCheckSet(clients, execs, plan.checkLen)
      mark("check set complete")
      val checked = check(execs ++ rest, truth)
      clients.foreach(_._2.close())
      mark("checked")

      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      val result = Map(
        "timed_start_epoch_ms" -> timedStartMs,
        "phase_ms" -> phaseNs / 1e6,
        "warmup_statements" -> warmExecs.size,
        "warmup_errors" -> warmErrors,
        "execs" -> checked,
        "appends" -> appends.map(a => Map("batch" -> a.batch, "ms" -> (a.endNs - a.startNs) / 1e6)),
        "heap_mb" -> heapMb,
        "pool_waiting_max" -> sampler.max,
        "steps_s" -> marks.toMap,
        "shape" -> built.shape,
        "conf" -> Map(
          "master" -> spark.sparkContext.master,
          "scheduler_mode" -> spark.sparkContext.getConf.get("spark.scheduler.mode"),
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "server_max_rows" -> plan.maxRows,
          "frame_rows" -> plan.frameRows,
          "tenant_clamp" -> plan.tenantClamp,
          "spark_version" -> spark.version),
        "traced" -> decomposition.map { case (samples, spans) =>
          Map(
            "samples" -> samples,
            "spans" -> spans.map(s => Seq(s.id, s.parent, s.stmt, s.name, s.startNs, s.endNs)))
        }.orNull)
      mapper.writeValue(out, result)
    } finally {
      avatica.stop()
      http.stop()
      thrift.stop()
    }
  }

  /** Closed loops: each client sends its next statement only after the
    * previous reply's last row arrived. With a writer, appends land every
    * `intervalMs` beside the reads. Statements still running at the
    * deadline are awaited and recorded. */
  private def closedLoop(
      clients: Seq[(ClientSpec, WireClient)],
      seconds: Double,
      writer: Option[WriterSpec],
      spark: SparkSession,
      plan: Plan,
      built: Layout.Built,
      truth: Truth,
      traceEvery: Int = 0): (Seq[Exec], Seq[Append], Long) = {
    val execs = new ConcurrentLinkedQueue[Exec]()
    val appends = new ConcurrentLinkedQueue[Append]()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = clients.map { case (spec, wc) =>
      new Thread(() => {
        var k = 0
        while (System.nanoTime() < deadline) {
          val traced = traceEvery > 0 && (k + 1) % traceEvery == 0
          execs.add(execute(spec, wc, k, traced, timed = true))
          k += 1
        }
      }, s"readbench-${spec.name}")
    }
    val writerThread = writer.map { w =>
      val m = built.registry.metric(w.org, w.metric).get
      val dir = s"${built.base}/0/json/${w.org}/${m.canonicalId}/date=${Layout.dayOf(w.firstTs)}"
      val table = truth.writerTable
      new Thread(() => {
        var b = nextBatch.get
        var n = 1
        while (start + n * w.intervalMs * 1000000L < deadline) {
          val wait = (start + n * w.intervalMs * 1000000L - System.nanoTime()) / 1000000L
          if (wait > 0) Thread.sleep(wait)
          val t0 = System.nanoTime()
          Layout.appendJson(spark, dir, w.org, m.canonicalId,
            Truth.appendBatch(w, plan.layout.quantumMs, table, b))
          val a = Append(b, t0, System.nanoTime())
          appends.add(a); allAppends.add(a)
          b += 1; n += 1
        }
        nextBatch.set(b)
      }, "readbench-writer")
    }
    (threads ++ writerThread).foreach(_.start())
    (threads ++ writerThread).foreach(_.join())
    (execs.asScala.toSeq.sortBy(_.startNs), appends.asScala.toSeq, deadline - start)
  }

  private def execute(spec: ClientSpec, wc: WireClient, k: Int, traced: Boolean, timed: Boolean): Exec = {
    val s = spec.stmts(k % spec.stmts.size)
    val t0 = System.nanoTime()
    val (answer, error, refused) =
      try (if (traced) Tracer.statement(s.id, s"client.${wc.wire}")(wc.run(s)) else wc.run(s), null, false)
      catch {
        case r: Refused => (null, r.getMessage, true)
        case e: Throwable => (null, String.valueOf(e.getMessage).take(300), false)
      }
    Exec(spec.name, wc.wire, s, k, t0, System.nanoTime(), answer, error, refused, traced, timed)
  }

  /** The check set is the first `checkLen` statements of every client's
    * stream. A client whose timed loop stopped short of it sends the rest
    * now, untimed and concurrently with the other clients, so every run of
    * a seed checks (and counts) the same statements. */
  private def completeCheckSet(clients: Seq[(ClientSpec, WireClient)], timed: Seq[Exec], checkLen: Int): Seq[Exec] = {
    val execs = new ConcurrentLinkedQueue[Exec]()
    val threads = clients.map { case (spec, wc) =>
      val from = timed.count(_.client == spec.name)
      new Thread(() => (from until checkLen).foreach(k =>
        execs.add(execute(spec, wc, k, traced = false, timed = false))), s"readbench-${spec.name}-rest")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    execs.asScala.toSeq.sortBy(_.startNs)
  }

  /** Appends of every phase of the run; batch numbers continue across
    * phases because the files stay. */
  private val nextBatch = new java.util.concurrent.atomic.AtomicInteger(0)
  private val allAppends = new ConcurrentLinkedQueue[Append]()

  /** Check every answer against the oracle, after the timed phase. */
  private def check(execs: Seq[Exec], truth: Truth): Seq[Map[String, Any]] = {
    val known = allAppends.asScala.toSeq
    execs.map { e =>
      val (outcome, detail) =
        if (e.refused) ("refused", e.error)
        else if (e.error != null) ("error", e.error)
        else {
          val done = known.filter(_.endNs < e.startNs).map(_.batch)
          val maybe = known.filter(a => a.endNs >= e.startNs && a.startNs < e.endNs).map(_.batch)
          truth.check(e.stmt, e.wire, e.answer, done, maybe) match {
            case None => ("ok", null)
            case Some(why) => ("wrong", why)
          }
        }
      Map(
        "client" -> e.client, "wire" -> e.wire, "cls" -> e.stmt.cls, "id" -> e.stmt.id,
        "seq" -> e.seq, "timed" -> e.timed,
        "start_ns" -> e.startNs, "end_ns" -> e.endNs,
        "ms" -> (e.endNs - e.startNs) / 1e6,
        "rows" -> Option(e.answer).map(_.rows).getOrElse(0L),
        "frames" -> Option(e.answer).map(_.frames).getOrElse(0),
        "outcome" -> outcome, "detail" -> detail, "traced" -> e.traced)
    }
  }

  /** Per-layer decomposition over a sample of the workload's statements:
    * round robin over statement classes until half the phase length is
    * spent, at least three statements per class. */
  private def decompose(dec: Decompose, plan: Plan, ports: Ports)
      : Seq[Map[String, Any]] = {
    val byClass = plan.clients.flatMap(_.stmts).groupBy(_.cls).toSeq.sortBy(_._1)
    val allWires = WireClient.Wires.map(w => w -> WireClient(w, ports, plan.frameRows)).toMap
    val budgetNs = (plan.seconds / 2 * 1e9).toLong
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Map[String, Any]]
    var i = 0
    while (i < 3 || System.nanoTime() - t0 < budgetNs) {
      byClass.foreach { case (cls, stmts) =>
        val s = stmts(i % stmts.size).copy(id = s"d$i-${stmts(i % stmts.size).id}")
        val layers = dec.inProcess(s)
        val wireMs = WireClient.Wires.map { w =>
          val w0 = System.nanoTime()
          val ok = try { allWires(w).run(s); true } catch { case _: Throwable => false }
          w -> (if (ok) (System.nanoTime() - w0) / 1e6 else Double.NaN)
        }.toMap
        out += Map("id" -> s.id, "cls" -> cls, "layers" -> layers, "wire_ms" -> wireMs)
      }
      i += 1
    }
    allWires.values.foreach(_.close())
    out.result()
  }

  private def heapAfterGc(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Samples the per-tenant pool gauges off the live /metrics endpoint and
    * keeps the largest `waiting_statements` seen. */
  final class PoolSampler(port: Int) {
    private val stopFlag = new AtomicBoolean(false)
    @volatile var max = 0L
    private val thread = new Thread(() => {
      val http = HttpClient.newHttpClient()
      while (!stopFlag.get()) {
        try {
          val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/metrics")).GET().build(),
            BodyHandlers.ofString())
          Reducer.mapper.readTree(r.body()).path("gauges").properties().forEach { e =>
            if (e.getKey.endsWith(".waiting_statements")) max = math.max(max, e.getValue.asLong(0L))
          }
        } catch { case _: Exception => () }
        Thread.sleep(100)
      }
    }, "readbench-pool-sampler")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { stopFlag.set(true); thread.join() }
  }
}
