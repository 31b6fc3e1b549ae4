package readbench

import graft.schema._
import graft.sources._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One raw `events` row as the layout stores it: `ts` is the event time
  * truncated to the layout quantum (epoch millis), so several writes of
  * one table share a timestamp and nearline items carry several write ids. */
final case class Ev(eid: Long, ts: Long, uid: Long, etype: String, value: Double, props: String)

/** The multi-source tenant layout derived from `events`:
  *
  *   - archive parquet under `<base>/0/parquet/<org>/<metric>/date=YYYY-MM-DD/`
  *     for the oldest days, `value` stored as a string and `user_id` as an
  *     int (both cast to the declared type on read);
  *   - archive json under `<base>/0/json/...` for the next days, reaching
  *     into the nearline range; its copies of rows inside a nearline window
  *     carry a poisoned etype and amount, so a wrong overlap cut shows;
  *   - nearline window tables `<base>/nearline/t_<start>_<end>` holding
  *     multi-write items for every (org, metric).
  *
  * Fields are stored under their alias (`event_type`, `value`) and cname
  * (`user_id`, `event_id`) column names; `props` is an unknown column, so
  * the radio metric gathers it into `_fm`. */
object Layout {
  val IdShift = 1000000L
  val PoisonType = "POISON"
  val PoisonAmount = -1.0e9

  def metric(m: MetricSpec): Metric = Metric(m.id, m.name, Seq(
    Field("etype", FieldType.STRING, aliases = Seq("event_type")),
    Field("amount", FieldType.DOUBLE, aliases = Seq("value")),
    Field("uid", FieldType.LONG, cname = Some("user_id")),
    Field("eid", FieldType.LONG, cname = Some("event_id"))), radioEnabled = m.radio)

  def dayOf(ts: Long): String = java.time.Instant.ofEpochMilli(ts).toString.take(10)

  final case class Built(
      base: String,
      registry: SchemaRegistry,
      sources: SourceSet,
      raw: IndexedSeq[Ev],
      shape: Map[String, Any])

  /** Storage-shaped rows of every (org, metric) table, tagged _org/_mid. */
  private def tables(spark: SparkSession, ev: DataFrame, spec: LayoutSpec): DataFrame = {
    val parts = for (t <- spec.tenants; m <- t.metrics) yield {
      val rows = ev.filter(col("etype").isin(m.types.toSeq: _*))
      val scoped =
        if (t.heavy)
          rows.crossJoin(spark.range(spec.heavyK).toDF("r"))
            .withColumn("eid", col("eid") + col("r") * IdShift).drop("r")
        else rows.filter(col("uid") % spec.userMods === t.userMod)
      scoped.withColumn("_org", lit(t.org)).withColumn("_mid", lit(m.id))
    }
    parts.reduce(_ unionByName _)
      .withColumn("day", date_format(timestamp_millis(col("ts")), "yyyy-MM-dd"))
  }

  private def inWindow(spec: LayoutSpec): Column =
    spec.windows.map { case (s, e) => col("ts") >= s && col("ts") < e }.reduce(_ || _)

  def build(spark: SparkSession, plan: Plan): Built = {
    val spec = plan.layout
    val base = Paths.get(plan.workDir, "layout").toAbsolutePath.toString
    val stage = Paths.get(plan.workDir, "stage").toAbsolutePath.toString
    val q = spec.quantumMs
    val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var last = System.nanoTime()
    def step(name: String): Unit = {
      val now = System.nanoTime(); steps(name) = (now - last) / 1e9; last = now
    }
    val ev = graft.Tables.load(spark, plan.eventsDir, "events").select(
      col("event_id").as("eid"),
      expr(s"(unix_micros(ts) div ${q * 1000L}) * $q").as("ts"),
      col("user_id").as("uid"), col("event_type").as("etype"),
      col("value"), col("props"))
    val raw = ev.collect().map(r =>
      Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5)))
      .toIndexedSeq
    step("raw_rows")
    val all = tables(spark, ev, spec)
    val windowed = inWindow(spec)
    val meta = Seq(col("_org"), col("_mid"), col("_org").as("companykey"),
      col("_mid").as("metrictype"), col("ts").as("timestamp"))

    // the three formats are written as concurrent jobs on the shared context
    def parquet(): Unit =
      all.filter(col("day").isin(spec.parquetDays: _*))
        .select(meta ++ Seq(col("etype").as("event_type"), col("value").cast("string").as("value"),
          col("uid").cast("int").as("user_id"), col("eid").as("event_id"), col("props"),
          col("day").as("date")): _*)
        .repartition(col("_org"), col("_mid"), col("date"))
        .write.partitionBy("_org", "_mid", "date").parquet(s"$stage/parquet")
    def json(): Unit =
      all.filter(col("day").isin(spec.jsonDays: _*))
        .select(meta ++ Seq(
          when(windowed, lit(PoisonType)).otherwise(col("etype")).as("event_type"),
          when(windowed, lit(PoisonAmount)).otherwise(col("value")).as("value"),
          col("uid").as("user_id"), col("eid").as("event_id"), col("props"),
          col("day").as("date")): _*)
        .repartition(col("_org"), col("_mid"), col("date"))
        .write.partitionBy("_org", "_mid", "date").json(s"$stage/json")
    def nearlineTable(s: Long, e: Long): NearlineTableDesc = {
      val path = s"$base/nearline/t_${s}_$e"
      val w = struct(concat(lit("w"), col("eid").cast("string")).as("wid"),
        col("etype"), col("value").cast("string").as("value"),
        col("uid").cast("string").as("uid"), col("eid").cast("string").as("eid"), col("props"))
      def field(name: String, from: String): Column =
        map_from_arrays(col("ids"), transform(col("writes"), x => x.getField(from))).as(name)
      all.filter(col("ts") >= s && col("ts") < e)
        .groupBy(col("_org"), col("_mid"), col("ts"))
        .agg(collect_list(w).as("writes"))
        .withColumn("ids", transform(col("writes"), x => x.getField("wid")))
        .select(
          KeyMapper.Concat.partitionKeyCol(col("_org"), col("_mid")).as("partition"),
          col("ts").cast("string").as("sort"), col("ids"),
          field("event_type", "etype"), field("value", "value"), field("user_id", "uid"),
          field("event_id", "eid"), field("props", "props"))
        .repartition(2)
        .write.parquet(path)
      NearlineTableDesc(s"t_${s}_$e", path, s, e)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = Future(parquet()) zip Future(json()) zip
      Future.sequence(spec.windows.map { case (s, e) => Future(nearlineTable(s, e)) })
    val nearline = Await.result(writes, Duration.Inf)._2
    for (fmt <- Seq("parquet", "json"); t <- spec.tenants; m <- t.metrics) {
      val from = Paths.get(stage, fmt, s"_org=${t.org}", s"_mid=${m.id}")
      if (Files.exists(from)) {
        val to = Paths.get(base, "0", fmt, t.org, m.id)
        Files.createDirectories(to.getParent)
        Files.move(from, to)
      }
    }
    step("files")
    val registry = SchemaRegistry(spec.tenants.map(t => Org(t.org, t.metrics.map(metric))): _*)
    val sources = SourceSet(
      fs = Seq(FsSource("parquet", base), FsSource("json", base)), nearline = nearline)
    Built(base, registry, sources, raw, shape(base, spec, raw) + ("build_steps_s" -> steps.toMap))
  }

  /** Layout record: per-format files and `date=` partitions, nearline
    * windows and gaps, poisoned overlap rows, the heavy tenant's K and bytes. */
  private def shape(base: String, spec: LayoutSpec, raw: IndexedSeq[Ev]): Map[String, Any] = {
    def dataFiles(p: Path): Seq[Path] =
      if (!Files.exists(p)) Nil
      else Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_")).toSeq
    def partitions(p: Path): Int =
      if (!Files.exists(p)) 0
      else Files.walk(p).iterator().asScala.count(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith("date="))
    val heavy = spec.tenants.filter(_.heavy).map(_.org)
    val heavyBytes = for (fmt <- Seq("parquet", "json"); org <- heavy;
      f <- dataFiles(Paths.get(base, "0", fmt, org))) yield Files.size(f)
    val windows = spec.windows.sortBy(_._1)
    val gaps = windows.sliding(2).collect { case Seq(a, b) if b._1 > a._2 => b._1 - a._2 }.toSeq
    val inWin = (ts: Long) => spec.windows.exists { case (s, e) => ts >= s && ts < e }
    val replicas = spec.tenants.flatMap(t => t.metrics.map(m => (t.org, m.id) -> (if (t.heavy) spec.heavyK else 1))).toMap
    val overlap = Truth.tables(spec, raw).map { case (k, rows) =>
      replicas(k) * rows.count(r => spec.jsonDays.contains(dayOf(r.ts)) && inWin(r.ts))
    }.sum
    Map(
      "tables" -> spec.tenants.map(_.metrics.size).sum,
      "tenants" -> spec.tenants.size,
      "parquet_files" -> dataFiles(Paths.get(base, "0", "parquet")).size,
      "parquet_date_partitions" -> partitions(Paths.get(base, "0", "parquet")),
      "json_files" -> dataFiles(Paths.get(base, "0", "json")).size,
      "json_date_partitions" -> partitions(Paths.get(base, "0", "json")),
      "nearline_windows" -> spec.windows.size,
      "nearline_files" -> dataFiles(Paths.get(base, "nearline")).size,
      "nearline_gaps_ms" -> gaps,
      "overlap_rows_poisoned" -> overlap,
      "heavy_k" -> spec.heavyK,
      "heavy_bytes" -> heavyBytes.sum)
  }

  /** Land one archive json file of `rows` under `dir` through the engine's
    * own writer — the archive append the ingest workload measures. */
  def appendJson(spark: SparkSession, dir: String, org: String, metricId: String, rows: Seq[Ev]): Unit = {
    val schema = StructType(Seq(
      StructField("companykey", StringType), StructField("metrictype", StringType),
      StructField("timestamp", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("props", StringType)))
    val data = rows.map(r => Row(org, metricId, r.ts, r.etype, r.value, r.uid, r.eid, r.props))
    spark.createDataFrame(data.asJava, schema).coalesce(1).write.mode("append").json(dir)
  }
}
