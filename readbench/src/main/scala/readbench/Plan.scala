package readbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** One tenant statement as the generator wrote it. The SQL text is what the
  * client sends; (org, metric, lo, hi, kind) is what the oracle computes the
  * expected answer from, so the check never parses the SQL.
  *
  * kind: `rows` (unordered row set), `export` (row set that must arrive in
  * timestamp order) or `agg` (per-etype count and sum). lo and hi are
  * inclusive epoch-millis bounds of the statement's `timestamp` filter. */
final case class Stmt(
    id: String, cls: String, org: String, metric: String,
    lo: Long, hi: Long, kind: String, sql: String)

final case class ClientSpec(name: String, wire: String, stmts: IndexedSeq[Stmt])

final case class MetricSpec(id: String, name: String, types: Set[String], radio: Boolean)

/** userMod < 0 marks the heavy tenant: every user's events, replicated
  * `heavyK` times with event ids shifted by IdShift per replica. */
final case class TenantSpec(org: String, userMod: Int, metrics: Seq[MetricSpec]) {
  def heavy: Boolean = userMod < 0
}

final case class LayoutSpec(
    quantumMs: Long,
    userMods: Int,
    parquetDays: Seq[String],
    jsonDays: Seq[String],
    windows: Seq[(Long, Long)],
    heavyK: Int,
    tenants: Seq[TenantSpec])

/** The appender of `ingest_read`: every `intervalMs` it lands one archive
  * json file of `rows` rows at timestamp `firstTs + batch * quantum`. */
final case class WriterSpec(org: String, metric: String, intervalMs: Long, rows: Int, firstTs: Long)

final case class Plan(
    workload: String,
    seed: Long,
    seconds: Double,
    warmupSeconds: Double,
    trace: Boolean,
    eventsDir: String,
    workDir: String,
    cpus: Int,
    maxRows: Int,
    frameRows: Int,
    tenantClamp: Int,
    checkLen: Int,
    layout: LayoutSpec,
    clients: Seq[ClientSpec],
    warmup: Seq[ClientSpec],
    writer: Option[WriterSpec])

object Plan {
  def load(path: String): Plan = parse(new ObjectMapper().readTree(new java.io.File(path)))

  private def arr(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  private def stmt(n: JsonNode): Stmt = Stmt(
    n.get("id").asText, n.get("cls").asText, n.get("org").asText, n.get("metric").asText,
    n.get("lo").asLong, n.get("hi").asLong, n.get("kind").asText, n.get("sql").asText)

  private def client(n: JsonNode): ClientSpec =
    ClientSpec(n.get("name").asText, n.get("wire").asText,
      arr(n.get("statements")).map(stmt).toIndexedSeq)

  def parse(root: JsonNode): Plan = {
    val l = root.get("layout")
    val layout = LayoutSpec(
      l.get("quantum_ms").asLong,
      l.get("user_mods").asInt,
      arr(l.get("parquet_days")).map(_.asText),
      arr(l.get("json_days")).map(_.asText),
      arr(l.get("windows")).map(w => (w.get(0).asLong, w.get(1).asLong)),
      l.get("heavy_k").asInt,
      arr(l.get("tenants")).map { t =>
        TenantSpec(t.get("org").asText, t.get("user_mod").asInt,
          arr(t.get("metrics")).map { m =>
            MetricSpec(m.get("id").asText, m.get("name").asText,
              arr(m.get("types")).map(_.asText).toSet, m.get("radio").asBoolean)
          })
      })
    val writer = Option(root.get("writer")).filterNot(_.isNull).map { w =>
      WriterSpec(w.get("org").asText, w.get("metric").asText, w.get("interval_ms").asLong,
        w.get("rows").asInt, w.get("first_ts").asLong)
    }
    Plan(
      root.get("workload").asText, root.get("seed").asLong, root.get("seconds").asDouble,
      root.get("warmup_seconds").asDouble, root.get("trace").asBoolean,
      root.get("events_dir").asText, root.get("work_dir").asText, root.get("cpus").asInt,
      root.get("max_rows").asInt, root.get("frame_rows").asInt, root.get("tenant_clamp").asInt,
      root.get("check_len").asInt, layout, arr(root.get("clients")).map(client), arr(root.get("warmup")).map(client),
      writer)
  }
}
