package readbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import java.sql.{Connection, DriverManager}
import scala.collection.mutable

/** A statement the server turned away at admission (the tenant clamp);
  * counted as failed, reported apart from errors. */
final class Refused(msg: String) extends RuntimeException(msg)

/** Folds decoded result rows into an [[Answer]] as they arrive. Values are
  * already wire-decoded: numbers as Long/Double, strings, and `_fm` as a
  * Map (JSON wires) or the wire's string. */
final class Reducer(kind: String, wire: String, columns: IndexedSeq[String]) {
  private val at = columns.map(_.toLowerCase).zipWithIndex.toMap
  private var rows = 0L
  private var digest = Digest.Empty
  private var ordered = true
  private var lastTs = Long.MinValue
  private val agg = mutable.Map.empty[String, (Long, Double)]

  private def long(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue
    case s: String => s.toLong
    case null => Long.MinValue
  }
  private def double(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case s: String => s.toDouble
    case null => Double.NaN
  }
  private def fm(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => Truth.fmCanon(m.map { case (k, x) => String.valueOf(k) -> String.valueOf(x) })
    case s: String if wire == "thrift" => "hive:" + s
    case s: String =>
      // a wire that ships the map as text must ship recoverable text
      try {
        val n = Reducer.mapper.readTree(s)
        if (n.isObject) Truth.fmCanon(Reducer.objectMap(n)) else "raw:" + s
      } catch { case _: Exception => "raw:" + s }
    case other => "raw:" + other
  }

  def add(row: IndexedSeq[Any]): Unit = {
    rows += 1
    if (kind == "agg") {
      agg(String.valueOf(row(at("etype")))) = (long(row(at("n"))), double(row(at("total"))))
    } else {
      val ts = long(row(at("timestamp")))
      if (ts < lastTs) ordered = false
      lastTs = ts
      digest = digest.add(Truth.rowKey(ts, String.valueOf(row(at("etype"))),
        double(row(at("amount"))), long(row(at("uid"))), long(row(at("eid"))),
        at.get("_fm").map(i => fm(row(i))).orNull))
    }
  }

  def answer(frames: Int): Answer = Answer(rows, frames, digest, ordered, agg.toMap)
}

object Reducer {
  val mapper = new ObjectMapper()

  def objectMap(n: JsonNode): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    n.properties().forEach(e => b += e.getKey -> (if (e.getValue.isTextual) e.getValue.asText else e.getValue.toString))
    b.result()
  }

  /** A JSON-wire cell: numbers keep their integral/fractional kind,
    * objects become maps. */
  def jsonValue(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isObject) objectMap(n)
    else n.asText
}

/** One client's connection to one wire. Not thread-safe: each closed-loop
  * client owns its own. */
trait WireClient {
  def wire: String
  /** Send the statement and receive every row. */
  def run(s: Stmt): Answer
  def close(): Unit = ()
}

final case class Ports(http: Int, avatica: Int, thriftUrl: String)

object WireClient {
  def apply(wire: String, ports: Ports, frameRows: Int): WireClient = wire match {
    case "http"          => new HttpWire(ports.http)
    case "avatica_json"  => new AvaticaJsonWire(ports.avatica, frameRows)
    case "avatica_proto" => new AvaticaProtoWire(ports.avatica, frameRows)
    case "thrift"        => new ThriftWire(ports.thriftUrl, frameRows)
  }
  val Wires: Seq[String] = Seq("http", "avatica_json", "avatica_proto", "thrift")
}

/** The REST proxy: one POST per statement, the whole result in one body. */
final class HttpWire(port: Int) extends WireClient {
  val wire = "http"
  private val http = HttpClient.newHttpClient()

  def run(s: Stmt): Answer = {
    val r = Tracer.span("wire.execute")(http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/sql"))
        .header("X-Api-Key", s.org).POST(BodyPublishers.ofString(s.sql)).build(),
      BodyHandlers.ofByteArray()))
    val body = Reducer.mapper.readTree(r.body())
    if (r.statusCode() != 200) {
      val msg = body.path("error").asText("")
      if (msg.contains("concurrent-statement limit")) throw new Refused(msg)
      throw new RuntimeException(s"http ${r.statusCode()}: $msg")
    }
    val cols = (0 until body.get("columns").size()).map(body.get("columns").get(_).asText)
    val red = new Reducer(s.kind, wire, cols)
    body.get("rows").forEach { row =>
      red.add((0 until row.size()).map(i => Reducer.jsonValue(row.get(i))))
    }
    red.answer(frames = 1)
  }
}

/** Avatica over JSON: one connection per tenant, one statement per query,
  * rows streamed frame by frame through `fetch`. */
final class AvaticaJsonWire(port: Int, frameRows: Int) extends WireClient {
  val wire = "avatica_json"
  private val http = HttpClient.newHttpClient()
  private val conns = mutable.Map.empty[String, String]

  private def q(s: String): String = Reducer.mapper.writeValueAsString(s)

  private def rpc(json: String): JsonNode = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .POST(BodyPublishers.ofString(json)).build(), BodyHandlers.ofByteArray())
    val n = Reducer.mapper.readTree(r.body())
    if (r.statusCode() != 200) {
      val msg = n.path("errorMessage").asText("")
      if (n.path("errorCode").asInt() == 53300) throw new Refused(msg)
      throw new RuntimeException(s"avatica ${r.statusCode()}: $msg")
    }
    n
  }

  private def conn(org: String): String = conns.getOrElseUpdate(org, {
    val cid = s"rb-${java.util.UUID.randomUUID()}"
    rpc(s"""{"request":"openConnection","connectionId":"$cid","info":{"apikey":${q(org)}}}""")
    cid
  })

  def run(s: Stmt): Answer = {
    val cid = conn(s.org)
    val sid = rpc(s"""{"request":"createStatement","connectionId":"$cid"}""").get("statementId").asInt
    try {
      val res = Tracer.span("wire.execute")(
        rpc(s"""{"request":"prepareAndExecute","connectionId":"$cid","statementId":$sid,""" +
          s""""sql":${q(s.sql)},"maxRowCount":-1}""")).at("/results/0")
      val sig = res.at("/signature/columns")
      val red = new Reducer(s.kind, wire, (0 until sig.size()).map(sig.get(_).get("columnName").asText))
      var frame = res.get("firstFrame")
      var frames = 1
      var seen = 0L
      def take(f: JsonNode): Unit = f.get("rows").forEach { row =>
        red.add((0 until row.size()).map(i => Reducer.jsonValue(row.get(i)))); seen += 1
      }
      take(frame)
      while (!frame.get("done").asBoolean) {
        frame = Tracer.span("wire.fetch")(rpc(s"""{"request":"fetch","connectionId":"$cid","statementId":$sid,""" +
          s""""offset":$seen,"fetchMaxRowCount":$frameRows}""")).get("frame")
        frames += 1
        take(frame)
      }
      red.answer(frames)
    } finally rpc(s"""{"request":"closeStatement","connectionId":"$cid","statementId":$sid}""")
  }

  override def close(): Unit = conns.values.foreach(cid =>
    rpc(s"""{"request":"closeConnection","connectionId":"$cid"}"""))
}

/** Minimal protobuf codec for the Avatica messages the client sends and
  * reads (field numbers from Avatica's public common/requests/responses
  * .proto files). */
object Proto {
  final class W {
    private val out = new java.io.ByteArrayOutputStream
    def bytes: Array[Byte] = out.toByteArray
    private def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def u64(f: Int, v: Long): Unit = { varint((f.toLong << 3) | 0); varint(v) }
    def raw(f: Int, b: Array[Byte]): Unit = { varint((f.toLong << 3) | 2); varint(b.length); out.write(b) }
    def str(f: Int, s: String): Unit = raw(f, s.getBytes("UTF-8"))
    def msg(f: Int)(body: W => Unit): Unit = { val w = new W; body(w); raw(f, w.bytes) }
  }

  final case class F(wire: Int, num: Long, payload: Array[Byte]) {
    def str: String = new String(payload, "UTF-8")
    def msg: R = new R(payload)
  }

  final class R(buf: Array[Byte]) {
    private var pos = 0
    private def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0
      do { b = buf(pos) & 0xff; pos += 1; v |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      v
    }
    val fields: Map[Int, Vector[F]] = {
      val acc = mutable.LinkedHashMap.empty[Int, Vector[F]]
      while (pos < buf.length) {
        val key = varint(); val f = (key >>> 3).toInt; val wt = (key & 7).toInt
        val field = wt match {
          case 0 => F(0, varint(), Array.emptyByteArray)
          case 1 => val v = java.nio.ByteBuffer.wrap(buf, pos, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
            pos += 8; F(1, v, Array.emptyByteArray)
          case 2 => val n = varint().toInt; val p = java.util.Arrays.copyOfRange(buf, pos, pos + n)
            pos += n; F(2, 0L, p)
          case 5 => pos += 4; F(5, 0L, Array.emptyByteArray)
          case other => throw new IllegalStateException(s"protobuf wire type $other")
        }
        acc(f) = acc.getOrElse(f, Vector.empty) :+ field
      }
      acc.toMap
    }
    def all(f: Int): Vector[F] = fields.getOrElse(f, Vector.empty)
    def first(f: Int): Option[F] = all(f).headOption
    def str(f: Int): String = first(f).map(_.str).getOrElse("")
    def long(f: Int): Long = first(f).map(_.num).getOrElse(0L)
    def msg(f: Int): R = first(f).map(_.msg).getOrElse(new R(Array.emptyByteArray))
  }

  /** TypedValue { type=1; bool=2; string=3; number=4 (sint64); bytes=5;
    * double=6; null=7 } → a decoded cell. */
  def typedValue(tv: R): Any = {
    // proto3 omits default values: an absent number field is 0
    def sint: Long = { val n = tv.long(4); (n >>> 1) ^ -(n & 1) }
    def dbl: Double = java.lang.Double.longBitsToDouble(tv.long(6))
    if (tv.long(7) != 0) null
    else tv.long(1).toInt match {
      case 0 | 8 => tv.long(2) != 0
      case 1 | 3 | 4 | 5 | 9 | 11 | 12 | 13 | 25 => sint
      case 6 | 7 | 14 | 15 => dbl
      case 22 => if (tv.first(6).isDefined) dbl else sint
      case 24 => null
      case _ => tv.str(3)
    }
  }
}

/** Avatica over protobuf (`application/x-google-protobuf`), the reference
  * server's production wire; same RPC flow as [[AvaticaJsonWire]]. */
final class AvaticaProtoWire(port: Int, frameRows: Int) extends WireClient {
  import Proto._
  val wire = "avatica_proto"
  private val http = HttpClient.newHttpClient()
  private val conns = mutable.Map.empty[String, String]
  private val Req = "org.apache.calcite.avatica.proto.Requests$"

  private def rpc(name: String)(body: W => Unit): R = {
    val w = new W
    w.str(1, Req + name)
    w.msg(2)(body)
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .header("Content-Type", "application/x-google-protobuf")
        .POST(BodyPublishers.ofByteArray(w.bytes)).build(), BodyHandlers.ofByteArray())
    val wrapper = new R(r.body())
    val inner = wrapper.msg(2)
    if (wrapper.str(1).endsWith("ErrorResponse") || r.statusCode() != 200) {
      val msg = inner.str(3)
      if (inner.long(5) == 53300) throw new Refused(msg)
      throw new RuntimeException(s"avatica-proto ${r.statusCode()}: $msg")
    }
    inner
  }

  private def conn(org: String): String = conns.getOrElseUpdate(org, {
    val cid = s"rbp-${java.util.UUID.randomUUID()}"
    rpc("OpenConnectionRequest") { w =>
      w.str(1, cid)
      w.msg(2) { e => e.str(1, "apikey"); e.str(2, org) }
    }
    cid
  })

  def run(s: Stmt): Answer = {
    val cid = conn(s.org)
    val sid = rpc("CreateStatementRequest")(_.str(1, cid)).long(2)
    try {
      val res = Tracer.span("wire.execute")(rpc("PrepareAndExecuteRequest") { w =>
        w.str(1, cid); w.str(2, s.sql); w.u64(4, sid)
      }).msg(1)
      val cols = res.msg(4).all(1).map(c => c.msg.str(10))
      val red = new Reducer(s.kind, wire, cols)
      var seen = 0L
      def take(frame: R): Boolean = {
        frame.all(3).foreach { row =>
          red.add(row.msg.all(1).map(cv => typedValue(cv.msg.msg(4))))
          seen += 1
        }
        frame.long(2) != 0
      }
      var done = take(res.msg(5))
      var frames = 1
      while (!done) {
        done = take(Tracer.span("wire.fetch")(rpc("FetchRequest") { w =>
          w.str(1, cid); w.u64(2, sid); w.u64(3, seen); w.u64(5, frameRows)
        }).msg(1))
        frames += 1
      }
      red.answer(frames)
    } finally rpc("CloseStatementRequest") { w => w.str(1, cid); w.u64(2, sid) }
  }

  override def close(): Unit = conns.values.foreach(cid => rpc("CloseConnectionRequest")(_.str(1, cid)))
}

/** HiveServer2 Thrift through the stock Hive JDBC driver: one connection per
  * tenant (the key rides in the URL's conf list), `frameRows` per fetch. */
final class ThriftWire(url: String, frameRows: Int) extends WireClient {
  val wire = "thrift"
  private val conns = mutable.Map.empty[String, Connection]

  private def conn(org: String): Connection = conns.getOrElseUpdate(org,
    DriverManager.getConnection(s"$url?${graft.frontend.GraftJdbcServer.TenantConfKey}=$org", "readbench", ""))

  def run(s: Stmt): Answer = {
    val st = conn(s.org).createStatement()
    try {
      st.setFetchSize(frameRows)
      val rs = Tracer.span("wire.execute")(st.executeQuery(s.sql))
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(i => md.getColumnLabel(i).split('.').last)
      val red = new Reducer(s.kind, wire, cols)
      var n = 0L
      Tracer.span("wire.fetch") {
        while (rs.next()) {
          red.add((1 to cols.size).map(rs.getObject))
          n += 1
        }
      }
      // one fetch RPC per frame, plus the final empty one that ends the set
      red.answer(frames = (n / frameRows).toInt + 1)
    } finally st.close()
  }

  override def close(): Unit = conns.values.foreach(_.close())
}
