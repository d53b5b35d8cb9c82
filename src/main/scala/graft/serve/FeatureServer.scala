package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.state.Connector

/** HTTP serving façade over a [[graft.state.Connector]] — the reference's
  * client-facing query surface (ralf/table.py:159-213: `Table.point_query`
  * / `bulk_query` behind the ralf HTTP server, exercised by
  * ralf/tests/test_client.py). SURVEY marks it optional; the semantics
  * live in `Connector.pointQuery`/`bulkQuery`, and this façade puts the
  * reference's wire contract over them with the JDK's built-in server —
  * no new dependencies.
  *
  * Routes:
  *   - `GET /point?key=K` → 200 `{"row": {..}}`, 404 `{"error": ..}` on
  *     a miss (the reference's KeyError analog), 400 on a malformed key.
  *   - `GET /bulk` → 200 `{"rows": [{..}, ..]}`.
  *
  * A point query is the connector's: over the bucketed store
  * ([[graft.state.BucketedParquetConnector]]) a driver-side read of the
  * key's bucket that runs no Spark job; other connectors filter a scan.
  * Bulk results flow through one driver collect, so `/bulk` is
  * control-plane sized BY DESIGN: at 100 TB consumers read the bucketed
  * parquet table directly.
  */
final class FeatureServer(connector: Connector, port: Int = 0) {

  import Wire.{jsonRow, jsonValue, queryParam, respond}

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** The key column's type, resolved ONCE at construction — resolving
    * it per request would hit the store (a filesystem listing per HTTP
    * hit on the bucketed connector) just to read schema metadata. The
    * table's schema is fixed for a connector's lifetime, so caching is
    * semantics-preserving.
    */
  private val keyType: DataType = connector.bulkQuery().schema(connector.keyCol).dataType

  /** Parse the key string to the connector's key type (the reference's
    * routes carry typed keys through JSON; here the query string is the
    * wire format).
    */
  private def parseKey(raw: String): Any = keyType match {
    case LongType    => raw.toLong
    case IntegerType => raw.toInt
    case DoubleType  => raw.toDouble
    case StringType  => raw
    case other       => throw new IllegalArgumentException(s"unsupported key type $other")
  }

  server.createContext("/point", (ex: HttpExchange) =>
    try {
      queryParam(ex, "key") match {
        case None => respond(ex, 400, """{"error":"missing key parameter"}""")
        case Some(raw) =>
          val key =
            try parseKey(raw)
            catch { case _: Exception => null }
          if (key == null) respond(ex, 400, """{"error":"malformed key"}""")
          else connector.pointQuery(key) match {
            case Some(row) => respond(ex, 200, s"""{"row":${jsonRow(row)}}""")
            case None      => respond(ex, 404, s"""{"error":"key not found"}""")
          }
      }
    } catch { case e: Exception => respond(ex, 500, s"""{"error":${jsonValue(e.toString)}}""") })

  server.createContext("/bulk", (ex: HttpExchange) =>
    try {
      val rows = connector.bulkQuery().collect().map(jsonRow)
      respond(ex, 200, rows.mkString("""{"rows":[""", ",", "]}"))
    } catch { case e: Exception => respond(ex, 500, s"""{"error":${jsonValue(e.toString)}}""") })

  def start(): Unit = server.start()

  /** The actual port (when constructed with port 0, the OS assigns one). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)
}

/** Shared wire-format helpers for the serving façades
  * ([[FeatureServer]], [[SearchServer]]): strict JSON encoding (control
  * characters escaped, NaN/Infinity as null — JSON has no literal for
  * them) and the tiny query-string/response plumbing over the JDK
  * server.
  */
private[serve] object Wire {

  def escapeJson(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'             => sb.append("\\\"")
      case '\\'            => sb.append("\\\\")
      case '\n'            => sb.append("\\n")
      case '\r'            => sb.append("\\r")
      case '\t'            => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c               => sb.append(c)
    }
    sb.toString
  }

  def jsonValue(v: Any): String = v match {
    case null       => "null"
    case s: String  => "\"" + escapeJson(s) + "\""
    case b: Boolean => b.toString
    // JSON has no NaN/Infinity literal — emit null rather than break the wire
    case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
    case f: java.lang.Float if f.isNaN || f.isInfinite  => "null"
    case n: java.lang.Number => n.toString
    case other               => jsonValue(other.toString)
  }

  def jsonRow(r: Row): String =
    r.schema.fields.zipWithIndex.map { case (f, i) =>
      "\"" + f.name + "\":" + jsonValue(if (r.isNullAt(i)) null else r.get(i))
    }.mkString("{", ",", "}")

  def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap {
      _.split("&").iterator
        .map(_.split("=", 2))
        .collectFirst { case Array(k, v) if k == name =>
          java.net.URLDecoder.decode(v, "UTF-8")
        }
    }
}
