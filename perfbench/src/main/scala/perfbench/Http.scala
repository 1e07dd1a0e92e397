package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.api.StatementClient

/** What the client saw of one statement: its rows and how they arrived. */
final case class HttpResult(queryId: String, schema: StructType, rows: Seq[Row],
    gets: Int, usefulGets: Int, bytes: Long, firstDataNs: Long)

/** The statement protocol's client loop (POST, then GET along `nextUri`
  * until it is absent), the same steps as `StatementClient.execute`, with
  * each call timed so the client-side split of a query can be traced. */
object Http {

  def run(base: String, sql: String, binary: Boolean, trace: Trace,
      op: Long): HttpResult = {
    val t0 = System.nanoTime()
    val (code, body, _) = trace.span("http.submit", op) {
      StatementClient.httpFull("POST", s"$base/v1/statement", Some(sql), Map.empty)
    }
    require(code == 200, s"POST /v1/statement -> $code: $body")
    var bytes = body.length.toLong
    val parse = if (binary) "client.parse_binary" else "client.parse_json"
    var r = trace.span(parse, op)(StatementClient.parse(body))
    var schema: StructType = null
    val rows = Vector.newBuilder[Row]
    var gets, useful, spin = 0
    var firstData = -1L
    while (r.nextUri.isDefined) {
      r.columns.foreach(schema = _)
      rows ++= r.data
      if (r.data.nonEmpty && firstData < 0) firstData = System.nanoTime() - t0
      if (r.data.isEmpty && r.columns.isEmpty) {
        spin += 1
        if (spin > 10000) throw new IllegalStateException("poll livelock")
        Thread.sleep(if (spin > 100) 10 else 0)
      }
      val uri = r.nextUri.get
      val url =
        if (binary && uri.contains("/executing/") && !uri.contains("?"))
          uri + "?binaryResults=true"
        else uri
      val (c, b) = trace.span("http.get", op)(StatementClient.http("GET", url, None))
      require(c == 200, s"GET $url -> $c: $b")
      gets += 1
      bytes += b.length
      r = trace.span(parse, op)(StatementClient.parse(b))
      if (r.data.nonEmpty || r.nextUri.isEmpty) useful += 1
    }
    r.columns.foreach(schema = _)
    rows ++= r.data
    if (r.data.nonEmpty && firstData < 0) firstData = System.nanoTime() - t0
    r.error.foreach(e => throw new RuntimeException(s"${e.errorName}: ${e.message}"))
    require(schema != null, s"no columns returned (state=${r.state})")
    HttpResult(r.id, schema, rows.result(), gets, useful, bytes, firstData)
  }
}
