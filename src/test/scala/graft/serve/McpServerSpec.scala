package graft.serve

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Schemas.Setting
import graft.index.IndexData

/** Scripted MCP client session: initialize → initialized → tools/list →
  * tools/call, asserting the reference-shaped `{"results": [...]}` payload
  * (`src/server.py:19-98`). */
class McpServerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def stub = new McpServer(
    "search_documents", "Search for local documents",
    (q, k) => s"""{"results":[{"doc_id":"d-$q","top_k":$k}]}""")

  test("initialize handshake reports tool capability and server info") {
    val r = stub.handle(
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2025-03-26","capabilities":{}}}""").get
    assert(r.contains(""""id":1"""), r)
    assert(r.contains(""""protocolVersion":"2025-03-26""""), r)
    assert(r.contains(""""tools""""), r)
    assert(r.contains("graft-hybrid-doc-search"), r)
    // the initialized notification gets no response
    assert(stub.handle("""{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
  }

  test("initialize negotiates the protocol version instead of echoing blindly") {
    // a supported older version is accepted as-is
    val old = stub.handle(
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2024-11-05"}}""").get
    assert(old.contains(""""protocolVersion":"2024-11-05""""), old)
    // an unknown version gets the server's own latest, not an echo
    val future = stub.handle(
      """{"jsonrpc":"2.0","id":2,"method":"initialize","params":{"protocolVersion":"2099-01-01"}}""").get
    assert(future.contains(s""""protocolVersion":"${McpServer.ProtocolVersion}""""), future)
    // absent version: same fallback
    val none = stub.handle("""{"jsonrpc":"2.0","id":3,"method":"initialize","params":{}}""").get
    assert(none.contains(s""""protocolVersion":"${McpServer.ProtocolVersion}""""), none)
  }

  test("tools/list exposes the configured tool with its input schema") {
    val named = new McpServer("grep_docs", "Find things", (_, _) => "{}")
    val r = named.handle("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""").get
    assert(r.contains(""""name":"grep_docs""""), r)
    assert(r.contains(""""description":"Find things""""), r)
    assert(r.contains(""""required":["query"]"""), r)
    assert(r.contains(""""top_k""""), r)
  }

  test("tools/call returns results text content; bad calls get JSON-RPC errors") {
    val ok = stub.handle(
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"search_documents","arguments":{"query":"spark","top_k":3}}}""").get
    assert(ok.contains(""""isError":false"""), ok)
    assert(ok.contains("""d-spark"""), ok)
    assert(ok.contains("""\"top_k\":3"""), ok)

    val wrongTool = stub.handle(
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{"name":"nope","arguments":{"query":"x"}}}""").get
    assert(wrongTool.contains(""""code":-32602"""), wrongTool)

    val noQuery = stub.handle(
      """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"search_documents","arguments":{}}}""").get
    assert(noQuery.contains(""""code":-32602"""), noQuery)
    // a query that is not a JSON string is an invalid argument, not a
    // search for "" (or for the text "null")
    for (q <- Seq("{}", """["a"]""", "null", "7", "true")) {
      val bad = stub.handle(
        s"""{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"search_documents","arguments":{"query":$q}}}""").get
      assert(bad.contains(""""code":-32602""") && bad.contains("query must be a JSON string"), bad)
      assert(!bad.contains("d-"), bad)
    }

    val unknown = stub.handle("""{"jsonrpc":"2.0","id":6,"method":"bogus/method"}""").get
    assert(unknown.contains(""""code":-32601"""), unknown)

    val garbage = stub.handle("""{not json""").get
    assert(garbage.contains(""""code":-32700"""), garbage)
  }

  test("id-less messages are notifications: no response, even for known methods") {
    assert(stub.handle("""{"jsonrpc":"2.0","method":"ping"}""").isEmpty)
    assert(stub.handle("""{"jsonrpc":"2.0","method":"initialize","params":{}}""").isEmpty)
    assert(stub.handle("""{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
    // with an id, the same methods respond
    assert(stub.handle("""{"jsonrpc":"2.0","id":9,"method":"ping"}""").exists(_.contains("\"id\":9")))
  }

  test("configured default top_k reaches the schema and the call fallback") {
    val k7 = new McpServer("t", "d",
      (_, k) => s"""{"results":[{"k":$k}]}""", defaultTopK = 7)
    assert(k7.handle("""{"jsonrpc":"2.0","id":1,"method":"tools/list"}""")
      .exists(_.contains("\"default\":7")))
    val call = k7.handle(
      """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"t","arguments":{"query":"x"}}}""")
    assert(call.exists(_.contains("\\\"k\\\":7")))
  }

  test("top_k outside 1..100 is a named isError result and runs no search; " +
      "the schema states the range") {
    var searches = 0
    val counting = new McpServer("t", "d", (_, k) => { searches += 1; s"""{"k":$k}""" })
    for (k <- Seq("0", "101", "-3", "10000000000")) {
      val r = counting.handle(
        s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"t","arguments":{"query":"x","top_k":$k}}}""").get
      assert(r.contains(""""isError":true"""), r)
      assert(r.contains(s"top_k must be between 1 and 100, got $k"), r)
    }
    // anything but an integral JSON number is a named error too — never
    // truncated (2.9), coerced (true), defaulted ("abc", [3]) or wrapped
    // (2^64+5)
    for (k <- Seq("2.9", "true", "\"abc\"", "\"3\"", "[3]", "{}", "18446744073709551621")) {
      val r = counting.handle(
        s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"t","arguments":{"query":"x","top_k":$k}}}""").get
      assert(r.contains(""""isError":true"""), r)
      assert(r.contains("top_k must be an integral JSON number"), r)
    }
    assert(searches == 0)
    // JSON null means the default
    val dflt = counting.handle(
      """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"t","arguments":{"query":"x","top_k":null}}}""").get
    assert(dflt.contains(""""isError":false""") && dflt.contains("\\\"k\\\":5"), dflt)
    searches = 0
    for (k <- Seq(1, 100)) {
      val r = counting.handle(
        s"""{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"t","arguments":{"query":"x","top_k":$k}}}""").get
      assert(r.contains(""""isError":false"""), r)
    }
    assert(searches == 2)
    val schema = counting.handle("""{"jsonrpc":"2.0","id":3,"method":"tools/list"}""").get
    assert(schema.contains(""""minimum":1"""), schema)
    assert(schema.contains(""""maximum":100"""), schema)
  }

  test("jsonl requests decode as JSON: escapes, range-checked top_k, named errors") {
    val ja = "全文検索"
    val escaped = ja.flatMap(c => "\\" + "u" + "%04x".format(c.toInt))
    assert(McpServer.parseJsonlRequest(s"""{"query":"$escaped","top_k":3}""", 5) == (ja -> 3))
    assert(McpServer.parseJsonlRequest(s"""{"query":"$ja"}""", 5) == (ja -> 5))
    assert(McpServer.parseJsonlRequest("""{"top_k":2,"query":"a \"b\" \\ c\n"}""", 5) ==
      ("a \"b\" \\ c\n" -> 2))
    for (k <- Seq(0, 101)) {
      val e = intercept[McpServer.TopKOutOfRange](
        McpServer.parseJsonlRequest(s"""{"query":"x","top_k":$k}""", 5))
      assert(e.getMessage == s"top_k must be between 1 and 100, got $k")
    }
    for (k <- Seq("2.9", "true", "\"abc\"", "[3]", "18446744073709551621")) {
      val e = intercept[McpServer.TopKNotInteger](
        McpServer.parseJsonlRequest(s"""{"query":"x","top_k":$k}""", 5))
      assert(e.getMessage.startsWith("top_k must be an integral JSON number, got "), e.getMessage)
    }
    assert(McpServer.parseJsonlRequest("""{"query":"x","top_k":null}""", 5) == ("x" -> 5))
    val bad = intercept[IllegalArgumentException](McpServer.parseJsonlRequest("{not json", 5))
    assert(bad.getMessage.startsWith("malformed JSON request"), bad.getMessage)
    val missing = intercept[IllegalArgumentException](
      McpServer.parseJsonlRequest("""{"top_k":3}""", 5))
    assert(missing.getMessage == "missing \"query\"")
    for (q <- Seq("{}", """["a"]""", "null")) {
      val e = intercept[IllegalArgumentException](
        McpServer.parseJsonlRequest(s"""{"query":$q,"top_k":3}""", 5))
      assert(e.getMessage == "missing \"query\"", e.getMessage)
    }
  }

  test("a throwing search surfaces as isError, not a dead server") {
    val boom = new McpServer("t", "d", (_, _) => throw new RuntimeException("no index"))
    val r = boom.handle(
      """{"jsonrpc":"2.0","id":7,"method":"tools/call","params":{"name":"t","arguments":{"query":"x"}}}""").get
    assert(r.contains(""""isError":true"""), r)
    assert(r.contains("no index"), r)
  }

  test("end-to-end session against a real index returns reference-shaped results") {
    import spark.implicits._
    val corpus = Seq(
      ("d1", "spark runs fast", Seq("spark", "runs", "fast"), Array(1f, 0f, 0f)),
      ("d2", "duck db database", Seq("duck", "db", "database"), Array(0f, 1f, 0f)))
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(1))
    val index = IndexData.fromDocuments(corpus,
      Seq(Setting("embedding_model", "hashing"), Setting("embedding_dim", "3")).toDF())
    val server = new McpServer(
      "search_documents", "Search for local documents",
      (q, k) => {
        val hits = graft.search.HybridSearch.search(index, q,
          analyzer = graft.analyze.WhitespaceAnalyzer,
          embedder = Some(new graft.embed.HashingEmbedder(3)),
          reranker = None,
          opts = graft.search.HybridSearch.Options(k = k)).collect()
        s"""{"results":[${hits.map(r => s"""{"doc_id":"${r.getAs[String]("doc_id")}"}""").mkString(",")}]}"""
      })

    val out = new java.io.ByteArrayOutputStream()
    server.runStdio(Iterator(
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""",
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""",
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"search_documents","arguments":{"query":"spark"}}}"""),
      new java.io.PrintStream(out, true, "UTF-8"))
    val lines = out.toString("UTF-8").trim.split("\n").toSeq
    assert(lines.length == 3, lines) // notification produced no line
    assert(lines(2).contains("""\"results\""""), lines(2))
    assert(lines(2).contains("d1"), lines(2))
  }

  test("http transport answers a POSTed JSON-RPC message") {
    val server = stub.runHttp(0, "/mcp") // port 0 = ephemeral
    try {
      val port = server.getAddress.getPort
      val url = java.net.URI.create(s"http://127.0.0.1:$port/mcp").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"jsonrpc":"2.0","id":9,"method":"tools/list"}""".getBytes("UTF-8"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(conn.getResponseCode == 200)
      assert(body.contains(""""name":"search_documents""""), body)
    } finally server.stop(0)
  }

  test("http transport frames the response as SSE for an event-stream-only " +
      "Accept, and stays plain JSON when the client accepts both") {
    val server = stub.runHttp(0, "/mcp")
    try {
      val port = server.getAddress.getPort
      val url = java.net.URI.create(s"http://127.0.0.1:$port/mcp").toURL
      def post(accept: Option[String]): (String, String) = {
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        accept.foreach(conn.setRequestProperty("Accept", _))
        conn.getOutputStream.write(
          """{"jsonrpc":"2.0","id":10,"method":"tools/list"}""".getBytes("UTF-8"))
        assert(conn.getResponseCode == 200)
        (Option(conn.getContentType).getOrElse(""),
          new String(conn.getInputStream.readAllBytes(), "UTF-8"))
      }
      // streaming-only client: one `data: <json>` event, SSE content type
      val (sseCt, sseBody) = post(Some("text/event-stream"))
      assert(sseCt.startsWith("text/event-stream"), sseCt)
      assert(sseBody.startsWith("data: {"), sseBody)
      assert(sseBody.endsWith("\n\n"), "SSE event must end with a blank line")
      assert(sseBody.contains(""""name":"search_documents""""), sseBody)
      // dual-accept client (the MCP spec's required Accept for POST):
      // plain JSON carries the identical message in the simpler framing
      val (jsonCt, jsonBody) = post(Some("application/json, text/event-stream"))
      assert(jsonCt.startsWith("application/json"), jsonCt)
      assert(jsonBody.startsWith("{"), jsonBody)
      assert(jsonBody.trim == sseBody.stripPrefix("data: ").trim,
        "SSE and JSON framings must carry the identical JSON-RPC message")
      // q=0 is an explicit REJECTION, not an acceptance: a client that
      // rules out json while accepting event-stream gets the SSE frame
      val (q0Ct, _) = post(Some("application/json;q=0, text/event-stream"))
      assert(q0Ct.startsWith("text/event-stream"), q0Ct)
      // wildcard accepts json (the simpler framing)
      val (wildCt, _) = post(Some("*/*"))
      assert(wildCt.startsWith("application/json"), wildCt)
    } finally server.stop(0)
  }

  test("http transport answers non-POST with 405 (no server-notification " +
      "stream to GET, no session to DELETE) instead of an SSE-framed " +
      "parse error a strict client would ingest") {
    val server = stub.runHttp(0, "/mcp")
    try {
      val port = server.getAddress.getPort
      val url = java.net.URI.create(s"http://127.0.0.1:$port/mcp").toURL
      for (method <- Seq("GET", "DELETE")) {
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod(method)
        conn.setRequestProperty("Accept", "text/event-stream")
        assert(conn.getResponseCode == 405, s"$method must be rejected")
        assert(conn.getHeaderField("Allow") == "POST")
      }
    } finally server.stop(0)
  }
}
