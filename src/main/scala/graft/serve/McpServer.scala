package graft.serve

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** MCP (Model Context Protocol) server exposing ONE search tool — the
  * reference's serve surface (`src/server.py:19-98`: FastMCP registering a
  * configurable `search_documents` tool over stdio or streamable-http).
  *
  * The wire protocol is JSON-RPC 2.0, one message per line on stdio:
  * `initialize` → `notifications/initialized` → `tools/list` /
  * `tools/call`. Tool results carry the reference-shaped
  * `{"results": [...]}` JSON as text content. The HTTP transport accepts a
  * POST with one JSON-RPC message per request and answers with a single
  * JSON response, or — when the client's Accept negotiates ONLY
  * `text/event-stream` — the same message framed as one SSE event (both
  * modes of MCP's streamable-http; GET/DELETE get 405, this server keeps
  * no session stream).
  *
  * Transport-agnostic core: [[handle]] maps a request line to an optional
  * response line, so stdio, HTTP, and tests share the same logic.
  */
object McpServer {
  /** The server's own (latest supported) MCP protocol revision. */
  val ProtocolVersion = "2025-03-26"
  /** Versions this server implements (same wire shape); anything else gets
    * [[ProtocolVersion]] back per the MCP version-negotiation rules. */
  val SupportedProtocolVersions: Set[String] = Set("2024-11-05", "2025-03-26")

  /** The accepted `top_k` range on every serving surface (MCP, jsonl,
    * `--top-k`) — the reference's bound (`src/cli.py:279-284`). */
  val MinTopK = 1
  val MaxTopK = 100

  /** A request's `top_k` outside [[MinTopK]]..[[MaxTopK]]; the search is
    * not run. */
  final class TopKOutOfRange(k: Long) extends IllegalArgumentException(
    s"top_k must be between $MinTopK and $MaxTopK, got $k")

  def checkTopK(k: Long): Int =
    if (k < MinTopK || k > MaxTopK) throw new TopKOutOfRange(k) else k.toInt

  /** A request's `top_k` that is not an integral JSON number (`2.9`,
    * `true`, `"3"`, `[3]`, an integer past 64 bits); the search is not run. */
  final class TopKNotInteger(raw: JsonNode) extends IllegalArgumentException(
    s"top_k must be an integral JSON number, got $raw")

  /** Decode a request's `top_k`: absent or JSON `null` means `defaultK`;
    * an integral JSON number is range-checked ([[checkTopK]]); any other
    * value is a [[TopKNotInteger]]. Jackson's `asLong` would instead
    * truncate `2.9` to 2, read `true` as 1, fall back to the default for
    * `"abc"` or `[3]` and wrap 2^64+5 to 5. */
  def topKOf(node: JsonNode, defaultK: Int): Int =
    if (node == null || node.isNull) defaultK
    else if (node.isIntegralNumber && node.canConvertToLong) checkTopK(node.longValue)
    else throw new TopKNotInteger(node)

  private val mapper = new ObjectMapper()

  /** Decode one `--protocol jsonl` request line, `{"query": "...",
    * "top_k": N}`, into (query, top_k) with a JSON parser, so a query sent
    * as backslash-u escapes reaches the analyzer as the text it encodes.
    * `query` must be a JSON string; `top_k` is decoded by [[topKOf]].
    * Throws on a malformed line, a missing or non-string query or a bad
    * `top_k`; the serve loop answers those with `{"error": ...}`. */
  def parseJsonlRequest(line: String, defaultK: Int): (String, Int) = {
    val msg =
      try mapper.readTree(line)
      catch { case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new IllegalArgumentException(s"malformed JSON request: ${e.getOriginalMessage}")
      }
    val query = Option(msg.get("query")).filter(_.isTextual).map(_.asText())
      .getOrElse(throw new IllegalArgumentException("missing \"query\""))
    (query, topKOf(msg.get("top_k"), defaultK))
  }
}

final class McpServer(
    toolName: String,
    toolDescription: String,
    searchFn: (String, Int) => String,
    serverName: String = "graft-hybrid-doc-search",
    serverVersion: String = "0.2.0",
    defaultTopK: Int = 5,
    // optional second tool: force the serving session's artifact-reload
    // check (live index visibility for long-lived servers); None = tool
    // absent, wire shape unchanged
    reloadFn: Option[() => String] = None,
    reloadToolName: String = "reload_index") {

  // a `--tool-name reload_index` collision would silently shadow the search
  // tool with the reload behavior (the reload branch dispatches first)
  require(reloadFn.isEmpty || toolName != reloadToolName,
    s"search tool name '$toolName' collides with the reload tool; " +
      "rename one of them")

  private val f = JsonNodeFactory.instance

  import McpServer.{MaxTopK, MinTopK, ProtocolVersion, SupportedProtocolVersions,
    mapper, topKOf}

  private def resp(id: JsonNode): ObjectNode = {
    val o = f.objectNode()
    o.put("jsonrpc", "2.0")
    o.set[ObjectNode]("id", if (id == null) f.nullNode() else id)
    o
  }

  private def error(id: JsonNode, code: Int, message: String): String = {
    val o = resp(id)
    val e = o.putObject("error")
    e.put("code", code)
    e.put("message", message)
    mapper.writeValueAsString(o)
  }

  private def toolSpec: ObjectNode = {
    val t = f.objectNode()
    t.put("name", toolName)
    t.put("description", toolDescription)
    val schema = t.putObject("inputSchema")
    schema.put("type", "object")
    val props = schema.putObject("properties")
    val q = props.putObject("query")
    q.put("type", "string")
    q.put("description", "Search query")
    val k = props.putObject("top_k")
    k.put("type", "integer")
    k.put("description", "Number of results to return")
    k.put("default", defaultTopK)
    k.put("minimum", MinTopK)
    k.put("maximum", MaxTopK)
    schema.putArray("required").add("query")
    t
  }

  private def reloadToolSpec: ObjectNode = {
    val t = f.objectNode()
    t.put("name", reloadToolName)
    t.put("description",
      "Re-check the index directory for committed changes (appended " +
        "segments, compaction, rewrite) and reload the serving session if " +
        "it moved; returns whether a reload happened")
    val schema = t.putObject("inputSchema")
    schema.put("type", "object")
    schema.putObject("properties")
    t
  }

  /** One JSON-RPC message in, at most one response line out (notifications
    * and malformed non-id messages produce None). */
  def handle(line: String): Option[String] = {
    val msg =
      try mapper.readTree(line)
      catch { case _: Exception => return Some(error(null, -32700, "parse error")) }
    val id = msg.get("id")
    val method = Option(msg.get("method")).map(_.asText()).getOrElse("")

    // JSON-RPC 2.0: a message without an id is a NOTIFICATION — it never
    // gets a response, whatever the method (an "id":null reply is reserved
    // for parse/invalid-request errors and corrupts strict clients)
    if (id == null || id.isNull) return None

    method match {
      case _ if method.startsWith("notifications/") => None

      case "initialize" =>
        val o = resp(id)
        val r = o.putObject("result")
        // MCP handshake: accept the client's requested version only when the
        // server actually supports it; for an unknown/absent version the
        // server answers with its own latest and the client decides
        val pv = Option(msg.get("params")).flatMap(p => Option(p.get("protocolVersion")))
          .map(_.asText()).filter(SupportedProtocolVersions.contains)
          .getOrElse(ProtocolVersion)
        r.put("protocolVersion", pv)
        r.putObject("capabilities").putObject("tools")
        val si = r.putObject("serverInfo")
        si.put("name", serverName)
        si.put("version", serverVersion)
        Some(mapper.writeValueAsString(o))

      case "ping" =>
        val o = resp(id)
        o.putObject("result")
        Some(mapper.writeValueAsString(o))

      case "tools/list" =>
        val o = resp(id)
        val tools = o.putObject("result").putArray("tools")
        tools.add(toolSpec)
        if (reloadFn.isDefined) tools.add(reloadToolSpec)
        Some(mapper.writeValueAsString(o))

      case "tools/call" =>
        val params = Option(msg.get("params")).getOrElse(f.objectNode())
        val name = Option(params.get("name")).map(_.asText()).getOrElse("")
        if (name == reloadToolName && reloadFn.isDefined) {
          val o = resp(id)
          val r = o.putObject("result")
          val content = r.putArray("content")
          try {
            val c = content.addObject()
            c.put("type", "text")
            c.put("text", reloadFn.get())
            r.put("isError", false)
          } catch {
            case e: Throwable =>
              val c = content.addObject()
              c.put("type", "text")
              c.put("text", String.valueOf(e.getMessage))
              r.put("isError", true)
          }
          Some(mapper.writeValueAsString(o))
        } else if (name != toolName)
          Some(error(id, -32602, s"unknown tool: $name"))
        else {
          val args = Option(params.get("arguments")).getOrElse(f.objectNode())
          Option(args.get("query")) match {
            case None => Some(error(id, -32602, "missing required argument: query"))
            case Some(q) if !q.isTextual =>
              Some(error(id, -32602, s"argument query must be a JSON string, got $q"))
            case Some(q) =>
              val o = resp(id)
              val r = o.putObject("result")
              val content = r.putArray("content")
              try {
                val resultsJson = searchFn(q.asText(), topKOf(args.get("top_k"), defaultTopK))
                val c = content.addObject()
                c.put("type", "text")
                c.put("text", resultsJson)
                r.put("isError", false)
              } catch {
                case e: Throwable =>
                  val c = content.addObject()
                  c.put("type", "text")
                  c.put("text", String.valueOf(e.getMessage))
                  r.put("isError", true)
              }
              Some(mapper.writeValueAsString(o))
          }
        }

      case _ =>
        Some(error(id, -32601, s"method not found: $method"))
    }
  }

  /** stdio transport: one JSON-RPC message per line. */
  def runStdio(in: Iterator[String], out: java.io.PrintStream): Unit =
    in.foreach { l =>
      if (l.trim.nonEmpty) handle(l).foreach { r => out.println(r); out.flush() }
    }

  /** Minimal streamable-http transport: POST `path` with one JSON-RPC
    * message, answered with a single JSON body (202 for notifications).
    * When the client's `Accept` header negotiates `text/event-stream`,
    * the response is framed as one SSE event instead — the streaming mode
    * of MCP's streamable-http (the spec allows the server to close the
    * stream after the final response, so a one-event stream is conformant;
    * reference `src/server.py:97-103` serves the same surface via
    * FastMCP's streamable-http). A client that accepts both gets plain
    * JSON (the simpler framing carries the identical message). Returns
    * the bound server so callers can stop it. */
  def runHttp(port: Int, path: String,
      host: String = "127.0.0.1"): com.sun.net.httpserver.HttpServer = {
    // loopback by default: this serves the user's LOCAL document index —
    // binding the wildcard interface would expose it to the whole network
    // (the reference's FastMCP http default is 127.0.0.1 for the same reason)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(host, port), 0)
    server.createContext(path, new com.sun.net.httpserver.HttpHandler {
      def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        try {
          // JSON-RPC rides POST only. A spec-conformant client may GET the
          // path to open the server-notification stream (and DELETE it to
          // end a session) — this server keeps no session stream, and the
          // spec's answer for that is 405, NOT a 200 whose body is a
          // parse-error JSON-RPC message dressed as an SSE event (which a
          // strict client would ingest as a real id:null error;
          // round-20 self-review)
          if (ex.getRequestMethod != "POST") {
            ex.getResponseHeaders.set("Allow", "POST")
            ex.sendResponseHeaders(405, -1)
            return
          }
          val body = new String(ex.getRequestBody.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          // SSE only when the client's Accept negotiates event-stream and
          // NOT json. Media ranges are parsed (not substring-matched):
          // entries with q=0 are explicit rejections, and */* or
          // application/* accept json — so 'application/json;q=0,
          // text/event-stream' correctly selects SSE (round-20
          // self-review: contains() ignored q-values and wildcards).
          val accepted = Option(ex.getRequestHeaders.getFirst("Accept"))
            .getOrElse("").toLowerCase.split(",").iterator
            .map(_.trim).filter(_.nonEmpty)
            .filterNot(_.replaceAll("\\s", "")
              .matches(".*;q=0(\\.0{1,3})?(;.*)?$"))
            .map(_.takeWhile(_ != ';').trim).toSet
          // `text/*` accepts event-stream (round-20 ADVICE: a client
          // sending only 'Accept: text/*' must not get application/json
          // back); json wildcards still win the tie, matching the
          // explicit-type precedence below
          val sse = (accepted.contains("text/event-stream") ||
              accepted.contains("text/*")) &&
            !accepted.exists(a => a == "application/json" ||
              a == "application/*" || a == "*/*")
          McpServer.this.handle(body) match {
            case Some(r) =>
              val payload = if (sse) s"data: $r\n\n" else r
              val bytes = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              ex.getResponseHeaders.set("Content-Type",
                if (sse) "text/event-stream" else "application/json")
              ex.sendResponseHeaders(200, bytes.length)
              ex.getResponseBody.write(bytes)
            case None =>
              ex.sendResponseHeaders(202, -1)
          }
        } finally ex.close()
      }
    })
    server.start()
    server
  }
}
