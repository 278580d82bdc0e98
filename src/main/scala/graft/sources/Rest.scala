package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** REST/JSON payload source — the executing counterpart of the
  * reference's REST API source, which fetches a URL and applies a
  * JSONPath-ish `Filter` before building the frame
  * (parsing/data_engineering_parser.py:566-577,
  * mapping/enhanced_json_mapper.py:134-152).
  *
  * URL handling: `file://` URLs (and bare paths) read locally — this
  * build ships zero-egress, so `http(s)://` is rejected with an
  * explicit error rather than silently misread. The payload shape,
  * JSONPath navigation, and schema application are the semantics under
  * test; swapping the loader for an HTTP fetch touches nothing else.
  *
  * JSONPath subset (what the reference's Filter uses): `$` root,
  * `.field` member access, `[*]` array expansion — e.g. `$.data[*].id`.
  * Navigation compiles to native column ops (getField / explode), so a
  * large payload document set stays distributed: one input file per
  * partition, no driver-side JSON parsing.
  */
/** The fetch seam (r13 verdict item 4): URL → payload bytes, plus the
  * pagination hook. The reference performs a driver-side
  * `requests.get` (enhanced_json_mapper.py:134-152) — same stance
  * here: fetching is a driver-side, page-bounded act; PARSING stays
  * distributed (pages land as files, Spark's JSON reader takes over).
  * Every [[Rest.readVia]] call names its transport; none is implied.
  * [[Rest.FileTransport]] serves file:// only (http(s) rejected — zero
  * egress), [[HttpTransport]] is the HTTP client, and RestSpec drives
  * pagination + error handling through a stub without any network. */
trait RestTransport {

  /** Fetch one page's payload. Failures should throw — [[Rest.readVia]]
    * wraps them with the offending URL. */
  def fetch(url: String): Array[Byte]

  /** The next page's URL given the page just fetched, or None when
    * done (covers link-header / cursor-in-body styles: the payload is
    * in hand). Default: single page. */
  def nextPage(url: String, payload: Array[Byte]): Option[String] = None
}

/** The production transport: a plain `java.net.HttpURLConnection` GET
  * per page — the executing counterpart of the reference's driver-side
  * `requests.get(url)` (enhanced_json_mapper.py:134-152, 1640-1648).
  * Fetching stays a page-bounded driver-side act (same stance as the
  * reference); parsing stays distributed via [[Rest.readVia]].
  *
  *  - 2xx → the full body (chunked transfer handled by the stream).
  *  - anything else → IOException carrying status + a body snippet —
  *    readVia wraps it with the URL and page number.
  *  - pagination: RFC 8288 `Link: <u>; rel="next"` response headers,
  *    the GitHub/registry convention; the next URL resolves RELATIVE
  *    to the page it came from. APIs that paginate in the body can
  *    subclass and override [[nextPage]] (the payload is in hand).
  *  - resilience: 429 honors `Retry-After` (integer-seconds form,
  *    capped), 5xx retries on a bounded exponential backoff budget
  *    (`maxRetries`/`retryBaseMs`), 3xx `Location` redirects are
  *    followed manually with a `maxRedirects` bound (a loop throws).
  *    Other non-2xx statuses fail immediately. Redirect hygiene: a
  *    non-http(s) target refuses (IOException, never openConnection),
  *    and the configured headers — credentials — are sent ONLY to the
  *    original (scheme, host, port) origin; a cross-origin hop gets a
  *    bare request.
  *  - https: the JVM default trust store applies; `sslContext`
  *    overrides it for private CAs / test certs (RestSpec drives a
  *    live TLS handshake against a loopback HttpsServer with a
  *    self-signed cert — and pins that the DEFAULT context refuses
  *    that cert, i.e. the override is opt-in, not a global bypass).
  *
  * Instances are single-traversal (the Link cursor is per-fetch
  * state); use one transport per [[Rest.readVia]] call.
  */
class HttpTransport(headers: Map[String, String] = Map.empty,
    connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 60000,
    sslContext: Option[javax.net.ssl.SSLContext] = None,
    maxRetries: Int = 4, retryBaseMs: Long = 500,
    maxRetryAfterMs: Long = 60000, maxRedirects: Int = 5,
    sleeper: Long => Unit = Thread.sleep)
    extends RestTransport {

  @volatile private var lastNext: Option[String] = None

  /** `Link` header → the rel="next" target, if any. Tokenizes on
    * commas OUTSIDE `<...>` first: RFC 8288 allows commas inside the
    * target URL, so a naive split would truncate or miss the link. */
  private[sources] def nextLink(link: String): Option[String] = {
    val parts = collection.mutable.Buffer.empty[String]
    val cur = new StringBuilder
    var inAngle = false
    link.foreach {
      case '<' => inAngle = true; cur += '<'
      case '>' => inAngle = false; cur += '>'
      case ',' if !inAngle => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    parts.iterator.map(_.trim).collectFirst {
      case part if part.split(';').drop(1).exists(p =>
          p.trim.toLowerCase.matches("""rel\s*=\s*"?next"?""")) &&
        part.startsWith("<") && part.contains(">") =>
        part.substring(1, part.indexOf('>'))
    }
  }

  /** Retry-After header → bounded delay ms. Integer-seconds form only
    * (the common rate-limit shape); the HTTP-date form falls back to
    * the exponential backoff schedule. */
  private[sources] def retryAfterMs(h: String): Option[Long] =
    Option(h).map(_.trim).filter(_.matches("""\d{1,9}"""))
      .map(s => math.min(s.toLong * 1000L, maxRetryAfterMs))

  /** One GET without retry/redirect handling. */
  private sealed trait Outcome
  private case class Ok(body: Array[Byte], next: Option[String])
      extends Outcome
  private case class Redirected(location: String) extends Outcome
  private case class Retryable(status: Int, afterMs: Option[Long],
      snippet: String) extends Outcome

  /** Origin identity for header forwarding: (scheme, host, port). */
  private def originOf(url: String): (String, String, Int) = {
    val u = new java.net.URI(url)
    (Option(u.getScheme).getOrElse("").toLowerCase,
      Option(u.getHost).getOrElse("").toLowerCase, u.getPort)
  }

  private def fetchOnce(url: String, sendHeaders: Boolean): Outcome = {
    require(url.startsWith("http://") || url.startsWith("https://"),
      // re-checked per HOP, not just on the entry URL: a redirect to
      // file:/ftp:/jar: must refuse loudly, never reach openConnection
      s"HttpTransport: redirect left http(s): $url")
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    (conn, sslContext) match {
      case (https: javax.net.ssl.HttpsURLConnection, Some(ctx)) =>
        https.setSSLSocketFactory(ctx.getSocketFactory)
      case _ =>
    }
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setInstanceFollowRedirects(false) // bounded manual redirects
    conn.setRequestMethod("GET")
    conn.setRequestProperty("Accept", "application/json")
    // configured headers (credentials!) go only to the ORIGINAL
    // origin — a cross-origin redirect must not leak them
    if (sendHeaders)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    try {
      val status = conn.getResponseCode
      def drain(in: java.io.InputStream): Array[Byte] =
        if (in == null) Array.emptyByteArray
        else try in.readAllBytes() finally in.close()
      if (status >= 300 && status < 400 &&
          conn.getHeaderField("Location") != null) {
        drain(conn.getErrorStream); drain(conn.getInputStream)
        Redirected(new java.net.URI(url)
          .resolve(conn.getHeaderField("Location")).toString)
      } else if (status == 429 || (status >= 500 && status < 600)) {
        val err = new String(drain(conn.getErrorStream), "UTF-8").take(200)
        Retryable(status,
          retryAfterMs(conn.getHeaderField("Retry-After")), err)
      } else if (status < 200 || status >= 300) {
        val err = new String(drain(conn.getErrorStream), "UTF-8").take(200)
        throw new java.io.IOException(
          s"HTTP $status from $url${if (err.nonEmpty) s": $err" else ""}")
      } else {
        Ok(drain(conn.getInputStream),
          Option(conn.getHeaderField("Link")).flatMap(nextLink)
            .map(n => new java.net.URI(url).resolve(n).toString))
      }
    } finally conn.disconnect()
  }

  override def fetch(url: String): Array[Byte] = {
    require(url.startsWith("http://") || url.startsWith("https://"),
      s"HttpTransport: not an http(s) URL: $url")
    val origin = originOf(url)
    var target = url
    var redirects = 0
    var attempt = 0
    while (true) {
      fetchOnce(target, sendHeaders = originOf(target) == origin) match {
        case Ok(body, next) =>
          lastNext = next
          return body
        case Redirected(loc) =>
          redirects += 1
          if (redirects > maxRedirects)
            throw new java.io.IOException(
              s"HTTP redirect chain exceeded $maxRedirects from $url " +
                s"(last hop $target -> $loc)")
          if (!loc.startsWith("http://") && !loc.startsWith("https://"))
            throw new java.io.IOException(
              s"HTTP redirect to non-http(s) target '$loc' from $target")
          target = loc
        case Retryable(status, after, snippet) =>
          attempt += 1
          if (attempt > maxRetries)
            throw new java.io.IOException(
              s"HTTP $status from $target after $maxRetries retries" +
                s"${if (snippet.nonEmpty) s": $snippet" else ""}")
          // 429 honors Retry-After when present; 5xx (and 429 without
          // the header) takes bounded exponential backoff.
          val backoff = math.min(retryBaseMs << (attempt - 1),
            maxRetryAfterMs)
          sleeper(after.getOrElse(backoff))
      }
    }
    throw new IllegalStateException("unreachable") // satisfies the compiler
  }

  override def nextPage(url: String, payload: Array[Byte]): Option[String] =
    lastNext
}

object Rest {

  sealed private[sources] trait Step
  private[sources] case class Field(name: String) extends Step
  private[sources] case object Wildcard extends Step

  /** Parse the supported JSONPath subset into navigation steps. */
  private[sources] def parsePath(p: String): Seq[Step] = {
    val s = p.trim
    require(s.startsWith("$"), s"JSONPath must start with '$$': $p")
    val steps = collection.mutable.Buffer.empty[Step]
    var i = 1
    while (i < s.length) {
      s(i) match {
        case '.' =>
          val end0 = s.indexWhere(c => c == '.' || c == '[', i + 1)
          val end = if (end0 < 0) s.length else end0
          val name = s.substring(i + 1, end)
          require(name.nonEmpty, s"empty field name in JSONPath: $p")
          steps += Field(name)
          i = end
        case '[' =>
          require(i + 2 < s.length && s(i + 1) == '*' && s(i + 2) == ']',
            s"only [*] is supported in JSONPath: $p")
          steps += Wildcard
          i += 3
        case other => sys.error(s"unexpected '$other' in JSONPath: $p")
      }
    }
    steps.toSeq
  }

  private def localPath(url: String): String =
    if (url.startsWith("file:")) {
      // java.net.URI so file:///p and authority forms both resolve to an
      // absolute path — a naive stripPrefix("file://") turns
      // file://host/p into the RELATIVE path "host/p"
      val u = new java.net.URI(url)
      val auth = Option(u.getAuthority).getOrElse("")
      require(auth.isEmpty || auth.equalsIgnoreCase("localhost"),
        s"Rest: non-local file URL authority '$auth' in $url")
      Option(u.getPath).filter(_.nonEmpty)
        .getOrElse(sys.error(s"Rest: no path in file URL $url"))
    } else if (url.startsWith("http://") || url.startsWith("https://"))
      sys.error(s"Rest: http(s) fetch is not available in this build " +
        s"(zero egress) — stage the payload and use a file:// URL: $url")
    else url

  /** Whether the payload document(s) at `path` are top-level JSON
    * arrays. Peeks only the first non-whitespace byte of each file via
    * the Hadoop FS (driver-side, O(files) tiny reads — the data path
    * stays distributed); mixed array/object payload sets are an error. */
  private def topLevelIsArray(spark: SparkSession, path: String): Boolean = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.getFileStatus(hPath)
    val files =
      if (root.isDirectory)
        fs.listStatus(hPath).filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      else Array(root)
    val flags = files.map { st =>
      val in = fs.open(st.getPath)
      try {
        var c = in.read()
        while (c != -1 && Character.isWhitespace(c)) c = in.read()
        c == '['.toInt
      } finally in.close()
    }.toSeq.distinct
    require(flags.size <= 1,
      s"Rest: payload set at $path mixes top-level arrays and objects")
    flags.headOption.getOrElse(false)
  }

  /** The local-file transport: file:// URLs (and bare paths) read
    * locally; http(s) rejected with the zero-egress error. One URL =
    * one payload file (directory payload sets take the [[read]] fast
    * path, which never funnels bytes through the driver). */
  object FileTransport extends RestTransport {
    override def fetch(url: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(localPath(url)))
  }

  /** [[read]] with the fetch behind an injected [[RestTransport]]:
    * pages are fetched driver-side (bounded by `maxPages` — a cyclic
    * or runaway pagination chain is an error, not a hang), staged as
    * one file each, then parsed/navigated DISTRIBUTED by the same
    * machinery as [[read]]. Pages must share the payload shape (all
    * top-level arrays or all objects — enforced downstream). */
  def readVia(spark: SparkSession, transport: RestTransport, url: String,
      jsonPath: String = "$", schemaDdl: Option[String] = None,
      maxPages: Int = 1000): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rest")
    // the returned frame reads these files LAZILY, so they must outlive
    // this call — reclaim them at JVM exit (deleteOnExit runs in
    // reverse registration order: dir first, then its page files, so
    // the files go before the now-empty dir). A long-lived driver
    // doing many paginated reads should persist/write the result and
    // may then delete the staging dir itself.
    dir.toFile.deleteOnExit()
    var next = Option(url)
    var n = 0
    while (next.isDefined) {
      if (n >= maxPages) sys.error(
        s"Rest: pagination exceeded $maxPages pages from $url — " +
          "cyclic nextPage chain, or raise maxPages for a real one")
      val u = next.get
      val payload =
        try transport.fetch(u)
        catch { case e: Exception =>
          throw new java.io.IOException(
            s"Rest: fetch failed for $u (page ${n + 1}): ${e.getMessage}", e)
        }
      val page = dir.resolve(f"page$n%05d.json")
      java.nio.file.Files.write(page, payload)
      page.toFile.deleteOnExit()
      next = transport.nextPage(u, payload)
      n += 1
    }
    read(spark, dir.toString, jsonPath, schemaDdl)
  }

  /** Read a JSON payload at `url`, navigate `jsonPath`, return a frame
    * of the selected records. `schemaDdl` casts the result columns by
    * NAME (JSON key order is not positional). */
  def read(spark: SparkSession, url: String, jsonPath: String = "$",
      schemaDdl: Option[String] = None): DataFrame = {
    // multiLine: a REST payload is one JSON document, not JSON-lines —
    // Spark surfaces a top-level array as one row per element
    val path = localPath(url)
    val raw = spark.read.option("multiLine", "true").json(path)
    val steps0 = parsePath(jsonPath)
    // a leading [*] on a top-level-ARRAY document is identity (the
    // reader already exploded the array into rows); over a top-level
    // object it is a path error, not a silent identity
    val steps = steps0 match {
      case Wildcard +: rest =>
        if (!topLevelIsArray(spark, path))
          sys.error(s"JSONPath $jsonPath applies [*] to a top-level " +
            s"JSON object (payload at $url is not an array)")
        rest
      case other => other
    }
    var df = raw.select(struct(col("*")).as("__v"))
    steps.foreach {
      case Field(n) =>
        df = df.select(col("__v").getField(n).as("__v"))
      case Wildcard =>
        df = df.select(explode(col("__v")).as("__v"))
    }
    val expanded = df.schema.fields.head.dataType match {
      case _: StructType => df.select(col("__v.*"))
      case _: ArrayType =>
        sys.error(s"JSONPath $jsonPath ends on an array — add [*]")
      case _ => df.select(col("__v").as("value"))
    }
    schemaDdl.fold(expanded) { ddl =>
      val target = StructType.fromDDL(ddl)
      expanded.select(target.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    }
  }
}
