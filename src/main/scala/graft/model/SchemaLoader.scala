package graft.model

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Global schema-document registry + remote-loader extension point — the
  * analogue of the reference's `SetLoader` (`pkg/types/schema/schema.go:1040-1052`)
  * and its embedded metaschemas (`pkg/draft202012/meta.go:15-23`,
  * `internal/metaschema/metaschema.go:25-53`).
  *
  * Resolution order for a URI not defined inside the referring document:
  *  1. documents explicitly registered via `register` (or already loaded);
  *  2. embedded `$id` resources of any loaded document;
  *  3. the bundled draft 2020-12 metaschemas (classpath resources);
  *  4. user loader hooks, in registration order (e.g. a catalog-backed
  *     schema store or an HTTP fetcher — nothing is fetched by default).
  */
object SchemaLoader {

  /** A loader maps an absolute URI to raw schema JSON text (None = not mine). */
  type Loader = String => Option[String]

  private val loaders = new java.util.concurrent.CopyOnWriteArrayList[Loader]()
  private val docs = scala.collection.concurrent.TrieMap.empty[String, SchemaDoc]

  /** Register a loader hook consulted for unknown URIs. */
  def addLoader(l: Loader): Unit = loaders.add(l)

  private val httpLoaderEnabled = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Drop all loader hooks and loaded (non-bundled) documents — test hygiene. */
  def reset(): Unit = { loaders.clear(); docs.clear(); httpLoaderEnabled.set(false) }

  /** Largest schema document the HTTP loader reads: a body declared or
    * found to be longer is an unresolved ref, read no further than one byte
    * past this bound. */
  private[graft] val HttpMaxBytes: Int = 8 << 20
  /** Redirects the HTTP loader follows for one URI before it gives up. */
  private[graft] val HttpMaxRedirects = 5

  private def scheme(u: java.net.URI): Option[String] = Option(u.getScheme).map(_.toLowerCase)

  /** Whether the HTTP loader follows a redirect from `from` to `to`: the
    * target's scheme must be allowed and, as under the JDK's
    * `Redirect.NORMAL`, an https document never redirects to plain http. */
  private[graft] def followsRedirect(from: java.net.URI, to: java.net.URI,
                                     allowedSchemes: Set[String]): Boolean =
    scheme(to).exists(allowedSchemes.contains) &&
      !(scheme(from).contains("https") && scheme(to).contains("http"))

  /** Register the network `$ref` fetcher — the analogue of the reference's
    * default URL loader (`pkg/types/schema/schema.go:1045-1052`: the loader
    * receives the absolute retrieval URI and returns the document text; a
    * failed fetch surfaces as an unresolved-ref compile error, never a
    * partial schema). OFF unless a caller opts in: schema compilation must
    * not reach the network by default — a 1000-executor job resolving refs
    * mid-flight would hammer whatever host the schema names. Production use
    * should pre-[[register]] documents or front this with a catalog;
    * `allowedSchemes` keeps surprise `file:`/`jar:` URIs out, redirect
    * targets included, and an https ref is never redirected to http. A body over [[HttpMaxBytes]] or a chain of more than
    * [[HttpMaxRedirects]] redirects is an unresolved ref. */
  def enableHttpLoader(timeoutMs: Int = 5000,
                       allowedSchemes: Set[String] = Set("http", "https")): Unit = {
    import scala.jdk.OptionConverters._
    // idempotent: a second enable (two components both opting in) must not
    // stack loader closures — that would fetch every unresolvable URI once
    // per registration and leak an HttpClient selector thread per call
    if (!httpLoaderEnabled.compareAndSet(false, true)) return
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs.toLong))
      .followRedirects(java.net.http.HttpClient.Redirect.NEVER)
      .build()
    def fetch(u: java.net.URI, redirectsLeft: Int): Option[String] = {
      val req = java.net.http.HttpRequest.newBuilder(u)
        .timeout(java.time.Duration.ofMillis(timeoutMs.toLong)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofInputStream())
      val body = resp.body()
      try resp.statusCode() / 100 match {
        case 2 =>
          val declared = resp.headers().firstValueAsLong("Content-Length").orElse(0L)
          val bytes = if (declared > HttpMaxBytes) Array.emptyByteArray
            else body.readNBytes(HttpMaxBytes + 1)
          if (declared > HttpMaxBytes || bytes.length > HttpMaxBytes) None
          else Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        case 3 if redirectsLeft > 0 =>
          resp.headers().firstValue("Location").toScala
            .map(u.resolve).filter(followsRedirect(u, _, allowedSchemes))
            .flatMap(fetch(_, redirectsLeft - 1))
        case _ => None
      } finally body.close() // an unread remainder is dropped with the connection
    }
    addLoader { uri =>
      try {
        val u = new java.net.URI(uri)
        if (scheme(u).exists(allowedSchemes.contains)) fetch(u, HttpMaxRedirects) else None
      } catch {
        case _: java.net.URISyntaxException | _: IllegalArgumentException => None
        case _: java.io.IOException => None
        case _: InterruptedException =>
          // preserve the cancellation signal — swallowing it would turn a
          // job cancellation into a misleading unresolved-ref error AND
          // clear the flag for every later blocking call on this thread
          Thread.currentThread().interrupt(); None
      }
    }
  }

  /** Pre-register a schema document under its retrieval URI. */
  def register(uri: String, jsonText: String): SchemaDoc = {
    val doc = SchemaParser.parseJValue(JsonMethods.parse(jsonText), uri)
    docs.put(uri, doc)
    doc
  }

  private val metaBase = "https://json-schema.org/draft/2020-12/"
  private val bundled: Map[String, String] = Map(
    s"${metaBase}schema" -> "/metaschema/schema.json",
    s"${metaBase}meta/core" -> "/metaschema/core.json",
    s"${metaBase}meta/applicator" -> "/metaschema/applicator.json",
    s"${metaBase}meta/unevaluated" -> "/metaschema/unevaluated.json",
    s"${metaBase}meta/validation" -> "/metaschema/validation.json",
    s"${metaBase}meta/meta-data" -> "/metaschema/meta-data.json",
    s"${metaBase}meta/format-annotation" -> "/metaschema/format-annotation.json",
    s"${metaBase}meta/content" -> "/metaschema/content.json")

  private def readResource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"bundled schema resource missing: $path")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def docFor(uri: String): Option[SchemaDoc] =
    docs.get(uri)
      .orElse(bundled.get(uri).map(p => register(uri, readResource(p))))
      .orElse {
        var found: Option[SchemaDoc] = None
        val it = loaders.iterator()
        while (found.isEmpty && it.hasNext) found = it.next()(uri).map(register(uri, _))
        found
      }

  /** Resolve a URI to (owning document, resource subtree, resource base). */
  def resolve(uri: String): Option[(SchemaDoc, JValue, String)] =
    docFor(uri).map(d => (d, d.rawRoot, d.baseUri))
      .orElse(docs.values.find(_.resources.contains(uri))
        .map(d => (d, d.resources(uri), uri)))
}
