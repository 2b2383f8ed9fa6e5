package graft.icelite

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import java.net.{InetAddress, InetSocketAddress, URI, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

/** The Iceberg REST catalog protocol — the catalog role the reference
  * fills with Nessie (`bot_iceberg_loader.py:245-262`: PyIceberg
  * `RestCatalog("nessie", uri=..., warehouse=...)`), implemented from the
  * public REST spec (apache/iceberg `rest-catalog-open-api.yaml`): a
  * catalog is a network service mapping `(namespace, table)` to a
  * `metadata-location` pointer, so many writers on many machines share one
  * source of truth that a filesystem rename can't provide on object
  * stores.
  *
  * Endpoints implemented (spec paths, auth-free):
  *
  *   - `GET  /v1/config`                                  → warehouse override
  *   - `GET|POST /v1/namespaces`                          → list / create
  *   - `GET|DELETE /v1/namespaces/{ns}`                   → exists / drop
  *   - `GET  /v1/namespaces/{ns}/tables`                  → list identifiers
  *   - `POST /v1/namespaces/{ns}/register`                → adopt existing table
  *   - `GET|HEAD|DELETE /v1/namespaces/{ns}/tables/{t}`   → load / exists / drop
  *   - `POST /v1/namespaces/{ns}/tables/{t}`              → commit (CAS pointer swap)
  *
  * The commit body is a documented simplification of the spec's
  * `commitTable` (whose `updates` list assumes the server materializes
  * standard Iceberg metadata): `{"metadata-location": new,
  * "expected-metadata-location": base}` with the spec's 409
  * `CommitFailedException` on a lost race — the same optimistic-concurrency
  * primitive, applied to the pointer the catalog owns. Losers re-read and
  * retry, exactly as Iceberg writers do against Nessie.
  *
  * At 100 TB the catalog exchanges only pointers — table size never
  * appears on this wire; planning stays in the manifest layer.
  */
object RestProtocol {
  final case class TableInfo(metadataLocation: String)

  /** Spec error envelope. */
  private[icelite] def errorJson(msg: String, errType: String, code: Int): String =
    JsonMethods.compact(JsonMethods.render(
      "error" -> (("message" -> msg) ~ ("type" -> errType) ~ ("code" -> code))))

  private[icelite] def enc(s: String): String =
    URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private[icelite] def extractString(j: JValue, field: String): Option[String] =
    (j \ field) match { case JString(s) => Some(s); case _ => None }
}

/** The loopback JDK `HttpServer` every in-process graft service runs on.
  * The JDK server sends a response's headers and its body as two TCP
  * segments; with Nagle's algorithm on, the body then waits for the
  * client's delayed ACK, about 40 ms per exchange that has a body.
  * `sun.net.httpserver.nodelay` sets TCP_NODELAY on the server's
  * connections. The JDK reads that property once per JVM, when the first
  * server is created, so it is set here, before any graft server exists;
  * a value already set for the JVM is left alone. */
object LoopbackHttp {
  private val NoDelay = "sun.net.httpserver.nodelay"

  def server(): HttpServer = {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  }
}

/** Embeddable loopback REST catalog server (JDK HttpServer, no deps).
  * State is the `(ns, table) -> metadata-location` registry; data and
  * metadata files live wherever the writers put them (the shared
  * warehouse), as with a real Nessie deployment.
  *
  * It is created through [[LoopbackHttp.server]], which turns on
  * `sun.net.httpserver.nodelay` for the whole JVM: without it every
  * exchange with a body (each commit and `loadTable`) stalls about 40 ms
  * on a delayed ACK. That holds for every JDK `HttpServer` the process
  * creates afterwards, not only this one. */
final class RestCatalogServer(val warehouse: String,
    requiredToken: Option[String] = None) {
  import RestProtocol._

  private val namespaces = ConcurrentHashMap.newKeySet[String]()
  private val tables     = new ConcurrentHashMap[(String, String), String]() // -> metadata-location

  private val server: HttpServer = LoopbackHttp.server()

  def port: Int   = server.getAddress.getPort
  def uri: String = s"http://127.0.0.1:$port"

  def start(): RestCatalogServer = {
    server.createContext("/v1", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // current-thread dispatch; tests drive it serially
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)

  // ---------------------------------------------------------------- routing

  private def handle(ex: HttpExchange): Unit = {
    try {
      // bearer-token gate: a secured deployment rejects EVERY route —
      // config included — without the exact token (spec 401 envelope)
      val authorized = requiredToken.forall(t =>
        Option(ex.getRequestHeaders.getFirst("Authorization")).contains(s"Bearer $t"))
      val segs = ex.getRequestURI.getPath.stripPrefix("/v1").stripPrefix("/").split("/").toList
        .filter(_.nonEmpty).map(URLDecoder.decode(_, "UTF-8"))
      val method = ex.getRequestMethod
      if (!authorized)
        send(ex, 401,
          errorJson("missing or invalid bearer token", "NotAuthorizedException", 401))
      else (method, segs) match {
        case ("GET", "config" :: Nil)      => config(ex)
        case ("GET", "namespaces" :: Nil)  => listNamespaces(ex)
        case ("POST", "namespaces" :: Nil) => createNamespace(ex)
        case ("GET", "namespaces" :: ns :: Nil)    => namespaceExists(ex, ns)
        case ("DELETE", "namespaces" :: ns :: Nil) => dropNamespace(ex, ns)
        case ("GET", "namespaces" :: ns :: "tables" :: Nil)  => listTables(ex, ns)
        case ("POST", "namespaces" :: ns :: "register" :: Nil) => register(ex, ns)
        case ("GET", "namespaces" :: ns :: "tables" :: t :: Nil)    => loadTable(ex, ns, t)
        case ("HEAD", "namespaces" :: ns :: "tables" :: t :: Nil)   => tableExists(ex, ns, t)
        case ("DELETE", "namespaces" :: ns :: "tables" :: t :: Nil) => dropTable(ex, ns, t)
        case ("POST", "namespaces" :: ns :: "tables" :: t :: Nil)   => commitTable(ex, ns, t)
        case _ => send(ex, 404, errorJson(s"no route: $method ${ex.getRequestURI.getPath}",
          "NoSuchEndpointException", 404))
      }
    } catch {
      case e: Exception =>
        send(ex, 500, errorJson(String.valueOf(e.getMessage), "InternalServerError", 500))
    } finally ex.close()
  }

  // --------------------------------------------------------------- handlers

  private def config(ex: HttpExchange): Unit =
    send(ex, 200, JsonMethods.compact(JsonMethods.render(
      ("defaults" -> JObject()) ~ ("overrides" -> ("warehouse" -> warehouse)))))

  private def listNamespaces(ex: HttpExchange): Unit = {
    import scala.jdk.CollectionConverters._
    val nss: List[List[String]] = namespaces.asScala.toList.sorted.map(List(_))
    send(ex, 200, JsonMethods.compact(JsonMethods.render("namespaces" -> nss)))
  }

  private def createNamespace(ex: HttpExchange): Unit = {
    val ns = (parseBody(ex) \ "namespace") match {
      case JArray(parts) => parts.collect { case JString(s) => s }.mkString(".")
      case JString(s)    => s
      case _             => return send(ex, 400, errorJson("missing namespace", "BadRequestException", 400))
    }
    if (!namespaces.add(ns))
      send(ex, 409, errorJson(s"namespace $ns exists", "AlreadyExistsException", 409))
    else
      send(ex, 200, JsonMethods.compact(JsonMethods.render(
        ("namespace" -> List(ns)) ~ ("properties" -> JObject()))))
  }

  private def namespaceExists(ex: HttpExchange, ns: String): Unit =
    if (namespaces.contains(ns))
      send(ex, 200, JsonMethods.compact(JsonMethods.render(
        ("namespace" -> List(ns)) ~ ("properties" -> JObject()))))
    else send(ex, 404, errorJson(s"no namespace $ns", "NoSuchNamespaceException", 404))

  private def dropNamespace(ex: HttpExchange, ns: String): Unit = {
    import scala.jdk.CollectionConverters._
    if (tables.keySet.asScala.exists(_._1 == ns))
      send(ex, 409, errorJson(s"namespace $ns not empty", "NamespaceNotEmptyException", 409))
    else if (namespaces.remove(ns)) send(ex, 204, "")
    else send(ex, 404, errorJson(s"no namespace $ns", "NoSuchNamespaceException", 404))
  }

  private def listTables(ex: HttpExchange, ns: String): Unit = {
    import scala.jdk.CollectionConverters._
    val ids = tables.keySet.asScala.toList.filter(_._1 == ns).map(_._2).sorted.map { t =>
      ("namespace" -> List(ns)) ~ ("name" -> t)
    }
    send(ex, 200, JsonMethods.compact(JsonMethods.render("identifiers" -> ids)))
  }

  /** Spec `registerTable`: adopt a table that already exists in storage by
    * its metadata location (PyIceberg `catalog.register_table`). */
  private def register(ex: HttpExchange, ns: String): Unit = {
    if (!namespaces.contains(ns))
      return send(ex, 404, errorJson(s"no namespace $ns", "NoSuchNamespaceException", 404))
    val body = parseBody(ex)
    (extractString(body, "name"), extractString(body, "metadata-location")) match {
      case (Some(name), Some(loc)) =>
        if (tables.putIfAbsent((ns, name), loc) != null)
          send(ex, 409, errorJson(s"table $ns.$name exists", "AlreadyExistsException", 409))
        else loadTableResult(ex, loc)
      case _ => send(ex, 400, errorJson("name and metadata-location required", "BadRequestException", 400))
    }
  }

  private def loadTable(ex: HttpExchange, ns: String, t: String): Unit =
    tables.get((ns, t)) match {
      case null => send(ex, 404, errorJson(s"no table $ns.$t", "NoSuchTableException", 404))
      case loc  => loadTableResult(ex, loc)
    }

  /** LoadTableResult: the pointer plus (when readable) the metadata
    * document itself, as the spec returns. */
  private def loadTableResult(ex: HttpExchange, loc: String): Unit = {
    val metadata: JValue =
      try {
        val p = java.nio.file.Paths.get(new Path(loc).toUri.getPath)
        JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), StandardCharsets.UTF_8))
      } catch { case _: Exception => JNothing }
    send(ex, 200, JsonMethods.compact(JsonMethods.render(
      ("metadata-location" -> loc) ~ ("metadata" -> metadata))))
  }

  private def tableExists(ex: HttpExchange, ns: String, t: String): Unit =
    send(ex, if (tables.containsKey((ns, t))) 204 else 404, "")

  private def dropTable(ex: HttpExchange, ns: String, t: String): Unit =
    if (tables.remove((ns, t)) != null) send(ex, 204, "")
    else send(ex, 404, errorJson(s"no table $ns.$t", "NoSuchTableException", 404))

  /** CAS pointer swap (see class doc): atomically replace the pointer iff
    * the caller's base is still current; a lost race is the spec's 409
    * CommitFailedException, and the loser retries from the new pointer. */
  private def commitTable(ex: HttpExchange, ns: String, t: String): Unit = {
    val body = parseBody(ex)
    (extractString(body, "metadata-location"), extractString(body, "expected-metadata-location")) match {
      case (Some(next), Some(expected)) =>
        tables.get((ns, t)) match {
          case null => send(ex, 404, errorJson(s"no table $ns.$t", "NoSuchTableException", 404))
          case _ =>
            if (tables.replace((ns, t), expected, next))
              send(ex, 200, JsonMethods.compact(JsonMethods.render("metadata-location" -> next)))
            else
              send(ex, 409, errorJson(
                s"base metadata location is stale for $ns.$t", "CommitFailedException", 409))
        }
      case _ =>
        send(ex, 400, errorJson("metadata-location and expected-metadata-location required",
          "BadRequestException", 400))
    }
  }

  // ------------------------------------------------------------------ plumbing

  private def parseBody(ex: HttpExchange): JValue = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) JNothing else JsonMethods.parse(new String(bytes, StandardCharsets.UTF_8))
  }

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    if (code == 204 || ex.getRequestMethod == "HEAD" || bytes.isEmpty) {
      ex.sendResponseHeaders(code, -1)
    } else {
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      val out = ex.getResponseBody
      try out.write(bytes) finally out.close()
    }
  }
}

/** REST catalog client: the same `IceCatalog` surface as `FsCatalog`, but
  * every lookup/registration is an HTTP exchange with the catalog service —
  * table creation writes data to the warehouse directly (data never moves
  * through the catalog) and then registers the metadata pointer, the
  * PyIceberg RestCatalog flow the reference configures. */
final class RestCatalog(spark: SparkSession, val uri: String,
    token: Option[String] = None) extends IceCatalog {
  import RestProtocol._

  private val http = HttpClient.newHttpClient()

  /** Every request carries the bearer token when one is configured — the
    * Iceberg REST catalog's `token` property (what a secured Nessie/REST
    * deployment checks before any pointer read or CAS). */
  private def builder(url: String): HttpRequest.Builder = {
    val b = HttpRequest.newBuilder(URI.create(url))
    token.fold(b)(t => b.header("Authorization", s"Bearer $t"))
  }

  /** Warehouse root advertised by the service (`GET /v1/config`). */
  lazy val warehouse: String =
    extractString(get(s"$uri/v1/config")._2 \ "overrides", "warehouse")
      .getOrElse(throw new IllegalStateException("catalog advertises no warehouse"))

  // -------------------------------------------------------------- namespaces

  /** Idempotent like the trait contract: an AlreadyExists 409 is success. */
  override def createNamespace(ns: String): Unit = {
    val (code, _) = post(s"$uri/v1/namespaces",
      JsonMethods.compact(JsonMethods.render("namespace" -> List(ns))))
    if (code != 200 && code != 409)
      throw new IllegalStateException(s"createNamespace $ns -> HTTP $code")
  }

  override def listNamespaces(): Seq[String] = {
    val (_, j) = get(s"$uri/v1/namespaces")
    (j \ "namespaces") match {
      case JArray(nss) => nss.collect { case JArray(parts) =>
        parts.collect { case JString(s) => s }.mkString(".")
      }
      case _ => Seq.empty
    }
  }

  override def listTables(ns: String): Seq[String] = {
    val (code, j) = get(s"$uri/v1/namespaces/${enc(ns)}/tables")
    if (code != 200) Seq.empty
    else (j \ "identifiers") match {
      case JArray(ids) => ids.flatMap(id => extractString(id, "name"))
      case _           => Seq.empty
    }
  }

  override def tableExists(ns: String, table: String): Boolean =
    head(s"$uri/v1/namespaces/${enc(ns)}/tables/${enc(table)}") == 204

  // ------------------------------------------------------------------ tables

  /** Write the table into the advertised warehouse, then register its
    * metadata pointer (drop-and-recreate semantics, as the reference's
    * loader: `bot_iceberg_loader.py:284-316`). */
  override def createOrReplaceTable(ns: String, table: String, df: DataFrame,
      partitionColumns: Seq[String] = Nil): IceTable = {
    createNamespace(ns)
    dropTable(ns, table)
    val loc = new Path(new Path(warehouse, ns),
      s"${table}_${java.util.UUID.randomUUID().toString.take(8)}")
    val t = IceTable.create(spark, loc.toString, table, ns, df.schema, partitionColumns).append(df)
    registerTable(ns, table, t.metadataLocation)
    t
  }

  /** Spec `registerTable`: adopt an existing table by metadata location. */
  def registerTable(ns: String, table: String, metadataLocation: String): Unit = {
    val (code, j) = post(s"$uri/v1/namespaces/${enc(ns)}/register",
      JsonMethods.compact(JsonMethods.render(
        ("name" -> table) ~ ("metadata-location" -> metadataLocation))))
    if (code != 200)
      throw new IllegalStateException(s"register $ns.$table -> HTTP $code: ${errMsg(j)}")
  }

  override def loadTable(ns: String, table: String): IceTable = loadTableAt(ns, table)._1

  /** The table with the catalog pointer it was loaded through: a writer
    * hands that pointer to [[advancePointer]] as the base of its CAS. */
  def loadTableAt(ns: String, table: String): (IceTable, String) = {
    val pointer = metadataLocation(ns, table)
    (IceTable.load(spark, tableLocation(pointer)), pointer)
  }

  override def metadataLocation(ns: String, table: String): String = {
    val (code, j) = get(s"$uri/v1/namespaces/${enc(ns)}/tables/${enc(table)}")
    if (code == 404) throw new NoSuchElementException(s"table $ns.$table not found at $uri")
    extractString(j, "metadata-location")
      .getOrElse(throw new IllegalStateException(s"no metadata-location for $ns.$table"))
  }

  override def dropTable(ns: String, table: String): Boolean =
    delete(s"$uri/v1/namespaces/${enc(ns)}/tables/${enc(table)}") == 204

  /** Append through the Iceberg client's bounded refresh-and-retry commit
    * loop (real writers never surface a single lost CAS to the caller).
    *
    * Architecture note that shapes the retry: `IceTable.append` REBASES
    * against the live table metadata at FS-commit time (it carries the
    * current snapshot's manifests forward), and per-table versions are
    * linear — so when our CAS loses, the fresh catalog pointer either
    * (a) already points AT or PAST our committed version, meaning a later
    * writer rebased on top of us and our rows are in the fresh lineage —
    * adopt it and succeed (re-appending here would duplicate rows); or
    * (b) trails our version (the racing writer swapped to an ancestor of
    * our commit) — re-swap with the refreshed base. Both arms are one
    * pointer read; no data is rewritten. Bounded at `maxRetries` so a
    * livelocked catalog surfaces as the spec's conflict instead of
    * spinning.
    *
    * `raceHook` runs between the FS commit and the CAS — the seam a spec
    * uses to interleave a competing writer deterministically. */
  def appendCommit(ns: String, table: String, df: DataFrame, maxRetries: Int = 3,
      raceHook: () => Unit = () => ()): IceTable = {
    val base = metadataLocation(ns, table)
    val mine = IceTable.load(spark, tableLocation(base)).append(df)
    raceHook()
    var expected = base
    var attempt  = 0
    while (attempt <= maxRetries) {
      try {
        commitSwap(ns, table, expected, mine.metadataLocation)
        return mine
      } catch {
        case e: RestCatalog.CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val fresh = metadataLocation(ns, table)
          if (metadataVersion(fresh) >= metadataVersion(mine.metadataLocation))
            return IceTable.load(spark, tableLocation(fresh)) // rebased past us: subsumed
          expected = fresh // pointer trails our commit: re-swap from the fresh base
      }
    }
    throw new IllegalStateException("unreachable: bounded commit loop fell through")
  }

  /** Advance the catalog pointer to `next` after an out-of-band FS commit
    * (the V2 write path commits table metadata first, then publishes the
    * pointer — the same order PyIceberg writers use against Nessie).
    * `expected` is the pointer the writer loaded the table through: the
    * first CAS swaps from it, so an uncontended publish is one POST and
    * no pointer read. Only a lost CAS (409), or no usable `expected`,
    * reads the pointer. Per-table versions are linear and FS commits
    * rebase, so a pointer at or past `next` means a later writer already
    * carried our commit forward — adopt it; otherwise CAS from the pointer
    * read. Bounded retries keep a livelocked catalog from spinning. */
  def advancePointer(ns: String, table: String, next: String,
      expected: Option[String] = None, maxRetries: Int = 5): Unit = {
    var base    = expected.filter(metadataVersion(_) < metadataVersion(next))
    var attempt = 0
    while (true) {
      val cur = base.getOrElse(metadataLocation(ns, table))
      if (metadataVersion(cur) >= metadataVersion(next)) return
      try { commitSwap(ns, table, cur, next); return }
      catch {
        case e: RestCatalog.CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
      base = None
    }
  }

  /** `<location>/metadata/v<N>[...].json -> N` (lenient on suffixes). */
  private def metadataVersion(metadataLocation: String): Int = {
    val name = new Path(metadataLocation).getName
    "\\d+".r.findFirstIn(name).map(_.toInt).getOrElse(-1)
  }

  /** Optimistic-concurrency pointer swap: succeed iff the catalog still
    * points at `expected`; a lost race raises CommitConflictException and
    * the caller retries from the fresh pointer (Iceberg's commit loop). */
  def commitSwap(ns: String, table: String, expected: String, next: String): Unit = {
    val (code, j) = post(s"$uri/v1/namespaces/${enc(ns)}/tables/${enc(table)}",
      JsonMethods.compact(JsonMethods.render(
        ("metadata-location" -> next) ~ ("expected-metadata-location" -> expected))))
    code match {
      case 200 => ()
      case 409 => throw new RestCatalog.CommitConflictException(errMsg(j))
      case 404 => throw new NoSuchElementException(s"table $ns.$table not found at $uri")
      case c   => throw new IllegalStateException(s"commit $ns.$table -> HTTP $c: ${errMsg(j)}")
    }
  }

  /** `<location>/metadata/vN.json -> <location>` */
  private def tableLocation(metadataLocation: String): String =
    new Path(metadataLocation).getParent.getParent.toString

  // ------------------------------------------------------------------ http

  private def errMsg(j: JValue): String =
    extractString(j \ "error", "message").getOrElse("")

  private def get(url: String): (Int, JValue) =
    exchange(builder(url).GET().build())

  private def head(url: String): Int =
    sendRetrying(builder(url)
      .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  private def delete(url: String): Int =
    sendRetrying(builder(url).DELETE().build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  private def post(url: String, body: String): (Int, JValue) =
    exchange(builder(url)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())

  private def exchange(req: HttpRequest): (Int, JValue) = {
    val resp = sendRetrying(req, HttpResponse.BodyHandlers.ofString())
    val j = if (resp.body() == null || resp.body().isEmpty) JNothing
            else JsonMethods.parse(resp.body())
    (resp.statusCode(), j)
  }

  /** One connect-level retry: a loopback fixture server can transiently
    * refuse a connection right after (re)start under load (observed once
    * as a campaign-only ic57 ConnectException, round 18). A
    * ConnectException means NO bytes reached the server, so retrying any
    * verb — including POST commits — cannot double-apply anything. HTTP
    * errors and post-connect failures are NOT retried. */
  private def sendRetrying[T](req: HttpRequest,
      handler: HttpResponse.BodyHandler[T]): HttpResponse[T] =
    try http.send(req, handler)
    catch {
      case _: java.net.ConnectException =>
        Thread.sleep(50)
        http.send(req, handler)
    }
}

object RestCatalog {
  /** The spec's CommitFailedException: base pointer went stale. */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)
}
