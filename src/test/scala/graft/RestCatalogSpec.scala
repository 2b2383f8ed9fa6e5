package graft

import graft.icelite.{IceTable, LoopbackHttp, RestCatalog, RestCatalogServer}
import org.apache.spark.sql.Row

import com.sun.net.httpserver.HttpExchange

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The REST catalog protocol end-to-end over loopback HTTP: the Nessie
  * role from the reference (`bot_iceberg_loader.py:245-262`) — namespace
  * and table registry, register/load/drop, and the CAS commit that
  * arbitrates concurrent writers. */
class RestCatalogSpec extends SparkSpec {

  private var server: RestCatalogServer = _
  private var catalog: RestCatalog      = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server  = new RestCatalogServer(scratch("rest_warehouse")).start()
    catalog = new RestCatalog(spark, server.uri)
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def demo(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"row$i")).toDF("id", "name")
  }

  test("config advertises the warehouse") {
    assert(catalog.warehouse.endsWith("rest_warehouse"))
  }

  test("namespace lifecycle: create is idempotent through the client, listed once") {
    catalog.createNamespace("lakehouse")
    catalog.createNamespace("lakehouse") // 409 server-side, success client-side
    assert(catalog.listNamespaces().count(_ == "lakehouse") == 1)
  }

  test("table lifecycle: create -> list/exists -> load round-trips -> drop") {
    val df = demo(25)
    catalog.createOrReplaceTable("lakehouse", "people", df)
    assert(catalog.listTables("lakehouse") == Seq("people"))
    assert(catalog.tableExists("lakehouse", "people"))
    val back = catalog.loadTable("lakehouse", "people").scan()
    assert(back.count() == 25)
    assert(back.orderBy("id").collect().map(_.getString(1)).take(3).toSeq ==
      Seq("row1", "row2", "row3"))
    assert(catalog.dropTable("lakehouse", "people"))
    assert(!catalog.tableExists("lakehouse", "people"))
    assert(!catalog.dropTable("lakehouse", "people")) // second drop: 404 -> false
  }

  test("createOrReplaceTable replaces contents (drop-and-recreate semantics)") {
    catalog.createOrReplaceTable("lakehouse", "swap", demo(5))
    catalog.createOrReplaceTable("lakehouse", "swap", demo(9))
    assert(catalog.loadTable("lakehouse", "swap").scan().count() == 9)
  }

  test("registerTable adopts an existing table; duplicate registration is a 409") {
    val loc = scratch("rest_adopted")
    val df  = demo(7)
    val t   = IceTable.create(spark, loc, "adopted", "lakehouse", df.schema, Nil).append(df)
    catalog.registerTable("lakehouse", "adopted", t.metadataLocation)
    assert(catalog.loadTable("lakehouse", "adopted").scan().count() == 7)
    assert(catalog.metadataLocation("lakehouse", "adopted") == t.metadataLocation)
    val e = intercept[IllegalStateException] {
      catalog.registerTable("lakehouse", "adopted", t.metadataLocation)
    }
    assert(e.getMessage.contains("409"))
  }

  test("missing table: loadTable raises NoSuchElement, exists is false") {
    assert(!catalog.tableExists("lakehouse", "ghost"))
    intercept[NoSuchElementException] { catalog.metadataLocation("lakehouse", "ghost") }
  }

  test("CAS commit: one of two racing writers loses with CommitFailedException and retries") {
    catalog.createOrReplaceTable("lakehouse", "contended", demo(3))
    val base = catalog.metadataLocation("lakehouse", "contended")

    // both writers plan from the same base pointer
    val winnerNext = base.replace(".json", "") + "-w1.json"
    val loserNext  = base.replace(".json", "") + "-w2.json"

    catalog.commitSwap("lakehouse", "contended", expected = base, next = winnerNext)
    assert(catalog.metadataLocation("lakehouse", "contended") == winnerNext)

    intercept[RestCatalog.CommitConflictException] {
      catalog.commitSwap("lakehouse", "contended", expected = base, next = loserNext)
    }
    // the Iceberg commit loop: re-read the pointer, rebase, retry
    val fresh = catalog.metadataLocation("lakehouse", "contended")
    catalog.commitSwap("lakehouse", "contended", expected = fresh, next = loserNext)
    assert(catalog.metadataLocation("lakehouse", "contended") == loserNext)
  }

  test("appendCommit retry loop: racing writers BOTH land, no duplicates, one lineage") {
    import spark.implicits._
    catalog.createOrReplaceTable("lakehouse", "race", demo(3))
    val aRows = Seq((101L, "a1"), (102L, "a2")).toDF("id", "name")
    val bRows = Seq((201L, "b1"), (202L, "b2"), (203L, "b3")).toDF("id", "name")

    // writer B plans + FS-commits first, then writer A commits INSIDE B's
    // commit window (raceHook) — B's CAS loses and must refresh-and-retry
    var aCommitted = false
    catalog.appendCommit("lakehouse", "race", bRows, raceHook = () => {
      catalog.appendCommit("lakehouse", "race", aRows)
      aCommitted = true
    })
    assert(aCommitted)

    val finalTable = catalog.loadTable("lakehouse", "race")
    val ids = finalTable.scan().select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 101L, 102L, 201L, 202L, 203L),
      s"racing writers lost or duplicated rows: $ids")
    // the catalog pointer resolves the same lineage the table reads
    assert(catalog.metadataLocation("lakehouse", "race") == finalTable.metadataLocation)
  }

  test("appendCommit with exhausted retries surfaces the conflict") {
    catalog.createOrReplaceTable("lakehouse", "race0", demo(2))
    import spark.implicits._
    // with zero retries a single lost CAS must surface as the spec conflict
    val stale = catalog.metadataLocation("lakehouse", "race0")
    intercept[RestCatalog.CommitConflictException] {
      catalog.appendCommit("lakehouse", "race0", Seq((9L, "x")).toDF("id", "name"),
        maxRetries = 0,
        raceHook = () => // swap the pointer to a synthetic higher version B can't subsume
          catalog.commitSwap("lakehouse", "race0", stale,
            stale.replace(".json", "") + "99.json"))
    }
  }

  test("SQL TableCatalog bound to the REST service: CTAS/INSERT/ALTER publish CAS commits") {
    spark.conf.set("spark.sql.catalog.rspec", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.rspec.uri", server.uri)
    try {
      demo(10).createOrReplaceTempView("rspec_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS rspec.sqlns")
      spark.sql("CREATE TABLE rspec.sqlns.t AS SELECT * FROM rspec_src")
      // the SERVER must have observed each commit as a pointer move:
      // v1 (create/register) -> v2 (CTAS rows) -> v3 (INSERT) -> v4 (ALTER)
      val p1 = catalog.metadataLocation("sqlns", "t")
      assert(p1.endsWith("v2.json"), s"CTAS did not publish to the catalog: $p1")
      spark.sql("INSERT INTO rspec.sqlns.t SELECT id + 100, name FROM rspec_src WHERE id <= 3")
      val p2 = catalog.metadataLocation("sqlns", "t")
      assert(p2.endsWith("v3.json"), s"INSERT did not publish to the catalog: $p2")
      spark.sql("ALTER TABLE rspec.sqlns.t ADD COLUMN extra DOUBLE")
      val p3 = catalog.metadataLocation("sqlns", "t")
      assert(p3.endsWith("v4.json"), s"ALTER did not publish to the catalog: $p3")
      // by-name SELECT resolves through the pointer the server holds
      assert(spark.sql("SELECT COUNT(*) FROM rspec.sqlns.t").head().getLong(0) == 13L)
      assert(spark.sql("SELECT COUNT(extra) FROM rspec.sqlns.t").head().getLong(0) == 0L)
      // a racing out-of-band pointer move is respected: advancePointer
      // adopts a fresher pointer rather than clobbering it
      val ice = catalog.loadTable("sqlns", "t")
      catalog.advancePointer("sqlns", "t", ice.metadataLocation)
      assert(catalog.metadataLocation("sqlns", "t") == p3)
    } finally {
      spark.conf.unset("spark.sql.catalog.rspec")
      spark.conf.unset("spark.sql.catalog.rspec.uri")
    }
  }

  test("CALL maintenance procedure through the REST binding republishes the pointer") {
    spark.conf.set("spark.sql.catalog.rproc", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.rproc.uri", server.uri)
    try {
      demo(10).createOrReplaceTempView("rproc_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS rproc.mns")
      spark.sql("CREATE TABLE rproc.mns.m AS SELECT * FROM rproc_src")
      spark.sql("INSERT INTO rproc.mns.m SELECT id + 100, name FROM rproc_src")
      val before = catalog.metadataLocation("mns", "m")
      val beforeV = before.split('/').last.stripPrefix("v").stripSuffix(".json").toInt
      val res = spark.sql("CALL rproc.system.rewrite_data_files('mns', 'm', 1)").head()
      assert(res.getLong(1) == 1L, s"compaction did not land one file: $res")
      val after = catalog.metadataLocation("mns", "m")
      assert(after.endsWith(s"v${beforeV + 1}.json"),
        s"maintenance commit not republished to the catalog: $before -> $after")
      // by-name reads through the republished pointer see the compacted table
      assert(spark.sql("SELECT COUNT(*) FROM rproc.mns.m").head().getLong(0) == 20L)
    } finally {
      spark.conf.unset("spark.sql.catalog.rproc")
      spark.conf.unset("spark.sql.catalog.rproc.uri")
    }
  }

  test("bearer-token auth: authorized CAS succeeds, wrong/missing token 401s") {
    val secured = new RestCatalogServer(scratch("rest_secured"),
      requiredToken = Some("s3cr3t-token")).start()
    try {
      // raw protocol: no token and a wrong token are both 401 on EVERY
      // route, config included
      val http = java.net.http.HttpClient.newHttpClient()
      def getConfig(auth: Option[String]): Int = {
        val b = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${secured.uri}/v1/config"))
        auth.foreach(a => b.header("Authorization", a))
        http.send(b.GET().build(),
          java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      }
      assert(getConfig(None) == 401, "unauthenticated config not rejected")
      assert(getConfig(Some("Bearer wrong")) == 401, "wrong token not rejected")
      assert(getConfig(Some("Bearer s3cr3t-token")) == 200)

      // authorized client: full lifecycle (create -> CAS commits -> read)
      val authed = new RestCatalog(spark, secured.uri, Some("s3cr3t-token"))
      authed.createNamespace("sec")
      authed.createOrReplaceTable("sec", "t", demo(7))
      assert(authed.loadTable("sec", "t").scan().count() == 7)

      // unauthorized CLIENT: catalog calls fail loudly, nothing mutates
      val unauthed = new RestCatalog(spark, secured.uri)
      intercept[Exception] { unauthed.warehouse }
      assert(!unauthed.tableExists("sec", "t"), "HEAD leaked through the token gate")

      // SQL binding with spark.sql.catalog.<name>.token
      spark.conf.set("spark.sql.catalog.rsec", "graft.sources.IceLiteCatalog")
      spark.conf.set("spark.sql.catalog.rsec.uri", secured.uri)
      spark.conf.set("spark.sql.catalog.rsec.token", "s3cr3t-token")
      try {
        assert(spark.sql("SELECT count(*) AS n FROM rsec.sec.t").head().getLong(0) == 7L)
      } finally {
        spark.conf.unset("spark.sql.catalog.rsec")
        spark.conf.unset("spark.sql.catalog.rsec.uri")
        spark.conf.unset("spark.sql.catalog.rsec.token")
      }
    } finally secured.stop()
  }

  test("dropping a non-empty namespace is rejected; empty namespace drops") {
    catalog.createNamespace("tmpns")
    catalog.createOrReplaceTable("tmpns", "t", demo(2))
    // client has no dropNamespace; exercise the protocol directly
    val http = java.net.http.HttpClient.newHttpClient()
    def dropNs(ns: String): Int = http.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"${server.uri}/v1/namespaces/$ns"))
        .DELETE().build(),
      java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
    assert(dropNs("tmpns") == 409)
    catalog.dropTable("tmpns", "t")
    assert(dropNs("tmpns") == 204)
    assert(!catalog.listNamespaces().contains("tmpns"))
  }

  test("a commit swap is one quick loopback exchange, without a delayed-ACK stall") {
    catalog.createOrReplaceTable("lakehouse", "quick", demo(2))
    var cur = catalog.metadataLocation("lakehouse", "quick")
    val ms = (1 to 20).map { i =>
      val next = cur.stripSuffix(".json") + s"-q$i.json"
      val t0   = System.nanoTime()
      catalog.commitSwap("lakehouse", "quick", cur, next)
      cur = next
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = ms(ms.length / 2)
    info(f"commitSwap median $median%.1f ms over ${ms.length} swaps")
    assert(median < 15.0, s"commitSwap median $median ms (all: ${ms.mkString(", ")})")
  }

  test("an uncontended advancePointer from the loaded pointer is one POST and no GET") {
    catalog.createOrReplaceTable("lakehouse", "onetrip", demo(2))
    val (ice, loaded) = catalog.loadTableAt("lakehouse", "onetrip")
    val next = ice.append(demo(3)).metadataLocation
    val fwd  = new CountingForwarder(server.uri)
    try {
      new RestCatalog(spark, fwd.uri).advancePointer("lakehouse", "onetrip", next, Some(loaded))
      assert(fwd.seen == Seq("POST /v1/namespaces/lakehouse/tables/onetrip"), fwd.seen)
      assert(catalog.metadataLocation("lakehouse", "onetrip") == next)
      // a stale base loses its CAS and falls back to reading the pointer
      val later = ice.append(demo(1)).metadataLocation
      fwd.clear()
      new RestCatalog(spark, fwd.uri).advancePointer("lakehouse", "onetrip", later, Some(loaded))
      assert(fwd.seen == Seq("POST /v1/namespaces/lakehouse/tables/onetrip",
        "GET /v1/namespaces/lakehouse/tables/onetrip",
        "POST /v1/namespaces/lakehouse/tables/onetrip"), fwd.seen)
      assert(catalog.metadataLocation("lakehouse", "onetrip") == later)
    } finally fwd.stop()
  }

  test("a SQL INSERT through the REST binding publishes with one POST and no extra pointer read") {
    val fwd = new CountingForwarder(server.uri)
    spark.conf.set("spark.sql.catalog.rone", "graft.sources.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.rone.uri", fwd.uri)
    try {
      demo(10).createOrReplaceTempView("rone_src")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS rone.ons")
      spark.sql("CREATE TABLE rone.ons.t AS SELECT * FROM rone_src")
      fwd.clear()
      spark.sql("INSERT INTO rone.ons.t SELECT id + 100, name FROM rone_src WHERE id <= 3")
      // the statement's one pointer read is its table load; the publish
      // swaps from that pointer
      assert(fwd.seen == Seq("GET /v1/namespaces/ons/tables/t",
        "POST /v1/namespaces/ons/tables/t"), fwd.seen)
      assert(catalog.metadataLocation("ons", "t").endsWith("v3.json"))
    } finally {
      spark.conf.unset("spark.sql.catalog.rone")
      spark.conf.unset("spark.sql.catalog.rone.uri")
      fwd.stop()
    }
  }

  /** Loopback forwarder in front of the catalog server that records each
    * request as `METHOD path`. */
  private final class CountingForwarder(target: String) {
    private val requests = new ConcurrentLinkedQueue[String]()
    private val client   = HttpClient.newHttpClient()
    private val server   = LoopbackHttp.server()
    server.createContext("/", (ex: HttpExchange) => {
      requests.add(s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}")
      val body = ex.getRequestBody.readAllBytes()
      val b    = HttpRequest.newBuilder(URI.create(target + ex.getRequestURI.toString))
      Option(ex.getRequestHeaders.getFirst("Content-Type")).foreach(b.header("Content-Type", _))
      val resp = client.send(b.method(ex.getRequestMethod,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val out = resp.body()
      if (ex.getRequestMethod == "HEAD" || out.isEmpty) ex.sendResponseHeaders(resp.statusCode(), -1)
      else {
        ex.sendResponseHeaders(resp.statusCode(), out.length.toLong)
        ex.getResponseBody.write(out)
      }
      ex.close()
    })
    server.start()

    def uri: String         = s"http://127.0.0.1:${server.getAddress.getPort}"
    def seen: Seq[String]   = requests.asScala.toSeq
    def clear(): Unit       = requests.clear()
    def stop(): Unit        = server.stop(0)
  }
}
