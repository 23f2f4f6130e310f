package perfbench

import graft.api.{ColumnSelection, Validation}
import graft.catalog.Catalog
import graft.http.{HttpFacade, Json, Multipart}
import graft.http.Json._
import graft.operators.Exporter
import graft.sources.CsvIngest
import org.apache.spark.sql.SparkSession

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** `facade_interactive`: the reference's five endpoints, driven by four
  * closed-loop clients on keep-alive connections to an in-process
  * [[HttpFacade]]. Exports are Zipf-skewed over a dozen fixed selections of
  * the star tables; imports are multipart uploads of generated CSVs, each
  * client into its own table.
  */
final class Facade(spark: SparkSession, root: File, seed: Long, scale: Scale)
    extends Workload {
  val name = "facade_interactive"
  import Facade._

  val Clients = 4
  private val sizes = Gen.StarSizes(scale.starSf)
  private val selections = Facade.selections(sizes)
  private val tableColumns = scala.collection.mutable.Map.empty[String, Seq[String]]
  private var facade: HttpFacade = _
  private var base: String = _
  /** Names this set-up's imported tables apart from any other's in the warehouse. */
  private val rootTag = root.getName.replaceAll("[^A-Za-z0-9_]", "_") +
    "_" + Integer.toHexString(root.getAbsolutePath.hashCode)

  /** Imported tables and the uploads that went into each. */
  private val imported = new ConcurrentHashMap[String, java.util.List[Gen.Upload]]()

  def setup(): Unit = {
    Gen.starTables(spark, scale.starSf).foreach { case (name, df) =>
      val path = new File(root, s"base/$name").getPath
      df.write.parquet(path)
      spark.read.parquet(path).createOrReplaceTempView(name)
      tableColumns(name) = df.columns.toSeq
    }
    facade = new HttpFacade(spark, name => spark.table(name), port = 0).start()
    base = s"http://127.0.0.1:${facade.boundPort}"
  }

  /** The facade is a server, met warm: every request shape once over HTTP
    * — each endpoint, every selection, every described table and both
    * upload sizes — so no query is planned and compiled for the first time
    * inside the window.
    */
  override def warmUp(): Unit = {
    val warm = Seq(Connect, Health) ++ TableNames.map(Columns) ++ selections.indices.map(Export) ++
      Seq(scale.uploadRows._1, scale.uploadRows._2).map(n => Import(Gen.upload(seed ^ 0x5eed, n)))
    // spread over the clients, as the window will be; a failure fails the set-up
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() =>
        try {
          val client = newClient()
          val table = s"imp_${rootTag}_warm$c"
          warm.zipWithIndex.collect { case (req, i) if i % Clients == c => req }.foreach { req =>
            val (status, body, _) = callHttp(client, req, table)
            verify(req, table, status, body)
          }
        } catch { case e: Throwable => errors.add(e) }, s"perfbench-warm-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw new IllegalStateException(s"facade warm-up failed: $e", e))
  }

  override def teardown(): Unit = if (facade != null) facade.stop()

  // ---- the seeded request sequence ---------------------------------------

  /** Client `c`'s request `i`: blocks of 20 requests hold 2 connect, 3
    * get-columns, 1 health, 9 export and 5 import (one of them 20x larger).
    * The order of each block and the export drawn at each position are
    * fixed ([[Gen.BaseSeed]]), so every run sends the same mix; the seed
    * picks the tables described and generates every upload.
    */
  def request(c: Int, i: Long): Request = {
    val block = i / 20
    val order = new SplittableRandom(Gen.BaseSeed * 1000003L + c * 7919L + block)
    val kinds = BlockMix.toArray
    for (k <- kinds.indices.reverse) { // Fisher-Yates
      val j = order.nextInt(k + 1); val t = kinds(k); kinds(k) = kinds(j); kinds(j) = t
    }
    val pick = new SplittableRandom(Gen.BaseSeed * 31L + c * 1000033L + i)
    val draw = new SplittableRandom(seed * 31L + c * 1000033L + i)
    kinds((i % 20).toInt) match {
      case "connect" => Connect
      case "columns" => Columns(TableNames(draw.nextInt(TableNames.length)))
      case "health" => Health
      case "export" => Export(zipf(pick, selections.length))
      case "import" => Import(Gen.upload(draw.nextLong(), scale.uploadRows._1))
      case "import_large" => Import(Gen.upload(draw.nextLong(), scale.uploadRows._2))
    }
  }

  // ---- driving -------------------------------------------------------------

  /** Four clients in closed loops, each sending whole blocks of its
    * sequence while the deadline has not passed, so every run sends the
    * same mix of requests.
    */
  override def measure(ops: Ops, deadlineNs: Long): Unit = {
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val client = newClient()
        val table = s"imp_${rootTag}_c$c"
        var i = 0L
        while (i % 20 != 0 || System.nanoTime() < deadlineNs) {
          runOne(ops, request(c, i), table, "", "http", client)
          i += 1
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  private var block = 0L
  private lazy val roundClient = newClient()

  /** The next block of client 0's sequence with one client: `tag` "http"
    * sends it over HTTP, any other tag calls the library directly.
    */
  def round(ops: Ops, tag: String): Unit = {
    val mode = if (tag == "http") "http" else "direct"
    (0 until 20).foreach(k => runOne(ops, request(0, block * 20 + k), s"imp_${rootTag}_$tag", tag,
      mode, roundClient))
    block += 1
  }

  /** Blocks of client 0's sequence, each run three ways with one client:
    * over HTTP, by direct call, and by direct call traced.
    */
  override def traced(ops: Ops, deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      for (tag <- Seq("http", "direct", "traced")) {
        ops.tracer.enabled = tag == "traced"
        round(ops, tag)
        ops.tracer.enabled = false
        if (tag != "traced") block -= 1
      }
    }

  private val respBytes = new java.util.concurrent.atomic.AtomicLong()
  private val httpCalls = new java.util.concurrent.atomic.AtomicLong()

  /** One request, over HTTP (`mode` "http") or by direct call. */
  private def runOne(ops: Ops, req: Request, table: String, tag: String, mode: String,
      client: HttpClient): Unit =
    ops.run(req.kind, req.isInstanceOf[Import], tag) {
      if (mode == "http") {
        val r = callHttp(client, req, table)
        respBytes.addAndGet(r._3); httpCalls.incrementAndGet()
        r
      } else callDirect(req, table, ops.tracer)
    } { case (status, body, _) => verify(req, table, status, body) }

  private def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private val connBody =
    """{"host":"localhost","port":8123,"database":"default","username":"default","password":""}"""

  private def selectionJson(s: ColumnSelection): String = JObj(
    "table" -> JStr(s.table),
    "columns" -> JArr(s.columns.map(JStr(_)).toVector),
    "join_tables" -> JArr(s.joinTables.map(JStr(_)).toVector),
    "join_condition" -> s.joinCondition.map(JStr(_)).getOrElse(JNull)).render

  private val Boundary = "perfbenchBoundary7d93"

  private def multipartBody(u: Gen.Upload): String =
    s"--$Boundary\r\nContent-Disposition: form-data; name=\"conn\"\r\n\r\n$connBody\r\n" +
      s"--$Boundary\r\nContent-Disposition: form-data; name=\"file\"; filename=\"upload.csv\"\r\n" +
      s"Content-Type: text/csv\r\n\r\n${u.text}\r\n--$Boundary--\r\n"

  private def multipartType = s"multipart/form-data; boundary=$Boundary"

  /** One request over HTTP: (status, parsed body, response bytes). */
  private def callHttp(client: HttpClient, req: Request, table: String): (Int, JValue, Long) = {
    def post(path: String, body: String, ctype: String = "application/json") =
      HttpRequest.newBuilder(URI.create(base + path)).header("Content-Type", ctype)
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val httpReq = req match {
      case Connect => post("/connect-clickhouse", connBody)
      case Columns(t) => post(s"/get-columns?table=$t", connBody)
      case Health => HttpRequest.newBuilder(URI.create(base + "/health")).GET().build()
      case Export(i) => post("/clickhouse-to-flatfile",
        s"""{"conn":$connBody,"selection":${selectionJson(selections(i).sel)}}""")
      case Import(u) => post(s"/flatfile-to-clickhouse?table=$table", multipartBody(u), multipartType)
    }
    val resp = client.send(httpReq, HttpResponse.BodyHandlers.ofByteArray())
    val bytes = resp.body()
    (resp.statusCode(), Json.parse(new String(bytes, StandardCharsets.UTF_8)), bytes.length.toLong)
  }

  /** The handler's library sequence called directly, each step in its own
    * span: request parse, validation, the library call, the JSON render.
    */
  private def callDirect(req: Request, table: String, t: Tracer): (Int, JValue, Long) = {
    def conn(body: String): Unit = {
      val o = t.call("json.parse")(Json.parse(body)).obj.get
      t.call("validation")(Validation.requireValidHost(o("host").str.get))
    }
    val env: JObj = req match {
      case Connect =>
        conn(connBody)
        val tables = t.call("catalog.list_tables")(Catalog.listTables(spark))
        JObj("status" -> JStr("success"), "tables" -> JArr(tables.map(JStr(_)).toVector),
          "connection" -> JStr("localhost:8123"), "timestamp" -> JStr("now"))
      case Columns(name) =>
        conn(connBody)
        val cols = t.call("catalog.describe")(Catalog.describeTable(spark, name))
        JObj("status" -> JStr("success"),
          "columns" -> JArr(cols.map(c => JObj("name" -> JStr(c.name), "type" -> JStr(c.`type`),
            "default" -> JStr(c.default_type), "comment" -> JStr(c.comment))).toVector),
          "count" -> JNum(cols.length))
      case Health =>
        val h = t.call("catalog.health")(Catalog.healthEnvelope(spark))
        JObj("status" -> JStr(h.status), "timestamp" -> JStr(h.timestamp))
      case Export(i) =>
        val o = t.call("json.parse")(Json.parse(
          s"""{"conn":$connBody,"selection":${selectionJson(selections(i).sel)}}""")).obj.get
        t.call("validation")(Validation.requireValidHost(o("conn").obj.get("host").str.get))
        val sel = selections(i).sel
        t.call("validation") { Validation.requireValidTable(sel.table); sel.joinTables.foreach(Validation.requireValidTable) }
        val r = t.call("exporter.inline")(Exporter.export(spark, sel, name => spark.table(name)))
        JObj("status" -> JStr(r.status), "data" -> JStr(r.data), "count" -> JNum(r.count.toDouble),
          "query" -> JStr(r.query))
      case Import(u) =>
        val parts = t.call("multipart.parse")(Multipart.parse(multipartType, multipartBody(u)))
        conn(parts.field("conn").get)
        val file = parts.file("file").get
        t.call("validation")(Validation.requireValidTable(table))
        val df = t.call("csv.parse_upload", "rows" -> u.rows.toDouble)(
          CsvIngest.parseUpload(spark, file.filename, file.content))
        val r = t.call("csv.import_into", "rows" -> u.rows.toDouble)(CsvIngest.importInto(df, table))
        JObj("status" -> JStr(r.status), "count" -> JNum(r.count.toDouble),
          "columns" -> JArr(r.columns.map(JStr(_)).toVector), "table" -> JStr(r.table))
    }
    val text = t.call("json.render")(env.render)
    (200, env, text.length.toLong)
  }

  // ---- checks -------------------------------------------------------------

  private def verify(req: Request, table: String, status: Int, body: JValue): Moved = {
    Check.equal(s"${req.kind} status", status, 200)
    val o = body.obj.getOrElse(throw new CheckFailed(s"${req.kind}: body is not an object"))
    req match {
      case Connect =>
        Check.equal("connect status", o("status").str, Some("success"))
        val tables = o("tables").arr.getOrElse(Vector.empty).flatMap(_.str).toSet
        Check(TableNames.forall(tables), s"connect: base tables missing from $tables")
        Moved()
      case Columns(t) =>
        val names = o("columns").arr.getOrElse(Vector.empty).flatMap(_.obj.flatMap(_("name").str))
        Check.equal(s"get-columns $t", names, tableColumns(t).toVector)
        Check.equal(s"get-columns $t count", o("count").num, Some(names.length.toDouble))
        Moved()
      case Health =>
        Check.equal("health status", o("status").str, Some("healthy"))
        Moved()
      case Export(i) =>
        val s = selections(i)
        Check.equal(s"export ${s.name} status", o("status").str, Some("success"))
        Check.equal(s"export ${s.name} count", o("count").num, Some(s.rows.toDouble))
        val data = o("data").str.getOrElse("")
        val header = CsvIngest.Bom + s.sel.columns.mkString(",")
        Check(data.startsWith(header + "\n"), s"export ${s.name}: header is not '$header'")
        Check.equal(s"export ${s.name} lines", data.count(_ == '\n').toLong, s.rows + 1)
        Moved(rowsOut = s.rows)
      case Import(u) =>
        Check.equal("import status", o("status").str, Some("success"))
        Check.equal("import count", o("count").num, Some(u.rows.toDouble))
        Check.equal("import columns", o("columns").arr.map(_.flatMap(_.str)), Some(Gen.UploadHeader))
        Check.equal("import table", o("table").str, Some(table))
        imported.computeIfAbsent(table, _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[Gen.Upload]())).add(u)
        Moved(rowsIn = u.rows)
    }
  }

  /** Each imported table holds exactly the uploaded rows, with literal
    * `NA` cells and embedded newlines preserved.
    */
  def finalChecks(): Seq[String] = imported.asScala.toSeq.sortBy(_._1).flatMap { case (table, ups) =>
    val us = ups.asScala.toVector
    val row = spark.sql(
      s"SELECT count(*), count_if(note = 'NA'), count_if(note = 'line one\\nline two') FROM $table").head()
    Seq(
      Option.when(row.getLong(0) != us.map(_.rows.toLong).sum)(
        s"$table holds ${row.getLong(0)} rows, uploads had ${us.map(_.rows.toLong).sum}"),
      Option.when(row.getLong(1) != us.map(_.naCells.toLong).sum)(
        s"$table holds ${row.getLong(1)} literal NA cells, uploads had ${us.map(_.naCells.toLong).sum}"),
      Option.when(row.getLong(2) != us.map(_.multilineCells.toLong).sum)(
        s"$table holds ${row.getLong(2)} multi-line cells, uploads had ${us.map(_.multilineCells.toLong).sum}")
    ).flatten
  }

  override def storedPerUserByte: Option[Double] = {
    val warehouse = new File(new URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val stored = imported.keySet().asScala.toSeq.map(t => Workload.dirBytes(new File(warehouse, t))).sum
    val user = imported.values().asScala.toSeq.flatMap(_.asScala).map(_.bytes.toLong).sum
    Option.when(user > 0)(stored.toDouble / user)
  }

  def layerMetrics(ops: Ops): Seq[Metric] = Seq(
    // the passes run the same requests, so their means compare like for like
    Layers.passDelta(ops, "http.overhead_ms", "http", "direct"),
    Option.when(httpCalls.get > 0)(
      Metric("http.resp_bytes", respBytes.get.toDouble / httpCalls.get, "bytes", httpCalls.get.toInt)),
    Layers.spanMs(ops, "catalog.list_tables_ms", "catalog.list_tables"),
    Layers.spanMs(ops, "catalog.describe_ms", "catalog.describe"),
    Layers.spanMsPer(ops, "csv.parse_upload_ms_per_krow", "csv.parse_upload", "rows", 1000, "ms/krow"),
    Layers.spanMs(ops, "csv.import_into_ms", "csv.import_into"),
    Layers.spanMs(ops, "exporter.inline_ms", "exporter.inline")).flatten
}

object Facade {
  sealed trait Request { def kind: String }
  case object Connect extends Request { val kind = "connect" }
  final case class Columns(table: String) extends Request { val kind = "get_columns" }
  case object Health extends Request { val kind = "health" }
  final case class Export(selection: Int) extends Request { val kind = "export" }
  final case class Import(upload: Gen.Upload) extends Request { val kind = "import" }

  val BlockMix: Seq[String] =
    Seq.fill(2)("connect") ++ Seq.fill(3)("columns") ++ Seq("health") ++ Seq.fill(9)("export") ++
      Seq.fill(4)("import") ++ Seq("import_large")

  val TableNames: Vector[String] =
    Vector("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** A fixed selection and its row count, derived from the generator. */
  final case class Selection(name: String, sel: ColumnSelection, rows: Long)

  def selections(n: Gen.StarSizes): Vector[Selection] = {
    def one(t: String, cols: String*) = ColumnSelection(t, cols.toSeq, Nil, None)
    def join(ts: Seq[String], cond: String, cols: String*) =
      ColumnSelection(ts.head, cols.toSeq, ts.tail, Some(cond))
    Vector(
      Selection("customers", one("customer", "c_custkey", "c_name", "c_mktsegment"), n.customer),
      Selection("parts", one("part", "p_partkey", "p_name", "p_retailprice"), n.part),
      Selection("suppliers", one("supplier", "s_suppkey", "s_name", "s_acctbal"), n.supplier),
      Selection("nations", one("nation", "n_nationkey", "n_name"), 25),
      Selection("orders", one("orders", "o_orderkey", "o_orderstatus", "o_totalprice"), n.orders),
      Selection("customer_nation", join(Seq("customer", "nation"),
        "customer.c_nationkey = nation.n_nationkey", "c_name", "n_name"), n.customer),
      Selection("nation_region", join(Seq("nation", "region"),
        "nation.n_regionkey = region.r_regionkey", "n_name", "r_name"), 25),
      Selection("supplier_geo", join(Seq("supplier", "nation", "region"),
        "supplier.s_nationkey = nation.n_nationkey AND nation.n_regionkey = region.r_regionkey",
        "s_name", "n_name", "r_name"), n.supplier),
      Selection("urgent_orders", join(Seq("customer", "orders"),
        "customer.c_custkey = orders.o_custkey AND orders.o_orderpriority = '1-URGENT'",
        "c_name", "o_orderkey", "o_totalprice"), n.orders / 5),
      Selection("first_lines", join(Seq("orders", "lineitem"),
        "orders.o_orderkey = lineitem.l_orderkey AND lineitem.l_linenumber = 1",
        "o_orderkey", "l_quantity", "l_extendedprice"), n.orders),
      Selection("second_line_parts", join(Seq("lineitem", "part"),
        "lineitem.l_partkey = part.p_partkey AND lineitem.l_linenumber = 2",
        "p_name", "l_quantity"), n.orders),
      Selection("filled_orders", join(Seq("customer", "orders", "nation"),
        "customer.c_custkey = orders.o_custkey AND customer.c_nationkey = nation.n_nationkey " +
          "AND orders.o_orderstatus = 'F'", "c_name", "n_name", "o_totalprice"), n.orders / 3))
  }

  /** Zipf(1) draw over `[0, n)`. */
  def zipf(r: SplittableRandom, n: Int): Int = {
    val w = (1 to n).map(1.0 / _)
    var u = r.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u >= w(i)) { u -= w(i); i += 1 }
    i
  }
}
