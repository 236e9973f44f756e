package graft

import graft.etl.{Dictionaries, EtlRunner}
import graft.sources.RestConnector
import java.nio.charset.Charset
import java.nio.file.Files

/** End-to-end orchestrator test: two successive radicados loads with a
  * modification between them → merge + authlog, mirroring the
  * reference's raw→modeled flow plus its dormant integrate path.
  */
class EtlRunnerSpec extends SparkSpec {

  private def writeCsv(dir: java.nio.file.Path, name: String, rows: Seq[String]): Unit = {
    val header = "Radicado;Fecha Radicacion;Procedencia;Detalle;Naturaleza;" +
      "Medio;Expediente;Destino;Rpta;Opciones"
    Files.write(dir.resolve(name),
      (Seq("JUNK", header) ++ rows).mkString("\n").getBytes(Charset.forName("ISO-8859-1")))
  }

  test("catalog → extract → transform → load → integrate, end to end") {
    val raw = Files.createTempDirectory("raw_")
    val modeled = Files.createTempDirectory("mod_")
    val today = java.sql.Date.valueOf("2026-08-12")

    writeCsv(raw, "raw_radicados.csv", Seq(
      "100;15/03/2024 14:30;PEPE;asunto;N;WEB;E1;PROFESIONAL-GGC-JUAN PEREZ;0;",
      "101;16/03/2024 09:00;ANA;otro;N;WEB;E2;MARIA LOPEZ;1;"))
    val r1 = EtlRunner.run(spark, raw.toString, modeled.toString, "radicados",
      today, Dictionaries.radicados, auditCols = Seq("Rpta", "funcionario_destino"))
    assert(r1.rows == 2 && r1.authlogRows.isEmpty) // first run: nothing to diff
    val first = spark.read.parquet(r1.modeledPath)
    assert(first.count() == 2)
    assert(first.filter(first("Radicado") === "100")
      .select("grupo_destino").collect()(0).getString(0) == "Grupo de gestion de cesantias")

    // second snapshot: 100 answered (Rpta flips), 102 appears
    writeCsv(raw, "raw2_radicados.csv", Seq(
      "100;15/03/2024 14:30;PEPE;asunto;N;WEB;E1;PROFESIONAL-GGC-JUAN PEREZ;1;",
      "101;16/03/2024 09:00;ANA;otro;N;WEB;E2;MARIA LOPEZ;1;",
      "102;17/03/2024 10:00;LUIS;nuevo;N;WEB;E3;ASESOR-GTICS-ANA RUIZ;0;"))
    val r2 = EtlRunner.run(spark, raw.toString, modeled.toString, "radicados",
      today, Dictionaries.radicados, auditCols = Seq("Rpta", "funcionario_destino"))
    assert(r2.sourceFile.endsWith("raw2_radicados.csv")) // newest file picked
    assert(r2.authlogRows.contains(1L)) // exactly the Rpta change on 100
    val merged = spark.read.parquet(r2.modeledPath)
    assert(merged.count() == 3)
    assert(merged.filter(merged("Radicado") === "100")
      .select("Rpta").collect()(0).getString(0) == "1") // refreshed value won
    val log = spark.read.parquet(modeled.toString + "/radicados_authlog")
    assert(log.count() == 1)
    assert(log.select("tipo_cambio").collect()(0).getString(0) == "Modificado")
  }

  // ---- REST connector against a local HTTP stub --------------------------

  /** In-process HTTP stub with the REST contract RestConnector speaks:
    * paged /objects listing, Range-chunked /objects/{id}/media (with
    * injectable transient 500s), and /sheets clear/update/values. The
    * counters make the remote semantics assertable: how many listing
    * pages were fetched, which byte ranges were requested, and in what
    * order sheet ops arrived.
    */
  private class RestStub {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    final case class Obj(name: String, bytes: Array[Byte], created: String)
    val objects = scala.collection.mutable.LinkedHashMap.empty[String, Obj]
    val sheets = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val sheetOps = scala.collection.mutable.ArrayBuffer.empty[String]
    val rangeHeaders = scala.collection.mutable.ArrayBuffer.empty[String]
    var listRequests = 0
    var failNextMedia = 0
    // RFC-compliant servers declare `Content-Range: bytes a-b/total` on
    // 206; set false to model ones that omit it (the 416-probe fallback)
    var declareTotals = true
    // serve only half the requested span for the next N 206 responses —
    // legal per RFC 9110 §14.4, and exactly what a mid-object truncation
    // looks like; the connector must keep ranging, not stop short
    var shortNextMedia = 0

    def addObject(id: String, name: String, bytes: Array[Byte], created: String): Unit =
      objects(id) = Obj(name, bytes, created)

    private def respond(ex: HttpExchange, status: Int, body: Array[Byte]): Unit = {
      ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }

    private def query(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap

    val server: HttpServer =
      HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)

    server.createContext("/objects", { ex =>
      val parts = ex.getRequestURI.getPath.stripPrefix("/objects").stripPrefix("/")
      if (parts.isEmpty) { // paged listing
        this.synchronized { listRequests += 1 }
        val q = query(ex)
        val size = q("pageSize").toInt
        val from = q.get("pageToken").map(_.toInt).getOrElse(0)
        val page = objects.toSeq.slice(from, from + size)
        val root = mapper.createObjectNode()
        val files = root.putArray("files")
        page.foreach { case (id, o) =>
          val f = files.addObject()
          f.put("id", id); f.put("name", o.name); f.put("mimeType", "file")
          f.put("parent", q("container"))
          f.put("createdTime", o.created); f.put("modifiedTime", o.created): Unit
        }
        if (from + size < objects.size) root.put("nextPageToken", (from + size).toString): Unit
        respond(ex, 200, mapper.writeValueAsBytes(root))
      } else { // media download
        val id = parts.stripSuffix("/media")
        Option(ex.getRequestHeaders.getFirst("Range")).foreach(r =>
          this.synchronized { rangeHeaders += s"$id:$r" })
        val injectFail = this.synchronized {
          if (failNextMedia > 0) { failNextMedia -= 1; true } else false
        }
        if (injectFail) respond(ex, 500, "transient".getBytes("UTF-8"))
        else objects.get(id) match {
          case None => respond(ex, 404, Array.emptyByteArray)
          case Some(o) =>
            Option(ex.getRequestHeaders.getFirst("Range")) match {
              case Some(r) =>
                val Array(a, b) = r.stripPrefix("bytes=").split("-", 2).map(_.toLong)
                val from = a.toInt
                // RFC 9110 strictness: a start offset at/past EOF is
                // 416 Range Not Satisfiable, NOT an empty 206 — exactly
                // what a real object store answers on the chunk after
                // an exact-multiple-of-chunkSize object
                if (from >= o.bytes.length) respond(ex, 416, Array.emptyByteArray)
                else {
                  val short = this.synchronized {
                    if (shortNextMedia > 0) { shortNextMedia -= 1; true } else false
                  }
                  var to = math.min(b, o.bytes.length - 1L).toInt
                  if (short) to = from + math.max((to - from) / 2, 0)
                  if (declareTotals) ex.getResponseHeaders.add(
                    "Content-Range", s"bytes $from-$to/${o.bytes.length}")
                  respond(ex, 206, o.bytes.slice(from, to + 1))
                }
              case None => respond(ex, 200, o.bytes)
            }
        }
      }
    })

    server.createContext("/sheets", { ex =>
      val parts = ex.getRequestURI.getPath.stripPrefix("/sheets/").split("/|:")
      val id = java.net.URLDecoder.decode(parts(0), "UTF-8")
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("POST", p) if p.endsWith("/clear") =>
          this.synchronized { sheetOps += s"clear:$id"; sheets.remove(id) }
          respond(ex, 200, Array.emptyByteArray)
        case ("PUT", p) if p.endsWith("/values") =>
          val body = ex.getRequestBody.readAllBytes()
          this.synchronized { sheetOps += s"update:$id"; sheets(id) = body }
          respond(ex, 200, Array.emptyByteArray)
        case ("GET", p) if p.endsWith("/values") =>
          sheets.get(id) match {
            case Some(b) => respond(ex, 200, b)
            case None => respond(ex, 404, Array.emptyByteArray)
          }
        case _ => respond(ex, 400, Array.emptyByteArray)
      }
    })

    server.start()
    def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  private def latin1Csv(rows: Seq[String]): Array[Byte] = {
    val header = "Radicado;Fecha Radicacion;Procedencia;Detalle;Naturaleza;" +
      "Medio;Expediente;Destino;Rpta;Opciones"
    (Seq("JUNK", header) ++ rows).mkString("\n").getBytes(Charset.forName("ISO-8859-1"))
  }

  test("snapshot swap fails loudly, naming both paths, and keeps the previous snapshot") {
    val dir = Files.createTempDirectory("swap_")
    val target = dir.resolve("radicados")
    val tmp = dir.resolve("radicados__tmp") // never written: the rename source is missing
    val e1 = intercept[java.io.IOException](EtlRunner.swapIn(tmp.toString, target.toString))
    assert(e1.getMessage.contains(tmp.toString) && e1.getMessage.contains(target.toString))

    Files.createDirectories(target)
    Files.write(target.resolve("part-0.parquet"), Array[Byte](1))
    val e2 = intercept[java.io.IOException](EtlRunner.swapIn(tmp.toString, target.toString))
    assert(e2.getMessage.contains(tmp.toString) && e2.getMessage.contains(target.toString))
    assert(Files.exists(dir.resolve("radicados__old").resolve("part-0.parquet")))
  }

  test("REST connector e2e: paged listing, chunked+retried download, newest-file pick") {
    val stub = new RestStub
    try {
      val modeled = Files.createTempDirectory("mod_rest_")
      // three catalog objects at pageSize=2 → the listing MUST paginate
      stub.addObject("f-old", "raw_radicados.csv",
        latin1Csv(Seq("900;01/01/2024 08:00;X;v;N;WEB;E9;OTRO;0;")),
        "2026-08-10T00:00:00Z")
      stub.addObject("f-noise", "raw_otros.csv",
        latin1Csv(Seq("901;01/01/2024 08:00;X;v;N;WEB;E9;OTRO;0;")),
        "2026-08-11T00:00:00Z")
      stub.addObject("f-new", "raw2_radicados.csv",
        latin1Csv(Seq(
          "100;15/03/2024 14:30;PEPE;asunto;N;WEB;E1;PROFESIONAL-GGC-JUAN PEREZ;0;",
          "101;16/03/2024 09:00;ANA;otro;N;WEB;E2;MARIA LOPEZ;1;")),
        "2026-08-12T00:00:00Z")
      val rest = new RestConnector(stub.base, pageSize = 2, chunkSize = 64,
        maxRetries = 3, retryBackoffMs = 1)
      stub.failNextMedia = 1 // first media chunk 500s; the connector must retry it
      val r = EtlRunner.run(spark, "raw-container", modeled.toString, "radicados",
        java.sql.Date.valueOf("2026-08-12"), Dictionaries.radicados,
        auditCols = Seq("Rpta", "funcionario_destino"),
        source = rest, sink = rest)
      assert(r.sourceFile == "f-new") // newest by createdTime across pages
      assert(r.rows == 2)
      assert(stub.listRequests >= 2, s"listing did not paginate: ${stub.listRequests}")
      // ~250-byte object at 64-byte chunks → several ranged requests,
      // including the re-fetch of the failed first chunk
      assert(stub.rangeHeaders.count(_.startsWith("f-new:")) >= 4,
        stub.rangeHeaders.mkString(", "))
      assert(stub.rangeHeaders.count(_ == "f-new:bytes=0-63") >= 2,
        "transient 500 was not retried on the same range")
      val out = spark.read.parquet(r.modeledPath)
      assert(out.count() == 2)
      assert(out.filter(out("Radicado") === "100")
        .select("grupo_destino").collect()(0).getString(0) ==
        "Grupo de gestion de cesantias")
    } finally stub.server.stop(0)
  }

  test("REST download terminates on 416 for exact-multiple-of-chunkSize and empty objects") {
    val stub = new RestStub
    stub.declareTotals = false // servers omitting Content-Range need the 416 probe
    try {
      val rest = new RestConnector(stub.base, chunkSize = 64, retryBackoffMs = 1)
      // exactly 2 chunks: after 128 bytes the connector's third request
      // starts at EOF and a strict server answers 416 — must finish, not throw
      val exact = ("JUNK\nh1;h2\n" + "x" * (128 - 12) + "\n").getBytes("ISO-8859-1")
      assert(exact.length % 64 == 0)
      stub.addObject("f-exact", "raw_padding.csv", exact, "2026-08-12T00:00:00Z")
      val got = rest.readCsv(spark, "f-exact", skipLines = 1)
      assert(got.count() >= 1)
      assert(stub.rangeHeaders.count(_.startsWith("f-exact:")) == 3,
        stub.rangeHeaders.mkString(", "))
    } finally stub.server.stop(0)
  }

  test("REST download honors Content-Range total: no 416 probe, and short 206s never truncate") {
    val stub = new RestStub
    try {
      val rest = new RestConnector(stub.base, chunkSize = 64, retryBackoffMs = 1)
      // declared total ends the loop at offset==total: exactly 2 ranged
      // requests for a 128-byte object, no third probe
      val exact = ("JUNK\nh1;h2\n" + "x" * (128 - 12) + "\n").getBytes("ISO-8859-1")
      stub.addObject("f-exact", "raw_padding.csv", exact, "2026-08-12T00:00:00Z")
      assert(rest.readCsv(spark, "f-exact", skipLines = 1).count() >= 1)
      assert(stub.rangeHeaders.count(_.startsWith("f-exact:")) == 2,
        stub.rangeHeaders.mkString(", "))
      // a mid-object 206 shorter than the requested span (legal, and what
      // a truncated read looks like) must continue from the new offset —
      // the old short-body-means-EOF heuristic would cut the file here
      stub.shortNextMedia = 1
      val rows = (0 until 20).map(i => s"$i;v$i")
      val obj = ("JUNK\nh1;h2\n" + rows.mkString("\n") + "\n").getBytes("ISO-8859-1")
      stub.addObject("f-short", "raw_short.csv", obj, "2026-08-12T00:00:00Z")
      assert(rest.readCsv(spark, "f-short", skipLines = 1).count() == 20,
        "short mid-object 206 truncated the download")
    } finally stub.server.stop(0)
  }

  test("REST download without declared totals still recovers from a short mid-object 206") {
    val stub = new RestStub
    stub.declareTotals = false
    stub.shortNextMedia = 1
    try {
      val rest = new RestConnector(stub.base, chunkSize = 64, retryBackoffMs = 1)
      val rows = (0 until 20).map(i => s"$i;v$i")
      val obj = ("JUNK\nh1;h2\n" + rows.mkString("\n") + "\n").getBytes("ISO-8859-1")
      stub.addObject("f-short", "raw_short.csv", obj, "2026-08-12T00:00:00Z")
      // no total to trust: the connector keeps ranging from the short
      // chunk's new offset and terminates on the eventual 416
      assert(rest.readCsv(spark, "f-short", skipLines = 1).count() == 20,
        "short 206 without Content-Range truncated the download")
    } finally stub.server.stop(0)
  }

  test("REST sheet export: clear precedes update, header first, nulls survive the round-trip") {
    val stub = new RestStub
    try {
      import spark.implicits._
      val rest = new RestConnector(stub.base, retryBackoffMs = 1)
      val df = Seq(("a", Some("1")), ("b", None)).toDF("k", "v")
      rest.writeFullRefreshExport(df, "sheet1")
      assert(stub.sheetOps.toSeq == Seq("clear:sheet1", "update:sheet1"))
      val back = rest.readSheet(spark, "sheet1")
      assert(back.columns.toSeq == Seq("k", "v"))
      val rows = back.orderBy("k").collect()
        .map(r => (r.getString(0), Option(r.getString(1))))
      assert(rows.toSeq == Seq(("a", Some("1")), ("b", None)))
    } finally stub.server.stop(0)
  }

  test("REST sheet export row order is pinned, not partition luck") {
    val stub = new RestStub
    try {
      import spark.implicits._
      val rest = new RestConnector(stub.base, retryBackoffMs = 1)
      // 8 partitions of unordered keys: an unsorted collect would emit
      // whichever partition answers first; the export must sort
      val df = Seq("q", "b", "z", "a", "m", "c").toDF("k").repartition(8)
      rest.writeFullRefreshExport(df, "sheet2")
      val payload = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(stub.sheets("sheet2")).path("values")
      import scala.jdk.CollectionConverters._
      val stored = payload.elements().asScala.drop(1).map(_.get(0).asText()).toSeq
      assert(stored == Seq("a", "b", "c", "m", "q", "z"), stored.toString)
      // and an explicit caller ordering wins over the default
      val typed = Seq(10, 2, 33).toDF("id").repartition(4)
      rest.writeFullRefreshExport(typed, "sheet3", ";", orderBy = Seq("id"))
      val p3 = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(stub.sheets("sheet3")).path("values")
      val ids = p3.elements().asScala.drop(1).map(_.get(0).asText()).toSeq
      // typed sort: 2 < 10 < 33 numerically (a lexical sort would say 10 < 2)
      assert(ids == Seq("2", "10", "33"), ids.toString)
    } finally stub.server.stop(0)
  }
}
