package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process fake of the Qdrant REST endpoints that
  * [[graft.sink.QdrantHttpClient]] calls, bound to 127.0.0.1.
  *
  * It keeps what the output checks need (the id set per collection and
  * the vector and content of every point whose id is a multiple of
  * `sampleEvery`) and counts requests, points, request-body bytes,
  * handler busy time and non-2xx answers. A malformed body gets a 400, an unknown
  * collection a 404, so a wire bug fails the Spark task instead of passing
  * silently. Handler threads are daemons and [[stop]] shuts them down: the
  * fake never keeps the JVM alive. */
final class QdrantFake(threads: Int) {
  private val sampleEvery = 50L
  final class Collection(val size: Int) {
    val indexes = ConcurrentHashMap.newKeySet[String]()
    val ids = ConcurrentHashMap.newKeySet[String]()
    val sampled = new ConcurrentHashMap[String, (Array[Float], String)]()
  }

  val requests, points, wireBytes, busyNs, rejected = new AtomicLong()
  val collections = new ConcurrentHashMap[String, Collection]()

  private val mapper = new ObjectMapper()
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "qdrant-fake")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private final class Bad(val code: Int, msg: String) extends Exception(msg)
  private def bad(msg: String) = new Bad(400, msg)

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val body = ex.getRequestBody.readAllBytes()
    requests.incrementAndGet()
    wireBytes.addAndGet(body.length)
    val (code, resp) =
      try 200 -> route(ex.getRequestMethod, ex.getRequestURI.getPath,
        new String(body, StandardCharsets.UTF_8))
      catch {
        case b: Bad => b.code -> err(b.getMessage)
        case e: Exception => 400 -> err(s"malformed body: ${e.getMessage}")
      }
    if (code != 200) rejected.incrementAndGet()
    val bytes = resp.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  private def err(msg: String): String = {
    val n = mapper.createObjectNode()
    n.putObject("status").put("error", msg)
    mapper.writeValueAsString(n)
  }

  private def ok(result: JsonNode): String = {
    val n = mapper.createObjectNode()
    n.set[JsonNode]("result", result)
    n.put("status", "ok")
    mapper.writeValueAsString(n)
  }

  private def collection(name: String): Collection =
    Option(collections.get(name)).getOrElse(throw new Bad(404, s"no collection $name"))

  private def route(method: String, path: String, body: String): String =
    (method, path.split("/").filter(_.nonEmpty).toSeq) match {
      case ("GET", Seq("collections")) =>
        val r = mapper.createObjectNode()
        val arr = r.putArray("collections")
        collections.keySet().forEach(n => arr.addObject().put("name", n))
        ok(r)
      case ("PUT", Seq("collections", c)) =>
        val size = mapper.readTree(body).path("vectors").path("size")
        if (!size.isInt || size.asInt <= 0) throw bad("vectors.size must be a positive int")
        collections.putIfAbsent(c, new Collection(size.asInt))
        ok(mapper.getNodeFactory.booleanNode(true))
      case ("GET", Seq("collections", c)) =>
        val r = mapper.createObjectNode()
        val schema = r.putObject("payload_schema")
        collection(c).indexes.forEach(f => schema.putObject(f).put("data_type", "keyword"))
        ok(r)
      case ("PUT", Seq("collections", c, "index")) =>
        val n = mapper.readTree(body)
        if (!n.path("field_name").isTextual || !n.path("field_schema").isTextual)
          throw bad("field_name and field_schema must be strings")
        collection(c).indexes.add(n.path("field_name").asText)
        ok(mapper.getNodeFactory.booleanNode(true))
      case ("PUT", Seq("collections", c, "points")) =>
        upsert(collection(c), mapper.readTree(body).path("points"))
        ok(mapper.createObjectNode().put("status", "completed"))
      case _ => throw new Bad(404, s"no route $method $path")
    }

  private def upsert(c: Collection, pts: JsonNode): Unit = {
    if (!pts.isArray || pts.size == 0) throw bad("points must be a non-empty array")
    // validate the whole batch before applying any of it
    val parsed = (0 until pts.size).map { i =>
      val p = pts.get(i)
      val id = p.path("id")
      if (!(id.isIntegralNumber || id.isTextual)) throw bad(s"point $i: bad id")
      val v = p.path("vector")
      if (!v.isArray || v.size != c.size || !(0 until v.size).forall(j => v.get(j).isNumber))
        throw bad(s"point $i: vector must have ${c.size} numbers")
      if (!p.path("payload").isObject) throw bad(s"point $i: payload must be an object")
      (id.asText, v, p.path("payload").path("content").asText(""))
    }
    points.addAndGet(parsed.size)
    parsed.foreach { case (id, v, content) =>
      c.ids.add(id)
      if (id.forall(_.isDigit) && id.toLong % sampleEvery == 0) {
        val vec = Array.tabulate(v.size)(j => v.get(j).floatValue)
        c.sampled.put(id, (vec, content))
      }
    }
  }
}
