package graft.sink

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.SparkSpec
import graft.catalog.ArchetypeCatalog
import graft.functions.Embedder
import graft.ingest.Ingest
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.functions._

/** Wire-format pin for the Qdrant REST transport: an in-process HTTP
  * fake (JDK `com.sun.net.httpserver`) records every request the client
  * sends and replies with Qdrant-shaped JSON, so the EXACT serialized
  * payloads of create-collection / create-index / upsert are asserted —
  * not just client-call counts. This is the strongest check available
  * with zero egress; a live server swap changes only the base URL.
  */
class QdrantWireSpec extends SparkSpec {
  import VectorIndexSink._

  private val mapper = new ObjectMapper()

  /** Recorded request; body captured verbatim (byte-exact assertions). */
  private case class Req(method: String, path: String, query: String, body: String)

  /** Minimal Qdrant-shaped fake: canned collection/index state consulted
    * by the GETs, every request recorded. Thread-safe — upserts arrive
    * from executor threads under local master. An index PUT for
    * `failIndex` answers HTTP 500 and creates nothing. */
  private final class FakeQdrant(
      preCollections: Map[String, Seq[String]] = Map.empty) {
    @volatile var failIndex: Option[String] = None
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
    private val collections =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()
    preCollections.foreach { case (c, fields) =>
      val s = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      fields.foreach(s.add)
      collections.put(c, s)
    }
    private val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val path = ex.getRequestURI.getPath
      requests.add(Req(ex.getRequestMethod, path, ex.getRequestURI.getQuery, body))
      val (code, resp) = route(ex.getRequestMethod, path, body)
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)

    private def route(method: String, path: String, body: String): (Int, String) = {
      val parts = path.split("/").filter(_.nonEmpty)
      (method, parts.toSeq) match {
        case ("PUT", Seq("collections", _, "index"))
            if failIndex.contains(mapper.readTree(body).path("field_name").asText()) =>
          500 -> """{"status":{"error":"index build failed"},"time":0.0}"""
        case req => 200 -> ok(req, body)
      }
    }

    private def ok(req: (String, Seq[String]), body: String): String =
      req match {
        case ("GET", Seq("collections")) =>
          val names = {
            import scala.jdk.CollectionConverters._
            collections.keySet().asScala.toSeq.sorted
          }
          s"""{"result":{"collections":[${
            names.map(n => s"""{"name":"$n"}""").mkString(",")
          }]},"status":"ok","time":0.0}"""
        case ("PUT", Seq("collections", c)) =>
          collections.putIfAbsent(c,
            java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
          """{"result":true,"status":"ok","time":0.0}"""
        case ("GET", Seq("collections", c)) =>
          val fields = {
            import scala.jdk.CollectionConverters._
            Option(collections.get(c)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
          }
          s"""{"result":{"status":"green","payload_schema":{${
            fields.map(f => s""""$f":{"data_type":"keyword","points":0}""").mkString(",")
          }}},"status":"ok","time":0.0}"""
        case ("PUT", Seq("collections", c, "index")) =>
          collections.get(c).add(
            mapper.readTree(body).path("field_name").asText())
          """{"result":{"operation_id":0,"status":"acknowledged"},"status":"ok","time":0.0}"""
        case ("PUT", Seq("collections", _, "points")) =>
          """{"result":{"operation_id":0,"status":"completed"},"status":"ok","time":0.0}"""
        case other =>
          throw new IllegalStateException(s"unrouted $other")
      }
  }

  private def indexBodies(fields: Seq[(String, String)]): Seq[String] =
    fields.map { case (f, k) => s"""{"field_name":"$f","field_schema":"$k"}""" }

  test("bootstrap serializes the exact Qdrant collection + index payloads") {
    val fake = new FakeQdrant()
    try {
      ensureCollection(new QdrantHttpClient(fake.baseUrl), "memories", 384)
      import scala.jdk.CollectionConverters._
      val reqs = fake.requests.asScala.toSeq
      // discovery → create → every index PUT in one concurrent wave; a
      // collection just created has no indexes, so there is no diff GET
      assert(reqs.head == Req("GET", "/collections", null, ""))
      assert(reqs(1) == Req("PUT", "/collections/memories", null,
        """{"vectors":{"size":384,"distance":"Cosine"}}"""))
      assert(!reqs.exists(r => r.method == "GET" && r.path == "/collections/memories"))
      val indexPuts = reqs.drop(2)
      assert(indexPuts.map(r => (r.method, r.path)).distinct ==
        Seq(("PUT", "/collections/memories/index")))
      // the reference's 12 payload indexes, exact field_schema each
      // (storage.py:73-86); the PUTs are in flight together, so their
      // arrival order is not a wire property — compare as multisets
      assert(indexPuts.map(_.body).sorted == indexBodies(PayloadIndexes).sorted)
    } finally fake.stop()
  }

  test("a failed index PUT fails the bootstrap after the whole wave; a rerun heals it") {
    val fake = new FakeQdrant()
    fake.failIndex = Some("session_id")
    try {
      val client = new QdrantHttpClient(fake.baseUrl)
      val e = intercept[RuntimeException](ensureCollection(client, "memories", 384))
      assert(e.getMessage.contains("PUT /collections/memories/index -> HTTP 500"))
      import scala.jdk.CollectionConverters._
      def indexPuts = fake.requests.asScala.toSeq
        .filter(_.path == "/collections/memories/index")
      // every PUT of the wave reached the server: none abandoned in flight
      assert(indexPuts.map(_.body).sorted == indexBodies(PayloadIndexes).sorted)
      fake.failIndex = None
      fake.requests.clear()
      ensureCollection(client, "memories", 384)
      assert(indexPuts.map(_.body) ==
        indexBodies(PayloadIndexes.filter(_._1 == "session_id")))
    } finally fake.stop()
  }

  test("bootstrap against existing state creates only the missing indexes") {
    val pre = Map("memories" -> Seq("title", "tool", "timestamp"))
    val fake = new FakeQdrant(pre)
    try {
      ensureCollection(new QdrantHttpClient(fake.baseUrl), "memories", 384)
      import scala.jdk.CollectionConverters._
      val reqs = fake.requests.asScala.toSeq
      assert(!reqs.exists(r => r.method == "PUT" && r.path == "/collections/memories"))
      val created = reqs.filter(_.path == "/collections/memories/index")
        .map(r => mapper.readTree(r.body).path("field_name").asText())
      // one concurrent wave: the set created is the wire property, not its order
      assert(created.sorted ==
        PayloadIndexes.map(_._1).filterNot(pre("memories").contains).sorted)
    } finally fake.stop()
  }

  // uuid4-shaped ids, the reference's memory_id form (storage.py:171)
  private val U1 = "11111111-1111-4111-8111-111111111111"
  private val U2 = "22222222-2222-4222-8222-222222222222"
  private val U3 = "33333333-3333-4333-8333-333333333333"

  test("upsert serializes UUID ids, numeric integer-indexed payload, sorted keys") {
    import spark.implicits._
    val fake = new FakeQdrant(Map("memories" -> Nil))
    try {
      val df = Seq(
        (U1, "s1", "click", 1),
        (U2, "s1", "view", 2),
        (U3, "s2", "click", 1))
        .toDF("memory_id", "session_id", "tool", "sequence_order")
        .withColumn("embedding",
          Embedder.embed(col("memory_id"), 4).cast("array<float>"))
        .coalesce(1)
      val base = fake.baseUrl // capture the string, not the spec class
      indexBatch(df, "memories", () => new QdrantHttpClient(base))
      import scala.jdk.CollectionConverters._
      val puts = fake.requests.asScala.toSeq
        .filter(_.path == "/collections/memories/points")
      assert(puts.size == 1 && puts.head.query == "wait=true")
      // exact serialized payload object: sorted keys, and sequence_order as
      // a JSON NUMBER — its payload index kind is 'integer' and Qdrant
      // silently skips indexing type-mismatched values (storage.py:178)
      assert(puts.head.body.contains(
        """"payload":{"sequence_order":2,"session_id":"s1","tool":"view"}"""))
      val points = mapper.readTree(puts.head.body).path("points")
      assert(points.size() == 3)
      val byId = (0 until points.size()).map(points.get)
        .map(p => p.path("id").asText() -> p).toMap
      assert(byId.keySet == Set(U1, U2, U3))
      // UUID ids stay JSON strings (Qdrant's accepted string-id form)
      assert(byId(U2).path("id").isTextual)
      val m2 = byId(U2)
      assert(m2.path("vector").size() == 4)
      // vector values are the embedder's, serialized as JSON numbers
      val expected = df.where(col("memory_id") === U2)
        .select(col("embedding")).head().getSeq[Float](0)
      val got = (0 until 4).map(i => m2.path("vector").get(i).floatValue())
      assert(got == expected)
    } finally fake.stop()
  }

  test("indexes Ingest.toMemories output directly: double embeddings ship as floats") {
    import spark.implicits._
    val arch = ArchetypeCatalog.fromYaml(
      """version: "1"
        |title: t
        |tools:
        |  Act:
        |""".stripMargin)
    val calls = Seq(
      ("1", "s1", "2024-01-01 00:00:01", "c1"),
      ("2", "s1", "2024-01-01 00:00:02", "c2"),
      ("3", "s2", "2024-01-01 00:00:03", "c3"))
      .toDF("memory_id", "session_id", "ts", "content")
      .select(col("memory_id"), col("session_id"), lit("Act").as("tool"),
        to_timestamp(col("ts")).as("timestamp"),
        map(lit("Title"), col("content"), lit("Content"), col("content"),
          lit("Context"), lit("x")).as("args"))
    val mem = Ingest.toMemories(calls, arch, dims = 4)
    assert(mem.schema("embedding").dataType.simpleString == "array<double>")
    val fake = new FakeQdrant(Map("memories" -> Nil))
    try {
      val base = fake.baseUrl // capture the string, not the spec class
      indexBatch(mem, "memories", () => new QdrantHttpClient(base))
      import scala.jdk.CollectionConverters._
      val points = fake.requests.asScala.toSeq
        .filter(_.path == "/collections/memories/points")
        .flatMap { r =>
          val pts = mapper.readTree(r.body).path("points")
          (0 until pts.size()).map(pts.get)
        }
      val got = points.map { p =>
        p.path("id").asLong().toString ->
          (0 until p.path("vector").size()).map(p.path("vector").get(_).floatValue())
      }.toMap
      val expected = mem.select("memory_id", "embedding").collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1).map(_.toFloat)).toMap
      assert(got == expected && got.keySet == Set("1", "2", "3"))
    } finally fake.stop()
  }

  test("upsert emits numeric ids for unsigned-integer strings") {
    val fake = new FakeQdrant(Map("memories" -> Nil))
    try {
      val client = new QdrantHttpClient(fake.baseUrl)
      client.upsertBatch("memories",
        Seq(Point("42", Seq(0.5f), Map("tool" -> "click"))))
      import scala.jdk.CollectionConverters._
      val put = fake.requests.asScala.toSeq
        .find(_.path == "/collections/memories/points").get
      val p0 = mapper.readTree(put.body).path("points").get(0)
      assert(p0.path("id").isIntegralNumber && p0.path("id").asLong() == 42L)
    } finally fake.stop()
  }

  test("upsert emits full-u64 numeric ids and rejects non-canonical digit strings") {
    val fake = new FakeQdrant(Map("memories" -> Nil))
    try {
      val client = new QdrantHttpClient(fake.baseUrl)
      // 2^63 — above Long.MaxValue, still a legal Qdrant unsigned id
      client.upsertBatch("memories",
        Seq(Point("9223372036854775808", Seq(0.5f), Map.empty)))
      import scala.jdk.CollectionConverters._
      val put = fake.requests.asScala.toSeq
        .find(_.path == "/collections/memories/points").get
      val p0 = mapper.readTree(put.body).path("points").get(0)
      assert(p0.path("id").isIntegralNumber &&
        p0.path("id").bigIntegerValue() ==
          new java.math.BigInteger("9223372036854775808"))
      // leading zeros would alias "007" with "7" — rejected, not coerced
      intercept[IllegalArgumentException] {
        client.upsertBatch("memories", Seq(Point("007", Seq(0.5f), Map.empty)))
      }
      // Unicode digits must not coerce to a numeric id
      intercept[IllegalArgumentException] {
        client.upsertBatch("memories",
          Seq(Point("١٢٣", Seq(0.5f), Map.empty)))
      }
      // past u64 range -> not an id form Qdrant accepts
      intercept[IllegalArgumentException] {
        client.upsertBatch("memories",
          Seq(Point("18446744073709551616", Seq(0.5f), Map.empty)))
      }
    } finally fake.stop()
  }

  test("upsert rejects point ids that are neither unsigned ints nor UUIDs") {
    val fake = new FakeQdrant(Map("memories" -> Nil))
    try {
      val client = new QdrantHttpClient(fake.baseUrl)
      val e = intercept[IllegalArgumentException] {
        client.upsertBatch("memories",
          Seq(Point("m1", Seq(0.5f), Map.empty)))
      }
      assert(e.getMessage.contains("m1"))
      import scala.jdk.CollectionConverters._
      // failed fast: nothing reached the wire
      assert(!fake.requests.asScala.exists(_.path == "/collections/memories/points"))
    } finally fake.stop()
  }
}
