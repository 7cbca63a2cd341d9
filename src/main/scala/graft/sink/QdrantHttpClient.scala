package graft.sink

import com.fasterxml.jackson.databind.ObjectMapper
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, CompletionException}

/** Qdrant REST transport for [[VectorIndexSink.VectorIndexClient]] — the
  * wire format of the "batch vector indexing to Qdrant" north star,
  * pinned without a live server (an in-process HTTP fake asserts every
  * serialized payload in QdrantWireSpec).
  *
  * Endpoint/body shapes follow Qdrant's public REST API, matching what
  * the reference's client calls produce (storage.py:56-68 create
  * collection, 71-111 payload indexes, 194-199 upsert):
  *
  *  - `GET /collections` → `result.collections[].name`
  *  - `PUT /collections/{c}` body
  *    `{"vectors":{"size":N,"distance":"Cosine"}}`
  *  - `GET /collections/{c}` → `result.payload_schema` keys = the
  *    existing payload indexes (what the idempotent diff consults)
  *  - `PUT /collections/{c}/index` body
  *    `{"field_name":f,"field_schema":kind}` — a bootstrap's index PUTs
  *    are sent concurrently ([[createIndexes]])
  *  - `PUT /collections/{c}/points?wait=true` body
  *    `{"points":[{"id":…,"vector":[…],"payload":{…}}]}`
  *
  * One instance per partition (built executor-side via the factory
  * closure — [[VectorIndexSink.indexBatch]]); `java.net.http.HttpClient`
  * keeps a connection pool per instance, so the gRPC-channel shape of
  * storage.py:33-38 carries over. Non-2xx responses throw with the
  * response body — a failed upsert must fail the Spark task (and retry
  * idempotently, ids being stable) rather than drop points silently.
  *
  * Wire typing rules Qdrant enforces server-side:
  *
  *  - payload values under an `integer`-kind index must be JSON numbers —
  *    Qdrant indexes only type-matching values, so a string-serialized
  *    `sequence_order` would silently fall out of every range/order
  *    filter. `integerFields` (defaulting to the collection schema's
  *    integer-kind fields) selects which payload keys serialize numeric.
  *  - point ids must be unsigned integers or UUID strings; anything else
  *    is rejected by the server. Numeric ids serialize as JSON numbers,
  *    UUIDs as strings, and any other id fails the task up front with a
  *    clear error instead of a partition-deep Qdrant 4xx. The reference's
  *    memory ids are `str(uuid.uuid4())` (storage.py:171), so real ids
  *    always pass.
  */
final class QdrantHttpClient(baseUrl: String,
    timeout: Duration = Duration.ofSeconds(30),
    integerFields: Set[String] = VectorIndexSink.IntegerPayloadFields)
    extends VectorIndexSink.VectorIndexClient {
  import VectorIndexSink.Point

  private val http = HttpClient.newBuilder().connectTimeout(timeout).build()
  private val mapper = new ObjectMapper()

  private def build(method: String, path: String, body: String): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(baseUrl + path)).timeout(timeout)
    (method match {
      case "GET" => b.GET()
      case "PUT" => b.header("Content-Type", "application/json")
        .PUT(HttpRequest.BodyPublishers.ofString(body))
      case other => throw new IllegalArgumentException(other)
    }).build()
  }

  private def checked(method: String, path: String,
      resp: HttpResponse[String]): String = {
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(
        s"$method $path -> HTTP ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  private def request(method: String, path: String, body: String): String =
    checked(method, path,
      http.send(build(method, path, body), HttpResponse.BodyHandlers.ofString()))

  override def listCollections(): Seq[String] = {
    val root = mapper.readTree(request("GET", "/collections", null))
    val arr = root.path("result").path("collections")
    (0 until arr.size()).map(i => arr.get(i).path("name").asText())
  }

  override def createCollection(name: String, vectorSize: Int,
      distance: String): Unit = {
    val body = mapper.createObjectNode()
    val vectors = body.putObject("vectors")
    vectors.put("size", vectorSize)
    vectors.put("distance", distance)
    request("PUT", s"/collections/$name", mapper.writeValueAsString(body))
  }

  override def listIndexes(collection: String): Seq[String] = {
    val root = mapper.readTree(request("GET", s"/collections/$collection", null))
    val schema = root.path("result").path("payload_schema")
    val it = schema.fieldNames()
    val out = Seq.newBuilder[String]
    while (it.hasNext) out += it.next()
    out.result()
  }

  /** Every index PUT in flight at once, so the wave costs one round trip;
    * waits for all answers, then throws on the first failure in `fields`
    * order. */
  override def createIndexes(collection: String,
      fields: Seq[(String, String)]): Unit = {
    val path = s"/collections/$collection/index"
    val inFlight = fields.map { case (field, kind) =>
      val body = mapper.createObjectNode()
      body.put("field_name", field)
      body.put("field_schema", kind)
      http.sendAsync(build("PUT", path, mapper.writeValueAsString(body)),
        HttpResponse.BodyHandlers.ofString())
    }
    // allOf completes only once every request has completed, failed or not
    try CompletableFuture.allOf(inFlight: _*).join()
    catch { case _: CompletionException => () }
    inFlight.foreach { f =>
      val resp = try f.join() catch {
        case e: CompletionException if e.getCause != null => throw e.getCause
      }
      checked("PUT", path, resp)
    }
  }

  override def upsertBatch(collection: String, points: Seq[Point]): Unit = {
    val body = mapper.createObjectNode()
    val arr = body.putArray("points")
    points.foreach { p =>
      val pn = arr.addObject()
      p.id match {
        case QdrantHttpClient.Unsigned(n) =>
          // u64 range: values past Long.MaxValue ride as BigInteger so
          // Jackson still emits a JSON number, never a string
          if (n.bitLength() <= 63) pn.put("id", n.longValueExact())
          else pn.put("id", n)
        case QdrantHttpClient.Uuid() => pn.put("id", p.id)
        case other => throw new IllegalArgumentException(
          s"Qdrant point ids must be unsigned integers or UUIDs, got '$other'")
      }
      val vec = pn.putArray("vector")
      p.vector.foreach(v => vec.add(v))
      val pl = pn.putObject("payload")
      // sorted keys: a deterministic body byte-for-byte, so retries and
      // the wire spec compare exact serializations
      p.payload.toSeq.sortBy(_._1).foreach {
        case (k, QdrantHttpClient.I64(n)) if integerFields(k) =>
          pl.put(k, n) // numeric JSON: integer-indexed fields only index ints
        case (k, v) => pl.put(k, v)
      }
    }
    request("PUT", s"/collections/$collection/points?wait=true",
      mapper.writeValueAsString(body))
  }
}

object QdrantHttpClient {
  private val U64Max = new java.math.BigInteger("18446744073709551615")

  private def asciiDigits(s: String): Boolean =
    s.nonEmpty && s.forall(c => c >= '0' && c <= '9')

  /** Matches a CANONICAL base-10 unsigned 64-bit id string. Strictness
    * is deliberate: ASCII digits only (Character.isDigit/parseLong
    * accept Unicode digits, which would coerce "١٢٣" to 123), no
    * leading zeros ("007" as numeric 7 would silently alias a distinct
    * string id "7" — better to fail fast with the clear error below),
    * and the full u64 range (2^63..2^64−1 are legal Qdrant ids). */
  private object Unsigned {
    def unapply(s: String): Option[java.math.BigInteger] =
      if (asciiDigits(s) && s.length <= 20 &&
          (s.length == 1 || s.charAt(0) != '0')) {
        val v = new java.math.BigInteger(s)
        if (v.compareTo(U64Max) <= 0) Some(v) else None
      } else None
  }

  /** Matches a canonical signed i64 string (Qdrant integer payload
    * range): ASCII digits, optional leading '-', no leading zeros. */
  private object I64 {
    def unapply(s: String): Option[Long] = {
      val digits = if (s.startsWith("-")) s.substring(1) else s
      if (asciiDigits(digits) &&
          (digits.length == 1 || digits.charAt(0) != '0'))
        try Some(java.lang.Long.parseLong(s)) catch {
          case _: NumberFormatException => None
        }
      else None
    }
  }

  /** Matches an RFC-4122 textual UUID (what `str(uuid.uuid4())` emits). */
  private object Uuid {
    private val Re =
      "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}".r
    def unapply(s: String): Boolean = Re.matches(s)
  }
}
