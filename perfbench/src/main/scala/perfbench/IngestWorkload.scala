package perfbench

import graft.catalog.Validation
import graft.functions.{SurrogateTextEmbedder, TextEmbedder}
import graft.ingest.Ingest
import graft.model.MemoryModel
import graft.sink.{QdrantHttpClient, StoreLayout, VectorIndexSink}
import org.apache.spark.sql.{DataFrame, SaveMode}

import scala.collection.mutable.ArrayBuffer

/** The write path: call batch -> `Ingest.toMemories` -> seam cast ->
  * `StoreLayout.writeOptimized` (partitioned by tool) ->
  * `VectorIndexSink.ensureCollection` + `indexBatch` over HTTP to the
  * in-process Qdrant fake. One operation is one batch, end to end; each
  * goes to its own store directory and collection so the checks can run
  * after the timed window. */
object IngestWorkload {
  import Harness._

  private final case class Op(batch: Int, ms: Double, store: String,
      quarantine: String, collection: String, traced: Boolean, pointsSent: Long = 0)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val batches = (0 until ctx.manifest.path("batches").size).map { i =>
      ctx.manifest.path("batches").get(i)
    }
    val fake = new QdrantFake(ctx.cpus)
    val url = fake.baseUrl
    val factory = () => new QdrantHttpClient(url): VectorIndexSink.VectorIndexClient
    var n = 0

    def untraced(b: Int): Op = {
      val i = n; n += 1
      val file = ctx.in.resolve(batches(b).path("file").asText).toString
      val (store, quarantine, coll) = (ctx.path(s"store_$i"), ctx.path(s"rejects_$i"), s"mem_$i")
      val t = System.nanoTime()
      val calls = readCalls(spark, file)
      Ingest.rejectsOf(calls, ctx.archetype).write.mode(SaveMode.Overwrite).parquet(quarantine)
      writeStore(adapt(Ingest.toMemories(calls, ctx.archetype, ctx.dims)), store)
      VectorIndexSink.ensureCollection(factory(), coll, ctx.dims)
      VectorIndexSink.indexBatch(StoreLayout.read(spark, store), coll, factory)
      Op(b, (System.nanoTime() - t) / 1e6, store, quarantine, coll, traced = false)
    }

    /** The same steps `Ingest.toMemories` composes, in its order, each
      * materialized at its layer boundary under its own span. */
    def traced(b: Int): Op = {
      val i = n; n += 1
      val tr = ctx.tracer
      val file = ctx.in.resolve(batches(b).path("file").asText).toString
      val (store, quarantine, coll) = (ctx.path(s"store_$i"), ctx.path(s"rejects_$i"), s"mem_$i")
      val held = ArrayBuffer.empty[DataFrame]
      def hold(df: DataFrame): DataFrame = { val m = materialize(df); held += m; m }
      val t = System.nanoTime()
      val (validated, ok) = tr.operation(s"ingest#$i") {
        val calls = tr.span("read.calls")(hold(readCalls(spark, file)))
        val (validated, ok, mem) = tr.span("ingest.to_memories") {
          val validated = tr.span("catalog.validate")(hold(Validation.validate(
            Validation.withDefaults(calls, ctx.archetype), ctx.archetype)))
          tr.span("catalog.rejects")(Validation.rejects(validated)
            .write.mode(SaveMode.Overwrite).parquet(quarantine))
          val ok = tr.span("catalog.partition_args")(hold(Validation.partitionArgs(
            Validation.valid(validated), ctx.archetype)))
          val sess = tr.span("model.sessionize")(hold(MemoryModel.sessionize(ok)))
          (validated, ok, tr.span("functions.embed")(hold(TextEmbedder.embedText(
            sess, "content", "embedding", ctx.dims, 64, SurrogateTextEmbedder))))
        }
        val adapted = tr.span("sink.adapt")(hold(adapt(mem)))
        tr.span("sink.store_write")(writeStore(adapted, store))
        tr.span("sink.index") {
          VectorIndexSink.ensureCollection(factory(), coll, ctx.dims)
          VectorIndexSink.indexBatch(StoreLayout.read(spark, store), coll, factory)
        }
        (validated, ok)
      }
      val ms = (System.nanoTime() - t) / 1e6
      // layer counts read the materialized outputs, outside every span
      val all = validated.count().toDouble
      val good = ok.count().toDouble
      tr.count("catalog.rejects", all - good)
      tr.count("catalog.valid_ratio", good / all)
      tr.count("functions.embed_rows", good)
      tr.count("functions.embed_dup_ratio",
        1.0 - ok.select("content").distinct().count() / good)
      held.foreach(_.unpersist(true))
      Op(b, ms, store, quarantine, coll, traced = true)
    }

    // set-up: session is up; warm the whole path on batch 0 (JIT, codegen)
    ctx.fixture(4) { _ => untraced(0) }
    ctx.setupDone()
    val fakeBase = (fake.requests.get, fake.wireBytes.get, fake.busyNs.get)

    val ops = ArrayBuffer.empty[Op]
    var errors = 0
    ctx.measuring { more =>
      var b = 0
      // points the fake received during one operation (operations never overlap)
      def counted(op: => Op): Op = {
        val before = fake.points.get
        val o = op
        o.copy(pointsSent = fake.points.get - before)
      }
      while (more()) {
        errors += ctx.attempt(ops += counted(untraced(b % batches.size)))
        if (ctx.traced) errors += ctx.attempt(ops += counted(traced(b % batches.size)))
        b += 1
      }
    }
    ctx.drainListener()

    // ---- checks, after the timed window ----
    val checks = ArrayBuffer.empty[(String, Boolean)]
    var failed = 0
    val digests = ops.map { op =>
      val m = batches(op.batch)
      val stored = StoreLayout.read(spark, op.store)
      val rows = sequenceRows(stored)
      val rejects = spark.read.parquet(op.quarantine).count()
      val coll = fake.collections.get(op.collection)
      val ids = rows.map(_._1).toSet
      val vectorsOk = coll != null && !coll.sampled.isEmpty && {
        var ok = true
        coll.sampled.forEach { (_, v) =>
          val want = SurrogateTextEmbedder.embedOne(v._2, ctx.dims).map(_.toFloat)
          if (!java.util.Arrays.equals(want, v._1)) ok = false
        }
        ok
      }
      val opChecks = Seq(
        s"batch ${op.batch}: stored rows = valid calls" -> (rows.size == m.path("valid").asInt),
        s"batch ${op.batch}: rejects = injected" -> (rejects == m.path("invalid").asLong),
        s"batch ${op.batch}: sequences gapless" -> gapless(rows),
        s"batch ${op.batch}: sessionization digest" ->
          (sequenceDigest(rows) == m.path("digest").asText),
        s"batch ${op.batch}: indexed points = stored rows" ->
          (coll != null && coll.ids.size == ids.size && ids.forall(coll.ids.contains)),
        s"batch ${op.batch}: each stored row sent once" -> (op.pointsSent == rows.size),
        s"batch ${op.batch}: sampled vectors = embedOne" -> vectorsOk)
      if (opChecks.exists(!_._2)) failed += 1
      checks ++= opChecks.filter(!_._2)
      (op, if (ctx.traced) contentHash(stored) else "")
    }
    checks += "qdrant fake answered every request 2xx" -> (fake.rejected.get == 0)
    if (ctx.traced) {
      val byBatch = digests.groupBy(_._1.batch).values
      checks += "traced stores hash-equal untraced stores" ->
        byBatch.forall(_.map(_._2).distinct.size == 1)
    }
    checks += "no operation threw" -> (errors == 0)

    val plain = ops.filterNot(_.traced)
    val callsDone = plain.map(op => batches(op.batch).path("calls").asDouble).sum
    val plainSecs = plain.map(_.ms).sum / 1e3
    val (files, bytes) = dirStats(plain.last.store)
    val storedRows = batches(plain.last.batch).path("valid").asDouble
    val e2e = Map(
      "setup_s" -> ctx.setupSeconds,
      "throughput_per_s" -> callsDone / plainSecs,
      "p50_ms" -> Stats.median(plain.map(_.ms)),
      "store_bytes_per_call" -> bytes / storedRows,
      "peak_rss_mb" -> peakRssMb())

    val layers = Layers.fromTrace(ctx) ++ Layers.overhead(ctx, plain.map(_.ms)) ++
      Layers.sink(fake, fakeBase, ops.size, files, bytes)
    fake.stop()

    Outcome(attempted = ops.size + errors, failed = failed + errors,
      checks = checks.toSeq, e2e = e2e, layers = layers,
      report = Seq(
        ("calls_per_s", e2e("throughput_per_s"), "calls/s"),
        ("batch_p50_ms", e2e("p50_ms"), "ms"),
        ("batch_p90_ms", Stats.quantile(plain.map(_.ms), 0.9), "ms"),
        ("store_bytes_per_call", e2e("store_bytes_per_call"), "bytes/call"),
        ("batches", plain.size.toDouble, "count")))
  }
}
