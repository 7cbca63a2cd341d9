package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import graft.streaming.StreamingIngest
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Writes beside reads: an open-loop generator thread drops one JSONL file
  * of calls every `period_ms` into the directory `StreamingIngest
  * .startJsonlIngest` follows, while one [[SearchClient]] sends the
  * SearchMemory mix against the growing store in a closed loop. Freshness
  * of a file runs from its scheduled drop time to the end of the first
  * micro-batch after which all its calls are in the store. */
object StreamWorkload {
  import Harness._

  final case class Batch(id: java.util.UUID, batchId: Long, endMs: Long,
      triggerMs: Long, addBatchMs: Long)

  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val trigger = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches.add(Batch(p.id, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli + trigger, trigger,
        Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)))
    }
  }

  /** File name -> id of the micro-batch that read it, from the file
    * source's metadata log in the query checkpoint (plain and compacted
    * log files both hold one JSON entry per file). */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.list(dir).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1))
      .map(mapper.readTree)
      .map(n => Paths.get(java.net.URI.create(n.path("path").asText)).getFileName.toString ->
        n.path("batchId").asLong)
      .toMap
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val m = ctx.manifest
    val files = (0 until m.path("files").size).map(m.path("files").get)
    val period = m.path("period_ms").asLong
    val progress = new Progress
    spark.streams.addListener(progress)

    // set-up: start the stream over the initial file and wait for it
    val reps = 3
    val (inDir, store, ckpt, query) = ctx.fixture(reps) { i =>
      val (in, st, ck) = (ctx.path(s"in_$i"), ctx.path(s"store_$i"), ctx.path(s"ckpt_$i"))
      Files.createDirectories(Paths.get(in))
      Files.copy(ctx.in.resolve("initial.jsonl"), Paths.get(in, "initial.jsonl"))
      val q = StreamingIngest.startJsonlIngest(spark, in, st, ck)
      q.processAllAvailable()
      if (i < reps - 1) q.stop()
      (in, st, ck, q)
    }

    val reqs = SearchClient.requests(ctx)
    // warm-up: the first request of each kind, untimed
    reqs.groupBy(_.kind).values.map(_.head).toSeq.sortBy(_.id)
      .foreach(SearchClient.send(ctx, _, store))
    ctx.drainListener()
    ctx.listener.bySpan.remove(CostListener.Streaming) // set-up micro-batches
    ctx.setupDone()

    // open-loop generator: file k is due at start + (k + 1) * period
    val stage = Paths.get(ctx.path("stage"))
    Files.createDirectories(stage)
    val dropped = new ConcurrentLinkedQueue[(Int, Long, Long)]() // (file, due ms, dropped ms)
    val start = System.currentTimeMillis()
    val end = start + ctx.seconds * 1000L
    val gen = new Thread(() => {
      var k = 0
      while (k < files.size && start + (k + 1) * period <= end) {
        val due = start + (k + 1) * period
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = files(k).path("file").asText
        Files.copy(ctx.in.resolve(name), stage.resolve(name))
        Files.move(stage.resolve(name), Paths.get(inDir, name), StandardCopyOption.ATOMIC_MOVE)
        dropped.add((k, due, System.currentTimeMillis()))
        k += 1
      }
    }, "file-generator")
    gen.setDaemon(true)
    gen.start()

    val done = ArrayBuffer.empty[SearchClient.Done]
    var errors = 0
    ctx.measuring { more =>
      var i = 0
      while (more()) {
        val r = reqs(i % reqs.size)
        errors += ctx.attempt(done += SearchClient.send(ctx, r, store))
        if (ctx.traced) errors += ctx.attempt(done += SearchClient.sendTraced(ctx, r, store, i))
        i += 1
      }
    }
    gen.join()
    val windowEnd = System.currentTimeMillis()
    query.processAllAvailable()
    query.stop()
    ctx.drainListener()

    // ---- freshness: the file source's log says which micro-batch read
    // each file; the listener says when that micro-batch ended ----
    val mine = progress.batches.asScala.filter(_.id == query.id).toSeq.sortBy(_.batchId)
    val endOf = mine.map(b => b.batchId -> b.endMs).toMap
    val batchOf = fileBatches(ckpt)
    val drops = dropped.asScala.toSeq.sortBy(_._1)
    val fresh = drops.map { case (k, due, _) =>
      batchOf.get(files(k).path("file").asText).flatMap(endOf.get).map(_ - due.toDouble)
    }
    val freshMs = fresh.flatten
    val backlog = drops.zip(fresh).count { case ((_, due, _), f) =>
      f.forall(due + _ > windowEnd)
    }

    // ---- checks ----
    val rows = sequenceRows(spark.read.parquet(store))
    val want = drops.lastOption.map(d => files(d._1).path("digest").asText)
      .getOrElse(m.path("initial").path("digest").asText)
    val digest = sequenceDigest(rows)
    println(s"output_digest $digest")
    val (wrong, recomputed) = SearchClient.check(ctx, done.toSeq)
    val checks = Seq(
      "no request threw" -> (errors == 0),
      "some ranked requests were recomputed" -> (recomputed > 0),
      "every dropped file became fresh" -> (freshMs.size == drops.size),
      "final store holds every sent call once, sequenced" -> (digest == want),
      "final store sequences gapless" -> gapless(rows),
      "files were dropped" -> drops.nonEmpty,
      // a traced request and its untraced twin that read the same files
      "traced results equal untraced results" -> done.groupBy(d => (d.req.id, d.files))
        .values.forall(_.map(_.rows.map(rowString)).distinct.size == 1))

    val plain = done.filterNot(_.traced)
    val (nFiles, bytes) = dirStats(store)
    val e2e = Map(
      "setup_s" -> ctx.setupSeconds,
      "throughput_per_s" -> plain.size / (plain.map(_.ms).sum / 1e3),
      "p50_ms" -> Stats.median(freshMs),
      "store_bytes_per_call" -> bytes / rows.size.toDouble,
      "peak_rss_mb" -> peakRssMb())
    val readers = drops.flatMap(d => batchOf.get(files(d._1).path("file").asText)).toSet
    val busy = mine.filter(b => readers.contains(b.batchId))
    val sent = drops.map(d => files(d._1).path("calls").asDouble).sum
    val ms = plain.map(_.ms).toSeq
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      Layers.fromTrace(ctx, withStreaming = true) ++ Layers.overhead(ctx, ms) ++
        SearchClient.layers(ctx, done.toSeq) ++ Map(
        "streaming.trigger_ms" -> Stats.mean(busy.map(_.triggerMs.toDouble)),
        "streaming.add_batch_ms" -> Stats.mean(busy.map(_.addBatchMs.toDouble)),
        "streaming.rows_per_batch" -> sent / busy.size.max(1),
        "streaming.store_files_end" -> nFiles.toDouble,
        "streaming.backlog_files_end" -> backlog.toDouble,
        "streaming.gen_late_ms" -> Stats.mean(drops.map(d => (d._3 - d._2).toDouble)))
    val attempted = done.size + errors + drops.size
    val failed = errors + wrong.size + (drops.size - freshMs.size) +
      (if (digest == want) 0 else drops.size)
    Outcome(attempted, failed, checks, e2e, layers, Seq(
      ("req_per_s", e2e("throughput_per_s"), "requests/s"),
      ("req_p50_ms", Stats.quantile(ms, 0.5), "ms"),
      ("req_p90_ms", Stats.quantile(ms, 0.9), "ms"),
      ("fresh_p50_ms", e2e("p50_ms"), "ms"),
      ("fresh_p90_ms", Stats.quantile(freshMs, 0.9), "ms"),
      ("files", drops.size.toDouble, "count"),
      ("backlog_files_end", backlog.toDouble, "count"),
      ("micro_batches", busy.size.toDouble, "count")))
  }
}
