package perfbench

import graft.operators.{Components, Dedup, Profiling, SetSimJoin, Similarity, TextAnalysis}
import graft.sink.StoreLayout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** LLM-data curation over an ingest-built store: exact dedup, MinHash
  * candidates and their connected components, an exact Jaccard set join,
  * embedding near-duplicates, a bucketed kNN graph refined by NN-Descent,
  * quality features and two profiling audits. One operation is one full
  * pass; each operator's output is counted, and the counts of every pass
  * must repeat exactly. */
object CurateWorkload {
  import Harness._

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val store = ctx.fixture(3) { i =>
      val p = ctx.path(s"store_$i")
      buildStore(ctx, ctx.in.resolve("calls.jsonl").toString, p)
      p
    }
    val mem = StoreLayout.read(spark, store)
      .withColumn("doc_id", col("memory_id").cast("long"))
    val n = ctx.manifest.path("store").path("valid").asLong
    val planes = Dedup.planesFor(n, targetBucketSize = 128)

    /** One curation pass; returns the output counts in a fixed order. */
    def pass(): Seq[(String, Long)] = {
      val tr = ctx.tracer
      val held = ArrayBuffer.empty[DataFrame]
      def op[T](name: String)(body: => T): T = tr.span(s"operators.$name")(body)
      def hold(df: DataFrame): DataFrame = { val h = materialize(df); held += h; h }
      val out = ArrayBuffer.empty[(String, Long)]
      out += "exact_clusters" -> op("exact_clusters")(
        Dedup.exactClusters(mem, "content", "doc_id").count())
      val sig = op("minhash_signature")(hold(
        Dedup.minhashSignature(mem, "content", "doc_id", numHashes = 16, shingleK = 3)))
      val cand = op("minhash_candidates")(hold(
        Dedup.minhashCandidatePairs(sig, "doc_id", numHashes = 16, rowsPerBand = 4)))
      out += "candidate_pairs" -> cand.count()
      out += "components" -> op("connected_components")(
        Components.connectedComponents(mem.select(col("doc_id").as("id")), cand)
          .select("component").distinct().count())
      val jac = op("jaccard_pairs")(hold(
        SetSimJoin.jaccardPairs(mem, "content", "doc_id", minSim = 0.8)))
      out += "jaccard_pairs" -> jac.count()
      out += "verified_candidates" -> cand.join(jac, Seq("a", "b"), "left_semi").count()
      out += "embedding_near_dups" -> op("embedding_near_dup")(
        Dedup.embeddingNearDupPairs(mem, "embedding", "doc_id", minCosine = 0.99,
          planes = planes, seed = 7, dims = ctx.dims).count())
      val g0 = op("knn_bucketed")(hold(Similarity.knnGraphBucketed(mem, "embedding",
        "doc_id", k = 8, minCosine = 0.0, planes = planes, seeds = Seq(7, 21),
        dims = ctx.dims)))
      out += "knn_edges" -> g0.count()
      out += "descent_edges" -> op("knn_descent")(Similarity.knnGraphDescent(mem,
        "embedding", "doc_id", g0, k = 8, minCosine = 0.0, rounds = 2,
        dims = ctx.dims).count())
      out += "quality_rows" -> op("quality_features") {
        val q = TextAnalysis.qualityFeatures(mem, "content")
        q.write.format("noop").mode("overwrite").save()
        q.count()
      }
      out += "monotonicity_descents" -> op("monotonicity_audit")(
        Profiling.monotonicityAudit(mem, "doc_id", Seq("sequence_order", "timestamp"))
          .agg(sum("n_descents")).collect()(0).getLong(0))
      out += "rle_runs" -> op("run_length_audit")(
        Profiling.runLengthAudit(mem, Seq("session_id", "sequence_order"),
          Seq("tool", "session_id")).agg(sum("n_runs")).collect()(0).getLong(0))
      held.foreach(_.unpersist(true))
      out.toSeq
    }

    // warm-up: one pass, untimed
    pass()
    ctx.setupDone()

    final case class Done(ms: Double, counts: Seq[(String, Long)], traced: Boolean)
    val done = ArrayBuffer.empty[Done]
    var errors = 0
    ctx.measuring { more =>
      var i = 0
      while (more()) {
        errors += ctx.attempt {
          val t = System.nanoTime()
          val c = pass()
          done += Done((System.nanoTime() - t) / 1e6, c, traced = false)
        }
        if (ctx.traced) errors += ctx.attempt {
          val t = System.nanoTime()
          val c = ctx.tracer.operation(s"curate#$i")(pass())
          done += Done((System.nanoTime() - t) / 1e6, c, traced = true)
        }
        i += 1
      }
    }

    val first = done.headOption.map(_.counts).getOrElse(Nil)
    val distinct = ctx.manifest.path("store").path("distinct_content").asLong
    val wrong = done.count(d => d.counts != first ||
      d.counts.toMap.get("exact_clusters").forall(_ != distinct))
    println("output_counts " + first.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val checks = Seq(
      "no pass threw" -> (errors == 0),
      "exact clusters = distinct generated contents" ->
        first.toMap.get("exact_clusters").contains(distinct),
      "every pass repeats the first pass's counts" -> (wrong == 0),
      "quality features cover every stored memory" -> first.toMap.get("quality_rows").contains(n))

    val plain = done.filterNot(_.traced)
    val ms = plain.map(_.ms).toSeq
    val (_, bytes) = dirStats(store)
    val e2e = Map(
      "setup_s" -> ctx.setupSeconds,
      "throughput_per_s" -> n * plain.size / (ms.sum / 1e3),
      "p50_ms" -> Stats.median(ms),
      "store_bytes_per_call" -> bytes / n.toDouble,
      "peak_rss_mb" -> peakRssMb())
    val c = first.toMap
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      Layers.fromTrace(ctx) ++ Layers.overhead(ctx, ms) ++ Map(
        "operators.candidate_pairs" -> c.getOrElse("candidate_pairs", 0L).toDouble,
        "operators.pair_yield" -> c.getOrElse("verified_candidates", 0L).toDouble /
          c.getOrElse("candidate_pairs", 0L).max(1L))
    Outcome(done.size + errors, wrong + errors, checks, e2e, layers, Seq(
      ("docs_per_s", e2e("throughput_per_s"), "memories/s"),
      ("pass_p50_ms", e2e("p50_ms"), "ms"),
      ("passes", plain.size.toDouble, "count")))
  }
}
