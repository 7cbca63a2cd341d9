package perfbench

import java.nio.file.{Files, Paths}
import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Metric tables: name -> unit, in BENCHMARK.json's order (run.py checks
  * that the two agree). Every run reports every metric of its kind; a
  * layer the workload leaves idle reports 0. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "p50_ms" -> "ms",
    "store_bytes_per_call" -> "bytes",
    "peak_rss_mb" -> "MiB")

  val Operators: Seq[String] = Seq("exact_clusters", "minhash_signature",
    "minhash_candidates", "connected_components", "jaccard_pairs",
    "embedding_near_dup", "knn_bucketed", "knn_descent", "quality_features",
    "monotonicity_audit", "run_length_audit")

  private def ms(names: String*) = names.map(_ -> "ms")
  private def count(names: String*) = names.map(_ -> "count")
  private def bytes(names: String*) = names.map(_ -> "bytes")
  private def share(names: String*) = names.map(_ -> "share")

  val perLayer: Seq[(String, String)] =
    ms("catalog.validate_ms") ++ count("catalog.rejects") ++ share("catalog.valid_ratio") ++
    ms("model.sessionize_ms") ++ bytes("model.shuffle_bytes") ++
    ms("functions.embed_ms") ++ count("functions.embed_rows") ++
    share("functions.embed_dup_ratio") ++
    ms("ingest.to_memories_ms", "ingest.to_memories_self_ms") ++
    ms("sink.adapt_ms", "sink.store_write_ms") ++ count("sink.store_files") ++
    bytes("sink.store_bytes") ++ ms("sink.index_ms") ++ count("sink.index_requests") ++
    bytes("sink.index_wire_bytes") ++ ms("sink.index_server_busy_ms") ++
    count("sink.index_failed") ++
    ms("search.build_ms", "search.plan_ms", "search.exec_ms") ++
    count("search.jobs_per_req", "search.tasks_per_req", "search.files_per_req",
      "search.rows_scanned_per_hit") ++
    ms("search.basic_p50_ms", "search.filtered_p50_ms", "search.by_id_p50_ms",
      "search.req_p50_ms", "search.req_p90_ms") ++
    ms("streaming.trigger_ms", "streaming.add_batch_ms") ++
    count("streaming.rows_per_batch", "streaming.store_files_end",
      "streaming.backlog_files_end") ++ ms("streaming.gen_late_ms") ++
    ms(Operators.map(o => s"operators.${o}_ms"): _*) ++
    count("operators.candidate_pairs") ++ share("operators.pair_yield") ++
    count("spark.jobs", "spark.stages", "spark.tasks") ++
    ms("spark.task_cpu_ms", "spark.sched_delay_ms", "spark.gc_ms") ++
    bytes("spark.shuffle_bytes", "spark.spill_bytes") ++
    ms("trace.overhead_ms") ++ count("trace.spans")
}

/** Derives the per-layer metrics from the tracer, the listener and the
  * Qdrant fake. Times and counts are per traced operation. */
object Layers {
  private val Composite = Map(
    "catalog.validate_ms" -> Seq("catalog.validate", "catalog.rejects",
      "catalog.partition_args"),
    "model.sessionize_ms" -> Seq("model.sessionize"),
    "functions.embed_ms" -> Seq("functions.embed"),
    "ingest.to_memories_ms" -> Seq("ingest.to_memories"),
    "sink.adapt_ms" -> Seq("sink.adapt"),
    "sink.store_write_ms" -> Seq("sink.store_write"),
    "sink.index_ms" -> Seq("sink.index"),
    "search.build_ms" -> Seq("search.build"),
    "search.plan_ms" -> Seq("search.plan"),
    "search.exec_ms" -> Seq("search.exec")) ++
    Metrics.Operators.map(o => s"operators.${o}_ms" -> Seq(s"operators.$o"))

  /** Span times and engine costs per traced operation; `withStreaming`
    * adds the streaming query's micro-batch jobs to the engine costs. */
  def fromTrace(ctx: Ctx, withStreaming: Boolean = false): Map[String, Double] = {
    val tr = ctx.tracer
    if (!tr.enabled) return Map.empty
    ctx.drainListener()
    val spans = tr.spans
    val nOps = spans.count(_.parent == -1).max(1).toDouble
    val byName = spans.groupBy(_.name)
    def msOf(names: Seq[String]) = names.flatMap(byName.getOrElse(_, Nil)).map(_.ms).sum / nOps
    val times = Composite.map { case (m, names) => m -> msOf(names) }
    val self = Map("ingest.to_memories_self_ms" ->
      byName.getOrElse("ingest.to_memories", Nil).map(tr.selfMs).sum / nOps)
    val costs = ctx.listener.bySpan
    def costOf(ids: Iterable[Int]): SparkCost = {
      val c = new SparkCost
      ids.foreach(id => Option(costs.get(id)).foreach(c.add))
      c
    }
    val all = costOf(spans.map(_.id) ++ (if (withStreaming) Seq(CostListener.Streaming) else Nil))
    val sess = costOf(byName.getOrElse("model.sessionize", Nil).map(_.id))
    val counts = tr.counts.map { case (k, v) => k -> Stats.mean(v.toSeq) }
    times ++ self ++ counts ++ Map(
      "model.shuffle_bytes" -> sess.shuffleBytes.get / nOps,
      "spark.jobs" -> all.jobs.get / nOps,
      "spark.stages" -> all.stages.get / nOps,
      "spark.tasks" -> all.tasks.get / nOps,
      "spark.task_cpu_ms" -> all.cpuNs.get / 1e6 / nOps,
      "spark.sched_delay_ms" -> all.schedDelayMs.get / nOps,
      "spark.gc_ms" -> all.gcMs.get / nOps,
      "spark.shuffle_bytes" -> all.shuffleBytes.get / nOps,
      "spark.spill_bytes" -> all.spillBytes.get / nOps,
      "trace.spans" -> spans.size / nOps)
  }

  /** Tracing overhead: median traced operation minus median untraced one,
    * both measured in the same run on the same inputs. */
  def overhead(ctx: Ctx, plainMs: Iterable[Double]): Map[String, Double] =
    if (!ctx.tracer.enabled) Map.empty
    else Map("trace.overhead_ms" ->
      (Stats.median(ctx.tracer.spans.filter(_.parent == -1).map(_.ms)) - Stats.median(plainMs)))

  def sink(fake: QdrantFake, base: (Long, Long, Long), nOps: Int,
      files: Long, bytes: Long): Map[String, Double] = {
    val n = nOps.max(1).toDouble
    Map("sink.index_requests" -> (fake.requests.get - base._1) / n,
      "sink.index_wire_bytes" -> (fake.wireBytes.get - base._2) / n,
      "sink.index_server_busy_ms" -> (fake.busyNs.get - base._3) / 1e6 / n,
      "sink.index_failed" -> fake.rejected.get.toDouble,
      "sink.store_files" -> files.toDouble,
      "sink.store_bytes" -> bytes.toDouble)
  }
}

/** `perfbench.Main --workload W --seconds S --trace 0|1 --in DIR --work DIR
  * --cpus N`: runs one workload on the inputs generated under `--in` (the
  * seed never reaches the program) and prints its result as the line
  * `PERFBENCH_RESULT {json}`. */
object Main {
  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try report(new Ctx(spark, workload, opt("seconds").toInt,
        traced, Paths.get(opt("in")).toAbsolutePath, work, cpus, start))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }

  /** Run the workload and print its report and result line; the exit code
    * is 0 when every check passed, 1 otherwise. */
  private def report(ctx: Ctx): Int = {
    val out = ctx.workload match {
      case "ingest" => IngestWorkload.run(ctx)
      case "stream" => StreamWorkload.run(ctx)
      case "curate" => CurateWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (ctx.traced) writeSpans(ctx, ctx.work.resolve("spans.jsonl"))

    val table = if (ctx.traced) Metrics.perLayer else Metrics.endToEnd
    val values = if (ctx.traced) out.layers else out.e2e
    val mapper = new ObjectMapper()
    val metrics = mapper.createObjectNode()
    var finite = true
    table.foreach { case (name, unit) =>
      val v = values.getOrElse(name, 0.0)
      val ok = !v.isNaN && !v.isInfinite
      finite &&= ok
      metrics.putObject(name).put("value", if (ok) v else 0.0).put("unit", unit)
    }
    val checks = out.checks :+ ("every metric is a finite number" -> finite)
    checks.filterNot(_._2).foreach { case (c, _) => System.err.println(s"CHECK FAILED: $c") }
    out.report.foreach { case (name, v, unit) =>
      println(String.format(Locale.ROOT, "%-28s %14.4f %s", name, Double.box(v), unit))
    }
    val correct = out.failed == 0 && checks.forall(_._2)
    val res = mapper.createObjectNode()
    res.put("correct", correct)
    res.put("attempted", out.attempted)
    res.put("failed", out.failed)
    res.set[com.fasterxml.jackson.databind.JsonNode]("metrics", metrics)
    println("PERFBENCH_RESULT " + mapper.writeValueAsString(res))
    if (correct) 0 else 1
  }

  private def writeSpans(ctx: Ctx, path: java.nio.file.Path): Unit = {
    val mapper = new ObjectMapper()
    val t0 = ctx.startNs
    val lines = ctx.tracer.spans.map { s =>
      val c = Option(ctx.listener.bySpan.get(s.id)).getOrElse(new SparkCost)
      mapper.writeValueAsString(mapper.createObjectNode()
        .put("id", s.id).put("parent", s.parent).put("name", s.name).put("op", s.op)
        .put("start_ms", (s.startNs - t0) / 1e6).put("end_ms", (s.endNs - t0) / 1e6)
        .put("self_ms", ctx.tracer.selfMs(s)).put("jobs", c.jobs.get)
        .put("tasks", c.tasks.get).put("shuffle_bytes", c.shuffleBytes.get))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
