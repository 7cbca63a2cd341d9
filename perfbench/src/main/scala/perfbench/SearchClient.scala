package perfbench

import java.time.Instant

import com.fasterxml.jackson.databind.JsonNode
import graft.functions.{SurrogateTextEmbedder, TextEmbedder}
import graft.search.{Filters, Search, SearchRequest}
import graft.search.Filters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.io.Source

/** The search client of the stream workload: one caller sending the seeded
  * SearchMemory mix (basic, filtered with every operator of
  * `Filters.allowedOps`, by-id; compact and summary views) against the
  * store as it stands when each request is built. Ranked requests embed
  * the store at query time through the surrogate `TextEmbedder`, as the
  * `stream_search_roundtrip` gate does. */
object SearchClient {
  import Harness._

  final case class Req(id: Int, kind: String, query: String, detail: String,
      limit: Int, threshold: Double, filters: Seq[FilterSpec])

  /** One request's outcome: its rows, the store files it read, and (traced
    * only) the scan's file and row counts. */
  final case class Done(req: Req, ms: Double, rows: Seq[Row], files: Seq[String],
      traced: Boolean, scanFiles: Long = 0, scanRows: Long = 0)

  private def value(v: JsonNode, op: String): FilterValue =
    if (op == "between") RV(NV(v.get(0).asDouble), NV(v.get(1).asDouble))
    else if (v.isArray) AV((0 until v.size).map(i => v.get(i).asText))
    else if (v.isNumber) NV(v.asDouble)
    else SV(v.asText)

  def requests(ctx: Ctx): IndexedSeq[Req] = {
    val src = Source.fromFile(ctx.in.resolve("requests.jsonl").toFile, "UTF-8")
    try src.getLines().map { line =>
      val n = ctx.mapper.readTree(line)
      val fs = n.path("filters")
      Req(n.path("id").asInt, n.path("search_type").asText, n.path("query").asText,
        n.path("detail").asText, n.path("limit").asInt, n.path("score_threshold").asDouble,
        (0 until fs.size).map { i =>
          val f = fs.get(i)
          val op = f.path("operator").asText
          FilterSpec(f.path("field").asText, op, value(f.path("value"), op))
        })
    }.toIndexedSeq
    finally src.close()
  }

  private val Now = lit(java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))

  /** The request's DataFrame over the store as listed now, and the files
    * that listing holds. */
  def build(ctx: Ctx, r: Req, store: String): (DataFrame, Seq[String]) = {
    val st = ctx.spark.read.parquet(store)
    val points = st.withColumn("content",
      concat(lit("Tool: "), col("tool"), lit("\n"), col("props")))
    val vectors =
      if (r.kind == "by_memory_id") points
      else TextEmbedder.embedText(points, "content", "embedding", ctx.dims)
    val df = Search.searchMemory(vectors, "embedding", ctx.dims,
      SearchRequest(r.query, r.kind, r.limit, r.threshold, r.detail, r.filters), now = Now)
    (df, st.inputFiles.toSeq)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  def send(ctx: Ctx, r: Req, store: String): Done = {
    val t = System.nanoTime()
    val (df, files) = build(ctx, r, store)
    val rows = df.collect().toSeq
    Done(r, (System.nanoTime() - t) / 1e6, rows, files, traced = false)
  }

  /** [[send]] with the build, plan and execution timed as separate spans. */
  def sendTraced(ctx: Ctx, r: Req, store: String, i: Int): Done = {
    val tr = ctx.tracer
    val t = System.nanoTime()
    val (df, files, rows) = tr.operation(s"search#$i") {
      val (df, files) = tr.span("search.build")(build(ctx, r, store))
      tr.span("search.plan")(df.queryExecution.executedPlan)
      (df, files, tr.span("search.exec")(df.collect().toSeq))
    }
    val ms = (System.nanoTime() - t) / 1e6
    val scans = Plans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def metric(name: String) = scans.map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
    Done(r, ms, rows, files, traced = true, metric("numFiles"), metric("numOutputRows"))
  }

  /** A stored row as the independent recomputation sees it. */
  final case class Stored(id: String, session: String, tool: String, tsMicros: Long,
      seq: Int, vec: Array[Double])

  /** Checks every request; returns the ids of the wrong ones. By-id
    * requests must return exactly the id asked for; basic requests must
    * find their exact match (the query is a stored call's text); and every
    * fourth ranked request must equal an independent recomputation over
    * the files it read. */
  def check(ctx: Ctx, done: Seq[Done]): (Seq[Int], Int) = {
    val vecs = mutable.Map.empty[String, Array[Double]]
    val snapshots = mutable.Map.empty[Seq[String], Array[Stored]]
    def snapshot(files: Seq[String]): Array[Stored] = snapshots.getOrElseUpdate(files,
      ctx.spark.read.parquet(files: _*)
        .select("memory_id", "session_id", "tool", "timestamp", "sequence_order", "props")
        .collect().map { r =>
          val id = r.getString(0)
          val ts = r.getTimestamp(3)
          Stored(id, r.getString(1), r.getString(2),
            ts.getTime / 1000 * 1000000L + ts.getNanos / 1000, r.getInt(4),
            vecs.getOrElseUpdate(id, SurrogateTextEmbedder.embedOne(
              s"Tool: ${r.getString(2)}\n${r.getString(5)}", ctx.dims)))
        })
    var recomputed = 0
    val wrong = done.filter { d =>
      val r = d.req
      val ids = d.rows.map(_.getAs[String]("memory_id"))
      val ok = r.kind match {
        case "by_memory_id" => ids == Seq(r.query.trim)
        case _ if r.id % 4 == 0 =>
          recomputed += 1
          expected(ctx, r, snapshot(d.files)) ==
            d.rows.map(x => x.getAs[String]("memory_id") -> x.getAs[Double]("score"))
        case "basic" => d.rows.headOption.exists(_.getAs[Double]("score") >= 0.999999)
        case _ => d.rows.size <= r.limit
      }
      if (!ok) System.err.println(s"request ${r.id} (${r.kind}/${r.detail}) wrong: " +
        d.rows.map(rowString).mkString("; "))
      !ok
    }
    (wrong.map(_.req.id), recomputed)
  }

  /** Ranked request recomputed over collected rows: filter, exact cosine in
    * double, round to 6 places half-up, order by (score desc, memory_id),
    * cut at the limit, then apply the score threshold. */
  def expected(ctx: Ctx, r: Req, rows: Array[Stored]): Seq[(String, Double)] = {
    val q = SurrogateTextEmbedder.embedOne(r.query, ctx.dims)
    rows.filter(s => r.filters.forall(matches(_, s)))
      .map(s => s.id -> round6(cosine(s.vec, q)))
      .sortBy { case (id, sc) => (-sc, id) }
      .take(r.limit)
      .filter(_._2 >= r.threshold)
      .toSeq
  }

  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def micros(iso: String): Long = {
    val i = Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def matches(f: FilterSpec, s: Stored): Boolean = {
    val str: Option[String] = f.field match {
      case "tool" => Some(s.tool)
      case "session_id" => Some(s.session)
      case "memory_id" => Some(s.id)
      case _ => None
    }
    val num: Double = f.field match {
      case "sequence_order" => s.seq.toDouble
      case "timestamp" => s.tsMicros.toDouble
      case _ => Double.NaN
    }
    def n(v: FilterValue): Double = v match {
      case NV(x) => x
      case SV(x) => micros(x).toDouble
      case other => throw new IllegalArgumentException(s"scalar expected: $other")
    }
    def tokens(x: String) = Filters.tokenize(x).toSet
    (f.op, f.value) match {
      case ("is", SV(v)) => str.contains(v)
      case ("is_not", SV(v)) => !str.contains(v)
      case ("before", v) => num < n(v)
      case ("after", v) => num > n(v)
      case ("between", RV(lo, hi)) => num >= n(lo) && num <= n(hi)
      case ("contains", SV(v)) => str.exists(x => tokens(v).subsetOf(tokens(x)))
      case ("contains_substring", SV(v)) => str.exists(_.toLowerCase.contains(v.toLowerCase))
      case ("any_of", AV(vs)) => str.exists(vs.contains)
      case other => throw new IllegalArgumentException(s"unsupported filter $other")
    }
  }

  /** Per-layer search metrics of a traced run. */
  def layers(ctx: Ctx, done: Seq[Done]): Map[String, Double] = {
    val plain = done.filterNot(_.traced)
    val traced = done.filter(_.traced)
    val ms = plain.map(_.ms)
    def p50(f: Done => Boolean) = Stats.median(plain.filter(f).map(_.ms))
    val base = Layers.fromTrace(ctx)
    Map(
      "search.jobs_per_req" -> base("spark.jobs"),
      "search.tasks_per_req" -> base("spark.tasks"),
      "search.files_per_req" -> Stats.mean(traced.map(_.scanFiles.toDouble)),
      "search.rows_scanned_per_hit" ->
        traced.map(_.scanRows).sum.toDouble / traced.map(_.rows.size).sum.max(1),
      "search.basic_p50_ms" -> p50(_.req.kind == "basic"),
      "search.filtered_p50_ms" -> p50(_.req.kind == "filtered"),
      "search.by_id_p50_ms" -> p50(_.req.kind == "by_memory_id"),
      "search.req_p50_ms" -> Stats.quantile(ms, 0.5),
      "search.req_p90_ms" -> Stats.quantile(ms, 0.9))
  }
}
