package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.catalog.{Archetype, ArchetypeCatalog}
import graft.ingest.Ingest
import graft.sink.StoreLayout
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one workload run hands back to [[Main]]. `e2e` and `layers` are
  * name -> value; units live in [[Main]]'s metric tables. */
final case class Outcome(
    attempted: Int,
    failed: Int,
    checks: Seq[(String, Boolean)],
    e2e: Map[String, Double],
    layers: Map[String, Double],
    report: Seq[(String, Double, String)])

/** Shared state and helpers of one run. */
final class Ctx(val spark: SparkSession, val workload: String, val seconds: Int,
    val traced: Boolean, val in: Path, val work: Path, val cpus: Int, val startNs: Long) {
  val dims = 384
  val mapper = new ObjectMapper()
  val manifest: JsonNode = mapper.readTree(in.resolve("manifest.json").toFile)
  lazy val archetype: Archetype =
    ArchetypeCatalog.fromFile(in.resolve("archetype.yaml").toString)
  val listener = new CostListener
  spark.sparkContext.addSparkListener(listener)
  val tracer = new Tracer(spark.sparkContext, traced)
  private var setupEndNs = 0L
  private val fixtureSecs = mutable.ArrayBuffer.empty[Double]

  def path(name: String): String = work.resolve(name).toString

  /** Run a fixture build `reps` times and keep the last result. set-up time
    * is the session start plus the median fixture build, so one slow
    * repetition does not move it. */
  def fixture[T](reps: Int)(build: Int => T): T = {
    var out: Option[T] = None
    for (i <- 0 until reps) {
      val t = System.nanoTime()
      out = Some(build(i))
      fixtureSecs += (System.nanoTime() - t) / 1e9
    }
    out.get
  }

  def setupDone(): Unit = setupEndNs = System.nanoTime()

  /** From JVM main entry to the first timed operation, with the fixture
    * builds counted once, at their median. */
  def setupSeconds: Double = {
    val all = (setupEndNs - startNs) / 1e9
    all - fixtureSecs.sum + Stats.median(fixtureSecs.toSeq)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drainListener(): Unit =
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  /** Run one operation; 1 if it threw (logged to stderr), else 0. */
  def attempt(body: => Unit): Int =
    try { body; 0 }
    catch {
      case e: Exception =>
        System.err.println(s"operation failed: $e")
        e.printStackTrace()
        1
    }

  /** The timed window: `body` runs operations while `more()` holds. */
  def measuring(body: (() => Boolean) => Unit): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    body(() => System.nanoTime() < deadline)
  }
}

object Harness {
  val CallSchema: StructType = StructType(Seq(
    StructField("memory_id", StringType),
    StructField("session_id", StringType),
    StructField("tool", StringType),
    StructField("timestamp", TimestampType),
    StructField("args", MapType(StringType, StringType))))

  def readCalls(spark: SparkSession, file: String): DataFrame =
    spark.read.schema(CallSchema).json(file)

  /** The seam adapter: `Ingest.toMemories` emits `array<double>` embeddings
    * but `VectorIndexSink.indexBatch` reads `getSeq[Float]`, which fails
    * with a ClassCastException behind `QdrantHttpClient`. The store keeps
    * float vectors, as the sink expects; with a float-emitting ingest this
    * cast is a no-op. */
  def adapt(memories: DataFrame): DataFrame =
    memories.withColumn("embedding", col("embedding").cast("array<float>"))

  val PartitionCols = Seq("tool")
  val SortCols = Seq("session_id", "sequence_order")

  def writeStore(df: DataFrame, path: String): Unit =
    StoreLayout.writeOptimized(df, path, PartitionCols, SortCols)

  /** Ingest a call file into a store at `path` (no vector index). */
  def buildStore(ctx: Ctx, callsFile: String, path: String): Unit =
    writeStore(adapt(Ingest.toMemories(readCalls(ctx.spark, callsFile),
      ctx.archetype, ctx.dims)), path)

  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.write.format("noop").mode("overwrite").save()
    p
  }

  /** sha256 over 'id TAB session TAB seq TAB prev' lines sorted by numeric
    * id — the generator computes the same digest from the inputs alone. */
  def sequenceDigest(rows: Seq[(String, String, Int, String)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.sortBy(_._1.toLong).foreach { case (id, s, q, p) =>
      md.update(s"$id\t$s\t$q\t${Option(p).getOrElse("")}\n"
        .getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map(b => "%02x".formatLocal(java.util.Locale.ROOT, b & 0xff)).mkString
  }

  def sequenceRows(store: DataFrame): Seq[(String, String, Int, String)] =
    store.select("memory_id", "session_id", "sequence_order", "preceding_memory_id")
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3)))

  /** Every session's sequence runs 1..n with no gap or repeat. */
  def gapless(rows: Seq[(String, String, Int, String)]): Boolean =
    rows.groupBy(_._2).values.forall { rs =>
      rs.map(_._3).sorted == (1 to rs.size)
    }

  /** Order-independent hash of every column of every row. */
  def contentHash(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match { // map hashing is order-sensitive: hash sorted entries
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")
    String.valueOf(df.agg(sum(h), count(lit(1))).collect()(0))
  }

  def dirStats(path: String): (Long, Long) = {
    val root = new File(path)
    if (!root.exists) (0L, 0L)
    else {
      val files = Files.walk(root.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def rowString(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")
}
