package graft

import graft.operators.Similarity
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `GraftBridge.exactCheckpoint`: a local checkpoint whose relation
  * carries the exact row count and measured bytes, so Spark's own
  * `autoBroadcastJoinThreshold` picks the join strategy of the operators'
  * node-bounded attaches — no hint, no row-count guard, no extra job. */
class ExactCheckpointSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val marker = "graft_end_marker"

  /** 100 rows behind a planner estimate far over the default threshold:
    * a join's estimate is the product of its sides, and the grouping
    * drops the row count. */
  private def joinDerived: DataFrame =
    spark.range(0, 1000).join(spark.range(0, 1000), "id")
      .groupBy((col("id") % 100).as("k")).agg(count(lit(1)).as("n"))

  private def stats(df: DataFrame) = df.queryExecution.analyzed.stats

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** (action name, executed plan) of every SQL execution `body` ran. A
    * marker execution runs last; the listener queue delivers in order,
    * so once the marker arrives every earlier execution has too. */
  private def executions(body: => Unit): Seq[(String, String)] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      spark.range(1).toDF(marker).collect()
      eventually(timeout(60.seconds)) {
        assert(seen.asScala.exists(_._2.analyzed.output.map(_.name) == Seq(marker)))
      }
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
      .takeWhile(_._2.analyzed.output.map(_.name) != Seq(marker))
      .map { case (f, qe) => f -> qe.executedPlan.toString }
  }

  /** Number of Spark jobs `body` ran (same end-marker discipline). */
  private def jobs(body: => Unit): Int = {
    val started = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      eventually(timeout(60.seconds)) { assert(started.contains(marker)) }
    } finally sc.removeSparkListener(l)
    started.asScala.takeWhile(_ != marker).size
  }

  test("a small exact checkpoint broadcasts with no hint; a stock one has no exact rowCount") {
    val stock = joinDerived.localCheckpoint()
    val exact = GraftBridge.exactCheckpoint(joinDerived)
    assert(stats(stock).rowCount.isEmpty)
    assert(stats(stock).sizeInBytes > 10L * 1024 * 1024)
    assert(stats(exact).rowCount.contains(BigInt(100)))
    assert(stats(exact).sizeInBytes > 0 && stats(exact).sizeInBytes < 10000)
    // the probe side is over the threshold by estimate, like the edge
    // relation of a graph iterator
    val probe = spark.range(0, 1000).join(spark.range(0, 1000), "id")
      .select((col("id") % 100).as("k")).localCheckpoint()
    val withExact = plan(probe.join(exact, "k"))
    assert(withExact.contains("BroadcastHashJoin"), withExact)
    val withStock = plan(probe.join(stock, "k"))
    assert(!withStock.contains("BroadcastHashJoin"), withStock)
    assert(withStock.contains("SortMergeJoin"), withStock)
    // same rows either way
    assert(probe.join(exact, "k").count() == probe.join(stock, "k").count())
  }

  test("an exact checkpoint runs exactly one job, like a stock one, and its rowCount is count()") {
    val input = spark.range(0, 5000, 1, 4).where(col("id") % 3 === 0)
      .select(col("id"), (col("id") * 7).as("v"))
    assert(jobs(input.localCheckpoint()) == 1)
    var exact: DataFrame = null
    assert(jobs { exact = GraftBridge.exactCheckpoint(input) } == 1)
    assert(stats(exact).rowCount.contains(BigInt(exact.count())))
    assert(exact.count() == 1667L)
    assert(exact.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5000L by 3L))
  }

  test("past a lowered threshold the descent and DBSCAN attaches do not broadcast") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    // every attached side at sf0.001 measures over 1 KiB
    spark.conf.set(key, "1024")
    try {
      val descent = executions {
        val e = Tables.embeddings(spark, sf)
        val g0 = Similarity.knnGraphBucketed(e, "embedding", "vec_id",
          k = 8, minCosine = 0.2, planes = 4, seeds = Seq(7, 21), dims = 64)
        Similarity.knnGraphDescent(e, "embedding", "vec_id", g0,
          k = 8, minCosine = 0.2, rounds = 2, dims = 64).collect()
      }
      val rounds = descent.filter(_._1 == "localCheckpoint").map(_._2)
      assert(rounds.size == 3, descent.map(_._1)) // seed graph + 2 rounds
      for (p <- rounds) {
        assert(!p.contains("BroadcastHashJoin"), p)
        assert(p.contains("SortMergeJoin"), p)
      }
      val dbscan = executions {
        SparkEntry.queries("cluster_dbscan")(spark, sf).collect()
      }
      // the gate's own result is the last collect (sizing rules run first)
      val fin = dbscan.filter(_._1 == "collect").map(_._2).last
      val attach = fin.linesIterator.filter(_.contains("LeftOuter")).toSeq
      assert(attach.nonEmpty, fin)
      assert(attach.forall(!_.contains("BroadcastHashJoin")), fin)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
