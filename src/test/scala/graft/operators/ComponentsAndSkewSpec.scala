package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ComponentsAndSkewSpec extends SparkSpec {

  // both physical paths must agree: driver union-find (small edge lists)
  // and distributed min-label propagation (driverMaxEdges = 0 forces it)
  for ((path, maxEdges) <- Seq(("union-find", 1L << 22), ("propagation", 0L))) {
    test(s"connectedComponents resolves transitive clusters and isolates [$path]") {
      import spark.implicits._
      val nodes = (1L to 7L).toDF("id")
      // components: {1,2,3} (chain), {4,5}, {6}, {7}
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
      val labels = Components.connectedComponents(nodes, pairs,
          driverMaxEdges = maxEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
        6L -> 6L, 7L -> 7L))
      val cl = Components.clusters(Components.connectedComponents(nodes, pairs,
          driverMaxEdges = maxEdges))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(cl == Map(1L -> 3L, 4L -> 2L, 6L -> 1L, 7L -> 1L))
    }

    test(s"connectedComponents handles a long chain within maxIter [$path]") {
      import spark.implicits._
      val n = 30L
      val nodes = (1L to n).toDF("id")
      val pairs = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
      val labels = Components.connectedComponents(nodes, pairs, maxIter = 40,
          driverMaxEdges = maxEdges)
        .collect().map(r => r.getLong(1)).toSet
      assert(labels == Set(1L)) // single component, min id 1
    }
  }

  test("connectedComponents: driverMaxEdges at the exact directed edge count is the union-find boundary") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    val nodes = (1L to 7L).toDF("id")
    // (2,1) repeats (1,2) reversed: 6 distinct directed edges, not 8
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (2L, 1L)).toDF("a", "b")
    def run(maxEdges: Long) =
      Components.connectedComponents(nodes, pairs, driverMaxEdges = maxEdges)
    // only the iterative path returns labels read from a checkpoint
    def iterative(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (atCount, below) = (run(6L), run(5L))
    assert(!iterative(atCount))
    assert(iterative(below))
    assert(labels(atCount) == labels(below))
    assert(labels(atCount) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 4L, 6L -> 6L, 7L -> 7L))
  }

  test("salted join returns identical results to a plain join") {
    import spark.implicits._
    val left = Seq((1, "a1"), (1, "a2"), (1, "a3"), (2, "b1"), (3, "c1"))
      .toDF("k", "lv")
    val right = Seq((1, "x"), (2, "y"), (4, "z")).toDF("k", "rv")
    val plain = left.join(right, Seq("k"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val salted = SkewJoin.saltedEquiJoin(left, right, "k", buckets = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(salted == plain)
    val hot = SkewJoin.saltedEquiJoinHot(left, right, "k", Seq(1), buckets = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(hot == plain)
  }

  test("hotKeys finds dominant keys") {
    import spark.implicits._
    val df = (Seq.fill(90)(1) ++ (2 to 11)).toDF("k")
    assert(SkewJoin.hotKeys(df, "k", 0.5) == Seq(1))
  }

  test("bucketsFor sizes salt buckets from the hottest key's row count") {
    import spark.implicits._
    val df = (Seq.fill(1000)(1) ++ (2 to 11)).toDF("k")
    // hottest key has 1000 rows; 300-row tasks → ceil(1000/300) = 4
    assert(SkewJoin.bucketsFor(df, "k", targetRowsPerTask = 300) == 4)
    // uniform data never salts beyond 1
    assert(SkewJoin.bucketsFor((1 to 10).toDF("k"), "k",
      targetRowsPerTask = 100) == 1)
    // clamp at maxBuckets
    assert(SkewJoin.bucketsFor(df, "k", targetRowsPerTask = 1,
      maxBuckets = 16) == 16)
    // empty input degrades to a single bucket
    assert(SkewJoin.bucketsFor(Seq.empty[Int].toDF("k"), "k") == 1)
  }

  test("planesFor grows with corpus size and clamps to the long bitmask") {
    // 2^20 vectors at 1024/bucket → 1024 buckets → 10 planes
    assert(Dedup.planesFor(1L << 20, targetBucketSize = 1024) == 10)
    // tiny corpora keep the floor
    assert(Dedup.planesFor(100, targetBucketSize = 1024) == 4)
    // 100 TB-ish corpora stay within the signed-long bucket id
    assert(Dedup.planesFor(Long.MaxValue, targetBucketSize = 1) == 62)
  }

  test("planesFor: exact at every power-of-two boundary (integer rule)") {
    // the class of input the FP ceil(ln/ln2) form could flip by one ulp:
    // n exactly at target·2^k must give k, n+1 must give k+1 (above the
    // minPlanes floor; 62 cap past k=62)
    for (k <- 5 to 40) {
      assert(Dedup.planesFor(128L << k, targetBucketSize = 128) == k,
        s"boundary k=$k")
      assert(Dedup.planesFor((128L << k) + 1, targetBucketSize = 128) == k + 1,
        s"boundary+1 k=$k")
    }
  }
}
