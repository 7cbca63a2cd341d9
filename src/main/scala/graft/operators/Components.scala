package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge.exactCheckpoint
import org.apache.spark.sql.functions._

/** Connected components over candidate-pair edges — the cluster-resolution
  * step a dedup pipeline runs after LSH/Jaccard pairing: every document in
  * a component is a near-duplicate of the others (transitively); the
  * component's min id is the canonical keeper.
  *
  * Algorithm: iterative min-label propagation. Each round joins labels to
  * the (bidirectional) edge list and takes the min neighbor label — one
  * shuffle per round, converging in O(diameter) rounds (near-dup clusters
  * are tiny, so 3-5 rounds in practice; `maxIter` bounds the worst case).
  * This is the standard large-graph formulation (hash-partitioned label
  * table, no driver-side graph), so it scales to billions of edges —
  * unlike a driver union-find.
  */
object Components {

  /** @param nodes  one column `id` (every node, including isolated ones)
    * @param pairs  columns `a`, `b` — undirected candidate edges
    * @return (id, component) where component = min id reachable
    *
    * Only edge-incident nodes participate: an isolated node's label can
    * never change, so the working set is sized by the edge list (for
    * near-dup graphs, a small fraction of the corpus), not by |nodes|.
    * Isolated nodes re-attach with component = id in one final left join.
    *
    * Size-adaptive, like Spark's own broadcast-join selection: an edge
    * list under `driverMaxEdges` (the common case — candidate pairs are
    * the output of LSH pruning) resolves with a driver union-find in one
    * collect; anything larger runs iterative min-label propagation — one
    * shuffle per round over the edge-incident labels, O(diameter) rounds,
    * no driver state — which scales to billions of edges.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 20, driverMaxEdges: Long = 1L << 22): DataFrame = {
    // the exact-size checkpoint's row count is the size gate (no job)
    val edges = exactCheckpoint(pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct())
    if (edges.queryExecution.analyzed.stats.rowCount.get <= driverMaxEdges)
      return attachIsolated(nodes, unionFindLabels(edges))
    iterativeLabels(nodes, edges, maxIter)
  }

  private def attachIsolated(nodes: DataFrame, labels: DataFrame): DataFrame =
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))

  /** Driver union-find (path compression, min id as root) over a bounded,
    * already-deduplicated edge list. */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("src").dataType
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != null && parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.getOrDefault(c, r); parent.put(c, r); c = n }
      r
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    edges.toLocalIterator().forEachRemaining { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    parent.keySet().forEach { n =>
      out.add(org.apache.spark.sql.Row(n, find(n)))
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("component", idType))))
  }

  private def iterativeLabels(nodes: DataFrame, edges: DataFrame,
      maxIter: Int): DataFrame = {
    // localCheckpoint (eager) after every round truncates the lineage —
    // without it the logical plan doubles per iteration and analysis time
    // explodes long before the data does (the classic iterative-algorithm
    // trap; at cluster scale use reliable checkpoint() instead)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // min label among self and neighbors; carry the old label so the
      // convergence check reads the (already materialized) checkpoint
      // instead of re-joining against the previous round
      val viaEdges = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id2"))
        .agg(min(col("component")).as("nbr_min"))
      val next = labels
        .join(viaEdges, labels("id") === viaEdges("id2"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
        .localCheckpoint()
      changed = next.where(col("component") =!= col("old")).count()
      labels = next.select("id", "component")
      iter += 1
    }
    attachIsolated(nodes, labels)
  }

  /** Cluster summary: component id, size, keeper (= component = min id). */
  def clusters(labels: DataFrame): DataFrame =
    labels.groupBy(col("component"))
      .agg(count(lit(1)).as("size"), min(col("id")).as("keep_id"))
}
