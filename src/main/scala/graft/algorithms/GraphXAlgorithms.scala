package graft.algorithms

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.PropertyGraph

/**
 * GraphX-backed variants of the analytic algorithms (`pgrnk`, `trian`,
 * plus connected components, which the reference lacks). The DataFrame
 * implementations in [[GraphAlgorithms]] are the oracle-checked primary
 * path; these exist for workloads where GraphX's Pregel machinery wins —
 * many-iteration PageRank (vertex-cut partitioning amortizes the edge
 * join that the DataFrame loop pays per iteration) and algorithms that
 * are naturally message-passing.
 *
 * String vertex ids are dictionary-encoded to longs with a deterministic
 * zipWithIndex, the standard GraphX bridge for non-numeric ids.
 */
object GraphXAlgorithms {

  /** Build a GraphX graph + id dictionary from a PropertyGraph.
    *
    * Partition count is sized to the VERTEX COUNT (~100k vertices per
    * partition, min 1, capped at the session default): Pregel runs one
    * task per partition per superstep, so a 25-node graph inheriting the
    * session's 32 shuffle partitions schedules ~64 near-empty tasks per
    * iteration — pure scheduling latency that dominated alg_scc at bench
    * scale and wastes the same per-superstep overhead on a cluster. The
    * dict count is free: zipWithIndex has already materialized it. */
  private def toGraphX(g: PropertyGraph): (Graph[Unit, Unit], DataFrame) = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val dict = g.nodes.select(col("id"))
      .rdd.map(_.getString(0)).zipWithIndex()
      .toDF("id", "vid")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = dict.count()
    val defaultPar = spark.sparkContext.defaultParallelism
    val parts = math.max(1, math.min(defaultPar, (n / 100000L).toInt + 1))
    val edgeRdd: RDD[Edge[Unit]] = g.orientedEdges
      .select(col("src"), col("dst"))
      .join(dict.withColumnRenamed("id", "src").withColumnRenamed("vid", "svid"), "src")
      .join(dict.withColumnRenamed("id", "dst").withColumnRenamed("vid", "dvid"), "dst")
      .select(col("svid"), col("dvid"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
      .coalesce(parts)
    val vertexRdd: RDD[(VertexId, Unit)] =
      dict.select(col("vid")).rdd.map(r => (r.getLong(0), ())).coalesce(parts)
    (Graph(vertexRdd, edgeRdd), dict)
  }

  /** PageRank via GraphX's static implementation (resetProb = 1 - alpha).
    * Returns (id, rank). The recurrence is [[GraphAlgorithms.pageRank]]'s,
    * but sinks are handled differently: GraphX rescales the final ranks
    * so that they sum to the vertex count, while the DataFrame loop lets
    * a sink's mass drain away. GraphX also drops edges with an endpoint
    * outside `nodes`, which the DataFrame loop counts in out-degree. The
    * two agree on graphs where every node has an out-edge and every edge
    * joins two nodes. With sinks but every edge inside `nodes`, GraphX's
    * ranks are the DataFrame loop's times n / Σ rank; on the sf0.01
    * bridge graph that is a difference of up to 5.48 at 4 iterations. */
  def pageRank(g: PropertyGraph, alpha: Double = 0.85, iterations: Int = 10): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val (gx, dict) = toGraphX(g)
    val ranks = gx.staticPageRank(iterations, resetProb = 1 - alpha)
      .vertices.toDF("vid", "rank")
    ranks.join(dict, "vid").select(col("id"), col("rank"))
  }

  /** Triangle count via GraphX's TriangleCount (canonicalized). */
  def triangleCount(g: PropertyGraph): Long = {
    val (gx, _) = toGraphX(g)
    val canon = gx.partitionBy(PartitionStrategy.RandomVertexCut)
    // GraphX counts each triangle at all 3 vertices
    canon.triangleCount().vertices.map(_._2.toLong).fold(0L)(_ + _) / 3
  }

  /** Connected components (undirected reachability); returns
    * (id, component) where component is the minimal member vid. */
  def connectedComponents(g: PropertyGraph): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val (gx, dict) = toGraphX(g)
    val cc = gx.connectedComponents().vertices.toDF("vid", "component")
    cc.join(dict, "vid").select(col("id"), col("component"))
  }

  /** Strongly connected components (directed mutual reachability,
    * parity-plus); returns (id, component) where component is an
    * arbitrary-but-consistent member vid — remap to min(id) per
    * component for a stable labeling. `numIter` bounds the internal
    * coloring iterations; it must cover the longest cycle for exactness. */
  def stronglyConnectedComponents(g: PropertyGraph, numIter: Int): DataFrame =
    stronglyConnectedComponents(g, numIter, 10000000L)

  /** Adaptive execution (the [[graft.pipeline.Dedup.nearDupClusters]]
    * pattern): up to `localThreshold` nodes+edges the SCCs are solved
    * exactly by driver-side iterative Tarjan — linear time, microseconds
    * on the graphs where GraphX's SCC costs seconds of per-superstep
    * job-scheduling latency (each Pregel iteration is several Spark jobs
    * regardless of data volume). Beyond the threshold the GraphX
    * implementation takes over. Both paths label every vertex; the local
    * path labels components by their minimum member id (GraphX labels by
    * minimum internal vid — callers needing stable ids remap to
    * min(id) per component either way). */
  def stronglyConnectedComponents(g: PropertyGraph, numIter: Int,
                                  localThreshold: Long): DataFrame =
    stronglyConnectedComponents(g, numIter, localThreshold, 1000000)

  /** Probe-cap override for specs — exercises the count-gate escalation
    * branches without building a >1M-row fixture. */
  private[graft] def stronglyConnectedComponents(
      g: PropertyGraph, numIter: Int, localThreshold: Long,
      probeBudget: Int): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    // Regime gate with a DRIVER-SAFE probe budget. The gate semantics are
    // "local iff |nodes| + |orientedEdges| ≤ localThreshold" (oriented
    // rows — 2× the stored edges for an undirected graph — because they
    // are what Tarjan consumes), with localThreshold hard-clamped at
    // 100M rows — the sanity ceiling for a driver-side adjacency, so a
    // Long.MaxValue "sentinel" threshold can never trigger a
    // multi-billion-row collect. Up to probeCap = min(threshold, 1M)
    // total rows, a limit(budget+1).collect() both GATES and LOADS in
    // one bounded pass — no separate count actions, and a huge graph
    // ships at most ~1M rows to the driver before the distributed path is
    // chosen. Only when the caller EXPLICITLY budgeted beyond the probe
    // cap does an overflowing probe escalate to two count-only aggregates
    // (no row transfer), and the full collect happens only after the
    // counts prove the graph is within that explicit budget. The default
    // 10M budget therefore keeps the r9 exactness regime for 1M–10M-row
    // graphs (driver Tarjan, exact at any cycle length) at the cost of
    // one count job — never a >1M-row speculative transfer.
    val clamped = math.min(localThreshold, 100000000L)
    val probeCap = math.min(clamped, probeBudget.toLong).toInt
    val local: Option[(Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row])] =
      if (localThreshold < 0) None
      else {
        val nodeProbe = g.nodes.select(col("id")).limit(probeCap + 1).collect()
        if (nodeProbe.length <= probeCap) {
          // complete node set in hand; probe edges within the remainder
          val edgeProbeBudget = probeCap - nodeProbe.length
          val edgeProbe = g.orientedEdges.select(col("src"), col("dst"))
            .limit(edgeProbeBudget + 1).collect()
          if (edgeProbe.length <= edgeProbeBudget) Some((nodeProbe, edgeProbe))
          else if (clamped <= probeCap) None
          else { // explicit budget beyond the probe cap: count-gate edges
            val nEdges = g.orientedEdges.count()
            if (nodeProbe.length + nEdges > clamped) None
            else Some((nodeProbe,
              g.orientedEdges.select(col("src"), col("dst")).collect()))
          }
        } else if (clamped <= probeCap) None
        else { // nodes alone overflow the probe: count-gate both sides
          val nNodes = g.nodes.count()
          val nEdges = g.orientedEdges.count()
          if (nNodes + nEdges > clamped) None
          else Some((g.nodes.select(col("id")).collect(),
            g.orientedEdges.select(col("src"), col("dst")).collect()))
        }
      }
    local match {
      case Some((nodeRows, edgeRows)) => tarjanScc(spark, nodeRows, edgeRows)
      case None =>
        val (gx, dict) = toGraphX(g)
        val scc = gx.stronglyConnectedComponents(numIter).vertices.toDF("vid", "component")
        scc.join(dict, "vid").select(col("id"), col("component"))
    }
  }

  /** Exact SCCs by iterative (explicit-stack) Tarjan on the driver over
    * the probe-collected rows; component = minimum member id. Bounded by
    * the caller's threshold. */
  private def tarjanScc(spark: org.apache.spark.sql.SparkSession,
      nodeRows: Array[org.apache.spark.sql.Row],
      edgeRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val ids = nodeRows.map(_.getString(0))
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val adj = Array.fill(n)(List.empty[Int])
    edgeRows.foreach { r =>
      for (s <- idx.get(r.getString(0)); d <- idx.get(r.getString(1)))
        adj(s) = d :: adj(s)
    }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = Array.fill(n)(-1)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    var counter = 0
    var nComp = 0
    // explicit work stack of (vertex, remaining neighbors) — recursion
    // would overflow on long chains
    for (root <- 0 until n if index(root) == -1) {
      var work = List((root, adj(root)))
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack(root) = true
      while (work.nonEmpty) {
        val (v, rest) = work.head
        rest match {
          case w :: tail =>
            work = (v, tail) :: work.tail
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stack += w; onStack(w) = true
              work = (w, adj(w)) :: work
            } else if (onStack(w)) {
              if (index(w) < low(v)) low(v) = index(w)
            }
          case Nil =>
            work = work.tail
            work.headOption.foreach { case (p, _) =>
              if (low(v) < low(p)) low(p) = low(v)
            }
            if (low(v) == index(v)) {
              var done = false
              while (!done) {
                val w = stack.remove(stack.length - 1)
                onStack(w) = false
                comp(w) = nComp
                done = w == v
              }
              nComp += 1
            }
        }
      }
    }
    // label components by their minimum member id (string ordering — the
    // same ordering Spark's min() uses on the id column)
    val minId = new Array[String](nComp)
    for (i <- 0 until n) {
      val c = comp(i)
      if (minId(c) == null || ids(i) < minId(c)) minId(c) = ids(i)
    }
    (0 until n).map(i => (ids(i), minId(comp(i)))).toDF("id", "component")
  }
}
