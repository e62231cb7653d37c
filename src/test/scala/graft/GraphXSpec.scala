package graft

import graft.algorithms.{GraphAlgorithms, GraphXAlgorithms}
import graft.sources.GraphSources

/** GraphX variants agree with the DataFrame implementations. */
class GraphXSpec extends SparkSpec {

  val powergrid = "/root/reference/tests/integration/env_init/data/powergrid.dl"
  lazy val pg = GraphSources.readEdgeList(spark, powergrid).cache()

  test("GraphX triangle count matches golden 651") {
    assert(GraphXAlgorithms.triangleCount(pg) === 651L)
  }

  test("GraphX static PageRank agrees with the DataFrame loop") {
    val fixture = GraphSources.readJsonEdges(spark,
      "/root/reference/tests/integration/env_init/data/graph_with_properties.txt")
    val df = GraphAlgorithms.pageRank(fixture, alpha = 0.85, iterations = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gx = GraphXAlgorithms.pageRank(fixture, alpha = 0.85, iterations = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(df.keySet === gx.keySet)
    // same formulation → values agree to FP noise
    df.foreach { case (id, r) => assert(math.abs(r - gx(id)) < 1e-6, s"node $id: $r vs ${gx(id)}") }
  }

  test("GraphX static PageRank: equal without sinks, rescaled to sum n with them") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.model.PropertyGraph
    def graph(edges: Seq[(String, String)]): PropertyGraph = {
      val raw = edges.toDF("src", "dst")
        .select(col("src"), col("dst"), lit("E").as("type"),
          map().cast("map<string,string>").as("properties"))
      PropertyGraph(Seq("a", "b", "c", "d").toDF("id"), PropertyGraph.withEid(raw),
        isDirected = true)
    }
    def ranks(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // every vertex has an out-edge, self-loops and multi-edges included
    val sinkFree = graph(Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "d")))
    val df = ranks(GraphAlgorithms.pageRank(sinkFree, alpha = 0.85, iterations = 4))
    val gx = ranks(GraphXAlgorithms.pageRank(sinkFree, alpha = 0.85, iterations = 4))
    df.foreach { case (id, r) => assert(math.abs(r - gx(id)) < 1e-9, s"node $id: $r vs ${gx(id)}") }
    // d is a sink: the DataFrame loop loses its mass, GraphX rescales the
    // final ranks so that they sum to the vertex count
    val withSink = graph(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")))
    val dfs = ranks(GraphAlgorithms.pageRank(withSink, alpha = 0.85, iterations = 4))
    val gxs = ranks(GraphXAlgorithms.pageRank(withSink, alpha = 0.85, iterations = 4))
    assert(dfs.values.sum < 4.0 - 1e-3)
    val scale = 4.0 / dfs.values.sum
    dfs.foreach { case (id, r) =>
      assert(math.abs(r * scale - gxs(id)) < 1e-9, s"node $id: $r x $scale vs ${gxs(id)}")
    }
  }

  test("connected components find the powergrid's single component") {
    val cc = GraphXAlgorithms.connectedComponents(pg)
    assert(cc.select("component").distinct().count() === 1L)
  }

  test("strongly connected components: cycle vs acyclic tail") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.model.PropertyGraph
    // 1→2→3→1 cycle; 3→4→5 tail: SCCs {1,2,3}, {4}, {5}
    val raw = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"), ("4", "5"))
      .toDF("src", "dst")
      .select(col("src"), col("dst"), lit("E").as("type"),
        map().cast("map<string,string>").as("properties"))
    val nodes = Seq("1", "2", "3", "4", "5").toDF("id")
      .select(col("id"), lit("").as("label"), map().cast("map<string,string>").as("properties"))
    val g = PropertyGraph(nodes, PropertyGraph.withEid(raw), isDirected = true)
    // both execution paths (driver Tarjan ≤ threshold, GraphX above)
    // must agree after the min-id remap
    for (thr <- Seq(10000000L, 0L)) {
      val scc = GraphXAlgorithms.stronglyConnectedComponents(g, numIter = 5, thr)
      val labels = scc.groupBy("component").agg(min(col("id")).as("comp"))
      val byId = scc.join(labels, "component").select(col("id"), col("comp"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(byId === Map("1" -> "1", "2" -> "1", "3" -> "1", "4" -> "4", "5" -> "5"),
        s"threshold=$thr")
    }
  }

  test("scc count-gate escalation: probe overflow with an explicit budget") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.model.PropertyGraph
    // same cycle+tail fixture as above; the probe-cap hook shrinks the
    // probe so these 10 rows (5 nodes + 5 oriented edges) OVERFLOW it,
    // exercising the count-then-collect escalation branches that a
    // production run only reaches past 1M rows
    val raw = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"), ("4", "5"))
      .toDF("src", "dst")
      .select(col("src"), col("dst"), lit("E").as("type"),
        map().cast("map<string,string>").as("properties"))
    val nodes = Seq("1", "2", "3", "4", "5").toDF("id")
      .select(col("id"), lit("").as("label"),
        map().cast("map<string,string>").as("properties"))
    val g = PropertyGraph(nodes, PropertyGraph.withEid(raw), isDirected = true)
    val want = Map("1" -> "1", "2" -> "1", "3" -> "1", "4" -> "4", "5" -> "5")
    def run(thr: Long, probe: Int): Map[String, String] = {
      val scc = GraphXAlgorithms
        .stronglyConnectedComponents(g, numIter = 5, thr, probe)
      val labels = scc.groupBy("component").agg(min(col("id")).as("comp"))
      scc.join(labels, "component").select(col("id"), col("comp"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    // probe = 2: nodes alone overflow → count-gate both sides → local
    assert(run(thr = 100L, probe = 2) === want)
    // probe = 7: nodes fit (5), edges overflow the remainder (2) →
    // edge count-gate → local
    assert(run(thr = 100L, probe = 7) === want)
    // probe overflows AND the counts exceed the budget → distributed
    assert(run(thr = 8L, probe = 2) === want)
    assert(run(thr = 8L, probe = 7) === want)
    // sentinel budget: hard 100M clamp keeps the gate well-defined and
    // the tiny graph still resolves locally, exactly
    assert(run(thr = Long.MaxValue, probe = 2) === want)
  }

  test("tarjan scc: self-loops, long chains, nested cycles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.model.PropertyGraph
    // chain of 2-cycles: (0↔1)→(2↔3)→(4↔5)…, plus a self-loop node
    val pairs = (0 until 200 by 2).flatMap { i =>
      Seq((i.toString, (i + 1).toString), ((i + 1).toString, i.toString)) ++
        (if (i + 2 < 200) Seq(((i + 1).toString, (i + 2).toString)) else Nil)
    } :+ (("self", "self"))
    val raw = pairs.toDF("src", "dst")
      .select(col("src"), col("dst"), lit("E").as("type"),
        map().cast("map<string,string>").as("properties"))
    val nodeIds = (0 until 200).map(_.toString) :+ "self"
    val nodes = nodeIds.toDF("id")
      .select(col("id"), lit("").as("label"), map().cast("map<string,string>").as("properties"))
    val g = PropertyGraph(nodes, PropertyGraph.withEid(raw), isDirected = true)
    val scc = GraphXAlgorithms.stronglyConnectedComponents(g, numIter = 5)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // each 2-cycle is one SCC labeled by its (string-)min member
    assert(scc("0") === scc("1") && scc("2") === scc("3"))
    assert(scc("0") !== scc("2"))
    assert(scc("self") === "self")
    // 100 SCCs from the cycles + the self-loop
    assert(scc.values.toSet.size === 101)
  }
}
