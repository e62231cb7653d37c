package graft.algorithms

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.PropertyGraph

/**
 * Graph analytics — the reference's algorithm commands (`trian`, `pgrnk`,
 * `idd`/`odd`, `egnt`, `vcnt`/`ecnt`; SURVEY.md §2.3) re-expressed as
 * declarative DataFrame plans. Where the reference hand-schedules
 * cross-partition aggregation (e.g. its triangle-count master merges
 * central-store files over partition combinations,
 * `TriangleCountExecutor.cpp:910-980`), we emit one logical plan and let
 * Catalyst/AQE pick shuffle strategy — the same computation survives a
 * 1000-executor cluster unchanged.
 */
object GraphAlgorithms {

  /**
   * Local-regime loader shared by the adaptive algorithms: ONE plain
   * collect of the RAW (possibly duplicated) pair frame, with dedup and
   * id-interning fused into the driver-side pass. Measured at 1.4M edges
   * (sf0.1 bridge graph, 32 cores): the previous
   * distinct→persist→count→collect staging cost ~2 s for the distinct
   * shuffle plus ~3-4 s collecting the persisted post-shuffle frame,
   * while a straight collect off the source plan is ~0.6 s — the cached
   * block deserialization, not the dedup, was the bottleneck. Callers
   * gate on the RAW count (an upper bound on the distinct count, and a
   * cheap cached scan when the edges come from the persisted graph).
   *
   * `canonical=true` dedups UNORDERED pairs and emits one pair per
   * undirected edge (oriented by intern index — any consistent
   * orientation serves the undirected-simple-graph consumers);
   * `canonical=false` dedups ordered pairs. Self-loops are dropped.
   */
  private[graft] final case class InternedEdges(
      pairs: Array[(Int, Int)],
      ids: scala.collection.mutable.ArrayBuffer[Any],
      idx: scala.collection.mutable.HashMap[Any, Int])

  /** Probe-collect: `limit(threshold+1).collect()` gates and loads in the
    * SAME single pass — None means over threshold (take the distributed
    * path; the probe work was bounded by the limit), Some means every raw
    * row is already on the driver. This beats a separate count job (which
    * recomputes an unpersisted upstream once more for the collect) and
    * beats persist→count→collect (cache write + columnar decode both
    * measured slower than the straight collect). */
  /** Driver-safe local-regime gate (the SCC probe-cap pattern): up to
    * `probeCap` rows, one limit(probe+1).collect() both GATES and LOADS
    * — a huge frame ships at most ~probeCap rows to the driver before
    * the distributed path is chosen. Only when the caller EXPLICITLY
    * budgeted beyond the probe cap does an overflowing probe escalate
    * to a count-only aggregate (no row transfer), and the full collect
    * happens only after the count proves the frame is within that
    * budget — itself hard-clamped at 100M rows, the sanity ceiling for
    * a driver-side adjacency (a Long.MaxValue "sentinel" threshold can
    * therefore never trigger a multi-billion-row collect). */
  /** Global kill-switch for every adaptive local regime (r18 verdict
    * item 7). The raw limit-probe pre-gates and gated collects are
    * per-query jobs that a deployment whose data is always above the
    * gates pays without ever entering a local regime — at extreme
    * partition counts even a LocalLimit probe launches a task wave.
    * Set session conf `spark.graft.localRegimes=off` (or env
    * `SPARK_GRAFT_LOCAL_REGIMES=off`) to disable every probe and force
    * the distributed path everywhere in ONE place. Default on — the
    * local-mode / bench posture, where the probes are cheap and the
    * local regimes win (r18 measurements). Checked before any probe
    * job is launched, so "off" removes the probes entirely. */
  private[graft] def localRegimesEnabled(spark: org.apache.spark.sql.SparkSession): Boolean = {
    val v = spark.conf.getOption("spark.graft.localRegimes")
      .orElse(sys.env.get("SPARK_GRAFT_LOCAL_REGIMES"))
    v.forall(s => !(s.equalsIgnoreCase("off") || s.equalsIgnoreCase("false") || s == "0"))
  }

  private[graft] def collectInternedGated(raw: DataFrame, canonical: Boolean,
      threshold: Long, probeCap: Int = 1000000): Option[InternedEdges] = {
    if (!localRegimesEnabled(raw.sparkSession)) return None
    val cap = math.min(threshold, 100000000L)
    if (cap < 0) return None
    val probe = math.min(cap, probeCap.toLong).toInt
    val rows = raw.limit(probe + 1).collect()
    if (rows.length <= probe) return Some(collectInterned(rows, canonical))
    if (cap <= probe) return None
    if (raw.count() > cap) None
    else Some(collectInterned(raw.collect(), canonical))
  }

  /** [[collectInternedGated]]'s probe/count-gate for RAW rows — no pair
    * interning or dedup, for operators where multi-edges carry meaning
    * (weighted PageRank). Same probe-cap and 100M hard clamp. */
  private[graft] def collectRowsGated(raw: DataFrame, threshold: Long,
      probeCap: Int = 1000000): Option[Array[org.apache.spark.sql.Row]] = {
    if (!localRegimesEnabled(raw.sparkSession)) return None
    val cap = math.min(threshold, 100000000L)
    if (cap < 0) return None
    val probe = math.min(cap, probeCap.toLong).toInt
    val rows = raw.limit(probe + 1).collect()
    if (rows.length <= probe) return Some(rows)
    if (cap <= probe) return None
    if (raw.count() > cap) None else Some(raw.collect())
  }

  private[graft] def collectInterned(rows: Array[org.apache.spark.sql.Row],
      canonical: Boolean): InternedEdges = {
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    rows.foreach { r =>
      val s0 = intern(r.get(0)); val d0 = intern(r.get(1))
      if (s0 != d0) {
        val (s, d) = if (canonical && s0 > d0) (d0, s0) else (s0, d0)
        val k = (s.toLong << 32) | (d.toLong & 0xffffffffL)
        if (seen.add(k)) out += ((s, d))
      }
    }
    InternedEdges(out.toArray, ids, idx)
  }

  /**
   * Exact triangle count. Reference: node-iterator over merged local +
   * central adjacency with canonicalized (v1<v2<v3) dedup
   * (`src/query/algorithms/triangles/Triangles.cpp:33-230`).
   *
   * Spark formulation: orient each undirected edge from its lower-degree
   * endpoint to its higher-degree endpoint (ties broken by id), then count
   * closed wedges with a two-step self-join. Degree-orientation bounds the
   * out-degree of every vertex by O(sqrt(m)), which caps the wedge
   * (join-intermediate) size — the standard trick that keeps the shuffle
   * tractable on skewed graphs at scale.
   */
  def triangleCount(edges: DataFrame): Long =
    triangleCountDF(edges).collect()(0).getLong(0)

  /** Single-row (triangles BIGINT) plan over an EAGERLY-materialized
    * oriented edge set: the canonicalize + degree + orient pipeline feeds
    * all three self-join branches, and exchange reuse does NOT fire
    * across them once AQE turns the closing joins into broadcasts (the
    * branches sit under differently-shaped parent exchanges — the
    * minhash-signature lesson, measured 3× the whole scan+orient cost).
    * localCheckpoint materializes it once (row-store blocks, cleaned by
    * the ContextCleaner when the frame is GC'd); the returned 3-join
    * frame itself stays lazy/composable. */
  def triangleCountDF(edges: DataFrame): DataFrame =
    triangleCountDF(edges, 10000000L)

  /** Adaptive (the kCore/closeness/LPA pattern): ≤ `localThreshold`
    * canonical edges count driver-side by sorted-adjacency intersection
    * over the SAME low-degree→high-degree orientation — the three-way
    * self-join's shuffles are the dominant term on small graphs. Parity
    * spec-pinned via `localThreshold = 0` plus the powergrid golden 651. */
  def triangleCountDF(edges: DataFrame, localThreshold: Long): DataFrame = {
    val spark = edges.sparkSession
    val raw = edges.select(col("src"), col("dst"))
    // local regime gates on the RAW count (upper bound on the canonical
    // count); canonicalization + dedup fuse into the driver-side intern
    // pass — see collectInternedGated
    collectInternedGated(raw, canonical = true, localThreshold).foreach { in =>
      import spark.implicits._
      return Seq(localTriangleCount(in.pairs)).toDF("triangles")
    }
    val canonAll = PropertyGraph.canonicalUndirected(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the persisted frame feeds the degree + orient pipeline; it is
    // released right after `oriented` eagerly checkpoints (the only
    // consumer of the lineage)
    val canon = canonAll
    val deg = canon.select(col("src").as("v"))
      .unionAll(canon.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))

    // orient low-degree -> high-degree
    val oriented = canon
      .join(deg.withColumnRenamed("v", "src").withColumnRenamed("d", "ds"), "src")
      .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("d", "dd"), "dst")
      .select(
        when(col("ds") < col("dd") || (col("ds") === col("dd") && col("src") < col("dst")),
          struct(col("src").as("a"), col("dst").as("b")))
          .otherwise(struct(col("dst").as("a"), col("src").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .localCheckpoint(true)
    canonAll.unpersist()

    // adaptive closing joins: below ~10M oriented edges the build sides
    // hash-broadcast (the checkpointed frame has no runtime shuffle for
    // AQE to re-plan, so without the hint they degrade to sort-merge
    // joins that shuffle every wedge); above, the shuffle joins are the
    // right call — a billion-edge build side can't broadcast
    val small = oriented.count() <= 10000000L
    def side(d: DataFrame): DataFrame = if (small) broadcast(d) else d
    val e2 = side(oriented.select(col("a").as("b2a"), col("b").as("b2b")))
    val e3 = side(oriented.select(col("a").as("c1"), col("b").as("c2")))

    oriented
      .join(e2, col("b") === col("b2a"))                            // wedge a->b->c
      .join(e3, col("c1") === col("a") && col("c2") === col("b2b")) // close a->c
      .agg(count(lit(1)).as("triangles"))
  }

  /** Driver-side exact triangle count over canonical (src < dst) edges:
    * same low-degree→high-degree (ties by id) orientation as the
    * distributed three-join, counted by sorted-adjacency intersection
    * per edge — O(Σ d_out) per edge, the compact-forward algorithm. */
  private def localTriangleCount(es: Array[(Int, Int)]): Long = {
    val n = es.foldLeft(-1) { case (m, (a, b)) => math.max(m, math.max(a, b)) } + 1
    val deg = new Array[Int](n)
    es.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    // orient to the endpoint with (higher degree, then higher intern id —
    // any total order yields the same count; this one bounds out-degree)
    def before(a: Int, b: Int): Boolean = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val outDeg = new Array[Int](n)
    es.foreach { case (a, b) => if (before(a, b)) outDeg(a) += 1 else outDeg(b) += 1 }
    val out = Array.tabulate(n)(i => new Array[Int](outDeg(i)))
    val fill = new Array[Int](n)
    es.foreach { case (a, b) =>
      val (lo, hi) = if (before(a, b)) (a, b) else (b, a)
      out(lo)(fill(lo)) = hi; fill(lo) += 1
    }
    var i = 0
    while (i < n) { java.util.Arrays.sort(out(i)); i += 1 }
    var tris = 0L
    es.foreach { case (a, b) =>
      val (lo, hi) = if (before(a, b)) (a, b) else (b, a)
      val x = out(lo); val y = out(hi)
      var p = 0; var q = 0
      while (p < x.length && q < y.length) {
        if (x(p) == y(q)) { tris += 1; p += 1; q += 1 }
        else if (x(p) < y(q)) p += 1
        else q += 1
      }
    }
    tris
  }

  /**
   * PageRank, unnormalized formulation: rank(v) = (1-alpha) + alpha *
   * sum(rank(u)/outdeg(u) for u -> v), iterated a fixed number of times from
   * rank=1.0. Matches the reference's worker power iteration (`pgrnk`,
   * defaults alpha=0.85, 10 iterations —
   * `src/frontend/JasmineGraphFrontEndProtocol.h:112-113`,
   * `JasmineGraphInstanceService.cpp:1650-1816`), which also does not
   * redistribute dangling mass. Returns (id, rank), one row per node.
   *
   * Out-degree counts every oriented edge leaving u — self-loops,
   * multi-edges, null `dst` and `dst` outside `nodes` included — while
   * only nodes receive and send rank. The [[rankKernel]] case with
   * restart 1.0 on every vertex; the result is a lazy plan, consume it
   * once or checkpoint it before reading it twice.
   */
  def pageRank(g: PropertyGraph, alpha: Double = 0.85, iterations: Int = 10): DataFrame =
    rankKernel(g, g.nodes.select(col("id"), lit(1.0).as("restart")), alpha, iterations)

  /** Iterations between lineage truncations of a rank chain: a run up to
    * this long stays one lazy plan; a longer one is checkpointed so the
    * plan Spark re-analyzes for each job never grows past it. */
  private val RankPlanDepth = 6

  /**
   * The power iteration behind [[pageRank]] and [[personalizedPageRank]]:
   * r_{t+1}(v) = (1−α)·restart(v) + α·Σ_{u→v} r_t(u)/outdeg(u), from
   * r_0 = restart, over `restart`'s (id, restart) rows.
   *
   * The vertex frame (id, restart, out-neighbour list, outdeg) is built
   * once and localCheckpointed; nothing is persisted. Each iteration
   * explodes rank/outdeg shares from the vertex rows, aggregates them by
   * dst (its one new exchange) and hash-joins the sums back onto the
   * frame. The checkpoint's id layout is not visible to the planner, so
   * the frame is shuffled by id once per query and every iteration's
   * join reads that same reused exchange; the shuffle-hash hint keeps
   * the join from broadcasting or sorting either side.
   */
  private def rankKernel(g: PropertyGraph, restart: DataFrame, alpha: Double,
                         iterations: Int): DataFrame = {
    // collect_list drops null dst; outdeg still counts those edges
    val adj = g.orientedEdges
      .groupBy(col("src").as("id"))
      .agg(collect_list(col("dst")).as("dsts"), count(lit(1)).as("outdeg"))
    val verts = restart.join(adj, Seq("id"), "left")
      .select(col("id"), col("restart"), col("dsts"), col("outdeg"))
      .localCheckpoint(true)
    var ranks = verts.withColumn("rank", col("restart"))
    for (i <- 1 to iterations) {
      val sums = ranks
        .select(explode(col("dsts")).as("dst"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("contrib"))
      ranks = verts.join(sums.hint("shuffle_hash"), col("id") === col("dst"), "left")
        .select(verts.columns.map(col).toSeq :+
          (lit(1.0 - alpha) * col("restart") +
            lit(alpha) * coalesce(col("contrib"), lit(0.0))).as("rank"): _*)
      if (i % RankPlanDepth == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("id"), col("rank"))
  }

  /**
   * Weighted PageRank — each vertex distributes its rank over out-edges
   * proportionally to edge WEIGHT instead of uniformly (the form every
   * weighted-graph deployment actually runs; reference `pgrnk` is
   * unweighted, so this is parity-plus). Weights must be positive
   * integers (cast to long; non-positive rows dropped); duplicate edge
   * rows add weight, matching the unweighted operator's multi-edge
   * semantics.
   *
   * Arithmetic is EXACT INTEGER in micro-units (the [[hits]]
   * unnormalized-integer discipline): ranks start at 1 000 000, each
   * edge ships `r·w DIV Σw`, damping applies as `(1−α) + α·contrib`
   * with α as the exact fraction `alphaNum/alphaDen` in floor integer
   * division — no floats anywhere, so the result replays hash-exact
   * cross-engine where a data-ordered double contribution sum diverges
   * in the last ulp (measured: 1 row in 12k flipped a round-4
   * boundary). The quantization error is < 1 micro per edge per
   * iteration — invisible at ranking granularity. Emits
   * `(id, rank_micro BIGINT, rank DOUBLE)`, the double being the exact
   * micro/1e6.
   *
   * Shape: the weighted edge list joins its out-weight total once and
   * persists; each iteration is one rank-keyed join + one destination
   * aggregate; ranks localCheckpoint every `checkpointInterval`
   * iterations to keep the plan flat.
   */
  def weightedPageRank(edges: DataFrame, alphaNum: Int = 85,
                       alphaDen: Int = 100, iterations: Int = 10,
                       checkpointInterval: Int = 6,
                       // 2M, the convention the r18 regimes standardized
                       // on (r18 verdict item 7): a 10M-row default
                       // collect of 3-long rows is hundreds of MB of
                       // driver heap — callers with bigger drivers can
                       // still raise it explicitly
                       localThreshold: Long = 2000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(alphaDen > 0 && alphaNum >= 0 && alphaNum <= alphaDen,
      s"need 0 <= alphaNum <= alphaDen: $alphaNum/$alphaDen")
    val e = edges.select(col("src"), col("dst"),
        col("weight").cast("long").as("w"))
      .where(col("w") > 0)
    // Adaptive (the katz/BFS pattern): every update is exact Long
    // arithmetic — per edge r·w DIV wout, per vertex base + (αnum·Σ)
    // DIV αden — so a ≤threshold WEIGHTED edge list (multi-edges kept,
    // hence the row gate, not the interning pair-dedup one) replays
    // exactly on the driver. Distributed parity spec-pinned via
    // localThreshold = 0.
    collectRowsGated(e, localThreshold).foreach { rows =>
      return localWeightedPageRank(rows, edges.schema("src").dataType,
        alphaNum, alphaDen, iterations, edges.sparkSession)
    }
    val outW = e.groupBy("src").agg(sum(col("w")).as("wout"))
    val withW = e.join(outW, "src")
      .select(col("src"), col("dst"), col("w"), col("wout"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val base = 1000000L * (alphaDen - alphaNum) / alphaDen
    var ranks = verts.select(col("id"), lit(1000000L).as("r"))
    for (i <- 1 to iterations) {
      val contribs = withW
        .join(ranks, withW("src") === ranks("id"))
        .select(col("dst"), expr("r * w DIV wout").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("contrib"))
      ranks = verts
        .join(contribs, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(base) + expr(s"$alphaNum * coalesce(contrib, 0L) DIV $alphaDen"))
            .as("r"))
      if (i % checkpointInterval == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    // materialize before releasing the edge cache (the round-8 leak-free
    // contract: nothing pinned after the call, no lazy recompute either)
    val out = ranks
      .select(col("id"), col("r").as("rank_micro"),
        (col("r").cast("double") / lit(1000000.0)).as("rank"))
      .localCheckpoint(true)
    withW.unpersist()
    out
  }

  /** (id, <micro> BIGINT, <out> DOUBLE = micro/1e6) frame from driver
    * arrays — the local twins' shared emitter, id type preserved. */
  private def rankFrame(spark: SparkSession, ids: scala.collection.Seq[Any],
      idType: org.apache.spark.sql.types.DataType, micro: Array[Long],
      microCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", idType),
      StructField(microCol, LongType, nullable = false),
      StructField(outCol, DoubleType, nullable = false)))
    val rows = micro.indices.map(i =>
      org.apache.spark.sql.Row(ids(i), micro(i), micro(i).toDouble / 1000000.0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Exact driver replay of [[katz]]: contrib(v) = Σ_{u→v} r(u), then
    * r'(v) = β + (αnum·contrib) DIV αden — identical Long arithmetic,
    * identical results. */
  private def localKatz(in: InternedEdges,
      idType: org.apache.spark.sql.types.DataType, alphaNum: Int,
      alphaDen: Int, iterations: Int, spark: SparkSession): DataFrame = {
    val n = in.ids.length
    var r = Array.fill(n)(1000000L)
    var it = 0
    while (it < iterations) {
      val contrib = new Array[Long](n)
      in.pairs.foreach { case (s, d) => contrib(d) += r(s) }
      val nr = new Array[Long](n)
      var v = 0
      while (v < n) { nr(v) = 1000000L + alphaNum * contrib(v) / alphaDen; v += 1 }
      r = nr
      it += 1
    }
    rankFrame(spark, in.ids, idType, r, "katz_micro", "katz")
  }

  /** Exact driver replay of [[weightedPageRank]] over raw (src, dst, w)
    * rows — multi-edges contribute individually, each edge's share is
    * (r·w) DIV wout exactly as the distributed expression computes it. */
  private def localWeightedPageRank(rows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType, alphaNum: Int,
      alphaDen: Int, iterations: Int, spark: SparkSession): DataFrame = {
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val m = rows.length
    val srcs = new Array[Int](m); val dsts = new Array[Int](m)
    val ws = new Array[Long](m)
    var i = 0
    while (i < m) {
      val row = rows(i)
      srcs(i) = intern(row.get(0)); dsts(i) = intern(row.get(1))
      ws(i) = row.getLong(2)
      i += 1
    }
    val n = ids.length
    val wout = new Array[Long](n)
    i = 0; while (i < m) { wout(srcs(i)) += ws(i); i += 1 }
    val base = 1000000L * (alphaDen - alphaNum) / alphaDen
    var rk = Array.fill(n)(1000000L)
    var it = 0
    while (it < iterations) {
      val contrib = new Array[Long](n)
      i = 0
      while (i < m) {
        contrib(dsts(i)) += rk(srcs(i)) * ws(i) / wout(srcs(i))
        i += 1
      }
      val nr = new Array[Long](n)
      var v = 0
      while (v < n) { nr(v) = base + alphaNum * contrib(v) / alphaDen; v += 1 }
      rk = nr
      it += 1
    }
    rankFrame(spark, ids, idType, rk, "rank_micro", "rank")
  }

  /**
   * Katz centrality (parity-plus, the third member of the
   * eigenvector-centrality family next to [[pageRank]] and [[hits]]):
   * x ← β + α·Aᵀx, counting ALL incoming walks attenuated by length —
   * unlike PageRank there is no out-degree normalization, so a vertex
   * pointed at by well-connected vertices scores high even when those
   * vertices also point elsewhere. Same EXACT micro-unit integer
   * discipline as [[weightedPageRank]]: β = 1 000 000 micro, the
   * attenuation is the exact fraction `alphaNum/alphaDen` applied as
   * one floor division per update — no floats, hash-exact replay in any
   * engine. Convergence needs α < 1/λ_max(A); the caller picks a small
   * fraction (default 1/10) as usual for Katz. Emits
   * (id, katz_micro BIGINT, katz DOUBLE = micro/1e6).
   *
   * Shape: the simple-digraph edge list persists once; each iteration
   * is one rank-keyed equi-join + one destination-grouped sum, plans
   * kept flat by checkpointing every `checkpointInterval` iterations.
   */
  def katz(edges: DataFrame, alphaNum: Int = 1, alphaDen: Int = 10,
           iterations: Int = 6, checkpointInterval: Int = 6,
           localThreshold: Long = 10000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(alphaDen > 0 && alphaNum >= 0 && alphaNum < alphaDen,
      s"need 0 <= alphaNum < alphaDen: $alphaNum/$alphaDen")
    // Adaptive (the BFS/kCore/walks pattern): the update is pure Long
    // arithmetic — β + (αnum·Σ) DIV αden — so a ≤threshold edge list
    // replays exactly on driver adjacency arrays, skipping iterations ×
    // (join + agg + join) shuffle-stage latency that dominates small
    // graphs. Distributed parity is spec-pinned via localThreshold = 0.
    collectInternedGated(edges.select(col("src"), col("dst"))
        .where(col("src") =!= col("dst")), canonical = false,
        localThreshold).foreach { in =>
      return localKatz(in, edges.schema("src").dataType,
        alphaNum, alphaDen, iterations, edges.sparkSession)
    }
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    var ranks = verts.select(col("id"), lit(1000000L).as("r"))
    for (i <- 1 to iterations) {
      val contribs = e.join(ranks, e("src") === ranks("id"))
        .groupBy(col("dst")).agg(sum(col("r")).as("contrib"))
      ranks = verts
        .join(contribs, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(1000000L) + expr(s"$alphaNum * coalesce(contrib, 0L) DIV $alphaDen"))
            .as("r"))
      if (i % checkpointInterval == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    val out = ranks
      .select(col("id"), col("r").as("katz_micro"),
        (col("r").cast("double") / lit(1000000.0)).as("katz"))
      .localCheckpoint(true)
    e.unpersist()
    out
  }

  /**
   * Single-source shortest paths, unweighted (BFS) — parity-plus: the
   * reference ships no shortest-path command, but it is the first thing
   * a graph-engine user reaches for next to PageRank/triangles.
   *
   * DataFrame-iterative frontier expansion: each hop is ONE equi-join
   * shuffle of the current frontier against the edge table plus an
   * anti-join against the settled set; the frontier is eagerly
   * localCheckpointed per hop (the pageRank/beamSearch pattern), so the
   * per-hop plan is O(1) in hop count and the loop stops as soon as a
   * frontier is empty. At cluster scale the edge table is the only large
   * operand and it is persisted once; frontiers are reachability sets.
   * Returns (id, dist) for every vertex reached within `maxHops`.
   */
  def shortestPaths(edges: DataFrame, sourceId: String, maxHops: Int = 10,
                    undirected: Boolean = true,
                    localThreshold: Long = 10000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    // Adaptive (the closeness/kCore/LPA pattern): string-id graphs below
    // the threshold BFS on driver adjacency arrays — each distributed hop
    // costs a join + anti-join of fixed job latency. Parity spec-pinned.
    // The gate counts the RAW base orientation (one cheap scan); the
    // reverse direction for undirected mode is added in memory.
    if (e0.schema("u").dataType == org.apache.spark.sql.types.StringType) {
      // canonical dedup for undirected (one pair per unordered edge,
      // reverse added in memory); ordered dedup when directed
      collectInternedGated(e0, canonical = undirected,
          localThreshold / (if (undirected) 2 else 1)).foreach { in =>
        return localBfs(in, undirected, sourceId, maxHops, spark)
      }
    }
    val e = (if (undirected) e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
             else e0)
      .where(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCnt = e.count()
    // only each hop's FRONTIER is checkpointed; the distance table is a
    // union of those checkpointed frontiers (depth ≤ maxHops, every leaf
    // materialized), so the settled set is never re-materialized per hop.
    // Frontier/settled counts are tracked on the driver (the per-hop
    // count doubles as the loop's emptiness check) and gate broadcast on
    // every checkpointed probe side — the statless-LogicalRDD discipline
    // (see [[gatedBc]]): below the gate each hop only SCANS the edge
    // list; above it the spillable SortMergeJoin stands.
    var dist = Seq((sourceId, 0)).toDF("id", "dist").localCheckpoint(true)
    var frontier = dist
    var frontierCnt = 1L
    var distCnt = 1L
    var h = 0
    while (h < maxHops && frontierCnt > 0) {
      h += 1
      val next = gatedBc(frontier.select(col("id").as("u")), frontierCnt, eCnt)
        .join(e, Seq("u"))
        .select(col("v").as("id")).distinct()
        .join(gatedBc(dist, distCnt, eCnt), Seq("id"), "left_anti")
        .withColumn("dist", lit(h))
        .localCheckpoint(true)
      frontierCnt = next.count()
      distCnt += frontierCnt
      dist = dist.unionByName(next)
      frontier = next
    }
    e.unpersist()
    dist
  }

  /**
   * Gated broadcast for the frontier loops (the egonets / BLP / HITS
   * discipline applied to every checkpointed probe side): a
   * `localCheckpoint` frame is a statless LogicalRDD, so the static
   * planner sort-merge-joins the edge list against it EVERY round and
   * (measured, sf1/sf10 — BENCH_SF10_NOTES.md) AQE does not rescue the
   * plan. The caller tracks the frame's row count on the driver (the
   * per-round count doubles as the loop's emptiness check) and this
   * hints broadcast under the gate; above it the spillable
   * SortMergeJoin is the only correct shape.
   *
   * The gate is RELATIVE as well as absolute: broadcast costs a
   * per-round driver collect + re-ship of `cnt` rows (state frames
   * change every round — nothing is reused), and only pays when that
   * is small next to exchanging the `big` side. Measured on a forced
   * 1.2M-oriented-edge regime (r17 drive probe): state-sized
   * broadcasts at cnt ≈ big/2 cost 1.5–3× over SMJ, while
   * frontier ≪ edges is exactly the egonets shape that won 2.8× at
   * sf10. big/8 with the 2M cap keeps both measurements.
   */
  private def gatedBc(df: DataFrame, cnt: Long, big: Long): DataFrame =
    if (cnt <= math.min(2000000L, big / 8)) broadcast(df) else df

  /** Driver-side hop-bounded BFS for [[shortestPaths]]'s small regime —
    * identical semantics: dist = first hop the vertex is reached within
    * `maxHops`, source row always present (even off-graph sources). */
  private def localBfs(in: InternedEdges,
                       undirected: Boolean, sourceId: String, maxHops: Int,
                       spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ids = in.ids
    val n = ids.length
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    in.pairs.foreach { case (u, v) => adj(u) += v; if (undirected) adj(v) += u }
    in.idx.get(sourceId) match {
      case None => Seq((sourceId, 0)).toDF("id", "dist")
      case Some(src) =>
        val dist = Array.fill(n)(-1)
        dist(src) = 0
        var frontier = List(src)
        var h = 0
        while (h < maxHops && frontier.nonEmpty) {
          h += 1
          var next = List.empty[Int]
          frontier.foreach { u =>
            adj(u).foreach { v =>
              if (dist(v) < 0) { dist(v) = h; next = v :: next }
            }
          }
          frontier = next
        }
        val rows = (0 until n).iterator.filter(dist(_) >= 0)
          .map(i => (ids(i).asInstanceOf[String], dist(i))).toSeq
        spark.createDataFrame(rows).toDF("id", "dist")
    }
  }

  /**
   * Closeness + harmonic centrality (parity-plus, the natural next step
   * after [[shortestPaths]]): hop-bounded multi-source BFS over the state
   * (source, vertex, dist) — the [[shortestPaths]] frontier loop with the
   * source carried as a key, so each hop stays ONE equi-join shuffle plus
   * one anti-join against the settled set, frontier localCheckpointed per
   * hop. Per source s (within `maxHops`):
   *
   *  - `reached`   — vertices at distance ≥ 1
   *  - `sum_dist`  — Σ d(s, v)
   *  - `closeness` — reached / sum_dist (0 when nothing is reached)
   *  - `harmonic`  — Σ 1/d(s, v), the variant that handles disconnected
   *    graphs without a reachability correction
   *
   * Both ratios replay bit-identically in any engine: reached/sum_dist is
   * one correctly-rounded integer division, and harmonic is folded in
   * FIXED hop order as n_1/1 + n_2/2 + … + n_maxHops/maxHops from exact
   * per-distance counts — never a data-ordered float sum.
   *
   * Scale posture: all-sources closeness is inherently O(V · reach) state;
   * at 100 TB pass `sources` (landmark / hash-sampled vertices — the
   * standard approximation) to bound state at |sources| · reach while the
   * per-hop shuffle shape stays identical.
   *
   * Adaptive execution (the [[GraphXAlgorithms.stronglyConnectedComponents]]
   * / [[graft.pipeline.Dedup.nearDupClusters]] pattern): up to
   * `localThreshold` oriented edges the BFS sweep runs driver-side over an
   * array adjacency — each distributed hop costs several Spark jobs of
   * fixed scheduling latency regardless of data volume, which dominates on
   * small graphs. Identical semantics (same hop bound, same fixed-order
   * harmonic fold, same HALF_UP rounding); parity is spec-asserted.
   */
  def closenessCentrality(edges: DataFrame, maxHops: Int = 10,
                          undirected: Boolean = true,
                          sources: Option[DataFrame] = None,
                          localThreshold: Long = 10000000L): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    val e = (if (undirected) e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
             else e0)
      .where(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCnt = e.count()
    if (eCnt <= localThreshold) {
      val out = localCloseness(e, maxHops, sources)
      e.unpersist()
      return out
    }
    val verts = e.select(col("u").as("id")).distinct()
    val srcs = sources.map(_.select(col("id"))).getOrElse(verts)
      .localCheckpoint(true)
    var dist = srcs.select(col("id").as("s"), col("id"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = dist
    // driver-tracked state sizes gate broadcast on the checkpointed
    // probe sides ([[gatedBc]]); the per-hop count doubles as the
    // emptiness check
    var frontierCnt = srcs.count()
    var distCnt = frontierCnt
    var h = 0
    while (h < maxHops && frontierCnt > 0) {
      h += 1
      val next = gatedBc(frontier.select(col("s"), col("id").as("u")), frontierCnt, eCnt)
        .join(e, Seq("u"))
        .select(col("s"), col("v").as("id")).distinct()
        .join(gatedBc(dist, distCnt, eCnt), Seq("s", "id"), "left_anti")
        .withColumn("dist", lit(h))
        .localCheckpoint(true)
      frontierCnt = next.count()
      distCnt += frontierCnt
      dist = dist.unionByName(next)
      frontier = next
    }
    e.unpersist()
    val aggCols = count(lit(1)).as("__reached") +: sum(col("dist")).as("__sum") +:
      (1 to maxHops).map(d => count(when(col("dist") === d, 1)).as(s"__n$d"))
    val agg = dist.where(col("dist") > 0).groupBy(col("s"))
      .agg(aggCols.head, aggCols.tail: _*)
    val harmonic = (1 to maxHops)
      .map(d => col(s"__n$d").cast("double") / lit(d.toDouble))
      .reduce(_ + _)
    srcs.join(agg, col("id") === col("s"), "left")
      .select(col("id"),
        coalesce(col("__reached"), lit(0L)).as("reached"),
        coalesce(col("__sum"), lit(0L)).as("sum_dist"),
        round(when(coalesce(col("__sum"), lit(0L)) > 0,
          col("__reached").cast("double") / col("__sum").cast("double"))
          .otherwise(0.0), 6).as("closeness"),
        round(coalesce(harmonic, lit(0.0)), 6).as("harmonic"))
  }

  /** Driver-side BFS sweep for [[closenessCentrality]]'s small regime.
    * `e` is the already-oriented (u, v) edge frame (both directions when
    * undirected). Arithmetic mirrors the distributed form exactly:
    * reached/sum_dist as one double division, harmonic folded
    * left-to-right over hop order, HALF_UP rounding to 6 (Spark's
    * `round`). */
  private def localCloseness(e: DataFrame, maxHops: Int,
                             sources: Option[DataFrame]): DataFrame = {
    val spark = e.sparkSession
    val dt = e.schema("u").dataType
    val edgeRows = e.collect()
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val adjBuf = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Int]]
    edgeRows.foreach { r =>
      val (a, b) = (intern(r.get(0)), intern(r.get(1)))
      while (adjBuf.length <= math.max(a, b)) adjBuf += scala.collection.mutable.ArrayBuffer.empty[Int]
      adjBuf(a) += b
    }
    val n = ids.length
    val adj = adjBuf.map(_.toArray).toArray
    val srcList: Seq[Any] = sources match {
      case Some(df) => df.select(col("id")).collect().map(_.get(0)).toSeq
      case None => ids.toSeq
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val seen = Array.fill(n)(-1)
    var stamp = 0
    val queue = new Array[Int](n)
    val out = srcList.map { src =>
      var reached = 0L
      var sumDist = 0L
      val perDist = new Array[Long](maxHops + 1)
      idx.get(src).foreach { s0 =>
        stamp += 1
        var head = 0; var tail = 0
        queue(tail) = s0; tail += 1; seen(s0) = stamp
        val distArr = new Array[Int](n)
        distArr(s0) = 0
        while (head < tail) {
          val u = queue(head); head += 1
          val du = distArr(u)
          if (du < maxHops) {
            var i = 0
            val nb = if (u < adj.length) adj(u) else Array.emptyIntArray
            while (i < nb.length) {
              val v = nb(i)
              if (seen(v) != stamp) {
                seen(v) = stamp
                distArr(v) = du + 1
                reached += 1L
                sumDist += du + 1L
                perDist(du + 1) += 1L
                queue(tail) = v; tail += 1
              }
              i += 1
            }
          }
        }
      }
      val closeness = if (sumDist > 0) round6(reached.toDouble / sumDist.toDouble) else 0.0
      var h = 0.0
      var d = 1
      while (d <= maxHops) { h += perDist(d).toDouble / d.toDouble; d += 1 }
      val harmonic = round6(h)
      org.apache.spark.sql.Row(src, reached, sumDist, closeness, harmonic)
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", dt), StructField("reached", LongType),
      StructField("sum_dist", LongType), StructField("closeness", DoubleType),
      StructField("harmonic", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /**
   * Betweenness centrality, hop-bounded Brandes (parity-plus — the last
   * classic centrality next to [[pageRank]]/[[closenessCentrality]]):
   * betweenness(v) = Σ_{s ∈ sources} δ_s(v), where δ is Brandes'
   * dependency, accumulated over the shortest-path DAG truncated at
   * `maxHops`. Pass `sources` (landmarks) for the standard sampled
   * approximation (Brandes & Pich 2007) — exact all-sources betweenness
   * is O(V·E) and infeasible at corpus scale; the hop bound caps
   * per-source state exactly like [[closenessCentrality]].
   *
   * Distributed shape: forward = the closeness multi-source BFS carrying
   * a path-count (σ, exact integers — contributions only cross
   * frontier→new-vertex edges, the BFS DAG); backward = one join +
   * grouped sum per depth level from the deepest layer inward, each level
   * localCheckpointed. Both directions are O(maxHops) equi-join shuffles
   * on (s, v) — no all-pairs state.
   *
   * δ sums are data-ordered doubles, so the result contract is
   * round-to-4 (the pageRank precedent: ~1e-13 cross-engine drift vs a
   * 5e-5 rounding margin). Adaptive: ≤ `localThreshold` oriented edges →
   * driver-side Brandes sweep, parity spec-asserted via
   * `localThreshold = 0`.
   */
  def betweennessCentrality(edges: DataFrame, maxHops: Int = 6,
                            undirected: Boolean = true,
                            sources: Option[DataFrame] = None,
                            localThreshold: Long = 10000000L): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    val e = (if (undirected) e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
             else e0)
      .where(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCnt = e.count()
    if (eCnt <= localThreshold) {
      val out = localBetweenness(e, maxHops, sources)
      e.unpersist()
      return out
    }
    val verts = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct().localCheckpoint(true)
    val srcs = sources.map(_.select(col("id"))).getOrElse(verts).localCheckpoint(true)

    // forward: layers of (s, v, sigma) — sigma only ever sums over edges
    // from the previous frontier into unsettled vertices (the BFS DAG).
    // Layer counts are tracked on the driver (the per-level count
    // doubles as the termination check) and gate broadcast on every
    // checkpointed probe side in BOTH sweeps ([[gatedBc]]).
    var frontier = srcs.select(col("id").as("s"), col("id").as("v"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    var settled = frontier.select(col("s"), col("v")).localCheckpoint(true)
    var layers = Vector(frontier) // index == dist
    var layerCnt = Vector(srcs.count())
    var settledCnt = layerCnt(0)
    var h = 0
    var done = false
    while (h < maxHops && !done) {
      val nf = gatedBc(frontier.select(col("s"), col("v").as("u"), col("sigma")),
          layerCnt.last, eCnt)
        .join(e, Seq("u"))
        .select(col("s"), col("v"), col("sigma"))
        .groupBy("s", "v").agg(sum(col("sigma")).as("sigma"))
        .join(gatedBc(settled, settledCnt, eCnt), Seq("s", "v"), "left_anti")
        .localCheckpoint(true)
      val nfCnt = nf.count()
      if (nfCnt == 0) done = true
      else {
        h += 1
        settled = settled.unionByName(nf.select(col("s"), col("v"))).localCheckpoint(true)
        settledCnt += nfCnt
        layers = layers :+ nf
        layerCnt = layerCnt :+ nfCnt
        frontier = nf
      }
    }

    // backward: δ at the deepest layer is 0; each shallower layer sums
    // σ_u/σ_w · (1 + δ_w) over its DAG successors, kept TOTAL per layer
    // (left join + coalesce — a vertex with no successors still carries
    // δ = 0 into the next step's (1 + δ) term). The edge persist stays
    // live through this sweep — it joins `e` once per level (the old
    // early unpersist made every backward level RECOMPUTE the oriented
    // distinct; invisible in the local regime, a full extra edge
    // shuffle per level at scale).
    val maxD = layers.length - 1
    var bw = layers(maxD).select(col("s"), col("v"), col("sigma"), lit(0.0).as("delta"))
      .localCheckpoint(true)
    var acc = List(bw)
    for (d <- (maxD - 1) to 1 by -1) {
      val ld = layers(d)
      val contrib = gatedBc(ld.select(col("s"), col("v").as("u"), col("sigma")),
          layerCnt(d), eCnt)
        .join(e, Seq("u"))
        .select(col("s"), col("u"), col("v"), col("sigma"))
        .join(gatedBc(bw.select(col("s"), col("v"),
            col("sigma").as("sigmaW"), col("delta").as("deltaW")),
          layerCnt(d + 1), eCnt), Seq("s", "v"))
        .groupBy("s", "u")
        .agg(sum(col("sigma").cast("double") / col("sigmaW").cast("double")
          * (lit(1.0) + col("deltaW"))).as("delta"))
      bw = ld.join(gatedBc(contrib.select(col("s"), col("u").as("v"), col("delta")),
          layerCnt(d), eCnt), Seq("s", "v"), "left")
        .select(col("s"), col("v"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      acc = bw :: acc
    }
    e.unpersist()
    val allDelta =
      if (maxD == 0) verts.limit(0).select(col("id").as("v"), lit(0.0).as("delta"))
      else acc.map(_.select(col("v"), col("delta"))).reduce(_ unionByName _)
    val bc = allDelta.groupBy("v").agg(sum(col("delta")).as("b"))
    verts.join(bc, verts("id") === bc("v"), "left")
      .select(col("id"), round(coalesce(col("b"), lit(0.0)), 4).as("betweenness"))
  }

  /** Driver-side hop-bounded Brandes for [[betweennessCentrality]]'s
    * small regime: per source, BFS to maxHops building σ and the visit
    * order, then dependency accumulation in reverse visit order over
    * in-neighbor predecessor checks — identical DAG semantics to the
    * distributed level-by-level form. */
  private def localBetweenness(e: DataFrame, maxHops: Int,
                               sources: Option[DataFrame]): DataFrame = {
    val spark = e.sparkSession
    val dt = e.schema("u").dataType
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val pairs = e.collect().map(r => (intern(r.get(0)), intern(r.get(1))))
    val n = ids.length
    val outAdj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val inAdj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    pairs.foreach { case (u, v) => outAdj(u) += v; inAdj(v) += u }
    val srcList: Seq[Int] = sources match {
      case Some(df) => df.select(col("id")).collect().map(_.get(0))
        .flatMap(idx.get).toSeq
      case None => 0 until n
    }
    val bc = new Array[Double](n)
    val dist = Array.fill(n)(-1)
    val sigma = new Array[Long](n)
    val delta = new Array[Double](n)
    val order = new Array[Int](n)
    srcList.foreach { s =>
      java.util.Arrays.fill(dist, -1)
      java.util.Arrays.fill(sigma, 0L)
      java.util.Arrays.fill(delta, 0.0)
      var head = 0; var tail = 0
      dist(s) = 0; sigma(s) = 1L
      order(tail) = s; tail += 1
      while (head < tail) {
        val u = order(head); head += 1
        if (dist(u) < maxHops) {
          outAdj(u).foreach { v =>
            if (dist(v) < 0) { dist(v) = dist(u) + 1; order(tail) = v; tail += 1 }
            if (dist(v) == dist(u) + 1) sigma(v) += sigma(u)
          }
        }
      }
      var i = tail - 1
      while (i > 0) { // reverse visit order; order(0) == s is skipped
        val w = order(i)
        inAdj(w).foreach { u =>
          if (dist(u) == dist(w) - 1)
            delta(u) += sigma(u).toDouble / sigma(w).toDouble * (1.0 + delta(w))
        }
        bc(w) += delta(w)
        i -= 1
      }
    }
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = (0 until n).map(i => org.apache.spark.sql.Row(ids(i), round4(bc(i))))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", dt), StructField("betweenness", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Deterministic random walks — the training-corpus generator for
   * DeepWalk/node2vec-style graph embeddings (parity-plus: the
   * reference's GCN pipeline consumes exported edge frames,
   * `src_python/fl_client.py`; walk corpora are the other standard
   * graph-representation input). Every step's neighbor choice is a pure
   * integer LCG of (walk id, step) — (1103515245·(wid·1000003 + t·101)
   * + 12345) mod 2³¹−1, then mod degree — so the same walks come out of
   * ANY engine: no RNG state, no seed files, replayable in plain SQL.
   *
   * `starts` is (wid LONG, id) — one row per walk. Returns
   * (wid, step, id) for steps 0..`steps`; a walk that reaches a vertex
   * with no outgoing edges (possible only in directed mode) ends early.
   *
   * Shape at scale: the ranked adjacency (one row_number window over the
   * edge list, persisted) is built once; each step is ONE equi-join of
   * the walk frontier against it on (vertex, chosen-rank) — walk state
   * never exceeds |starts| rows, localCheckpointed per step.
   */
  def randomWalks(edges: DataFrame, starts: DataFrame, steps: Int,
                  undirected: Boolean = true,
                  localThreshold: Long = 10000000L): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    // Adaptive (the BFS/kCore pattern): each distributed step is a
    // checkpointed join job of fixed latency — steps × ~0.2 s dominates
    // small graphs. The LCG transition is pure integer arithmetic, so the
    // driver replay is exact. Integral ids only: the local rank must
    // reproduce `row_number() ORDER BY v` (numeric order); string
    // collation is left to the distributed path.
    val integralIds = Seq("u", "v").forall(c => e0.schema(c).dataType match {
      case _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    if (integralIds) {
      collectInternedGated(e0.where(col("u") =!= col("v")),
          canonical = undirected, localThreshold / (if (undirected) 2 else 1)).foreach { in =>
        // starts probe-cap: ≤1M walk rows replay locally; a bigger
        // start set stays distributed (ships at most 1M+1 rows here)
        val startRows = starts.select(col("wid").cast("long").as("wid"), col("id"))
          .limit(1000001).collect()
        if (startRows.length <= 1000000) {
          return localRandomWalks(in, startRows, steps, undirected,
            e0.schema("u").dataType, edges.sparkSession)
        }
      }
    }
    val e = (if (undirected) e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
             else e0)
      .where(col("u") =!= col("v")).distinct()
    val adj = e.withColumn("rk",
        row_number().over(Window.partitionBy("u").orderBy("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy("u").agg(max(col("rk")).as("d"))
    val adjD = adj.join(deg, Seq("u"))
    var cur = starts.select(col("wid").cast("long").as("wid"), col("id").as("v"))
      .localCheckpoint(true)
    var out = cur.select(col("wid"), lit(0).as("step"), col("v").as("id"))
    for (t <- 1 to steps) {
      val draw = pmod(
        lit(1103515245L) * (col("wid") * lit(1000003L) + lit(t.toLong) * lit(101L))
          + lit(12345L), lit(2147483647L))
      cur = cur.select(col("wid"), col("v").as("u"))
        .withColumn("__draw", draw)
        .join(adjD, Seq("u"))
        .where(col("rk") === pmod(col("__draw"), col("d")) + 1)
        .select(col("wid"), col("v"))
        .localCheckpoint(true)
      out = out.unionByName(cur.select(col("wid"), lit(t).as("step"), col("v").as("id")))
    }
    adj.unpersist()
    out
  }

  /** Driver-side replay of [[randomWalks]] for the small regime —
    * identical LCG draws, identical `row_number() ORDER BY v` neighbor
    * ranks (numeric order; the caller gates on integral id types). */
  private def localRandomWalks(in: InternedEdges,
      startRows: Array[org.apache.spark.sql.Row], steps: Int,
      undirected: Boolean, dt: org.apache.spark.sql.types.DataType,
      spark: SparkSession): DataFrame = {
    val ids = in.ids
    val n = ids.length
    def longOf(x: Any): Long = x.asInstanceOf[Number].longValue
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    in.pairs.foreach { case (u, v) => adj(u) += v; if (undirected) adj(v) += u }
    val sorted = adj.map(_.toArray.sortBy(i => longOf(ids(i))))
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    startRows.foreach { r =>
      val wid = r.getLong(0)
      val startId = r.get(1)
      rows += org.apache.spark.sql.Row(wid, 0, startId)
      var cur = in.idx.getOrElse(startId, -1)
      var t = 1
      while (t <= steps && cur >= 0 && sorted(cur).nonEmpty) {
        val nb = sorted(cur)
        val draw = java.lang.Math.floorMod(
          1103515245L * (wid * 1000003L + t.toLong * 101L) + 12345L, 2147483647L)
        cur = nb(java.lang.Math.floorMod(draw, nb.length.toLong).toInt)
        rows += org.apache.spark.sql.Row(wid, t, ids(cur))
        t += 1
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("wid", LongType),
      StructField("step", IntegerType), StructField("id", dt)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Driver-side replay of [[weightedRandomWalks]] for the small regime —
    * identical LCG draws, identical numeric neighbor order, identical
    * integer cumulative-weight interval pick. */
  private def localWeightedRandomWalks(
      eRows: Array[org.apache.spark.sql.Row],
      startRows: Array[org.apache.spark.sql.Row], steps: Int,
      undirected: Boolean, dt: org.apache.spark.sql.types.DataType,
      spark: SparkSession): DataFrame = {
    // merged (u, v) → Σw over both orientations, self-loops dropped
    val wsum = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    eRows.foreach { r =>
      val a = r.getLong(0); val b = r.getLong(1); val w = r.getLong(2)
      if (a != b) {
        wsum((a, b)) = wsum.getOrElse((a, b), 0L) + w
        if (undirected) wsum((b, a)) = wsum.getOrElse((b, a), 0L) + w
      }
    }
    // per-vertex neighbors in numeric order with cumulative weights
    val adj = scala.collection.mutable.HashMap.empty[Long, (Array[Long], Array[Long])]
    wsum.keysIterator.toArray.groupBy(_._1).foreach { case (u, pairs) =>
      val vs = pairs.map(_._2).sorted
      val cw = new Array[Long](vs.length)
      var acc = 0L
      var i = 0
      while (i < vs.length) { acc += wsum((u, vs(i))); cw(i) = acc; i += 1 }
      adj(u) = (vs, cw)
    }
    def typed(x: Long): Any = dt match {
      case org.apache.spark.sql.types.IntegerType => x.toInt
      case _ => x
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    startRows.foreach { r =>
      val wid = r.getLong(0)
      val start = r.get(1).asInstanceOf[Number].longValue
      rows += org.apache.spark.sql.Row(wid, 0, r.get(1))
      var cur = start
      var alive = adj.contains(cur)
      var t = 1
      while (t <= steps && alive) {
        val (vs, cw) = adj(cur)
        val tw = cw(cw.length - 1)
        val draw = java.lang.Math.floorMod(
          1103515245L * (wid * 1000003L + t.toLong * 101L) + 12345L, 2147483647L)
        val rr = java.lang.Math.floorMod(draw, tw)
        // first index with cw > rr — the [cw−w, cw) interval containing rr
        var lo = 0; var hi = cw.length - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cw(mid) > rr) hi = mid else lo = mid + 1
        }
        cur = vs(lo)
        rows += org.apache.spark.sql.Row(wid, t, typed(cur))
        alive = adj.contains(cur)
        t += 1
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("wid", LongType),
      StructField("step", IntegerType), StructField("id", dt)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /**
   * Weight-biased deterministic random walks — the transition rule
   * node2vec-style corpora are built from (Grover & Leskovec 2016, with
   * static edge weights as the bias): at each step the walker picks
   * neighbor v with probability w(u,v)/W(u). Selection replays in plain
   * SQL: neighbors order by v with an exact integer cumulative weight
   * `cw`, the LCG draw reduces mod W(u), and the chosen row is the one
   * whose [cw−w, cw) interval contains the draw — pure 64-bit integer
   * arithmetic end to end (the [[randomWalks]] contract, weighted).
   * Parallel edges SUM their weights (multigraph mass); weights must be
   * positive integers after the cast.
   */
  /**
   * Session-conf analogue of the gated broadcast hint, for operators
   * whose rounds MATERIALIZE eagerly (localCheckpoint loops): the
   * wide-AQE default (`initialPartitionNum` 256, Bench.scala) buys −30%
   * on whole-graph shuffles at 100× data but taxes many-round loops
   * over SMALL frames ~2× in fixed per-round reducer-split overhead
   * (alg_weighted_walks 1.91 → 3.74 s sf0.1 solo, the r16 A/B). When
   * `small`, pin the initial partition count to the session's
   * shuffle.partitions for the duration of `body`, then restore. Only
   * meaningful where the work EXECUTES inside `body` — a lazily
   * returned plan reads the conf at action time, after restore.
   */
  private def withNarrowShuffle[T](spark: SparkSession, small: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    if (!small) body
    else {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, spark.conf.get("spark.sql.shuffle.partitions"))
      try body finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  def weightedRandomWalks(edges: DataFrame, starts: DataFrame, steps: Int,
                          undirected: Boolean = true,
                          narrowRowGate: Long = 2000000L): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    import org.apache.spark.sql.expressions.Window
    // the gate counts the RAW edge frame (one shuffle-free scan) so the
    // narrow-shuffle scope covers the WHOLE body — adjacency build
    // included; gating on the built adjacency left the heaviest shuffles
    // outside the scope and reclaimed nothing (r17 sf0.1 A/B: 5.2 s
    // late-gated vs 2.2 s with everything narrow)
    // adaptive local regime (the randomWalks pattern, weighted): the LCG
    // draw, the integer cumulative weights and the [cw−w, cw) interval
    // pick are pure 64-bit arithmetic, so the driver replay is exact.
    // Integral ids only (the local neighbor rank must reproduce
    // row_number() ORDER BY v numeric order); positive weights only
    // (non-positive weights make the interval pick non-functional —
    // leave those to the distributed rows as they come). The gate IS the
    // probe-collect: one pass over the edge frame decides the regime AND
    // loads it (a separate count + collect measured 2× the source scans
    // per bench run at sf10, where the edge frame is an uncached filter
    // over the fact table); its row count doubles as the narrow-shuffle
    // gate when the probe overflows into the distributed rounds.
    // src and dst must be the SAME integral type: the local replay emits
    // every step under the src type, so a mixed-width graph (src INT,
    // dst LONG) would silently truncate 64-bit neighbor ids where the
    // distributed path widens via unionByName
    val idType = edges.schema("src").dataType
    val integralIds = idType == edges.schema("dst").dataType &&
      (idType match {
        case org.apache.spark.sql.types.IntegerType
             | org.apache.spark.sql.types.LongType => true
        case _ => false
      })
    val collected =
      if (integralIds)
        collectRowsGated(edges.select(col("src").cast("long"),
          col("dst").cast("long"), col("weight").cast("long")), narrowRowGate)
      else None
    collected match {
      case Some(eRows) =>
        val startRows = starts.select(col("wid").cast("long").as("wid"), col("id"))
          .limit(1000001).collect()
        // start rows must be replayable too: a null wid/id would NPE in
        // the replay and a start id whose JVM type differs from the edge
        // id type fails createDataFrame validation — fall through to the
        // distributed rounds for those, which degrade gracefully
        def startOk(r: org.apache.spark.sql.Row): Boolean =
          !r.isNullAt(0) && !r.isNullAt(1) && (idType match {
            case org.apache.spark.sql.types.IntegerType =>
              r.get(1).isInstanceOf[java.lang.Integer]
            case _ => r.get(1).isInstanceOf[java.lang.Long]
          })
        if (startRows.length <= 1000000 && startRows.forall(startOk) &&
            eRows.forall(r =>
              !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) && r.getLong(2) > 0)) {
          return localWeightedRandomWalks(eRows, startRows, steps, undirected,
            idType, edges.sparkSession)
        }
      case None => ()
    }
    val small =
      if (integralIds) collected.isDefined // overflow proves > narrowRowGate
      else edges.count() <= narrowRowGate
    withNarrowShuffle(edges.sparkSession, small) {
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"),
      col("weight").cast("long").as("w"))
    val e = (if (undirected)
               e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
             else e0)
      .where(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
    val adj = e.withColumn("cw",
        sum(col("w")).over(Window.partitionBy("u").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    adj.count() // materialize inside the scope
      val tot = adj.groupBy("u").agg(max(col("cw")).as("tw"))
      val adjT = adj.join(tot, Seq("u"))
      var cur = starts.select(col("wid").cast("long").as("wid"), col("id").as("v"))
        .localCheckpoint(true)
      var out = cur.select(col("wid"), lit(0).as("step"), col("v").as("id"))
      for (t <- 1 to steps) {
        val draw = pmod(
          lit(1103515245L) * (col("wid") * lit(1000003L) + lit(t.toLong) * lit(101L))
            + lit(12345L), lit(2147483647L))
        val r = pmod(col("__draw"), col("tw"))
        cur = cur.select(col("wid"), col("v").as("u"))
          .withColumn("__draw", draw)
          .join(adjT, Seq("u"))
          .where(r >= col("cw") - col("w") && r < col("cw"))
          .select(col("wid"), col("v"))
          .localCheckpoint(true)
        out = out.unionByName(cur.select(col("wid"), lit(t).as("step"), col("v").as("id")))
      }
      adj.unpersist()
      out
    }
  }

  /**
   * Second-order (node2vec) deterministic walks — Grover & Leskovec
   * 2016's p/q-biased transition, the full DeepWalk→node2vec upgrade
   * over [[weightedRandomWalks]]'s static bias. From state (prev=s,
   * cur=u) candidate v draws unnormalized bias α = 1/p if v = s
   * (return), 1 if v is a neighbor of s (stay close), 1/q otherwise
   * (move outward). To keep the selection exactly replayable the biases
   * are scaled by p·q into the integers {q, p·q, p} — ratios unchanged,
   * pure 64-bit arithmetic end to end, same LCG/interval contract as
   * [[weightedRandomWalks]]. The first step (no prev) is uniform.
   *
   * Shape at scale: per step ONE frontier×adjacency join (fanout =
   * degree), one broadcast-or-shuffle semi-join against the edge set for
   * the is-neighbor-of-prev flag, and two walk-partitioned windows for
   * the cumulative/total bias — the standard distributed second-order
   * walk formulation; state never exceeds |starts| rows and is
   * localCheckpointed per step to bound plan depth.
   */
  def node2vecWalks(edges: DataFrame, starts: DataFrame, steps: Int,
                    p: Int = 1, q: Int = 2, undirected: Boolean = true,
                    localThreshold: Long = 10000000L): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    require(p >= 1 && q >= 1, s"p and q must be positive integers: p=$p q=$q")
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    // Adaptive, same contract as [[randomWalks]]' local replay: the bias
    // weights and cumulative-in-neighbor-order selection are pure integer
    // arithmetic, exactly reproducible on driver adjacency arrays.
    val integralIds = Seq("u", "v").forall(c => e0.schema(c).dataType match {
      case _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    if (integralIds) {
      collectInternedGated(e0.where(col("u") =!= col("v")),
          canonical = undirected, localThreshold / (if (undirected) 2 else 1)).foreach { in =>
        // starts probe-cap: ≤1M walk rows replay locally (see randomWalks)
        val startRows = starts.select(col("wid").cast("long").as("wid"), col("id"))
          .limit(1000001).collect()
        if (startRows.length <= 1000000) {
          return localNode2vecWalks(in, startRows, steps, p, q, undirected,
            e0.schema("u").dataType, edges.sparkSession)
        }
      }
    }
    val e = (if (undirected) e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
             else e0)
      .where(col("u") =!= col("v")).distinct()
    val adj = e.withColumn("rk",
        row_number().over(Window.partitionBy("u").orderBy("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy("u").agg(max(col("rk")).as("d"))
    val adjD = adj.join(deg, Seq("u"))
    val s0 = starts.select(col("wid").cast("long").as("wid"), col("id").as("v"))
    var out = s0.select(col("wid"), lit(0).as("step"), col("v").as("id"))
    val draw1 = pmod(
      lit(1103515245L) * (col("wid") * lit(1000003L) + lit(101L))
        + lit(12345L), lit(2147483647L))
    // step 1: uniform — there is no prev to bias against yet
    var cur = s0.select(col("wid"), col("v").as("u"))
      .withColumn("__draw", draw1)
      .join(adjD, Seq("u"))
      .where(col("rk") === pmod(col("__draw"), col("d")) + 1)
      .select(col("wid"), col("u").as("prev"), col("v"))
      .localCheckpoint(true)
    out = out.unionByName(cur.select(col("wid"), lit(1).as("step"), col("v").as("id")))
    for (t <- 2 to steps) {
      val cand = cur.select(col("wid"), col("v").as("cu"), col("prev"))
        .join(adj.select(col("u").as("cu"), col("v")), Seq("cu"))
        .join(e.select(col("u").as("prev"), col("v"), lit(1).as("__nb")),
          Seq("prev", "v"), "left")
      val bias = when(col("v") === col("prev"), lit(q.toLong))
        .when(col("__nb").isNotNull, lit(p.toLong * q))
        .otherwise(lit(p.toLong))
      val wd = Window.partitionBy("wid").orderBy("v")
      val scored = cand.withColumn("bw", bias)
        .withColumn("cw", sum(col("bw")).over(
          wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tw", sum(col("bw")).over(Window.partitionBy("wid")))
      val draw = pmod(
        lit(1103515245L) * (col("wid") * lit(1000003L) + lit(t.toLong) * lit(101L))
          + lit(12345L), lit(2147483647L))
      val r = pmod(draw, col("tw"))
      cur = scored.where(r >= col("cw") - col("bw") && r < col("cw"))
        .select(col("wid"), col("cu").as("prev"), col("v"))
        .localCheckpoint(true)
      out = out.unionByName(cur.select(col("wid"), lit(t).as("step"), col("v").as("id")))
    }
    adj.unpersist()
    out
  }

  /** Driver-side replay of [[node2vecWalks]] for the small regime —
    * identical LCG draws, v-ascending cumulative integer bias weights
    * (v==prev → q, neighbor-of-prev → p·q, else p), selection by the
    * [cw−bw, cw) interval containing draw mod total-weight. */
  private def localNode2vecWalks(in: InternedEdges,
      startRows: Array[org.apache.spark.sql.Row], steps: Int,
      p: Int, q: Int, undirected: Boolean,
      dt: org.apache.spark.sql.types.DataType, spark: SparkSession): DataFrame = {
    val ids = in.ids
    val n = ids.length
    def longOf(x: Any): Long = x.asInstanceOf[Number].longValue
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val edgeSet = new java.util.HashSet[Long]()
    def pack(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)
    in.pairs.foreach { case (u, v) =>
      adj(u) += v; edgeSet.add(pack(u, v))
      if (undirected) { adj(v) += u; edgeSet.add(pack(v, u)) }
    }
    val sorted = adj.map(_.toArray.sortBy(i => longOf(ids(i))))
    def draw(wid: Long, t: Int): Long = java.lang.Math.floorMod(
      1103515245L * (wid * 1000003L + t.toLong * 101L) + 12345L, 2147483647L)
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    startRows.foreach { r =>
      val wid = r.getLong(0)
      val startId = r.get(1)
      rows += org.apache.spark.sql.Row(wid, 0, startId)
      var cur = in.idx.getOrElse(startId, -1)
      if (cur >= 0 && sorted(cur).nonEmpty) {
        // step 1: uniform, no prev to bias against yet
        var prev = cur
        cur = sorted(cur)(java.lang.Math.floorMod(draw(wid, 1), sorted(cur).length.toLong).toInt)
        rows += org.apache.spark.sql.Row(wid, 1, ids(cur))
        var t = 2
        while (t <= steps && sorted(cur).nonEmpty) {
          val nb = sorted(cur)
          var tw = 0L
          val bw = new Array[Long](nb.length)
          var i = 0
          while (i < nb.length) {
            val v = nb(i)
            bw(i) = if (v == prev) q.toLong
              else if (edgeSet.contains(pack(prev, v))) p.toLong * q
              else p.toLong
            tw += bw(i)
            i += 1
          }
          val r0 = java.lang.Math.floorMod(draw(wid, t), tw)
          var cw = 0L
          i = 0
          var chosen = -1
          while (chosen < 0 && i < nb.length) {
            cw += bw(i)
            if (r0 < cw) chosen = nb(i)
            i += 1
          }
          prev = cur
          cur = chosen
          rows += org.apache.spark.sql.Row(wid, t, ids(cur))
          t += 1
        }
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("wid", LongType),
      StructField("step", IntegerType), StructField("id", dt)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /**
   * Maximal independent set by DETERMINISTIC Luby rounds (parity-plus —
   * the classic symmetry-breaking primitive behind distributed coloring
   * and scheduling): in round r every live vertex draws the pure-integer
   * priority LCG(v·1000003 + r·101) (the [[randomWalks]] generator — no
   * RNG state, replayable in plain SQL; ids must cast to BIGINT), joins
   * the MIS iff its (priority, id) is strictly smaller than every live
   * neighbor's, and winners plus their neighbors leave the graph.
   * Synchronous rounds, early-stop when nothing is live — the bounded
   * form is replayable round by round (the [[kCore]] oracle contract);
   * at the fixpoint the result is a true MIS (independent by the winner
   * rule, maximal because a vertex only leaves as winner or neighbor).
   * Expected O(log n) rounds. Returns (id, round) per MIS member.
   *
   * Shape: each round is one join of the live edge list against the
   * (priority-annotated) live vertices + one grouped min + two
   * anti-joins, all localCheckpointed — O(1) plan depth per round, and
   * the live set only shrinks.
   */
  def maximalIndependentSet(edges: DataFrame, rounds: Int = 20,
                            localThreshold: Long = 10000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    val both = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .where(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Adaptive (the kCore/kTruss/HITS pattern): each distributed round
    // costs several fixed-latency jobs; below the threshold the
    // synchronous rounds run driver-side with identical semantics
    // (parity spec-asserted via localThreshold = 0)
    if (both.count() <= localThreshold) {
      val out = localMis(both, rounds)
      both.unpersist()
      return out
    }
    var live = both.select(col("u").as("id")).distinct().localCheckpoint(true)
    var liveE = both.localCheckpoint(true)
    both.unpersist()
    val spark = edges.sparkSession
    import spark.implicits._
    var mis = live.limit(0).select(col("id"), lit(0).as("round"))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      def prio(c: Column): Column = pmod(
        lit(1103515245L) * (c.cast("long") * lit(1000003L) + lit(r.toLong) * lit(101L))
          + lit(12345L), lit(2147483647L))
      val pri = live.select(col("id"), prio(col("id")).as("p"))
      // ties break on the BIGINT id (matching the LCG's numeric domain,
      // the local path, and the oracle) — never on raw string order
      val minN = liveE
        .join(pri.select(col("id").as("v"), col("p").as("pv")), Seq("v"))
        .groupBy("u").agg(min(struct(col("pv"), col("v").cast("long"))).as("mn"))
      val winners = pri
        .join(minN.select(col("u").as("id"), col("mn")), Seq("id"), "left")
        .where(col("mn").isNull ||
          struct(col("p"), col("id").cast("long")) < col("mn"))
        .select(col("id"))
        .localCheckpoint(true)
      if (winners.isEmpty) {
        // no winner with live vertices left can only mean live is empty
        // (some live vertex always holds the global minimum priority)
        done = true
      } else {
        mis = mis.unionByName(winners.select(col("id"), lit(r).as("round")))
        val removed = winners
          .unionByName(liveE.join(winners.select(col("id").as("u")), Seq("u"))
            .select(col("v").as("id")))
          .distinct().localCheckpoint(true)
        live = live.join(removed, Seq("id"), "left_anti").localCheckpoint(true)
        if (live.isEmpty) done = true
        else liveE = liveE
          .join(live.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(live.select(col("id").as("v")), Seq("v"), "left_semi")
          .localCheckpoint(true)
      }
    }
    mis
  }

  /** Driver-side Luby rounds for [[maximalIndependentSet]]'s small
    * regime — identical synchronous semantics over interned arrays.
    * Ids must cast to Long (the priority LCG input), matching the
    * distributed form's cast. */
  private def localMis(both: DataFrame, rounds: Int): DataFrame = {
    val spark = both.sparkSession
    val dt = both.schema("u").dataType
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val pairs = both.selectExpr("u", "v", "CAST(u AS BIGINT) AS ul")
      .collect().map(r => (intern(r.get(0)), intern(r.get(1)), r.getLong(2)))
    val n = ids.length
    val num = new Array[Long](n)
    pairs.foreach { case (a, _, ul) => num(a) = ul }
    val nbrs = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    pairs.foreach { case (a, b, _) => nbrs(a) += b }
    val alive = Array.fill(n)(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Int)]
    var liveCount = n
    var r = 0
    while (r < rounds && liveCount > 0) {
      r += 1
      def prio(i: Int): Long =
        math.floorMod(1103515245L * (num(i) * 1000003L + r * 101L) + 12345L, 2147483647L)
      val p = Array.tabulate(n)(i => if (alive(i)) prio(i) else Long.MaxValue)
      val winners = (0 until n).filter { i =>
        alive(i) && nbrs(i).forall { j =>
          !alive(j) || p(i) < p(j) || (p(i) == p(j) && num(i) < num(j))
        }
      }
      winners.foreach { i =>
        out += ((ids(i), r))
        alive(i) = false; liveCount -= 1
        nbrs(i).foreach { j => if (alive(j)) { alive(j) = false; liveCount -= 1 } }
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", dt),
      StructField("round", IntegerType, nullable = false)))
    val rows = out.map { case (id, rr) => org.apache.spark.sql.Row(id, rr) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Deterministic greedy graph coloring by Jones–Plassmann rounds (the
   * other classic symmetry-breaking primitive next to
   * [[maximalIndependentSet]] — registers, channel assignment,
   * conflict-free scheduling): every vertex gets the FIXED pure-integer
   * priority LCG(id·1000003 + 101) (ties broken by id); in each
   * synchronous round the vertices whose (priority, id) exceeds every
   * still-uncolored neighbor's take the smallest color ≥ 0 not used by
   * an already-colored neighbor (the mex). The ready set of a round is
   * independent by construction, so simultaneous assignment is safe;
   * random priorities give O(log n) expected rounds. Returns
   * (id, color, round) for vertices colored within `rounds` — the
   * bounded replayable contract (the [[kCore]]/[[maximalIndependentSet]]
   * precedent); on every tested graph the default bound completes.
   *
   * Shape: per round one grouped-max over the live edge list (who is
   * ready), one join of ready vertices against colored neighbors + a
   * grouped color-set, and two anti/semi-joins to shrink the live set —
   * all localCheckpointed, O(1) plan depth per round. Below
   * `localThreshold` edges the identical synchronous semantics run
   * driver-side (the adaptive kCore/HITS/MIS pattern; parity
   * spec-asserted via localThreshold = 0).
   */
  def jpColoring(edges: DataFrame, rounds: Int = 30,
                 localThreshold: Long = 10000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    val both = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .where(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (both.count() <= localThreshold) {
      val out = localJp(both, rounds)
      both.unpersist()
      return out
    }
    val allE = both.localCheckpoint(true)
    both.unpersist()
    def prio(c: Column): Column = pmod(
      lit(1103515245L) * (c.cast("long") * lit(1000003L) + lit(101L))
        + lit(12345L), lit(2147483647L))
    var live = allE.select(col("u").as("id")).distinct()
      .select(col("id"), prio(col("id")).as("p")).localCheckpoint(true)
    var liveE = allE
    var colored = live.limit(0).select(col("id"), lit(0).as("color"))
      .localCheckpoint(true)
    var out = colored.select(col("id"), col("color"), lit(0).as("round"))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val mx = liveE
        .join(live.select(col("id").as("v"), col("p").as("pv")), Seq("v"))
        .groupBy("u").agg(max(struct(col("pv"), col("v").cast("long"))).as("mx"))
      val ready = live
        .join(mx.select(col("u").as("id"), col("mx")), Seq("id"), "left")
        .where(col("mx").isNull ||
          struct(col("p"), col("id").cast("long")) > col("mx"))
        .select(col("id"))
        .localCheckpoint(true)
      if (ready.isEmpty) done = true // live always holds a global max → empty live
      else {
        val used = allE.join(ready.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(colored.select(col("id").as("v"), col("color")), Seq("v"))
          .groupBy("u").agg(collect_set(col("color")).as("used"))
        val mex = array_min(filter(
          sequence(lit(0), size(col("used"))),
          c => !array_contains(col("used"), c)))
        val newly = ready
          .join(used.select(col("u").as("id"), col("used")), Seq("id"), "left")
          .select(col("id"),
            coalesce(mex, lit(0)).cast("int").as("color"))
          .localCheckpoint(true)
        out = out.unionByName(newly.select(col("id"), col("color"), lit(r).as("round")))
        colored = colored.unionByName(newly).localCheckpoint(true)
        live = live.join(newly.select(col("id")), Seq("id"), "left_anti")
          .localCheckpoint(true)
        if (live.isEmpty) done = true
        else liveE = liveE
          .join(live.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(live.select(col("id").as("v")), Seq("v"), "left_semi")
          .localCheckpoint(true)
      }
    }
    out
  }

  /** Driver-side Jones–Plassmann rounds for [[jpColoring]]'s small
    * regime — identical synchronous semantics over interned arrays. */
  private def localJp(both: DataFrame, rounds: Int): DataFrame = {
    val spark = both.sparkSession
    val dt = both.schema("u").dataType
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val pairs = both.selectExpr("u", "v", "CAST(u AS BIGINT) AS ul")
      .collect().map(r => (intern(r.get(0)), intern(r.get(1)), r.getLong(2)))
    val n = ids.length
    val num = new Array[Long](n)
    pairs.foreach { case (a, _, ul) => num(a) = ul }
    val nbrs = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    pairs.foreach { case (a, b, _) => nbrs(a) += b }
    val p = Array.tabulate(n)(i =>
      math.floorMod(1103515245L * (num(i) * 1000003L + 101L) + 12345L, 2147483647L))
    val color = Array.fill(n)(-1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Int, Int)]
    var liveCount = n
    var r = 0
    while (r < rounds && liveCount > 0) {
      r += 1
      val ready = (0 until n).filter { i =>
        color(i) < 0 && nbrs(i).forall { j =>
          color(j) >= 0 || p(i) > p(j) || (p(i) == p(j) && num(i) > num(j))
        }
      }
      // the ready set is independent — immediate assignment only reads
      // colors fixed in earlier rounds
      ready.foreach { i =>
        val used = nbrs(i).iterator.map(color).filter(_ >= 0).toSet
        var c = 0
        while (used(c)) c += 1
        color(i) = c
        out += ((ids(i), c, r))
        liveCount -= 1
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", dt),
      StructField("color", IntegerType, nullable = false),
      StructField("round", IntegerType, nullable = false)))
    val rows = out.map { case (id, c, rr) => org.apache.spark.sql.Row(id, c, rr) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Maximal matching by DETERMINISTIC edge-local-minimum rounds — the
   * third classic symmetry-breaking primitive next to
   * [[maximalIndependentSet]] and [[jpColoring]] (pairing/scheduling,
   * graph coarsening for multilevel partitioners): this is Luby's MIS
   * run on the LINE graph without materializing it. Edges are
   * canonicalized u < v on the BIGINT cast, with an xxhash64 fallback
   * order key for non-numeric ids (see [[canonicalSimpleEdges]]); in
   * round r every live edge
   * draws the pure-integer priority
   * LCG(u·1000003 + v·7919 + r·101) (replayable in plain SQL, no RNG
   * state) and joins the matching iff its (priority, u, v) key is the
   * strict minimum among ALL edges incident to either endpoint; matched
   * endpoints leave the graph. Synchronous rounds, early-stop when no
   * edge is live — at the fixpoint the result is a true maximal
   * matching (vertex-disjoint by the two-sided-minimum rule; maximal
   * because an edge only dies when an endpoint is matched). Expected
   * O(log n) rounds. Returns (u, v, round) per matched edge.
   *
   * Shape: each round is one per-endpoint grouped min over the live
   * edge list (edges explode to exactly 2 endpoint rows) + one
   * two-sided equi-join back + two anti-joins, all localCheckpointed —
   * O(1) plan depth per round, and the live edge set only shrinks.
   * Below `localThreshold` edges the identical synchronous semantics
   * run driver-side (the adaptive kCore/HITS/MIS pattern; parity
   * spec-asserted via localThreshold = 0).
   */
  def maximalMatching(edges: DataFrame, rounds: Int = 20,
                      localThreshold: Long = 10000000L,
                      weightCol: Option[String] = None): DataFrame = {
    val canon = canonicalSimpleEdges(edges, weightCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = matchingOnCanon(canon, rounds, localThreshold,
      weighted = weightCol.isDefined)
    canon.unpersist() // both paths materialize eagerly (collect / localCheckpoint)
    out
  }

  /** Canonical simple undirected edge list: u < v on the BIGINT cast,
    * self-loops and duplicate rows dropped; (u, v) keep the input id
    * type, (ul, vl) carry the numeric order key. Ids that do NOT cast
    * to BIGINT (e.g. the bridge graph's "c123") fall back to xxhash64
    * of the string form — a deterministic order key, so matching/
    * coarsening/MST run on any id type (outputs always carry the
    * original ids; only priorities and tie-breaks use the key).
    *
    * Correctness does NOT ride on the 64-bit key being collision-free:
    * self-loops drop on ORIGINAL id equality, the orientation falls
    * back to string order when the keys tie, and dedup groups on the
    * original (u, v) pair — so two distinct ids colliding in xxhash64
    * can at worst share a tie-break priority, never lose or merge an
    * edge. */
  private def canonicalSimpleEdges(edges: DataFrame,
                                   weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val e0 = edges.select(col("src").as("a"), col("dst").as("b"), w.as("w"))
      .withColumn("al",
        coalesce(col("a").try_cast("long"), xxhash64(col("a").cast("string"))))
      .withColumn("bl",
        coalesce(col("b").try_cast("long"), xxhash64(col("b").cast("string"))))
      .where(col("a").cast("string") =!= col("b").cast("string"))
    // orientation: numeric key first, original string order on key ties
    val aFirst = col("al") < col("bl") ||
      (col("al") === col("bl") && col("a").cast("string") < col("b").cast("string"))
    // parallel edges collapse to one canonical edge; with a weight
    // column their weights ADD (multigraph semantics, the coarsening
    // convention), without one the canonical edge carries w = 1
    e0.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      least(col("al"), col("bl")).as("ul"),
      greatest(col("al"), col("bl")).as("vl"),
      col("w"))
      .groupBy("u", "v") // exact id pair — colliding keys never merge edges
      .agg(min(col("ul")).as("ul"), min(col("vl")).as("vl"),
        (if (weightCol.isDefined) sum(col("w")) else lit(1L)).as("w"))
      .select(col("u"), col("v"), col("ul"), col("vl"), col("w"))
  }

  /** [[maximalMatching]]'s adaptive dispatch over an already-canonical
    * (persisted) edge frame. */
  private def matchingOnCanon(canon: DataFrame, rounds: Int,
                              localThreshold: Long,
                              weighted: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    if (canon.count() <= localThreshold) {
      return localMatching(canon, rounds, weighted)
    }
    var liveE = canon.localCheckpoint(true)
    var out = liveE.limit(0).select(col("u"), col("v"), lit(0).as("round"))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      // stepwise mod keeps every intermediate under 2^62 even for
      // hashed 64-bit order keys (ANSI overflow-safe); for ids < 2^31
      // the inner pmod is the identity, so the replayable oracle form
      // pmod(A*(ul*c1 + vl*c2 + r*c3) + B, M) is unchanged
      val m31 = lit(2147483647L)
      val inner = pmod(
        pmod(col("ul"), m31) * lit(1000003L) +
          pmod(col("vl"), m31) * lit(7919L) + lit(r.toLong) * lit(101L), m31)
      val keyed = liveE.withColumn("p",
        pmod(lit(1103515245L) * inner + lit(12345L), m31))
      // heavy-edge mode (the METIS HEM heuristic): the HEAVIEST incident
      // edge wins locally, the LCG only breaks weight ties; unweighted
      // mode carries a constant lead field, so the key order — and every
      // replayed oracle — is exactly the (p, ul, vl) order
      val lead = if (weighted) -col("w") else lit(0L)
      val k = struct(lead.as("negw"), col("p"), col("ul"), col("vl"))
      val byEnd = keyed.select(col("ul").as("idl"), k.as("k"))
        .unionByName(keyed.select(col("vl").as("idl"), k.as("k")))
      val mn = byEnd.groupBy("idl").agg(min(col("k")).as("mk"))
      val winners = keyed
        .join(mn.select(col("idl").as("ul"), col("mk").as("mku")), Seq("ul"))
        .join(mn.select(col("idl").as("vl"), col("mk").as("mkv")), Seq("vl"))
        .where(k === col("mku") && k === col("mkv"))
        .select(col("u"), col("v"), col("ul"), col("vl"))
        .localCheckpoint(true)
      if (winners.isEmpty) {
        // a live edge always holds the global minimum key → live is empty
        done = true
      } else {
        out = out.unionByName(winners.select(col("u"), col("v"), lit(r).as("round")))
        val matched = winners.select(col("ul").as("ml"))
          .unionByName(winners.select(col("vl").as("ml")))
          .distinct().localCheckpoint(true)
        liveE = liveE
          .join(matched.select(col("ml").as("ul")), Seq("ul"), "left_anti")
          .join(matched.select(col("ml").as("vl")), Seq("vl"), "left_anti")
          .localCheckpoint(true)
        if (liveE.isEmpty) done = true
      }
    }
    out
  }

  /** Array-level core of [[localMatching]] — identical synchronous
    * semantics; returns (edge index, round) in emission order so the
    * local multilevel coarsening can reuse the exact matching. */
  private def localMatchCore(m: Int, ul: Array[Long], vl: Array[Long],
      ew: Array[Long], rounds: Int): scala.collection.mutable.ArrayBuffer[(Int, Int)] = {
    // endpoint → incident edge indices
    val inc = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
    (0 until m).foreach { i =>
      inc.getOrElseUpdate(ul(i), scala.collection.mutable.ArrayBuffer.empty) += i
      inc.getOrElseUpdate(vl(i), scala.collection.mutable.ArrayBuffer.empty) += i
    }
    val alive = Array.fill(m)(true)
    var liveCount = m
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var r = 0
    while (r < rounds && liveCount > 0) {
      r += 1
      def prio(i: Int): Long = {
        // mirrors the distributed stepwise-mod form exactly (identity
        // inner pmod for ids < 2^31, overflow-safe for hashed keys)
        val m = 2147483647L
        val inner = math.floorMod(math.floorMod(ul(i), m) * 1000003L +
          math.floorMod(vl(i), m) * 7919L + r * 101L, m)
        math.floorMod(1103515245L * inner + 12345L, m)
      }
      val p = Array.tabulate(m)(i => if (alive(i)) prio(i) else Long.MaxValue)
      def less(i: Int, j: Int): Boolean =
        ew(i) < ew(j) || (ew(i) == ew(j) && (
          p(i) < p(j) || (p(i) == p(j) && (ul(i) < ul(j) ||
            (ul(i) == ul(j) && vl(i) < vl(j))))))
      val winners = (0 until m).filter { i =>
        alive(i) && (inc(ul(i)).iterator ++ inc(vl(i)).iterator).forall { j =>
          j == i || !alive(j) || less(i, j)
        }
      }
      winners.foreach { i =>
        out += ((i, r))
        // kill every edge touching either matched endpoint
        (inc(ul(i)).iterator ++ inc(vl(i)).iterator).foreach { j =>
          if (alive(j)) { alive(j) = false; liveCount -= 1 }
        }
      }
    }
    out
  }

  /** Driver-side rounds for [[maximalMatching]]'s small regime —
    * identical synchronous semantics over interned arrays. */
  private def localMatching(canon: DataFrame, rounds: Int,
                            weighted: Boolean = false): DataFrame = {
    val spark = canon.sparkSession
    val ut = canon.schema("u").dataType
    val vt = canon.schema("v").dataType
    val rows0 = canon.select("u", "v", "ul", "vl", "w").collect()
    val eu = rows0.map(_.get(0)); val ev = rows0.map(_.get(1))
    val ul = rows0.map(_.getLong(2)); val vl = rows0.map(_.getLong(3))
    val ew = rows0.map(r => if (weighted) -r.getLong(4) else 0L)
    val out = localMatchCore(rows0.length, ul, vl, ew, rounds)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("u", ut), StructField("v", vt),
      StructField("round", IntegerType, nullable = false)))
    val rows = out.map { case (i, rr) =>
      org.apache.spark.sql.Row(eu(i), ev(i), rr) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * One multilevel-coarsening level: contract a deterministic
   * [[maximalMatching]] (the heavy-edge-matching step at the heart of
   * METIS-family partitioners — the reference partitions ingest with
   * exactly that family, `src/partitioner/local/MetisPartitioner.*`).
   * Every matched pair (u, v) collapses into the supervertex u (the
   * numerically smaller endpoint — deterministic, replayable in plain
   * SQL); unmatched vertices survive as themselves; the canonical simple
   * edge list re-maps through the contraction, internal edges vanish,
   * and parallel coarse edges merge with `weight` = how many fine edges
   * they absorb (the weight a next level's heavy-edge matching would
   * maximize). A maximal matching halves the vertex count in the worst
   * case by at most 2× per level, so O(log n) levels reach any target
   * size. Returns (src, dst, weight), canonical src < v numerically.
   *
   * Shape: the matching rounds plus two broadcast-or-shuffle equi-joins
   * (fine edge → supervertex map, map size ≤ |matching| ≤ n/2) and ONE
   * grouped count — no iteration beyond the matching's own rounds.
   */
  def coarsenGraph(edges: DataFrame, rounds: Int = 20,
                   localThreshold: Long = 10000000L,
                   weightCol: Option[String] = None): DataFrame =
    coarsenWithMap(edges, rounds, localThreshold, weightCol)._1

  /** [[coarsenGraph]] plus the contraction map it used: the second
    * frame is (id, rep) for every MATCHED non-representative vertex
    * (representatives and unmatched vertices map to themselves and are
    * omitted) — what a multilevel consumer needs to project a coarse
    * solution back onto the fine graph. */
  private[graft] def coarsenWithMap(edges: DataFrame, rounds: Int = 20,
                   localThreshold: Long = 10000000L,
                   weightCol: Option[String] = None): (DataFrame, DataFrame) = {
    // adaptive local regime (the multilevelPartition pattern): matching
    // already ran driver-side below the threshold, but the contraction
    // joins + grouped merge were still 4-6 eager jobs over edge-sized
    // frames. Below the raw limit-count pre-gate the whole level replays
    // locally from the collected canonical rows — the ul/vl numeric
    // order keys arrive pre-computed, so no id-type gate is needed.
    val lt = math.min(math.min(localThreshold, 2000000L), 100000000L)
    val idt = edges.schema("src").dataType
    if (lt > 0 && localRegimesEnabled(edges.sparkSession) &&
        idt == edges.schema("dst").dataType &&
        edges.select(col("src")).limit(lt.toInt + 1).count() <= lt) {
      val rows = canonicalSimpleEdges(edges, weightCol)
        .select(col("u"), col("v"), col("ul"), col("vl"), col("w")).collect()
      val key = scala.collection.mutable.HashMap.empty[Any, Long]
      rows.foreach { r => key(r.get(0)) = r.getLong(2); key(r.get(1)) = r.getLong(3) }
      val (cmap, ceu, cev, cew) = localCoarsenStep(
        rows.map(_.get(0)), rows.map(_.get(1)), rows.map(_.getLong(4)),
        key, weighted = weightCol.isDefined, rounds)
      import org.apache.spark.sql.types._
      val spark = edges.sparkSession
      val eSchema = StructType(Seq(StructField("src", idt),
        StructField("dst", idt), StructField("weight", LongType)))
      val eOut = new java.util.ArrayList[org.apache.spark.sql.Row](ceu.length)
      var i = 0
      while (i < ceu.length) {
        eOut.add(org.apache.spark.sql.Row(ceu(i), cev(i), cew(i))); i += 1
      }
      val mSchema = StructType(Seq(StructField("id", idt),
        StructField("rep", idt)))
      val mOut = new java.util.ArrayList[org.apache.spark.sql.Row](cmap.length)
      cmap.foreach { case (v, u) =>
        mOut.add(org.apache.spark.sql.Row(v, u)) }
      return (spark.createDataFrame(eOut, eSchema),
        spark.createDataFrame(mOut, mSchema))
    }
    val canon = canonicalSimpleEdges(edges, weightCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // with a weight column the matching is HEAVY-EDGE (the METIS HEM
    // heuristic — heaviest incident edge wins, maximizing the weight a
    // level absorbs) and coarse edges SUM the fine weights they absorb,
    // so levels chain: coarsenGraph(coarsenGraph(e, weightCol=...),
    // weightCol = Some("weight")) is the multilevel loop
    val m = matchingOnCanon(canon, rounds, localThreshold,
      weighted = weightCol.isDefined)
    val mapped = canon
      .join(m.select(col("v").as("u"), col("u").as("su")), Seq("u"), "left")
      .join(m.select(col("v"), col("u").as("sv")), Seq("v"), "left")
      .select(coalesce(col("su"), col("u")).as("a"),
        coalesce(col("sv"), col("v")).as("b"), col("w"))
      .withColumn("al",
        coalesce(col("a").try_cast("long"), xxhash64(col("a").cast("string"))))
      .withColumn("bl",
        coalesce(col("b").try_cast("long"), xxhash64(col("b").cast("string"))))
      .where(col("al") =!= col("bl"))
      .select(
        when(col("al") < col("bl"), col("a")).otherwise(col("b")).as("src"),
        when(col("al") < col("bl"), col("b")).otherwise(col("a")).as("dst"),
        col("w"))
      .groupBy("src", "dst")
      .agg((if (weightCol.isDefined) sum(col("w")) else count(lit(1)))
        .as("weight"))
    val out = mapped.localCheckpoint(true)
    val contractionMap = m.select(col("v").as("id"), col("u").as("rep"))
      .localCheckpoint(true)
    canon.unpersist()
    (out, contractionMap)
  }

  /**
   * Minimum spanning forest by DETERMINISTIC Borůvka rounds — the
   * textbook O(log n)-round distributed MST (and the fourth member of
   * the contraction family here, next to [[maximalMatching]] /
   * [[coarsenGraph]] / the large-star components in Dedup): each round
   * every component selects its minimum incident edge under the STRICT
   * total key (weight, cu, cv) — weight ties broken by the canonical
   * coarse endpoint pair, so selection is replayable in plain SQL —
   * selected fine edges join the forest, and components contract along
   * them. Contraction is pointer-doubling: each component label points
   * at its selected edge's other endpoint; under a strict total order
   * the pointer graph of every pseudo-tree has exactly one 2-cycle,
   * whose smaller label becomes the root, and log-many jump steps
   * (p ← p∘p) flatten every pointer chain to its root. With all-equal
   * weights this degrades gracefully to a deterministic spanning
   * forest; with distinct weights it is THE unique MSF. Returns the
   * forest's fine edges (u, v, weight), canonical u < v on the numeric
   * (or hashed, for non-numeric ids) order key of [[canonicalSimpleEdges]].
   *
   * Shape: per round one grouped min over both orientations of the
   * coarse edge list (per-label best edge), a handful of label-sized
   * self-joins for the pointer jumps (labels at least halve per round),
   * and one grouped min to merge parallel coarse edges — all
   * localCheckpointed, O(1) plan depth per step. Below `localThreshold`
   * edges the identical synchronous semantics run driver-side (the
   * adaptive kCore/HITS/MIS pattern; parity spec-asserted via
   * localThreshold = 0).
   */
  def minimumSpanningForest(edges: DataFrame, weightCol: String = "weight",
                            rounds: Int = 12,
                            localThreshold: Long = 10000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    // canonical fine edges with the min weight among parallel edges;
    // (ou, ov) keep the original id type for the output
    val e0 = edges.select(col("src").as("a"), col("dst").as("b"),
        col(weightCol).cast("long").as("w"))
      .withColumn("al",
        coalesce(col("a").try_cast("long"), xxhash64(col("a").cast("string"))))
      .withColumn("bl",
        coalesce(col("b").try_cast("long"), xxhash64(col("b").cast("string"))))
      .where(col("al") =!= col("bl"))
    val canon = e0.select(
        when(col("al") < col("bl"), col("a")).otherwise(col("b")).as("ou"),
        when(col("al") < col("bl"), col("b")).otherwise(col("a")).as("ov"),
        least(col("al"), col("bl")).as("ul"),
        greatest(col("al"), col("bl")).as("vl"),
        col("w"))
      .groupBy("ul", "vl")
      .agg(min(struct(col("w"), col("ou"), col("ov"))).as("m"))
      .select(col("m.ou").as("ou"), col("m.ov").as("ov"),
        col("ul"), col("vl"), col("m.w").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (canon.count() <= localThreshold) {
      val out = localBoruvka(canon, rounds)
      canon.unpersist()
      return out
    }
    // coarse edge state: (cu, cv) current component labels (cu < cv),
    // (ou, ov, ul, vl, w) the best underlying fine edge (ul/vl carry the
    // numeric order keys so merges tie-break numerically for any id type)
    var active = canon.select(col("ul").as("cu"), col("vl").as("cv"),
      col("ou"), col("ov"), col("ul"), col("vl"), col("w")).localCheckpoint(true)
    canon.unpersist()
    var forest = active.limit(0).select(col("ou").as("u"), col("ov").as("v"),
      col("w").as("weight"))
    var r = 0
    while (r < rounds && !active.isEmpty) {
      r += 1
      val key = struct(col("w"), col("cu"), col("cv"))
      val byEnd = active.select(col("cu").as("lbl"), key.as("k"), col("cv").as("other"))
        .unionByName(active.select(col("cv").as("lbl"), key.as("k"), col("cu").as("other")))
      // per-label minimum incident edge + the pointer to its other end
      val best = byEnd.groupBy("lbl").agg(min(struct(col("k"), col("other"))).as("m"))
        .select(col("lbl"), col("m.k").as("k"), col("m.other").as("ptr"))
        .localCheckpoint(true)
      // selected coarse edges (distinct by coarse pair), fine edges out
      val sel = active
        .join(best.select(col("k")).distinct(), key === col("k"), "left_semi")
        .localCheckpoint(true)
      forest = forest.unionByName(
        sel.select(col("ou").as("u"), col("ov").as("v"), col("w").as("weight")))
      // pointer graph: break each 2-cycle at its smaller label
      val p = best.select(col("lbl"), col("ptr"))
      var jump = p.as("x").join(p.as("y"), col("x.ptr") === col("y.lbl"))
        .select(col("x.lbl").as("lbl"),
          when(col("y.ptr") === col("x.lbl"), least(col("x.lbl"), col("x.ptr")))
            .otherwise(col("x.ptr")).as("ptr"))
        .localCheckpoint(true)
      // pointer doubling to the fixpoint (chains at least halve per
      // step; 48 doublings cover any chain below 2^48 labels)
      var stable = false
      var jumps = 0
      while (!stable && jumps < 48) {
        jumps += 1
        val next = jump.as("x").join(jump.as("y"), col("x.ptr") === col("y.lbl"))
          .select(col("x.lbl").as("lbl"), col("y.ptr").as("ptr"))
          .localCheckpoint(true)
        stable = next.as("a").join(jump.as("b"),
          col("a.lbl") === col("b.lbl") && col("a.ptr") =!= col("b.ptr")).isEmpty
        jump = next
      }
      // contract: relabel both endpoints, drop internal edges, merge
      // parallel coarse edges keeping the minimum fine edge
      active = active
        .join(jump.select(col("lbl").as("cu"), col("ptr").as("nu")), Seq("cu"))
        .join(jump.select(col("lbl").as("cv"), col("ptr").as("nv")), Seq("cv"))
        .where(col("nu") =!= col("nv"))
        .select(least(col("nu"), col("nv")).as("cu"),
          greatest(col("nu"), col("nv")).as("cv"),
          col("ou"), col("ov"), col("ul"), col("vl"), col("w"))
        .groupBy("cu", "cv")
        .agg(min(struct(col("w"), col("ul"), col("vl"), col("ou"), col("ov"))).as("m"))
        .select(col("cu"), col("cv"), col("m.ou").as("ou"), col("m.ov").as("ov"),
          col("m.ul").as("ul"), col("m.vl").as("vl"), col("m.w").as("w"))
        .localCheckpoint(true)
    }
    forest
  }

  /** Driver-side Borůvka rounds for [[minimumSpanningForest]]'s small
    * regime — identical synchronous semantics over interned maps. */
  private def localBoruvka(canon: DataFrame, rounds: Int): DataFrame = {
    val spark = canon.sparkSession
    val ut = canon.schema("ou").dataType
    val vt = canon.schema("ov").dataType
    val rows0 = canon.select("ou", "ov", "ul", "vl", "w").collect()
    // coarse edge map: (cu, cv) -> (w, ou index, ov index) best fine edge
    val eu = rows0.map(_.get(0)); val ev = rows0.map(_.get(1))
    var act = scala.collection.mutable.HashMap.empty[(Long, Long), (Long, Int)]
    rows0.zipWithIndex.foreach { case (row, i) =>
      act((row.getLong(2), row.getLong(3))) = (row.getLong(4), i)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Any, Long)]
    var r = 0
    while (r < rounds && act.nonEmpty) {
      r += 1
      // per-label min incident (key = (w, cu, cv)) and its pointer
      val best = scala.collection.mutable.HashMap.empty[Long, (Long, Long, Long, Long)]
      act.foreach { case ((cu, cv), (w, _)) =>
        for ((lbl, other) <- Seq((cu, cv), (cv, cu))) {
          val k = (w, cu, cv, other)
          if (!best.contains(lbl) ||
            Ordering[(Long, Long, Long)].lt((k._1, k._2, k._3),
              (best(lbl)._1, best(lbl)._2, best(lbl)._3))) best(lbl) = k
        }
      }
      val selected = best.values.map(k => (k._2, k._3)).toSet
      selected.toSeq.sorted.foreach { cc =>
        val (w, i) = act(cc)
        out += ((eu(i), ev(i), w))
      }
      // pointer graph with 2-cycles broken at the smaller label
      val ptr0 = best.map { case (lbl, k) => lbl -> k._4 }
      def broken(l: Long): Long = {
        val p = ptr0(l)
        if (ptr0.get(p).contains(l)) math.min(l, p) else p
      }
      val root = scala.collection.mutable.HashMap.empty[Long, Long]
      ptr0.keys.foreach { l =>
        var x = broken(l)
        while (broken(x) != x) x = broken(x)
        root(l) = x
      }
      // contract + merge parallel edges (min fine edge)
      val next = scala.collection.mutable.HashMap.empty[(Long, Long), (Long, Int)]
      act.foreach { case ((cu, cv), (w, i)) =>
        val nu = root.getOrElse(cu, cu); val nv = root.getOrElse(cv, cv)
        if (nu != nv) {
          val cc = (math.min(nu, nv), math.max(nu, nv))
          val cur = next.get(cc)
          // tie-break on the canonical fine pair so the merge is
          // deterministic (matches the distributed min(struct(w,ou,ov))
          // via the ul/vl ordering encoded in edge index order)
          if (cur.isEmpty || w < cur.get._1 || (w == cur.get._1 &&
            Ordering[(Long, Long)].lt(keyOf(rows0, i), keyOf(rows0, cur.get._2))))
            next(cc) = (w, i)
        }
      }
      act = next
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("u", ut), StructField("v", vt),
      StructField("weight", LongType, nullable = false)))
    val rows = out.map { case (u, v, w) => org.apache.spark.sql.Row(u, v, w) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def keyOf(rows: Array[org.apache.spark.sql.Row], i: Int): (Long, Long) =
    (rows(i).getLong(2), rows(i).getLong(3))

  /**
   * HyperANF-style neighborhood-function sketch (Boldi, Rosa & Vigna,
   * WWW 2011): every vertex carries a 256-bucket HyperLogLog of the
   * vertex set within t hops; one synchronous round max-merges each
   * vertex's registers with its in-neighbors' — after t rounds the
   * registers sketch the t-ball, and [[graft.pipeline.Sketches.hllEstimate]]
   * turns any vertex's register set into |B(v, t)| (the neighborhood
   * function / effective-diameter estimator, at 256 bytes per vertex
   * where the exact ball is unbounded). Registers are the SAME
   * deterministic md5 sketch as [[graft.pipeline.Sketches.hllRegisters]],
   * so the whole computation is EXACT INTEGER and replays row for row
   * in any engine — the classic probabilistic algorithm with a
   * deterministic replay contract.
   *
   * Returns (hop, id, bucket, max_rho) for hop = 0..hops, every vertex.
   * Shape: per round ONE edge equi-join + one (id, bucket) grouped max,
   * localCheckpointed — register volume is ≤ verts×256 rows regardless
   * of graph density, the whole point of sketching the balls.
   */
  def neighborhoodRegisters(edges: DataFrame, hops: Int,
                            undirected: Boolean = true,
                            localThreshold: Long = 2000000L): DataFrame = {
    require(hops >= 1, s"hops must be >= 1: $hops")
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
      .where(col("u") =!= col("v"))
    // adaptive local regime (the fastRP/BLP pattern): per hop the
    // distributed round is an eager checkpoint job over ≤ verts×256
    // register rows — iteration floor on small graphs. The md5 sketch
    // replays exactly from the digest bytes (bucket = byte 0; rho = 1 +
    // leading zero bits of the 64-bit value in bytes 1..8, 65 when
    // zero — the hex-digit arithmetic of Sketches.hllBucket/hllRho in
    // byte form), gated on id types whose toString mirrors
    // cast-to-string; the raw limit-count pre-gate keeps the large
    // regime's cost identical. Register max-merge is idempotent, so
    // collected duplicate edges need no local distinct.
    val lt = math.min(localThreshold, 100000000L)
    if (lt > 0 && localRegimesEnabled(edges.sparkSession) &&
        stringCastReplayable(e0.schema("u").dataType) &&
        edges.select(col("src")).limit(lt.toInt + 1).count() <= lt) {
      val rows = e0.collect()
      val local = localNeighborhoodRegisters(edges.sparkSession, rows,
        e0.schema("u").dataType, hops, undirected)
      if (local.isDefined) return local.get
    }
    val e = (if (undirected) e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      else e0).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct()
    var regs = verts.select(col("id"),
        graft.pipeline.Sketches.hllBucket(col("id")).as("bucket"),
        graft.pipeline.Sketches.hllRho(col("id")).as("max_rho"))
      .localCheckpoint(true)
    var out = regs.withColumn("hop", lit(0))
    for (t <- 1 to hops) {
      regs = regs.unionByName(
          e.join(regs.withColumnRenamed("id", "u"), Seq("u"))
            .select(col("v").as("id"), col("bucket"), col("max_rho")))
        .groupBy("id", "bucket").agg(max(col("max_rho")).as("max_rho"))
        .localCheckpoint(true)
      out = out.unionByName(regs.withColumn("hop", lit(t)))
    }
    e.unpersist()
    out.select(col("hop"), col("id"), col("bucket"), col("max_rho"))
  }

  /** The register max-merge of [[localNeighborhoodRegisters]] as raw
    * arrays — (interned ids, registers per hop 0..hops) — so
    * [[effectiveDiameter]]'s read path can aggregate without
    * materializing a verts×256×hops local relation. None when the
    * register table would be too large for the driver. */
  private def localNeighborhoodArrays(
      rows: Array[org.apache.spark.sql.Row], hops: Int, undirected: Boolean)
      : Option[(scala.collection.mutable.ArrayBuffer[Any], Array[Array[Array[Byte]]])] = {
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val m = rows.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var i = 0
    while (i < m) { ea(i) = intern(rows(i).get(0)); eb(i) = intern(rows(i).get(1)); i += 1 }
    val n = ids.length
    if (n.toLong * 256L * (hops + 1) > 16000000L) return None
    val md = java.security.MessageDigest.getInstance("MD5")
    val perHop = new Array[Array[Array[Byte]]](hops + 1)
    // init: one register per vertex — its own (bucket, rho)
    var regs = Array.ofDim[Byte](n, 256) // 0 = absent; rho ∈ 1..65 fits
    i = 0
    while (i < n) {
      val d = md.digest(String.valueOf(ids(i)).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      val bucket = d(0) & 0xff
      var w = 0L
      var b = 1
      while (b <= 8) { w = (w << 8) | (d(b) & 0xffL); b += 1 }
      val rho = if (w == 0L) 65 else 1 + java.lang.Long.numberOfLeadingZeros(w)
      regs(i)(bucket) = rho.toByte
      i += 1
    }
    perHop(0) = regs
    var t = 1
    while (t <= hops) {
      val next = Array.ofDim[Byte](n, 256)
      i = 0
      while (i < n) { System.arraycopy(regs(i), 0, next(i), 0, 256); i += 1 }
      def merge(from: Int, to: Int): Unit = {
        val f = regs(from); val g = next(to)
        var k = 0
        while (k < 256) { if (f(k) > g(k)) g(k) = f(k); k += 1 }
      }
      var e = 0
      while (e < m) {
        merge(ea(e), eb(e))
        if (undirected) merge(eb(e), ea(e))
        e += 1
      }
      regs = next
      perHop(t) = regs
      t += 1
    }
    Some((ids, perHop))
  }

  /** Driver-side replay of [[neighborhoodRegisters]]' small regime —
    * identical synchronous max-merge over per-vertex register arrays.
    * Returns None when the register table (verts × 256 × hops+1) would
    * be too large for a local relation, sending the caller back to the
    * distributed rounds. */
  private def localNeighborhoodRegisters(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      hops: Int, undirected: Boolean): Option[DataFrame] =
    localNeighborhoodArrays(rows, hops, undirected).map { case (ids, perHop) =>
      val n = ids.length
      val outRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      var t = 0
      while (t <= hops) {
        val regs = perHop(t)
        var i = 0
        while (i < n) {
          var k = 0
          while (k < 256) {
            if (regs(i)(k) > 0)
              outRows.add(org.apache.spark.sql.Row(t, ids(i), k, regs(i)(k).toInt))
            k += 1
          }
          i += 1
        }
        t += 1
      }
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("hop", IntegerType, nullable = false),
        StructField("id", idType),
        StructField("bucket", IntegerType),
        StructField("max_rho", IntegerType)))
      spark.createDataFrame(outRows, schema)
    }

  /**
   * Effective diameter from the [[neighborhoodRegisters]] sketch: the
   * smallest hop t where the average sketched ball size reaches
   * `q` × its value at `hops` (the HyperANF read path — q = 0.9 gives
   * the standard "90% effective diameter"). The per-hop neighborhood
   * function N(t) = Σ_v |B(v, t)| comes from one grouped register
   * aggregate per hop (driver touches only `hops`+1 numbers). Returns
   * (hop, n_estimate, effective) — one row per hop, `effective` marking
   * the chosen t.
   */
  def effectiveDiameter(edges: DataFrame, hops: Int = 8, q: Double = 0.9,
                        undirected: Boolean = true,
                        localThreshold: Long = 2000000L): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0,1]: $q")
    val spark = edges.sparkSession
    // small regime: read the per-hop estimates straight off the local
    // register arrays — same estimator arithmetic as hllEstimateCol —
    // instead of materializing a verts×256×(hops+1) local relation just
    // to re-aggregate it (measured as the whole remaining cost of this
    // read path at bench scale: row conversion, not computation)
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
      .where(col("u") =!= col("v"))
    val lt = math.min(localThreshold, 100000000L)
    val localArrays =
      if (lt > 0 && localRegimesEnabled(edges.sparkSession) &&
          stringCastReplayable(e0.schema("u").dataType) &&
          edges.select(col("src")).limit(lt.toInt + 1).count() <= lt)
        localNeighborhoodArrays(e0.collect(), hops, undirected)
      else None
    localArrays match {
      case Some((ids, perHopRegs)) =>
        val n = ids.length
        val alpha = 0.7213 / (1.0 + 1.079 / 256)
        val perHop = (0 to hops).map { t =>
          val regs = perHopRegs(t)
          var total = 0.0
          var i = 0
          while (i < n) {
            var s = 0.0; var nonzero = 0
            var k = 0
            while (k < 256) {
              if (regs(i)(k) > 0) { s += math.pow(2.0, -regs(i)(k).toDouble); nonzero += 1 }
              k += 1
            }
            val zeros = 256.0 - nonzero
            val sTot = s + zeros
            val raw = alpha * 256 * 256 / sTot
            total += (if (raw <= 2.5 * 256 && zeros > 0)
              256.0 * math.log(256.0 / zeros) else raw)
            i += 1
          }
          (t, total)
        }
        val target = q * perHop.last._2
        val eff = perHop.find(_._2 >= target).map(_._1).getOrElse(hops)
        import spark.implicits._
        return perHop.map { case (t, nn) => (t, nn, t == eff) }
          .toDF("hop", "n_estimate", "effective")
      case None => ()
    }
    val regs = neighborhoodRegisters(edges, hops, undirected, localThreshold)
    // N(t) = Σ_v estimate(v, t): ONE two-level aggregation job over the
    // whole register frame — grouped by (hop, id) for the per-vertex
    // estimate, then by hop for the totals; only the hops+1 numbers
    // reach the driver (a per-hop filter-and-collect loop costs a whole
    // Spark job per hop for the same answer — the iteration-floor shave)
    val perHop = regs
      .groupBy("hop", "id")
      .agg(org.apache.spark.sql.functions.sum(
        pow(lit(2.0), -col("max_rho").cast("double"))).as("s"),
        count(lit(1)).as("nonzero"))
      .groupBy("hop")
      .agg(org.apache.spark.sql.functions.sum(
        graft.pipeline.Sketches.hllEstimateCol(col("s"), col("nonzero"), 256))
        .as("n"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).toSeq
    val target = q * perHop.last._2
    val eff = perHop.find(_._2 >= target).map(_._1).getOrElse(hops)
    import spark.implicits._
    perHop.map { case (t, n) => (t, n, t == eff) }
      .toDF("hop", "n_estimate", "effective")
  }

  /**
   * Wedge and rectangle (4-cycle) counts — the motif statistics one step
   * beyond [[triangleCount]] (parity-plus; the reference counts
   * triangles only). wedges = Σ_v C(deg v, 2); rectangles = ½ Σ_{u<w}
   * C(cn(u, w), 2) where cn is the common-neighbor count of the
   * (not necessarily adjacent) pair — each 4-cycle has exactly two
   * diagonal pairs, hence the halving; chords don't matter. All-integer
   * arithmetic, so the result replays exactly.
   *
   * Shape: ONE wedge self-join on the middle vertex (the Σdeg² bound
   * shared with [[linkPrediction]]/[[triangleCountDF]]) + two aggregates
   * — no all-pairs product, no iteration.
   */
  def motifCounts(edges: DataFrame): DataFrame = {
    val cn = PropertyGraph.canonicalUndirected(edges)
    val nbrs = cn.select(col("src").as("w"), col("dst").as("u"))
      .unionByName(cn.select(col("dst").as("w"), col("src").as("u")))
    val deg = nbrs.groupBy("w").agg(count(lit(1)).as("d"))
    // DIV (integer division) keeps every intermediate an exact long —
    // `/` would route through doubles and lose exactness past 2^53
    val wedges = deg.selectExpr("(d * (d - 1)) DIV 2 AS wc")
      .agg(sum(col("wc")).as("wedges"))
    val pairCn = nbrs
      .join(nbrs.select(col("w"), col("u").as("v")), Seq("w"))
      .where(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("n"))
    val rects = pairCn.selectExpr("(n * (n - 1)) DIV 2 AS rc")
      .agg(sum(col("rc")).as("s"))
      .selectExpr("s DIV 2 AS rectangles")
    wedges.crossJoin(rects)
  }

  /**
   * Skip-gram co-occurrence pairs from a walk corpus — the step after
   * [[randomWalks]] in an embedding pipeline: every (center, context)
   * vertex pair within `window` steps on the same walk, aggregated to
   * counts (the word2vec-style training input; both directions emitted,
   * Δstep ≠ 0). ONE self-join on walk id with the |Δstep| band predicate
   * plus one count aggregate — walk frames are |starts|·steps rows, so
   * this is never corpus-scale.
   */
  def walkSkipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val a = walks.select(col("wid"), col("step").as("sa"), col("id").as("center"))
    val b = walks.select(col("wid"), col("step").as("sb"), col("id").as("context"))
    a.join(b, Seq("wid"))
      .where(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
  }

  /**
   * PPMI co-occurrence scores over the walk corpus — the matrix
   * word2vec-style graph embeddings factorize (Levy & Goldberg 2014:
   * SGNS ≈ shifted PMI). For each skip-gram pair:
   * PMI = ln(cnt·N / (cnt_center·cnt_context)), clamped at 0 (positive
   * PMI). Marginals and the total come from the SAME pair table, which
   * is persisted once, aggregated twice (map-side combined), and
   * released after the scored result eagerly checkpoints — no cache
   * residue (the Dedup eager contract). The single transcendental is
   * one `ln` per pair with the argument assembled in a fixed
   * multiply/divide shape, so round(…, 6) replays cross-engine (the
   * linkPrediction Adamic–Adar precedent).
   */
  def walkPpmiScores(walks: DataFrame, window: Int): DataFrame = {
    val pairs = walkSkipGramPairs(walks, window).persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    val cN = pairs.groupBy("center").agg(sum(col("cnt")).as("cc"))
    val cX = pairs.groupBy("context").agg(sum(col("cnt")).as("cx"))
    val tot = pairs.agg(sum(col("cnt")).as("n"))
    val out = pairs.join(cN, Seq("center")).join(cX, Seq("context"))
      .crossJoin(broadcast(tot))
      .select(col("center"), col("context"), col("cnt"),
        round(greatest(lit(0.0),
          log(col("cnt").cast("double") * col("n") / (col("cc") * col("cx")))), 6)
          .as("ppmi"))
      .localCheckpoint(true)
    pairs.unpersist()
    out
  }

  /**
   * Weighted shortest paths, hop-bounded Bellman–Ford (parity-plus, the
   * weighted sibling of [[shortestPaths]]): after k iterations `dist` is
   * exactly the minimum path weight over paths of ≤ k hops. Each
   * iteration is one equi-join (settled × edges) plus a groupBy-min,
   * localCheckpointed — O(1) plan per iteration, two shuffles on id.
   * Parallel edges collapse to their minimum weight up front. Expects
   * non-negative weights (Bellman–Ford tolerates negatives, but the hop
   * bound then changes meaning from "converged" to "budgeted").
   */
  def weightedShortestPaths(edges: DataFrame, sourceId: String, maxHops: Int,
                            undirected: Boolean = true,
                            localThreshold: Long = 10000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"),
      col("weight").cast("long").as("w"))
    // Adaptive: driver-side synchronous Bellman-Ford rounds below the
    // threshold — same hop-bounded min-relaxation semantics, parity
    // spec-pinned via localThreshold = 0. The local path skips the
    // min-per-pair dedup entirely: relaxing over duplicate (u,v) entries
    // is equivalent to relaxing over their min, so one plain collect of
    // the raw triples suffices (see collectInterned for why that beats
    // collecting a persisted post-shuffle frame).
    if (e0.schema("u").dataType == org.apache.spark.sql.types.StringType) {
      // probe-capped row gate (multi-edges kept — relaxation over
      // duplicates is relaxation over their min)
      collectRowsGated(e0,
          localThreshold / (if (undirected) 2 else 1)).foreach { rows =>
        return localWeightedSp(rows, undirected, sourceId, maxHops, spark)
      }
    }
    val e = (if (undirected)
               e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
             else e0)
      .where(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    // Frontier Bellman–Ford: only vertices whose distance IMPROVED last
    // round relax their out-edges (an unchanged vertex would re-produce
    // the identical candidates), and the loop exits when a round improves
    // nothing — at that fixpoint min-over-≤k-hop equals min-over-≤K for
    // every K ≥ k, so results match the full-relaxation form exactly.
    // Each round is ONE aggregate over (settled ∪ relaxed) that yields
    // both the new distance and the changed flag, checkpointed once.
    var dist = Seq((sourceId, 0L)).toDF("id", "dist").localCheckpoint(true)
    var frontier = dist
    var h = 0
    while (h < maxHops && !frontier.isEmpty) {
      h += 1
      val relaxed = frontier.select(col("id").as("u"), col("dist")).join(e, Seq("u"))
        .select(col("v").as("id"), (col("dist") + col("w")).as("dist"),
          lit(true).as("__new"))
      val combined = dist.withColumn("__new", lit(false))
        .unionByName(relaxed)
        .groupBy(col("id"))
        .agg(min(col("dist")).as("dist"),
          min(when(!col("__new"), col("dist"))).as("__old"))
        .localCheckpoint(true)
      dist = combined.select(col("id"), col("dist"))
      frontier = combined
        .where(col("__old").isNull || col("dist") < col("__old"))
        .select(col("id"), col("dist"))
    }
    e.unpersist()
    dist
  }

  /** Driver-side synchronous Bellman-Ford for [[weightedShortestPaths]]'s
    * small regime — identical round semantics: every round relaxes the
    * out-edges of the vertices improved LAST round against the previous
    * round's distances, stops when a round improves nothing or at
    * `maxHops` rounds; source row always present. */
  private def localWeightedSp(rows: Array[org.apache.spark.sql.Row],
                              undirected: Boolean,
                              sourceId: String, maxHops: Int,
                              spark: SparkSession): DataFrame = {
    import spark.implicits._
    val idx = scala.collection.mutable.HashMap.empty[String, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[String]
    def intern(x: String): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val es = rows.map(r => (intern(r.getString(0)), intern(r.getString(1)), r.getLong(2)))
    val n = ids.length
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(Int, Long)])
    es.foreach { case (u, v, w) =>
      if (u != v) { adj(u) += ((v, w)); if (undirected) adj(v) += ((u, w)) }
    }
    idx.get(sourceId) match {
      case None => Seq((sourceId, 0L)).toDF("id", "dist")
      case Some(src) =>
        val unreached = Long.MaxValue
        var dist = Array.fill(n)(unreached)
        dist(src) = 0L
        var frontier = List(src)
        var h = 0
        while (h < maxHops && frontier.nonEmpty) {
          h += 1
          val next = dist.clone()
          frontier.foreach { u =>
            val base = dist(u)
            adj(u).foreach { case (v, w) =>
              if (base + w < next(v)) next(v) = base + w
            }
          }
          var improved = List.empty[Int]
          var i = 0
          while (i < n) {
            if (next(i) < dist(i)) improved = i :: improved
            i += 1
          }
          dist = next
          frontier = improved
        }
        val rows = (0 until n).iterator.filter(dist(_) != unreached)
          .map(i => (ids(i), dist(i))).toSeq
        spark.createDataFrame(rows).toDF("id", "dist")
    }
  }

  /**
   * Synchronous label propagation (community detection, parity-plus).
   * Every vertex starts labeled with its own id; each round it adopts the
   * most frequent label among its neighbors, ties broken by the SMALLEST
   * label (numeric order for numeric ids, lexicographic for strings) —
   * fully deterministic, unlike classic async LPA. The argmax is one
   * aggregate per round: min(struct(-count, label)) picks highest count
   * then lowest label with map-side partial aggregation (no window
   * sort), for labels of ANY orderable type. Each round is two shuffles
   * (join on v, groupBy u) over the persisted edge list; labels are
   * eagerly localCheckpointed so the plan stays O(1) in round count —
   * the pageRank pattern.
   */
  def labelPropagation(edges: DataFrame, iterations: Int,
                       undirected: Boolean = true,
                       localThreshold: Long = 10000000L): DataFrame = {
    // The "(count DESC, label ASC)" argmax is one grouped aggregate:
    // min(struct(-count, label)) — the count is always numeric so its
    // negation handles the DESC leg, and the label rides in its OWN type.
    // This replaces the previous order-preserving zipWithIndex dictionary
    // + decode joins, which existed only because the argmax negated the
    // LABEL. The numeric probe stays: all-numeric ids (even as strings)
    // tie-break NUMERICALLY ("9" < "10"), which lexicographic strings
    // would get wrong — so they're cast to long up front, exactly like
    // the oracle's CAST(src AS BIGINT).
    // schema-numeric columns skip the data probe entirely; string columns
    // pay one scan — head(1) short-circuits on the first non-castable id
    // (the silent failure mode this replaces was cast-to-NULL dropping
    // every vertex)
    val schemaNumeric = Seq("src", "dst").forall(c =>
      edges.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    // When the probe must run it scans the ENTIRE upstream (all-numeric
    // ids are only proven by exhausting the scan), so persist the raw
    // projection first — otherwise the upstream pipeline executes once
    // for the probe and again for the canonical dedup below.
    val raw = if (schemaNumeric) None else Some(
      edges.select(col("src").cast("string").as("u"), col("dst").cast("string").as("v"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val hasNonNumeric = raw.exists(r =>
      r.where(expr("try_cast(u AS LONG)").isNull || expr("try_cast(v AS LONG)").isNull)
        .head(1).nonEmpty)
    val e0 = raw match {
      case Some(r) if hasNonNumeric => r
      case Some(r) => r.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      case None => edges.select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
    }
    // Adaptive (the kCore/closeness/SCC pattern): below the threshold
    // the synchronous rounds run driver-side over adjacency arrays —
    // each distributed round is two shuffles of fixed job latency, the
    // dominant term on small graphs. Parity spec via localThreshold = 0.
    // Gate on the RAW count; the canonical dedup fuses into the
    // driver-side intern pass (see collectInterned).
    val rawPairs = e0.where(col("u") =!= col("v"))
    collectInternedGated(rawPairs, canonical = undirected, localThreshold).foreach { in =>
      raw.foreach(_.unpersist())
      return localLabelPropagation(in, e0.schema("u").dataType,
        edges.sparkSession, iterations, undirected)
    }
    // Dedup in SINGLE orientation: for undirected graphs the distinct
    // runs over the canonical (least, greatest) list — half the rows of
    // the old distinct-after-doubling — and the doubled list is then
    // duplicate-free by construction (the orientations are disjoint once
    // self-loops are gone).
    val eCanon = (if (undirected)
        rawPairs
          .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      else rawPairs)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    eCanon.count()
    raw.foreach(_.unpersist()) // eCanon is materialized; raw is done
    val e = if (undirected)
      eCanon.unionByName(eCanon.select(col("v").as("u"), col("u").as("v")))
    else eCanon
    var labels = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      // labels flow along edge direction: v adopts the most frequent
      // label among its in-neighbors u (symmetric in undirected mode)
      val counts = e.join(labels.select(col("id").as("u"), col("label")), "u")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("c"))
      val best = counts.groupBy(col("v"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("v").as("id"), col("m.l").as("label"))
      // vertices with no in-neighbors (directed mode) keep their label
      labels = labels.select(col("id"), col("label").as("__old"))
        .join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("__old")).as("label"))
        .localCheckpoint(true)
    }
    eCanon.unpersist()
    labels
  }

  /** Driver-side synchronous LPA for [[labelPropagation]]'s small regime —
    * identical round semantics: every vertex simultaneously adopts the
    * most frequent in-neighbor label, ties to the SMALLEST label (Long
    * order for the numeric regime, string order otherwise — the same
    * ordering the distributed argmax struct uses), isolated-in-degree
    * vertices keep their label. */
  private def localLabelPropagation(in: InternedEdges,
                                    dt: org.apache.spark.sql.types.DataType,
                                    spark: SparkSession, iterations: Int,
                                    undirected: Boolean): DataFrame = {
    // pairs arrive in canonical single orientation for undirected graphs —
    // the reverse direction is added here, in memory, not as a shuffle
    val es = in.pairs
    val ids = in.ids
    val n = ids.length
    // labels flow u -> v: v's candidates are its IN-neighbors' labels
    val inNbrs = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    es.foreach { case (u, v) =>
      inNbrs(v) += u
      if (undirected) inNbrs(u) += v
    }
    // ids never change set; order candidate labels by the ORIGINAL value
    val lt: (Any, Any) => Boolean = dt match {
      case org.apache.spark.sql.types.LongType =>
        (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case _ => (a, b) => String.valueOf(a).compareTo(String.valueOf(b)) < 0
    }
    var labels = Array.tabulate(n)(identity) // label = vertex index of the label VALUE
    for (_ <- 1 to iterations) {
      val next = new Array[Int](n)
      val cnt = scala.collection.mutable.HashMap.empty[Int, Long]
      var v = 0
      while (v < n) {
        val nb = inNbrs(v)
        if (nb.isEmpty) next(v) = labels(v)
        else {
          cnt.clear()
          nb.foreach { u => val l = labels(u); cnt.update(l, cnt.getOrElse(l, 0L) + 1L) }
          var bestL = -1
          var bestC = -1L
          cnt.foreach { case (l, c) =>
            if (c > bestC || (c == bestC && lt(ids(l), ids(bestL)))) { bestL = l; bestC = c }
          }
          next(v) = bestL
        }
        v += 1
      }
      labels = next
    }
    val rows = (0 until n).map(i => org.apache.spark.sql.Row(ids(i), ids(labels(i))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt),
      org.apache.spark.sql.types.StructField("label", dt)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Bounded k-core peeling (parity-plus): `rounds` synchronous rounds of
   * "drop every vertex whose degree in the surviving induced subgraph is
   * < k". Returns (id, degree) for survivors with their induced degree.
   * Run with `rounds` large enough to reach the fixpoint and this IS the
   * k-core; the bounded form exists so the result is replayable
   * round-by-round by an external oracle. Each round is one induced-
   * subgraph semi-join pair + a degree aggregate over the persisted
   * canonical edge list, survivors localCheckpointed — O(1) plan depth.
   */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
            localThreshold: Long = 10000000L): DataFrame =
    kCoreImpl(edges, k, rounds, localThreshold)._1

  /** k-core to the FIXPOINT: peel until the survivor set stops changing
    * (maxRounds is a runaway bound, not a semantic knob). */
  def kCoreFixpoint(edges: DataFrame, k: Int, maxRounds: Int = 1000): DataFrame =
    kCoreImpl(edges, k, maxRounds)._1

  /** Shared peeling loop; returns (survivors-with-degree, rounds actually
    * executed). Early-stops once a round removes nothing: each round's
    * survivor set is a subset of the previous one, so an unchanged COUNT
    * is an unchanged SET — and every later round is the identity, which
    * keeps the bounded form's round-by-round oracle contract intact
    * while a converged peel stops paying per-round materializations. */
  private[graft] def kCoreImpl(edges: DataFrame, k: Int, rounds: Int,
                               localThreshold: Long = 10000000L): (DataFrame, Int) = {
    // Adaptive (the kTruss/closeness/SCC pattern): below the threshold the
    // synchronous peel runs driver-side over an adjacency map — each
    // distributed round costs several fixed-latency Spark jobs, the
    // dominant term on small graphs. Parity spec-asserted via
    // localThreshold = 0. Gate on the RAW count; canonicalization fuses
    // into the driver-side intern pass (see collectInterned).
    val raw = edges.select(col("src"), col("dst"))
    collectInternedGated(raw, canonical = true, localThreshold).foreach { in =>
      return localKCore(in, edges.schema("src").dataType, edges.sparkSession, k, rounds)
    }
    // src-partitioned canonical set (the graphStats layout, r17): the
    // dedup's one exchange keyed on src alone — a grouping-key subset
    // clusters the distinct — and persist keeps HashPartitioning(src)
    // visible, so the src half of the degree count and every src-keyed
    // removed-join run exchange-free
    val canon = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .repartition(col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val canonCnt = canon.count()
    // DELTA peeling: maintain each survivor's induced degree and subtract
    // the contribution of just-removed neighbors, instead of recomputing
    // induced degrees from the full edge list every round. Cost per round
    // is two joins of the edge list against the REMOVED set — which
    // shrinks round over round and is broadcast under the relative gate
    // (a checkpointed removed set is a statless LogicalRDD the static
    // planner would SMJ, re-exchanging the edge list; [[gatedBc]]) —
    // plus one id-keyed degree update; the old shape paid two full
    // semi-joins and a fresh edge-wide aggregate per round AND once more
    // for the final answer. Synchronous-round semantics are unchanged
    // (the bounded form stays replayable round-by-round by the oracle).
    // Degrees in two halves: the src half rides canon's partitioning,
    // exchange-free (the old explode shuffled 2|E| rows).
    var deg = canon.groupBy(col("src").as("id")).agg(count(lit(1)).as("__ds"))
      .join(canon.groupBy(col("dst").as("id")).agg(count(lit(1)).as("__dd")),
        Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(col("__ds"), lit(0L)) + coalesce(col("__dd"), lit(0L))).as("degree"))
      .localCheckpoint(true)
    var executed = 0
    var converged = false
    while (executed < rounds && !converged) {
      val removed = deg.where(col("degree") < k).select("id").localCheckpoint(true)
      executed += 1 // a round that removes nothing still counts as executed
      val removedCnt = removed.count()
      if (removedCnt == 0) converged = true
      else {
        val delta = canon.join(gatedBc(removed.select(col("id").as("src")),
            removedCnt, canonCnt), Seq("src"))
          .select(col("dst").as("id"))
          .unionAll(canon.join(gatedBc(removed.select(col("id").as("dst")),
              removedCnt, canonCnt), Seq("dst"))
            .select(col("src").as("id")))
          .groupBy("id").agg(count(lit(1)).as("drop"))
        deg = deg.where(col("degree") >= k)
          .join(delta, Seq("id"), "left")
          .select(col("id"),
            (col("degree") - coalesce(col("drop"), lit(0L))).as("degree"))
          .localCheckpoint(true)
      }
    }
    // survivors keep their maintained induced degree; vertices whose last
    // neighbor was just removed (degree 0) are omitted, matching the old
    // induced-edge aggregate which never emitted them
    val out = deg.where(col("degree") > 0)
    canon.unpersist()
    (out, executed)
  }

  /** Driver-side synchronous peel for [[kCore]]'s small regime — identical
    * round semantics to the DataFrame delta loop: every round removes ALL
    * vertices below k simultaneously, early-stops when a round removes
    * nothing, survivors report their induced degree (degree-0 survivors
    * omitted, matching the distributed output contract). */
  private def localKCore(in: InternedEdges, dt: org.apache.spark.sql.types.DataType,
                         spark: SparkSession, k: Int, rounds: Int): (DataFrame, Int) = {
    val edges = in.pairs
    val ids = in.ids
    val nbrs = Array.fill(ids.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (a, b) => nbrs(a) += b; nbrs(b) += a }
    val deg = Array.tabulate(ids.length)(i => nbrs(i).length)
    val alive = Array.fill(ids.length)(true)
    var executed = 0
    var converged = false
    while (executed < rounds && !converged) {
      executed += 1
      val dead = (0 until ids.length).filter(i => alive(i) && deg(i) < k)
      if (dead.isEmpty) converged = true
      else dead.foreach { i =>
        alive(i) = false
        nbrs(i).foreach(j => if (alive(j)) deg(j) -= 1)
      }
    }
    val rows = (0 until ids.length).iterator
      .filter(i => alive(i) && deg(i) > 0)
      .map(i => org.apache.spark.sql.Row(ids(i), deg(i).toLong)).toSeq
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", dt), StructField("degree", LongType)))
    (spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema), executed)
  }

  /** k-truss after `rounds` synchronous peels — see [[kTrussFixpoint]]
    * for the converged form. Each round computes every surviving edge's
    * SUPPORT (triangles containing it in the current graph) and removes
    * all edges with support < k−2 simultaneously, so the bounded form is
    * replayable round-by-round by a SQL oracle (the [[kCore]] contract).
    * Early-stops when a round removes nothing (every later round is the
    * identity). Returns surviving canonical edges (src < dst) with their
    * support in the surviving graph.
    *
    * Adaptive (the [[closenessCentrality]]/SCC pattern): ≤
    * `localThreshold` canonical edges → driver-side peel over adjacency
    * sets (each distributed round costs several fixed-latency jobs, the
    * dominant term on small graphs); above → the DataFrame loop. Parity
    * spec-asserted via `localThreshold = 0`. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int,
             localThreshold: Long = 10000000L): DataFrame =
    kTrussImpl(edges, k, rounds, localThreshold)._1

  /** k-truss to the fixpoint (maxRounds is a runaway bound — peeling
    * removes ≥1 edge per non-final round, so it binds only on graphs
    * with more edges than rounds). */
  def kTrussFixpoint(edges: DataFrame, k: Int, maxRounds: Int = 1000): DataFrame =
    kTrussImpl(edges, k, maxRounds, 10000000L)._1

  private[graft] def kTrussImpl(edges: DataFrame, k: Int, rounds: Int,
                                localThreshold: Long = 10000000L): (DataFrame, Int) = {
    require(k >= 2, s"k must be >= 2: $k")
    var e = PropertyGraph.canonicalUndirected(edges).localCheckpoint(true)
    var n = e.count()
    if (n <= localThreshold) return localKTruss(e, k, rounds)
    var executed = 0
    var converged = false
    while (executed < rounds && !converged) {
      executed += 1
      val kept = edgeSupport(e).where(col("support") >= k - 2)
        .select(col("src"), col("dst")).localCheckpoint(true)
      val kn = kept.count()
      converged = kn == n
      n = kn
      e = kept
    }
    (edgeSupport(e), executed)
  }

  /** Driver-side synchronous peel for [[kTruss]]'s small regime: support
    * by adjacency-set intersection, all below-threshold edges removed
    * per round — identical round semantics to the DataFrame loop. */
  private def localKTruss(cn: DataFrame, k: Int, rounds: Int): (DataFrame, Int) = {
    val spark = cn.sparkSession
    val dt = cn.schema("src").dataType
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    var live = cn.collect().map(r => (intern(r.get(0)), intern(r.get(1)))).toSet
    val nbrs = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.HashSet[Int]]
    def link(a: Int, b: Int): Unit = {
      nbrs.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty) += b
      nbrs.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty) += a
    }
    live.foreach { case (a, b) => link(a, b) }
    def support(a: Int, b: Int): Long = {
      val (sm, lg) = {
        val na = nbrs(a); val nb = nbrs(b)
        if (na.size <= nb.size) (na, nb) else (nb, na)
      }
      sm.count(lg.contains).toLong
    }
    var executed = 0
    var converged = false
    while (executed < rounds && !converged) {
      executed += 1
      val dead = live.filter { case (a, b) => support(a, b) < k - 2 }
      if (dead.isEmpty) converged = true
      else {
        live = live -- dead
        dead.foreach { case (a, b) => nbrs(a) -= b; nbrs(b) -= a }
      }
    }
    val rows = live.toSeq.map { case (a, b) =>
      org.apache.spark.sql.Row(ids(a), ids(b), support(a, b))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("src", dt), StructField("dst", dt),
      StructField("support", LongType)))
    (spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema), executed)
  }

  /**
   * Link-prediction scores (parity-plus: the natural companion to the
   * reference's GCN link-prediction training export,
   * `src_python/fl_server.py` — these are the classical non-learned
   * baselines every graph system ships): for every non-adjacent vertex
   * pair (u, v) sharing at least `minCommon` neighbors,
   *
   *  - `common`   — |Γ(u) ∩ Γ(v)|
   *  - `jaccard`  — common / |Γ(u) ∪ Γ(v)| (one correctly-rounded
   *    integer division — replays bit-identically cross-engine)
   *  - `adamic_adar` — Σ_{w ∈ Γ(u)∩Γ(v)} 1/ln(deg w)  (Adamic–Adar)
   *  - `resource_alloc` — Σ_{w} 1/deg w                (resource allocation)
   *
   * Shape at scale: ONE wedge self-join on the middle vertex w (the
   * candidate generator — never an all-pairs product; cost is Σ deg(w)²,
   * the triangle-count wedge bound), one anti-join against the existing
   * edge set, one (u,v) aggregate, two broadcast-ready degree joins.
   * Middle vertices in a wedge have degree ≥ 2 by construction, so
   * 1/ln(deg) never divides by zero.
   */
  def linkPrediction(edges: DataFrame, minCommon: Long = 1): DataFrame = {
    val cn = PropertyGraph.canonicalUndirected(edges)
    val nbrs = cn.select(col("src").as("w"), col("dst").as("u"))
      .unionByName(cn.select(col("dst").as("w"), col("src").as("u")))
    val deg = nbrs.groupBy("w").agg(count(lit(1)).as("dg"))
    val nd = nbrs.join(deg, Seq("w"))
    val wedges = nd.select(col("w"), col("u"), col("dg"))
      .join(nd.select(col("w"), col("u").as("v"), col("dg").as("dg2")), Seq("w"))
      .where(col("u") < col("v"))
    val agg = wedges
      .join(cn, wedges("u") === cn("src") && wedges("v") === cn("dst"), "left_anti")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common"),
        sum(lit(1.0) / log(col("dg"))).as("aa"),
        sum(lit(1.0) / col("dg")).as("ra"))
      .where(col("common") >= minCommon)
    agg
      .join(deg.select(col("w").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("w").as("v"), col("dg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("common"),
        (col("common").cast("double") /
          (col("du") + col("dv") - col("common")).cast("double")).as("jaccard"),
        round(col("aa"), 6).as("adamic_adar"),
        round(col("ra"), 6).as("resource_alloc"))
  }

  /**
   * HITS hubs and authorities (Kleinberg) over the directed edge set,
   * UNNORMALIZED with integer scores — parity-plus next to [[pageRank]].
   * auth_{t+1}(v) = Σ_{(u,v)} hub_t(u), then hub_{t+1}(u) = Σ_{(u,v)}
   * auth_{t+1}(v) (the classic in-iteration update order), init hub = 1.
   * Skipping the usual L2 normalization keeps every score an exact
   * 64-bit integer — the RANKING is identical (normalization is a
   * positive scalar per iteration) and the result replays bit-identically
   * in any engine, where normalized float sums would be summation-order-
   * dependent. Scores grow like (max degree)^(2·iterations); the guard
   * keeps the worst case far from Long overflow.
   *
   * Shape: two (join + aggregate) passes over the persisted edge list per
   * iteration.
   * Adaptive (the [[closenessCentrality]]/[[kCore]] pattern): ≤
   * `localThreshold` distinct edges run the recurrence driver-side over
   * index arrays — each distributed iteration costs several fixed-latency
   * jobs, the dominant term on small graphs. Parity spec-asserted via
   * `localThreshold = 0`.
   *
   * LAZY contract (like [[pageRank]]): the distributed regime returns an
   * unmaterialized plan — consume it once, or `localCheckpoint`/`persist`
   * first when reading it multiple times, else each action recomputes
   * the full 2k-join recurrence. The internal edge persist stays in the
   * session's CacheManager until someone unpersists it: it is not
   * released when the frame becomes unreachable.
   */
  def hits(edges: DataFrame, iterations: Int = 3,
           localThreshold: Long = 10000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 6,
      s"iterations must be in [1, 6] (integer scores grow like deg^(2k)): $iterations")
    val raw = edges.select(col("src"), col("dst")).where(col("src") =!= col("dst"))
    collectInternedGated(raw, canonical = false, localThreshold).foreach { in =>
      return localHits(in, edges.schema("src").dataType, edges.sparkSession, iterations)
    }
    // src-keyed exchange before the distinct (a subset of the distinct
    // keys clusters it just as well — the graphStats canon layout): the
    // persisted frame KEEPS HashPartitioning(src), so each iteration's
    // src-side join runs exchange-free; the dst-side exchange is shared
    // across iterations by ReusedExchange as before (r18 sf10 solo A/B:
    // 3-run median 38.2 → 16.0 s, 2.4×)
    val e = raw.repartition(col("src")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    val ids = e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    // gate the shuffle_hash hint on the vertex count (the egonets /
    // balancedPartition broadcastRowGate discipline): the hash build
    // has no sort-merge fallback, so a huge or skewed vertex set could
    // OOM a per-partition build where SMJ would spill. ≤100M (id, long)
    // rows ≈ a few GB split across the wide-AQE partition count — safe;
    // above that, leave the planner its spillable SortMergeJoin.
    val nV = ids.count()
    val hashGated: DataFrame => DataFrame =
      if (nV <= 100000000L) d => d.hint("shuffle_hash") else identity
    var hub = ids.select(col("id"), lit(1L).as("hub"))
    var auth: DataFrame = null
    // iterations ≤ 6, so the whole recurrence COMPOSES into one lazy
    // plan over the persisted edge list (lazy return, identical
    // per-iteration subtrees for Catalyst's exchange reuse). The persist
    // stays in the session's CacheManager after the call: nothing
    // unpersists it. Eager per-step localCheckpoints here measured 36×
    // wall for 10× data at sf1 (12 materializations of a 13.5M-edge
    // frame).
    // shuffle_hash on the vertex-sized build sides: the edge exchanges
    // are already shared across iterations (ReusedExchange — identical
    // subtrees), but SortMergeJoin re-SORTS the edge list on every read
    // (2 joins × iterations sorts of the full edge frame); hashing the
    // vertex-sized side instead streams the edges sort-free
    for (_ <- 1 to iterations) {
      val a = e.join(hashGated(hub.select(col("id").as("src"), col("hub"))),
          Seq("src"))
        .groupBy("dst").agg(sum(col("hub")).as("auth"))
      auth = ids.join(hashGated(a.select(col("dst").as("id"), col("auth"))),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("auth"), lit(0L)).as("auth"))
      val h = e.join(hashGated(auth.select(col("id").as("dst"), col("auth"))),
          Seq("dst"))
        .groupBy("src").agg(sum(col("auth")).as("hub"))
      hub = ids.join(hashGated(h.select(col("src").as("id"), col("hub"))),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"))
    }
    // NOT persisted: a lazy persist of the final auth (the fastRP
    // shared-iterate fix — the output join's sides both contain the
    // auth recurrence) measured 92.0 → 223.6 s at the sf10 solo A/B.
    // Unlike fastRP's chain, the recurrence's identical per-step
    // subtrees already dedupe through reused exchanges, and the
    // InMemoryRelation boundary broke that reuse for the whole chain —
    // composition, not caching, is this plan's sharing mechanism.
    hub.join(auth, Seq("id"))
  }

  /** Driver-side HITS for the small regime — identical recurrence over
    * interned index arrays. */
  private def localHits(in: InternedEdges,
      dt: org.apache.spark.sql.types.DataType, spark: SparkSession,
      iterations: Int): DataFrame = {
    val pairs = in.pairs
    val ids = in.ids
    val n = ids.length
    var hub = Array.fill(n)(1L)
    var auth = Array.fill(n)(0L)
    for (_ <- 1 to iterations) {
      val a = Array.fill(n)(0L)
      pairs.foreach { case (u, v) => a(v) += hub(u) }
      auth = a
      val h = Array.fill(n)(0L)
      pairs.foreach { case (u, v) => h(u) += auth(v) }
      hub = h
    }
    val rows = (0 until n).map(i => org.apache.spark.sql.Row(ids(i), hub(i), auth(i)))
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", dt),
      StructField("hub", LongType), StructField("auth", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Personalized PageRank: [[pageRank]] with the uniform teleport replaced
   * by a restart onto `sources` (its first column; duplicates, nulls and
   * ids outside `nodes` add nothing) — r_{t+1}(v) = (1−α)·[v ∈ S] + α·Σ
   * contribs, from r_0 = [v ∈ S]. The standard random-walk-with-restart
   * relevance score used for recommendation seeds; the same
   * [[rankKernel]] and lazy-plan contract as [[pageRank]].
   */
  def personalizedPageRank(g: PropertyGraph, sources: DataFrame,
                           alpha: Double = 0.85, iterations: Int = 5): DataFrame = {
    val seeds = sources.select(col(sources.columns.head).as("id")).distinct()
      .select(col("id"), lit(1.0).as("r"))
    val restart = g.nodes.select(col("id"))
      .join(seeds, Seq("id"), "left")
      .select(col("id"), coalesce(col("r"), lit(0.0)).as("restart"))
    rankKernel(g, restart, alpha, iterations)
  }

  /** Support (triangle membership count) per canonical edge: triangles
    * enumerated once via the id-ordered 3-join — a<b<c appears exactly
    * once as (a,b)(b,c)(a,c) — each contributing to its three edges.
    * Same shape as [[clusteringCoefficients]]' enumeration; the skew
    * bound at scale is the wedge fan-out of high-degree vertices
    * (degree-orient upstream if that bites). */
  private def edgeSupport(cn: DataFrame): DataFrame = {
    val e2 = cn.select(col("src").as("b2a"), col("dst").as("b2b"))
    val e3 = cn.select(col("src").as("c1"), col("dst").as("c2"))
    val tris = cn
      .join(e2, col("dst") === col("b2a"))
      .join(e3, col("c1") === col("src") && col("c2") === col("b2b"))
      .select(col("src").as("a"), col("dst").as("b"), col("b2b").as("c"))
    val contrib = tris.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(tris.select(col("b").as("src"), col("c").as("dst")))
      .unionAll(tris.select(col("a").as("src"), col("c").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("support"))
    cn.join(contrib, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), coalesce(col("support"), lit(0L)).as("support"))
  }

  /**
   * Per-vertex triangle counts + local clustering coefficient
   * (parity-plus over the reference's global `trian`). Triangles are
   * enumerated once via the canonical (src<dst) 3-join — each triangle
   * a<b<c appears exactly once as (a,b)(b,c)(a,c) — then
   * attributed to all three corners; coeff = 2T / d(d-1) over the
   * undirected degree, 0 when d < 2. One triangle enumeration + one
   * grouped count — no per-vertex subgraph work.
   */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val canon = PropertyGraph.canonicalUndirected(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = canon.select(col("src").as("id"))
      .unionAll(canon.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val e2 = canon.select(col("src").as("b2a"), col("dst").as("b2b"))
    val e3 = canon.select(col("src").as("c1"), col("dst").as("c2"))
    val tris = canon
      .join(e2, col("dst") === col("b2a"))
      .join(e3, col("c1") === col("src") && col("c2") === col("b2b"))
      .select(col("src").as("a"), col("dst").as("b"), col("b2b").as("c"))
    val perVertex = tris.select(col("a").as("id"))
      .unionAll(tris.select(col("b").as("id")))
      .unionAll(tris.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("t"))
    deg.join(perVertex, Seq("id"), "left")
      .select(col("id"), coalesce(col("t"), lit(0L)).as("triangles"),
        round(when(col("d") < 2, 0.0)
          .otherwise(lit(2.0) * coalesce(col("t"), lit(0L)) / (col("d") * (col("d") - lit(1.0)))), 4)
          .as("coeff"))
  }

  /** Out-degree per vertex (reference `odd`). Zero-degree vertices included. */
  def outDegrees(g: PropertyGraph): DataFrame = degrees(g, col("src"))

  /** In-degree per vertex (reference `idd`). Zero-degree vertices included. */
  def inDegrees(g: PropertyGraph): DataFrame = degrees(g, col("dst"))

  private def degrees(g: PropertyGraph, end: Column): DataFrame = {
    val d = g.orientedEdges.groupBy(end.as("id")).agg(count(lit(1)).as("degree"))
    g.nodes.select(col("id")).join(d, Seq("id"), "left")
      .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"))
  }

  /** Degree distribution: how many vertices have each degree
    * (reference writes these as `graphID_{idd,odd}_partition` files,
    * `JasmineGraphInstanceService.cpp:1249-1388`). */
  def degreeDistribution(g: PropertyGraph, in: Boolean): DataFrame = {
    val d = if (in) inDegrees(g) else outDegrees(g)
    d.groupBy("degree").agg(count(lit(1)).as("frequency"))
  }

  /**
   * Egonet: the 1-hop induced subgraph around `egoId` (reference
   * `JasmineGraphInstanceService.cpp:1404-1500`). Returns the edge set among
   * {ego} ∪ neighbors(ego). The neighbor set of one vertex is small, so it
   * is broadcast into the induced-subgraph join — no full shuffle.
   */
  def egonet(g: PropertyGraph, egoId: String): DataFrame = {
    val es = g.orientedEdges.select(col("src"), col("dst"))
    val ego = es.sparkSession.range(1).select(lit(egoId).as("m"))
    // no distinct: LEFT SEMI joins never multiply matches, so the raw
    // (dup-bearing) membership works and the plan carries ZERO
    // exchanges — two broadcast semi-probes over the cached edge scan.
    // The old members.distinct() was the query's only shuffle, and
    // under the wide-AQE default its 256-way reducer split cost more
    // than the whole rest of the query at small SF (0.60 → 1.00 s
    // sf0.1 solo, the r16 A/B).
    val members = es.where(col("src") === egoId).select(col("dst").as("m"))
      .union(es.where(col("dst") === egoId).select(col("src").as("m")))
      .union(ego)
    es.join(broadcast(members.withColumnRenamed("m", "src")), Seq("src"), "left_semi")
      .join(broadcast(members.withColumnRenamed("m", "dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /**
   * Egonets for a whole SET of ego vertices in one shot (the reference
   * batches egonets per partition rather than per-vertex —
   * `JasmineGraphInstanceService.cpp:1404-1500`). `egos`' first column
   * holds the ego ids. Returns (ego, src, dst): each ego's induced
   * subgraph over {ego} ∪ neighbors(ego), computed with ONE tagged
   * membership table and two joins — per-ego invocations would rescan
   * the edge list |egos| times. No broadcast hint: the membership table
   * scales with Σ ego-degree, so AQE picks the join strategy.
   *
   * The tagged joins run on a PRE-PRUNED edge set: two semi-joins
   * against the distinct member ids first drop every edge with an
   * endpoint outside ∪ membership — a superset filter of the tagged
   * inner joins, so the result is value-identical, but the ego-tag row
   * multiplication and the final equi-joins touch only intra-membership
   * edges.
   *
   * Join strategy is GATED, not left to the planner: the membership is
   * already materialized (the tagged joins read it twice), so one
   * driver-side count decides — ≤ `broadcastRowGate` membership rows
   * (default 2M ≈ tens of MB of ids, fine for any executor) hints
   * broadcast on all four probe sides and the edge list is only
   * SCANNED, never exchanged; above the gate the hint is withheld and
   * the joins shuffle on the edge keys, the only correct shape for
   * celebrity-ego memberships. The gate exists because the
   * checkpointed membership is a LogicalRDD — statless, so the static
   * planner always falls back to SortMergeJoin and (measured, sf1/sf10)
   * AQE does not rescue the plan: sf10 solo went 94 s (no prune, SMJ)
   * → 57 s (prune, SMJ) → the gated-broadcast plan with zero edge
   * exchanges.
   */
  def egonets(g: PropertyGraph, egos: DataFrame,
              broadcastRowGate: Long = 2000000L): DataFrame = {
    val es = g.orientedEdges.select(col("src"), col("dst"))
    val e = egos.select(col(egos.columns.head).cast("string").as("ego")).distinct()
    val members = es.join(e, col("src") === col("ego"))
      .select(col("ego"), col("dst").as("m"))
      .unionByName(es.join(e, col("dst") === col("ego"))
        .select(col("ego"), col("src").as("m")))
      .unionByName(e.select(col("ego"), col("ego").as("m")))
      .distinct()
      .localCheckpoint(true)
    val small = members.count() <= broadcastRowGate
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val dm = members.select(col("m")).distinct().localCheckpoint(true)
    val esp = es
      .join(hinted(dm.select(col("m").as("src"))), Seq("src"), "left_semi")
      .join(hinted(dm.select(col("m").as("dst"))), Seq("dst"), "left_semi")
    esp.join(hinted(members.select(col("ego"), col("m").as("src"))), "src")
      .join(hinted(members.select(col("ego").as("__e2"), col("m").as("__d2"))),
        col("ego") === col("__e2") && col("dst") === col("__d2"))
      .select(col("ego"), col("src"), col("dst"))
  }

  // ════════════════════════════════════════════════════════════════════
  // Structural graph metrics (parity-plus next to the reference's
  // idd/odd degree statistics, `JasmineGraphInstanceService.cpp:1249-1388`
  // — the summary numbers a graph-analytics user reads first).
  // ════════════════════════════════════════════════════════════════════

  /**
   * Hop-bounded per-vertex eccentricity: ecc(s) = max distance from `s`
   * to any vertex reachable within `maxHops` (0 when nothing is
   * reached). Diameter = max over the result, radius = min over vertices
   * that reach the whole graph — both one aggregate away.
   *
   * Same BFS state shape as [[closenessCentrality]] (per-(source,vertex)
   * distance, one hop per round); a true unbounded eccentricity needs
   * `maxHops` ≥ the graph diameter. At 100 TB pass `sources` (landmarks)
   * — all-sources state is |V| · reach, exactly like closeness.
   *
   * Adaptive: ≤ `localThreshold` oriented edges runs the BFS sweep
   * driver-side (each distributed hop costs several fixed-latency Spark
   * jobs); identical semantics, parity spec-pinned via
   * `localThreshold = 0`.
   */
  def eccentricity(edges: DataFrame, maxHops: Int = 10,
                   undirected: Boolean = true,
                   sources: Option[DataFrame] = None,
                   localThreshold: Long = 10000000L): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
    val e = (if (undirected) e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
             else e0)
      .where(col("u") =!= col("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eCnt = e.count()
    if (eCnt <= localThreshold) {
      val out = localEccentricity(e, maxHops, sources)
      e.unpersist()
      return out
    }
    val verts = e.select(col("u").as("id")).distinct()
    val srcs = sources.map(_.select(col("id"))).getOrElse(verts)
      .localCheckpoint(true)
    var dist = srcs.select(col("id").as("s"), col("id"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = dist
    // same gated-broadcast frontier walk as [[closenessCentrality]]
    var frontierCnt = srcs.count()
    var distCnt = frontierCnt
    var h = 0
    while (h < maxHops && frontierCnt > 0) {
      h += 1
      val next = gatedBc(frontier.select(col("s"), col("id").as("u")), frontierCnt, eCnt)
        .join(e, Seq("u"))
        .select(col("s"), col("v").as("id")).distinct()
        .join(gatedBc(dist, distCnt, eCnt), Seq("s", "id"), "left_anti")
        .withColumn("dist", lit(h))
        .localCheckpoint(true)
      frontierCnt = next.count()
      distCnt += frontierCnt
      dist = dist.unionByName(next)
      frontier = next
    }
    e.unpersist()
    val agg = dist.where(col("dist") > 0).groupBy(col("s"))
      .agg(count(lit(1)).as("__reached"), max(col("dist")).as("__ecc"))
    srcs.join(agg, col("id") === col("s"), "left")
      .select(col("id"),
        coalesce(col("__reached"), lit(0L)).as("reached"),
        coalesce(col("__ecc").cast("long"), lit(0L)).as("eccentricity"))
  }

  /** Driver-side BFS sweep for [[eccentricity]]'s small regime — the
    * [[localCloseness]] walk with a max fold instead of the sum/harmonic
    * folds. */
  private def localEccentricity(e: DataFrame, maxHops: Int,
                                sources: Option[DataFrame]): DataFrame = {
    val spark = e.sparkSession
    val dt = e.schema("u").dataType
    val in = collectInterned(e.collect(), canonical = false)
    val n = in.ids.length
    val adjBuf = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    in.pairs.foreach { case (a, b) => adjBuf(a) += b }
    val adj = adjBuf.map(_.toArray)
    val srcList: Seq[Any] = sources match {
      case Some(df) => df.select(col("id")).collect().map(_.get(0)).toSeq
      case None => in.ids.toSeq
    }
    val seen = Array.fill(n)(-1)
    var stamp = 0
    val queue = new Array[Int](n)
    val distArr = new Array[Int](n)
    val out = srcList.map { src =>
      var reached = 0L
      var ecc = 0L
      in.idx.get(src).foreach { s0 =>
        stamp += 1
        var head = 0; var tail = 0
        queue(tail) = s0; tail += 1; seen(s0) = stamp
        distArr(s0) = 0
        while (head < tail) {
          val u = queue(head); head += 1
          val du = distArr(u)
          if (du < maxHops) {
            val nb = adj(u)
            var i = 0
            while (i < nb.length) {
              val v = nb(i)
              if (seen(v) != stamp) {
                seen(v) = stamp
                distArr(v) = du + 1
                reached += 1L
                if (du + 1L > ecc) ecc = du + 1L
                queue(tail) = v; tail += 1
              }
              i += 1
            }
          }
        }
      }
      org.apache.spark.sql.Row(src, reached, ecc)
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", dt), StructField("reached", LongType),
      StructField("eccentricity", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /**
   * Canonical non-loop edge pairs annotated with how many of the two
   * directions are present (`ndir` ∈ {1, 2}): ONE groupBy shuffle that
   * simultaneously dedups raw edges, canonicalizes orientation AND
   * counts mutuality — replacing the distinct + edge-wide reverse
   * self-join formulation of reciprocity (an (u,v)⋈(v,u) probe over
   * the full edge set) with a map-side-combinable aggregation whose
   * keys ARE the canonical undirected edge set assortativity needs.
   */
  /** `srcPartitioned`: key the aggregation's one exchange on `src`
    * ALONE (a subset of the grouping keys clusters a groupBy just as
    * well), so the output partitioning is HashPartitioning(src) — kept
    * visible through a `persist` (NOT a localCheckpoint, which erases
    * it), it lets every later src-keyed aggregation and join over the
    * canonical set run exchange-free (the [[graphStats]] layout; r17
    * sf10 profile: deg 97.7 → 12.6 s, sxy 63.6 → 52.0 s). */
  private def canonicalDirections(edges: DataFrame,
                                  srcPartitioned: Boolean = false): DataFrame = {
    val keyed = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        when(col("src") < col("dst"), 1).otherwise(2).as("__dir"))
    (if (srcPartitioned) keyed.repartition(col("src")) else keyed)
      .groupBy(col("src"), col("dst"))
      // __dir ∈ {1,2}: min≠max ⇔ both directions present — same answer
      // as countDistinct without its two-phase distinct-agg expansion
      .agg(when(min(col("__dir")) =!= max(col("__dir")), 2L).otherwise(1L)
        .as("ndir"))
  }

  /** The 1-row reciprocity aggregate over [[canonicalDirections]]
    * output: total = Σ ndir (distinct directed non-loop edges),
    * reciprocated = 2·#{mutual pairs}. */
  private def reciprocityAgg(canon: DataFrame): DataFrame =
    canon.agg(
      coalesce(sum(col("ndir")), lit(0L)).as("total"),
      coalesce(sum(when(col("ndir") === 2, 2L).otherwise(0L)), lit(0L))
        .as("reciprocated"),
      coalesce(round(sum(when(col("ndir") === 2, 2L).otherwise(0L)).cast("double") /
        sum(col("ndir")).cast("double"), 6), lit(0.0)).as("reciprocity"))

  /**
   * Edge reciprocity of a DIRECTED graph: the fraction of distinct
   * non-loop edges (u,v) whose reverse (v,u) is also present — the
   * standard directed-graph summary statistic (Newman, *Networks* §7.10).
   *
   * One map-side-combinable groupBy on the canonical pair counting the
   * distinct directions present, then a 1-row aggregate — no self-join,
   * no checkpoint, a single edge-keyed shuffle. Counts are exact
   * integers; the ratio is one correctly-rounded double division, so
   * the row replays bit-identically in any engine.
   */
  def reciprocity(edges: DataFrame): DataFrame =
    reciprocityAgg(canonicalDirections(edges))

  /**
   * Fused whole-graph summary — [[reciprocity]] and
   * [[degreeAssortativity]] in ONE pass over ONE materialized canonical
   * edge set (the `CALL graft.graphstats()` backing): the
   * [[canonicalDirections]] groupBy is the only edge-sized shuffle and
   * its checkpoint the only edge-sized materialization — reciprocity is
   * a 1-row fold over it and assortativity reuses its keys as the
   * canonical undirected edges, so the old shape's reverse self-join
   * and second canonical distinct are gone entirely. Value-identical to
   * the separate operators for null-free inputs (null-keyed edges are
   * dropped up front, the reciprocity convention). The two 1-row
   * aggregates meet in one crossJoin plan, so the final action is one
   * job. One row: (total, reciprocated, reciprocity, assortativity).
   */
  def graphStats(edges: DataFrame): DataFrame = {
    // ONE edge-sized materialization feeds both metrics. persist, not
    // localCheckpoint: the cache KEEPS the src-partitioning that
    // canonicalDirections(srcPartitioned) establishes, so the src half
    // of the degree aggregation and the Σxy src join run exchange-free
    // (a checkpoint's LogicalRDD would erase it — r17 sf10 A/B: the
    // whole query 316 → measured below with this layout). The persist
    // stays in the session's CacheManager after the call; nothing
    // unpersists it.
    val canon = canonicalDirections(edges, srcPartitioned = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val recip = reciprocityAgg(canon)
    val asrt = assortativityFromCanonical(canon.select(col("src"), col("dst")))
      .select(col("assortativity"))
    recip.crossJoin(asrt) // 1-row × 1-row
  }

  /**
   * Degree assortativity (Newman 2002): the Pearson correlation of the
   * degrees at the two ends of an undirected edge, computed over both
   * orientations of every canonical edge (so the x/y marginals are
   * symmetric and Σx = Σy, Σx² = Σy²).
   *
   * The sufficient statistics (ends = 2m, Σx, Σx², Σxy) are exact BIGINT
   * sums — one shuffle for degrees, two vertex-keyed joins, one final
   * aggregate; r is then a fixed-order double expression over them, so
   * the single result row replays bit-identically cross-engine. The
   * double products are exact below 2^53; beyond that (≫10^15-scale
   * statistics) swap the final expression to DECIMAL(38,0) arithmetic.
   * Degenerate regular graphs (zero degree variance) report r = 0.
   */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    // same src-partitioned persisted canon as [[graphStats]], so the
    // two-half degree count and the Σxy src join run exchange-free here
    // too (an unpartitioned checkpoint would make the two halves cost
    // an extra exchange over the old doubled-orientation union)
    val cn = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .repartition(col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    assortativityFromCanonical(cn)
  }

  /** [[degreeAssortativity]]'s body over an already-materialized
    * canonical edge set (shared with [[graphStats]]). */
  private def assortativityFromCanonical(cn: DataFrame): DataFrame = {
    // degree in TWO halves (src-keyed + dst-keyed counts, full-outer
    // summed) instead of one aggregation over the doubled-orientation
    // union: same exact integers, but when `cn` is src-partitioned (the
    // graphStats layout) the src half needs NO exchange — r17 sf10
    // profile 97.7 → 12.6 s. On an unpartitioned cn the two halves
    // shuffle the same total volume the union did. persist, not
    // checkpoint, keeps deg's id-partitioning visible for the Σxy join;
    // it stays in the session's CacheManager after the call (nothing
    // unpersists it).
    val deg = cn.groupBy(col("src").as("id")).agg(count(lit(1)).as("__ds"))
      .join(cn.groupBy(col("dst").as("id")).agg(count(lit(1)).as("__dd")),
        Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(col("__ds"), lit(0L)) + coalesce(col("__dd"), lit(0L))).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // each directed pair (u,v) contributes x = deg(u), so the x-marginal
    // moments collapse to degree-table sums (u appears deg(u) times):
    //   ends = Σ deg, Σx = Σ deg², Σx² = Σ deg³
    // — only Σxy needs an edge-wide join (deg(v) onto nb, one shuffle),
    // folded per-vertex so the final products are vertex-sized. Same
    // exact integers as the naive two-join pair formulation, half the
    // shuffle volume.
    val moments = deg.agg(
      coalesce(sum(col("d")), lit(0L)).as("ends"),
      coalesce(sum(col("d") * col("d")), lit(0L)).as("sum_x"),
      coalesce(sum(col("d") * col("d") * col("d")), lit(0L)).as("sum_xx"))
    // Σxy over both orientations = 2·Σ_{(u,v)∈canon} deg(u)·deg(v): two
    // edge⋈vertex equi-joins on the CANONICAL set and one final agg —
    // same exact integer as folding neighbor sums over nb, without nb's
    // doubled join volume or its edge-wide re-aggregation shuffle (the
    // r16 sf10 profile's single heaviest stage)
    val sxy = cn
      .join(deg.select(col("id").as("src"), col("d").as("du")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("d").as("dv")), Seq("dst"))
      .agg((coalesce(sum(col("du") * col("dv")), lit(0L)) * 2L).as("sum_xy"))
    val num = col("ends").cast("double") * col("sum_xy").cast("double") -
      col("sum_x").cast("double") * col("sum_x").cast("double")
    val den = col("ends").cast("double") * col("sum_xx").cast("double") -
      col("sum_x").cast("double") * col("sum_x").cast("double")
    // 1-row × 1-row guard join (the Cypher.scala:290 convention)
    moments.crossJoin(sxy)
      .select(col("ends"), col("sum_x"), col("sum_xx"), col("sum_xy"),
        round(when(den =!= 0.0, num / den).otherwise(0.0), 6)
          .as("assortativity"))
  }

  /**
   * Newman–Girvan modularity of a community partition over the
   * undirected simple graph: Q = intra/m − Σ_c d_c² / (4m²), where
   * intra = edges with both endpoints in the same community, m = total
   * canonical edges, d_c = degree volume of community c.
   *
   * Both Σ terms are exact BIGINT sums (never a data-ordered float
   * accumulation), so Q is two divisions and a subtraction in fixed
   * order — bit-identical cross-engine. `communities` must cover every
   * vertex incident to an edge (e.g. [[graft.pipeline.Dedup.nearDupClusters]]
   * output, label propagation labels); vertices without a community row
   * drop out of BOTH the intra count and the degree volume (inner
   * joins), keeping the two terms consistent.
   *
   * Shape: one shuffle for degrees, vertex-keyed joins against the
   * (small) community map, two single-row aggregates — scales with the
   * edge count, never quadratic.
   */
  def modularity(edges: DataFrame, communities: DataFrame,
                 idCol: String = "id", commCol: String = "community"): DataFrame = {
    val cn = PropertyGraph.canonicalUndirected(edges).localCheckpoint(true)
    val cm = communities.select(col(idCol).as("__id"), col(commCol).as("__c"))
      .distinct().localCheckpoint(true)
    val intra = cn
      .join(cm.select(col("__id").as("src"), col("__c").as("__cs")), Seq("src"))
      .join(cm.select(col("__id").as("dst"), col("__c").as("__cd")), Seq("dst"))
      .agg(count(lit(1)).as("m"),
        count(when(col("__cs") === col("__cd"), 1)).as("intra"))
    val degsq = cn.select(col("src").as("__id"))
      .unionAll(cn.select(col("dst").as("__id")))
      .groupBy("__id").agg(count(lit(1)).as("d"))
      .join(cm, Seq("__id"))
      .groupBy("__c").agg(sum(col("d")).as("dc"))
      .agg(coalesce(sum(col("dc") * col("dc")), lit(0L)).as("degsq"))
    // 1-row × 1-row guard join (the Cypher.scala:290 convention)
    intra.crossJoin(degsq)
      .select(col("m"), col("intra"), col("degsq"),
        round(when(col("m") > 0,
          col("intra").cast("double") / col("m").cast("double") -
            col("degsq").cast("double") /
              (lit(4.0) * col("m").cast("double") * col("m").cast("double")))
          .otherwise(0.0), 6).as("modularity"))
  }

  /**
   * Deterministic snowball (capped-BFS) graph sampling — the standard
   * way to cut a workable subgraph out of a graph too large to process
   * whole (Leskovec & Faloutsos 2006 §3): start from `seeds`, expand
   * `hops` rounds, and at each round every frontier vertex admits at
   * most `maxNeighbors` of its neighbors, chosen by a pure-integer LCG
   * priority over the (u, v) pair — "random" neighbor selection that
   * replays exactly in any engine (the [[randomWalks]] discipline; ids
   * must be integral). Already-admitted neighbors still consume budget
   * (the cap ranks the FULL neighbor list), which keeps each round a
   * pure function of the member set. Returns the induced canonical edge
   * set among sampled vertices.
   *
   * Shape per hop: one frontier-keyed join against the doubled edge
   * list, one per-vertex window (rank ≤ cap), one anti-join against the
   * member set — frontier-sized work, never corpus-wide; the member set
   * grows ≤ |frontier|·cap per hop, so state is budget-bounded by
   * construction. The final induced-edge join is two member semi-joins.
   */
  def snowballSample(edges: DataFrame, seeds: DataFrame, hops: Int,
                     maxNeighbors: Int): DataFrame = {
    require(hops >= 1, s"hops must be >= 1: $hops")
    require(maxNeighbors >= 1, s"maxNeighbors must be >= 1: $maxNeighbors")
    val cn = PropertyGraph.canonicalUndirected(edges).localCheckpoint(true)
    val nb = cn.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(cn.select(col("dst").as("u"), col("src").as("v")))
      .localCheckpoint(true)
    // LCG priority on the ordered pair — the house walk-LCG constants
    // (replayable as plain BIGINT arithmetic in SQL; in-range for ids up
    // to ~8e3 — larger id spaces should pre-hash ids into a compact
    // range, the same constraint the walk generators document)
    val prio = pmod(lit(1103515245L) *
      (col("u").cast("long") * lit(1000003L) + col("v").cast("long") * lit(101L)) +
      lit(12345L), lit(2147483647L))
    var members = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .localCheckpoint(true)
    var frontier = members
    var h = 0
    while (h < hops && !frontier.isEmpty) {
      h += 1
      val cand = frontier.select(col("id").as("u")).join(nb, Seq("u"))
        .withColumn("__p", prio)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("u")).orderBy(col("__p").asc, col("v").asc)
      val admitted = cand.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= maxNeighbors)
        .select(col("v").as("id")).distinct()
        .join(members, Seq("id"), "left_anti")
        .localCheckpoint(true)
      members = members.unionByName(admitted).localCheckpoint(true)
      frontier = admitted
    }
    cn.join(members.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(members.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /**
   * Full core-number (k-shell) decomposition under a BOUNDED schedule:
   * for k = 1..maxK, run `roundsPerK` synchronous peel rounds at
   * threshold k over the previous level's survivor graph; core(v) = the
   * highest level v survives (0 for vertices peeled immediately — can
   * only appear under truncation, every edge endpoint survives level 1).
   * With `roundsPerK` ≥ the deepest peel cascade and `maxK` ≥ the true
   * degeneracy this IS the exact core decomposition; the bounded
   * schedule (not a convergence test) is the contract, which keeps every
   * round replayable by the SQL oracle — the [[kCore]]/[[kTruss]]
   * round-semantics discipline applied to the whole decomposition.
   * Survivors of level maxK report core = maxK (truncation, like
   * closeness' maxHops).
   *
   * Shape: each round is two alive-set semi-joins + one degree
   * aggregate over the CURRENT induced edge set, which only shrinks;
   * levels early-stop once a round removes nothing. Adaptive: ≤
   * `localThreshold` raw edges replays the schedule driver-side
   * (parity spec-pinned via `localThreshold = 0`).
   */
  def coreNumbers(edges: DataFrame, maxK: Int = 8, roundsPerK: Int = 6,
                  localThreshold: Long = 10000000L): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1: $maxK")
    require(roundsPerK >= 1, s"roundsPerK must be >= 1: $roundsPerK")
    val spark = edges.sparkSession
    val raw = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")) // keep the local intern pass loop-free
    collectInternedGated(raw, canonical = true, localThreshold).foreach { in =>
      return localCoreNumbers(spark, in, maxK, roundsPerK,
        raw.schema("src").dataType)
    }
    var cn = PropertyGraph.canonicalUndirected(edges).localCheckpoint(true)
    var cnCnt = cn.count()
    val verts = cn.select(col("src").as("id"))
      .unionByName(cn.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    var levels = List.empty[DataFrame]
    var k = 0
    var empty = false
    while (k < maxK && !empty) {
      k += 1
      var r = 0
      var converged = false
      var alive: DataFrame = null
      while (r < roundsPerK && !converged) {
        r += 1
        val deg = cn.select(explode(array(col("src"), col("dst"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("degree"))
        val kept = deg.where(col("degree") >= k).select("id")
          .localCheckpoint(true)
        // gated broadcast on the checkpointed vertex-sized build side
        // ([[gatedBc]]); above the gate the semi-joins keep their
        // spillable SMJ — the r16 shuffle_hash A/B on this loop was a
        // measured REVERT, so only the broadcast regime is hinted
        val keptCnt = kept.count()
        val next = cn
          .join(gatedBc(kept.select(col("id").as("src")), keptCnt, cnCnt), Seq("src"), "left_semi")
          .join(gatedBc(kept.select(col("id").as("dst")), keptCnt, cnCnt), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
        val nextCnt = next.count()
        if (nextCnt == cnCnt) converged = true
        cn = next
        cnCnt = nextCnt
        alive = kept
      }
      if (alive.isEmpty) empty = true
      else levels ::= alive.withColumn("k", lit(k.toLong))
    }
    val lvl =
      if (levels.isEmpty) verts.select(col("id"), lit(0L).as("k")).where(lit(false))
      else levels.reduce(_.unionByName(_))
    verts.join(lvl.groupBy("id").agg(max(col("k")).as("__core")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__core"), lit(0L)).as("core"))
  }

  /** Driver-side replay of [[coreNumbers]]' bounded schedule — identical
    * synchronous round semantics, parity spec-pinned. */
  private def localCoreNumbers(spark: SparkSession, in: InternedEdges,
                               maxK: Int, roundsPerK: Int,
                               dt: org.apache.spark.sql.types.DataType): DataFrame = {
    val n = in.ids.length
    val adjBuf = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    in.pairs.foreach { case (a, b) => adjBuf(a) += b; adjBuf(b) += a }
    val adj = adjBuf.map(_.toArray)
    val alive = Array.fill(n)(true)
    val core = new Array[Long](n)
    var k = 0
    var anyAlive = n > 0
    while (k < maxK && anyAlive) {
      k += 1
      var r = 0
      var converged = false
      while (r < roundsPerK && !converged) {
        r += 1
        // synchronous: degrees over the CURRENT alive set, then remove
        val deg = new Array[Int](n)
        var i = 0
        while (i < n) {
          if (alive(i)) {
            var d = 0
            adj(i).foreach(j => if (alive(j)) d += 1)
            deg(i) = d
          }
          i += 1
        }
        var removed = false
        i = 0
        while (i < n) {
          if (alive(i) && deg(i) < k) { alive(i) = false; removed = true }
          i += 1
        }
        if (!removed) converged = true
      }
      anyAlive = false
      var i = 0
      while (i < n) {
        if (alive(i)) { core(i) = k.toLong; anyAlive = true }
        i += 1
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", dt), StructField("core", LongType)))
    val rows = (0 until n).map(i => org.apache.spark.sql.Row(in.ids(i), core(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Louvain-style community detection — one level of modularity-greedy
   * local moves (Blondel et al. 2008 §2), made deterministic and
   * cross-engine replayable:
   *
   *  - moves are SYNCHRONOUS against the previous round's communities
   *    (the distributed-Louvain formulation — a sequential vertex scan
   *    does not exist at 100 TB);
   *  - only vertices with `id % 2 == round % 2` may move each round
   *    (alternating parity — breaks the symmetric-oscillation failure
   *    mode of synchronous local moves and stays replayable in SQL);
   *  - the modularity gain is compared in EXACT INTEGER form:
   *    ΔQ(v→C) ∝ 2m·k_{v,C} − deg(v)·(Σtot(C) − [v∈C]·deg(v)), the
   *    2m-scaled numerator of the standard gain — no floats anywhere,
   *    ties broken by smallest community label.
   *
   * Ids must be integral (or numeric strings — parity is taken on
   * `cast(id as long)`; non-numeric ids never move). Labels are vertex
   * ids, so the result feeds [[modularity]] directly. One level only:
   * for the classic multi-level pyramid, contract communities to
   * super-vertices and re-run (weighted contraction is out of scope —
   * the reference has no community operator at all; this is
   * parity-plus surface).
   *
   * Shape per round: one volume aggregate, one neighbor-community
   * count (edge-keyed shuffle), one argmax — all linear in |E|; the
   * per-round frames are localCheckpointed so the lineage stays flat.
   * Integer gains overflow past 2m·k ≈ 2^63 (≈ 10^9 edges × 10^9
   * degree) — swap to DECIMAL(38,0) beyond that.
   */
  def louvainCommunities(edges: DataFrame, rounds: Int = 4,
                         localThreshold: Long = 10000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val raw = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    collectInternedGated(raw, canonical = true, localThreshold).foreach { in =>
      return localLouvain(edges.sparkSession, in, rounds,
        raw.schema("src").dataType)
    }
    val cn = PropertyGraph.canonicalUndirected(edges).localCheckpoint(true)
    val m = cn.count()
    val nb = cn.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(cn.select(col("dst").as("u"), col("src").as("v")))
      .localCheckpoint(true)
    val dg = nb.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // one vertex count gates broadcast on the vertex-sized probe sides
    // of the EDGE-sized round joins ([[gatedBc]], relative to the 2m
    // oriented rows): below the gate each round only SCANS the
    // checkpointed nb edge list, never exchanges it. Vertex-by-vertex
    // joins (vol, the comm update) are left to the planner — a
    // same-sized broadcast costs more than it saves (r17 drive probe).
    val nV = dg.count()
    val nbCnt = 2L * m
    var comm = dg.select(col("id"), col("id").as("c"))
    var r = 0
    while (r < rounds) {
      r += 1
      val vol = comm.join(dg, Seq("id")).groupBy("c")
        .agg(sum(col("deg")).as("vol"))
      val kvc = nb.join(gatedBc(comm.select(col("id").as("v"), col("c")), nV, nbCnt), Seq("v"))
        .groupBy(col("u").as("id"), col("c")).agg(count(lit(1)).as("kvc"))
      val cur = comm.select(col("id"), col("c").as("__cur"))
      val cand = kvc
        .unionByName(comm.select(col("id"), col("c"), lit(0L).as("kvc")))
        .groupBy("id", "c").agg(max(col("kvc")).as("kvc"))
        .join(gatedBc(cur, nV, nbCnt), Seq("id"))
        .join(gatedBc(vol, nV, nbCnt), Seq("c"))
        .join(gatedBc(dg, nV, nbCnt), Seq("id"))
        .withColumn("gain",
          lit(2L * m) * col("kvc") -
            col("deg") * (col("vol") -
              when(col("c") === col("__cur"), col("deg")).otherwise(lit(0L))))
      val best = cand.groupBy("id")
        .agg(min(struct((-col("gain")).as("g"), col("c").as("c"))).as("b"))
        .select(col("id"), col("b.c").as("__best"))
      comm = comm.join(best, Seq("id"))
        .select(col("id"),
          when(pmod(col("id").cast("long"), lit(2)) === lit(r % 2),
            col("__best")).otherwise(col("c")).as("c"))
        .localCheckpoint(true)
    }
    comm.select(col("id"), col("c").as("community"))
  }

  /** Driver-side replay of [[louvainCommunities]]' small regime —
    * identical integer gains, identical (gain DESC, label ASC)
    * tie-break (label ordering mirrors the column type: numeric for
    * integral ids, binary-lexicographic for strings), identical
    * alternating-parity gate. Parity spec-pinned via
    * `localThreshold = 0`. */
  private def localLouvain(spark: SparkSession, in: InternedEdges, rounds: Int,
                           dt: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    val ord: Ordering[Any] = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
      case _ => Ordering.by((x: Any) => String.valueOf(x))
    }
    val n = in.ids.length
    val adjBuf = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    in.pairs.foreach { case (a, b) => adjBuf(a) += b; adjBuf(b) += a }
    val adj = adjBuf.map(_.toArray)
    val deg = adj.map(_.length.toLong)
    val m = in.pairs.length.toLong
    // parity of the VERTEX id (cast-to-long semantics: numeric ids
    // directly, numeric strings parsed, anything else never moves)
    val par: Array[Long] = in.ids.map {
      case num: Number => math.floorMod(num.longValue, 2L)
      case s => scala.util.Try(math.floorMod(String.valueOf(s).trim.toLong, 2L))
        .getOrElse(-1L)
    }.toArray
    var comm: Array[Int] = Array.tabulate(n)(identity)
    var r = 0
    while (r < rounds) {
      r += 1
      val vol = new Array[Long](n)
      var v = 0
      while (v < n) { vol(comm(v)) += deg(v); v += 1 }
      val next = comm.clone()
      v = 0
      while (v < n) {
        if (par(v) == (r % 2).toLong) {
          val kvc = scala.collection.mutable.HashMap.empty[Int, Long]
          adj(v).foreach { u => kvc(comm(u)) = kvc.getOrElse(comm(u), 0L) + 1L }
          val cur = comm(v)
          if (!kvc.contains(cur)) kvc(cur) = 0L
          var bestC = -1
          var bestG = Long.MinValue
          kvc.foreach { case (c, k) =>
            val g = 2L * m * k -
              deg(v) * (vol(c) - (if (c == cur) deg(v) else 0L))
            if (g > bestG ||
                (g == bestG && bestC >= 0 && ord.lt(in.ids(c), in.ids(bestC)))) {
              bestG = g; bestC = c
            }
          }
          next(v) = bestC
        }
        v += 1
      }
      comm = next
    }
    val schema = StructType(Seq(
      StructField("id", dt), StructField("community", dt)))
    val rows = (0 until n).map(k =>
      org.apache.spark.sql.Row(in.ids(k), in.ids(comm(k))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Topological levels of a DAG: level(v) = length of the longest path
   * from any zero-in-degree vertex to v (sources are level 0) — Kahn
   * layering, the scheduling depth a dependency-graph user asks for.
   *
   * Distributed form: bounded longest-path relaxation — each round joins
   * the improved frontier against the edge list and folds max(level)
   * per vertex; on a DAG it converges in longest-path rounds. Input with
   * a cycle either keeps relaxing (reachable cycle → detected at
   * `maxRounds`) or strands the cycle's vertices with no level
   * (unreachable cycle → detected by a final vertex-count check); both
   * throw IllegalArgumentException rather than returning wrong levels.
   *
   * Adaptive: ≤ `localThreshold` edges runs Kahn's algorithm driver-side
   * (same cycle contract); parity spec-pinned via `localThreshold = 0`.
   */
  def topologicalLevels(edges: DataFrame, maxRounds: Int = 100,
                        localThreshold: Long = 10000000L): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val spark = edges.sparkSession
    val raw = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    collectInternedGated(raw, canonical = false, localThreshold).foreach { in =>
      return localTopoLevels(spark, in, raw.schema("src").dataType)
    }
    val e = raw.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val nVerts = verts.count()
    var best = verts.join(e.select(col("dst").as("id")).distinct(),
        Seq("id"), "left_anti")
      .withColumn("level", lit(0L))
      .localCheckpoint(true)
    var frontier = best
    var r = 0
    while (r < maxRounds && !frontier.isEmpty) {
      r += 1
      val cand = frontier.select(col("id").as("src"), col("level"))
        .join(e, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(max(col("level") + 1L).as("__lv"))
      val improved = cand.join(best, Seq("id"), "left")
        .where(col("level").isNull || col("__lv") > col("level"))
        .select(col("id"), col("__lv").as("level"))
        .localCheckpoint(true)
      if (improved.isEmpty) {
        frontier = improved
      } else {
        best = best.unionByName(improved)
          .groupBy("id").agg(max(col("level")).as("level"))
          .localCheckpoint(true)
        frontier = improved
      }
    }
    e.unpersist()
    if (r == maxRounds && !frontier.isEmpty)
      throw new IllegalArgumentException(
        s"topologicalLevels: still relaxing after $maxRounds rounds — " +
          "the input has a reachable cycle (or raise maxRounds)")
    if (best.count() < nVerts)
      throw new IllegalArgumentException(
        "topologicalLevels: some vertices are unreachable from any " +
          "zero-in-degree vertex — the input has a cycle")
    best
  }

  /** Driver-side Kahn layering for [[topologicalLevels]]'s small regime. */
  private def localTopoLevels(spark: SparkSession, in: InternedEdges,
                              dt: org.apache.spark.sql.types.DataType): DataFrame = {
    val n = in.ids.length
    val adjBuf = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val indeg = new Array[Int](n)
    in.pairs.foreach { case (a, b) => adjBuf(a) += b; indeg(b) += 1 }
    val adj = adjBuf.map(_.toArray)
    val level = new Array[Long](n)
    val queue = new Array[Int](n)
    var head = 0; var tail = 0
    var i = 0
    while (i < n) { if (indeg(i) == 0) { queue(tail) = i; tail += 1 }; i += 1 }
    var done = 0
    while (head < tail) {
      val u = queue(head); head += 1; done += 1
      val nb = adj(u)
      var j = 0
      while (j < nb.length) {
        val v = nb(j)
        if (level(u) + 1L > level(v)) level(v) = level(u) + 1L
        indeg(v) -= 1
        if (indeg(v) == 0) { queue(tail) = v; tail += 1 }
        j += 1
      }
    }
    if (done < n)
      throw new IllegalArgumentException(
        "topologicalLevels: the input has a cycle")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", dt), StructField("level", LongType)))
    val rows = (0 until n).map(k => org.apache.spark.sql.Row(in.ids(k), level(k)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Deterministic balanced min-cut graph partitioning — the BATCH
   * analogue of the reference's `MetisPartitioner` (which shells out to
   * `gpmetis` on a driver-local file, `MetisPartitioner.cpp:204-302`;
   * loadDataSet/constructMetisFormat serialize the whole graph to one
   * node first). A 100 TB edge list cannot round-trip through a
   * single-machine METIS run, so we re-express the objective (minimize
   * cut edges subject to per-partition capacity) as synchronous
   * balanced label propagation — the restreaming form of LDG/Fennel
   * (Stanton & Kliot, KDD 2012; Tsourakakis et al., WSDM 2014;
   * restreaming: Nishimura & Ugander, KDD 2013) — every round is one
   * edge-sized equi-join + grouped count, the same shape Spark scales
   * linearly.
   *
   * Deterministic and exact-integer end to end (the repo's replay
   * contract): the initial assignment and the move-parity gate come
   * from the first md5 byte of the vertex id ([[graft.pipeline.Sketches]]
   * bucket convention), capacity C = ceil(n·(100+slackPct)/(100·P)) in
   * integer arithmetic, and a vertex's round-r score for partition p is
   *
   *   score(v,p) = k(v,p) · (C − load(p))        (all BIGINT)
   *
   * where k(v,p) = neighbors of v in p and load(p) = |p|, both under
   * the PREVIOUS round's assignment (synchronous — no read-your-writes
   * races, replayable in any engine). Argmax with (score DESC,
   * load ASC, part ASC) tie-break; only vertices whose md5-bucket
   * parity matches r mod 2 adopt their argmax that round (the louvain
   * alternating-parity determinism device — prevents the two-coloring
   * oscillation synchronous LP is prone to). The current partition is
   * always a candidate (k joined with 0), so a vertex never moves to a
   * fuller partition its neighbors don't justify.
   *
   * Scale shape: per round ONE nb⋈assignment equi-join + one (id, part)
   * grouped count + a ≤P-row load table joined broadcast — no driver
   * funnel, no quadratics; localCheckpoint truncates the growing
   * lineage exactly like louvain/kCore. The vertex count (already on
   * the driver for the capacity) gates the join strategy: ≤
   * `broadcastRowGate` vertices hints broadcast on every vertex-sized
   * probe side, so the edge list is only SCANNED per round, never
   * exchanged (the checkpointed assignment is a statless LogicalRDD —
   * left alone the static planner sort-merge-joins the edge list every
   * round, the egonets lesson); above the gate the rounds shuffle on
   * the edge keys, the only correct shape at 100 TB vertex counts.
   * Returns (id, part INT).
   */
  /** First md5 byte of a value's string form — the driver-side mirror of
    * `Sketches.hllBucket(col.cast("string"))` for the id types whose
    * JVM toString equals Spark's cast-to-string (gated by callers). */
  private def md5FirstByte(s: String): Int =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))(0) & 0xff

  /** Id types whose String.valueOf matches Spark's cast-to-string — the
    * replayability gate for local regimes that re-derive md5 buckets. */
  private def stringCastReplayable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.StringType
           | org.apache.spark.sql.types.LongType
           | org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.ShortType => true
      case _ => false
    }

  /** Driver-side replay of [[balancedPartition]]'s rounds — identical
    * synchronous semantics over interned arrays. Inputs are the ALREADY
    * canonicalized unordered value pairs with merged weights (BLP treats
    * edges symmetrically, so canonical orientation is immaterial); `seed`
    * and `vw` mirror the init/vertexWeights lookups (missing → md5
    * default / weight 1). Returns id → part over the pair endpoints. */
  private def localBlpMap(eu: Array[Any], ev: Array[Any], ew: Array[Long],
      numParts: Int, rounds: Int, slackPct: Int,
      seed: Any => Option[Int], vw: Any => Long, vwProvided: Boolean)
      : scala.collection.mutable.LinkedHashMap[Any, Int] = {
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val m = eu.length
    val ia = new Array[Int](m); val ib = new Array[Int](m)
    var e = 0
    while (e < m) { ia(e) = intern(eu(e)); ib(e) = intern(ev(e)); e += 1 }
    val n = ids.length
    val part = new Array[Int](n); val par = new Array[Int](n)
    val vwA = new Array[Long](n)
    var i = 0
    var totalW = 0L
    while (i < n) {
      val b = md5FirstByte(String.valueOf(ids(i)))
      part(i) = seed(ids(i)).getOrElse(b % numParts)
      par(i) = b % 2
      vwA(i) = vw(ids(i))
      totalW += vwA(i)
      i += 1
    }
    if (!vwProvided) totalW = n.toLong
    val cap = (totalW * (100L + slackPct) + 100L * numParts - 1) / (100L * numParts)
    var r = 0
    while (r < rounds) {
      r += 1
      val load = new Array[Long](numParts)
      val cnt = new Array[Long](numParts)
      i = 0
      while (i < n) { load(part(i)) += vwA(i); cnt(part(i)) += 1; i += 1 }
      // k(v, p) = Σ edge weights into p; `cand` tracks WHICH (v, p) rows
      // the distributed kvp aggregate would emit (a 0-weight edge still
      // makes its part a candidate)
      val k = Array.ofDim[Long](n, numParts)
      val cand = Array.ofDim[Boolean](n, numParts)
      e = 0
      while (e < m) {
        val a = ia(e); val b = ib(e); val w = ew(e)
        k(a)(part(b)) += w; cand(a)(part(b)) = true
        k(b)(part(a)) += w; cand(b)(part(a)) = true
        e += 1
      }
      val next = new Array[Int](n)
      i = 0
      while (i < n) {
        val cp = part(i)
        // candidates: kvp parts ∪ the current part at k = max(k, 0)
        // (the union row), inner-joined to load (occupied parts only);
        // best = lexicographic min of (−score, load, part)
        var bestP = -1; var bestS = 0L; var bestL = 0L
        var p = 0
        while (p < numParts) {
          if ((cand(i)(p) || p == cp) && cnt(p) > 0) {
            val kk = if (p == cp) math.max(k(i)(p), 0L) else k(i)(p)
            val s = kk * (cap - load(p))
            if (bestP < 0 || s > bestS || (s == bestS && (load(p) < bestL ||
                (load(p) == bestL && p < bestP)))) {
              bestP = p; bestS = s; bestL = load(p)
            }
          }
          p += 1
        }
        next(i) = if (par(i) == r % 2) bestP else cp
        i += 1
      }
      System.arraycopy(next, 0, part, 0, n)
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    i = 0
    while (i < n) { out(ids(i)) = part(i); i += 1 }
    out
  }

  def balancedPartition(edges: DataFrame, numParts: Int, rounds: Int = 4,
                        slackPct: Int = 10,
                        broadcastRowGate: Long = 2000000L,
                        init: Option[DataFrame] = None,
                        edgeWeightCol: Option[String] = None,
                        vertexWeights: Option[DataFrame] = None,
                        localThreshold: Long = 2000000L): DataFrame = {
    require(numParts >= 2, s"numParts must be >= 2: $numParts")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(slackPct >= 0, s"slackPct must be >= 0: $slackPct")
    // weighted form (the multilevel coarse phase): k(v,p) sums EDGE
    // weights (each coarse edge stands for that many fine edges) and
    // loads/capacity sum VERTEX weights (each coarse vertex stands for
    // that many fine vertices) — the coarse rounds then optimize the
    // FINE cut under the FINE balance constraint exactly. Parallel
    // weighted edges merge additively; both stay exact BIGINTs.
    val cnPlan = edgeWeightCol match {
      case None => PropertyGraph.canonicalUndirected(edges)
        .select(col("src"), col("dst"), lit(1L).as("__w"))
      case Some(wc) => edges
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"),
          col(wc).cast("long").as("__w"))
        .where(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(sum(col("__w")).as("__w"))
    }
    // adaptive local regime (the fastRP/kCore/matching pattern): below
    // `localThreshold` canonical edges every BLP round is a latency-floor
    // eager checkpoint job over a frame the driver holds easily, so the
    // IDENTICAL synchronous semantics replay driver-side. The
    // canonicalization plan still computes (src, dst, __w); the only
    // local re-derivation is hllBucket's first md5 byte, gated on id
    // types whose toString mirrors Spark's cast-to-string. The gate
    // itself reads the RAW edge count via an early-out limit (the
    // triangleCountDF precedent — raw ≥ canonical, so a small raw proves
    // the canonical side small without materializing it), which keeps
    // the large regime's cost identical to before: no probe shuffle, no
    // extra pass. Seeds and vertex weights are themselves gated collects
    // (vertex-sized); any overflow falls through to distributed rounds.
    val lt = math.min(localThreshold, 100000000L)
    val rawSmall = lt > 0 && localRegimesEnabled(edges.sparkSession) &&
      stringCastReplayable(cnPlan.schema("src").dataType) &&
      edges.select(col("src")).limit(lt.toInt + 1).count() <= lt
    if (rawSmall) {
      val seedOpt: Option[Any => Option[Int]] = init match {
        case None => Some((_: Any) => None)
        case Some(s0) => collectRowsGated(
            s0.select(col(s0.columns.head).as("id"),
              col(s0.columns(1)).cast("int").as("__seed")).dropDuplicates("id"),
            localThreshold).flatMap { rows =>
          // a seed outside [0, numParts) would index the local load/cnt/k
          // arrays out of bounds; the distributed rounds treat any int
          // part as a plain group key, so fall back to them instead
          if (rows.exists(r => !r.isNullAt(1) &&
              (r.getInt(1) < 0 || r.getInt(1) >= numParts))) None
          else {
            val mp = scala.collection.mutable.HashMap.empty[Any, Int]
            rows.foreach(r => if (!r.isNullAt(1)) mp(r.get(0)) = r.getInt(1))
            Some((x: Any) => mp.get(x))
          }
        }
      }
      val vwOpt: Option[Any => Long] = vertexWeights match {
        case None => Some((_: Any) => 1L)
        case Some(vwDf) => collectRowsGated(
            vwDf.select(col(vwDf.columns.head).as("id"),
              col(vwDf.columns(1)).cast("long").as("__vwv")),
            localThreshold).map { rows =>
          val mp = scala.collection.mutable.HashMap.empty[Any, Long]
          rows.foreach(r => if (!r.isNullAt(1)) mp(r.get(0)) = r.getLong(1))
          (x: Any) => mp.getOrElse(x, 1L)
        }
      }
      val rows = (seedOpt, vwOpt) match {
        case (Some(_), Some(_)) => cnPlan.collect()
        case _ => Array.empty[org.apache.spark.sql.Row]
      }
      (seedOpt, vwOpt) match {
        case (Some(sd), Some(vwF))
            if rows.length * 2L * numParts <= 64000000L =>
          val asg = localBlpMap(rows.map(_.get(0)), rows.map(_.get(1)),
            rows.map(_.getLong(2)), numParts, rounds, slackPct,
            sd, vwF, vertexWeights.isDefined)
          import org.apache.spark.sql.types._
          val schema = StructType(Seq(
            StructField("id", cnPlan.schema("src").dataType),
            StructField("part", IntegerType)))
          val out = new java.util.ArrayList[org.apache.spark.sql.Row](asg.size)
          asg.foreach { case (id, p) =>
            out.add(org.apache.spark.sql.Row(id, p)) }
          return edges.sparkSession.createDataFrame(out, schema)
        case _ => ()
      }
    }
    val cn = cnPlan.localCheckpoint(true)
    // lazy over the checkpointed canonical set: materializing the
    // doubled orientation would write the edge list twice for no reuse
    // the cn blocks don't already give
    val nb = cn.select(col("src").as("u"), col("dst").as("v"), col("__w"))
      .unionByName(cn.select(col("dst").as("u"), col("src").as("v"), col("__w")))
    val verts = nb.select(col("u").as("id")).distinct()
    val n = verts.count()
    val small = n <= broadcastRowGate
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val bucket = graft.pipeline.Sketches.hllBucket(col("id"))
    // `init`: (id, part) seed assignment (the multilevel projection);
    // vertices it misses fall back to the md5 default, so any partial
    // seed is legal. The move parity stays md5-derived either way.
    val part0 = init match {
      case None => pmod(bucket, lit(numParts)).cast("int")
      case Some(_) => coalesce(col("__seed"), pmod(bucket, lit(numParts)).cast("int"))
    }
    val seeded = init match {
      case None => verts
      // dropDuplicates on the seed id: a duplicate id would multiply
      // vertex rows through this left join (inflating loads and
      // emitting duplicate (id, part) output rows) — multilevel's
      // projection upholds uniqueness only via a subtle matching
      // invariant, so enforce it here rather than rely on callers
      case Some(s0) => verts.join(
        hinted(s0.select(col(s0.columns.head).as("id"),
          col(s0.columns(1)).cast("int").as("__seed")).dropDuplicates("id")),
        Seq("id"), "left")
    }
    // per-vertex weight (default 1); vertices the table misses weigh 1
    val withVw = vertexWeights match {
      case None => seeded.withColumn("__vw", lit(1L))
      case Some(vwDf) => seeded.join(
          hinted(vwDf.select(col(vwDf.columns.head).as("id"),
            col(vwDf.columns(1)).cast("long").as("__vwv"))), Seq("id"), "left")
        .withColumn("__vw", coalesce(col("__vwv"), lit(1L)))
        .drop("__vwv")
    }
    var asg = withVw.select(col("id"),
        part0.as("part"),
        pmod(bucket, lit(2)).cast("int").as("__par"),
        col("__vw"))
      .localCheckpoint(true)
    val totalW: Long =
      if (vertexWeights.isEmpty) n
      else asg.agg(sum(col("__vw"))).collect()(0).getLong(0)
    val cap = (totalW * (100L + slackPct) + 100L * numParts - 1) / (100L * numParts)
    var r = 0
    while (r < rounds) {
      r += 1
      // previous-round loads: ≤ numParts rows — broadcast join below
      val load = asg.groupBy("part").agg(sum(col("__vw")).as("__load"))
      val kvp = nb.join(hinted(asg.select(col("id").as("v"), col("part"))), Seq("v"))
        .groupBy(col("u").as("id"), col("part")).agg(sum(col("__w")).as("__k"))
      val best = kvp
        .unionByName(asg.select(col("id"), col("part"), lit(0L).as("__k")))
        .groupBy("id", "part").agg(max(col("__k")).as("__k"))
        .join(broadcast(load), Seq("part"))
        .withColumn("__score", col("__k") * (lit(cap) - col("__load")))
        .groupBy("id")
        .agg(min(struct((-col("__score")).as("s"), col("__load").as("l"),
          col("part").as("p"))).as("b"))
        .select(col("id"), col("b.p").as("__best"))
      asg = asg.join(hinted(best), Seq("id"))
        .select(col("id"),
          when(col("__par") === lit(r % 2), col("__best"))
            .otherwise(col("part")).as("part"),
          col("__par"), col("__vw"))
        .localCheckpoint(true)
    }
    asg.select(col("id"), col("part"))
  }

  /**
   * Multilevel balanced partitioning — the METIS V-cycle
   * (coarsen → partition the coarse graph → project → refine) that the
   * reference's `MetisPartitioner` delegates to gpmetis, re-expressed
   * from this file's own distributed pieces: `levels` recursive
   * [[coarsenWithMap]] levels (deterministic edge-local-minimum
   * matching at the fine level, heavy-edge matching on the weighted
   * deeper levels, each ~halving the vertex set; vertex weights chain
   * as cluster sizes), [[balancedPartition]] on the
   * coarse graph (where each BLP round touches half the data and a
   * move drags a whole matched pair — the coarsening is what lets
   * local moves escape the flat algorithm's single-vertex horizon),
   * projection of the coarse assignment through the contraction map,
   * and `refineRounds` of seeded BLP on the FINE graph (the
   * Kernighan–Lin-style boundary refinement, re-balancing what the
   * 2:1 coarse weights distorted). Every stage is deterministic and
   * exact-integer, so the whole V-cycle replays in plain SQL — the
   * declared oracle unrolls matching rounds, both BLP chains and the
   * projection as one CTE pipeline.
   *
   * Scale shape: inherits its pieces' postures — matching rounds are
   * edge-local grouped mins, both BLP phases gate broadcast on their
   * own vertex counts, projection is two vertex-sized equi-joins.
   * Returns (id, part INT) over the fine vertex set.
   */
  def multilevelPartition(edges: DataFrame, numParts: Int,
                          matchRounds: Int = 12, coarseRounds: Int = 4,
                          refineRounds: Int = 2, slackPct: Int = 10,
                          broadcastRowGate: Long = 2000000L,
                          levels: Int = 1,
                          localThreshold: Long = 2000000L): DataFrame = {
    require(numParts >= 2, s"numParts must be >= 2: $numParts")
    require(matchRounds >= 1 && coarseRounds >= 1 && refineRounds >= 1,
      s"all round counts must be >= 1: $matchRounds/$coarseRounds/$refineRounds")
    require(levels >= 1, s"levels must be >= 1: $levels")
    // adaptive local regime: the whole V-cycle (matching, contraction,
    // vertex-weight chain, coarse BLP, projection, per-level refine) is
    // a long chain of eager vertex/edge-sized jobs — pure iteration
    // floor below the gate. canonicalSimpleEdges still computes the
    // canonical pairs AND the numeric order keys (ul/vl — including the
    // xxhash64 branch for non-numeric ids) distributed, so the local
    // replay needs no key re-derivation; matching reuses the exact
    // localMatchCore; the only other local re-derivation is the BLP md5
    // bucket, gated by stringCastReplayable like balancedPartition.
    val lt = math.min(localThreshold, 100000000L)
    if (lt > 0 && localRegimesEnabled(edges.sparkSession) &&
        stringCastReplayable(edges.schema("src").dataType) &&
        edges.select(col("src")).limit(lt.toInt + 1).count() <= lt) {
      // raw ≥ canonical (the balancedPartition raw pre-gate), so the
      // collect below is bounded by the limit-count that just passed
      val rows = canonicalSimpleEdges(edges, None)
        .select(col("u"), col("v"), col("ul"), col("vl"), col("w")).collect()
      if (rows.length * 2L * numParts <= 64000000L)
        return localMultilevelPartition(edges.sparkSession, rows,
          edges.schema("src").dataType, numParts, matchRounds,
          coarseRounds, refineRounds, slackPct, levels)
    }
    // DOWN the V: repeated coarsening. Level 0 is the fine unweighted
    // graph; every deeper level is weighted (coarse edges sum absorbed
    // fine edges — coarsenWithMap's weighted mode switches the matching
    // to METIS's heavy-edge heuristic there). Vertex weights chain as a
    // SPARSE (id, vw) table (missing = 1): a rep matched this level
    // absorbs its partner's weight; unmatched vertices carry theirs up
    // unchanged. All per-level frames are vertex/edge-sized and
    // checkpointed by coarsenWithMap — the stacks hold references, not
    // recomputation.
    var graphs = List.empty[(DataFrame, Option[DataFrame])] // (edges, vw) per level, fine first
    var cmaps = List.empty[DataFrame]
    var curEdges = edges
    var curVw: Option[DataFrame] = None // sparse vertex weights, missing = 1
    var l = 0
    while (l < levels) {
      graphs = (curEdges, curVw) :: graphs
      val (coarse, cmap) = coarsenWithMap(curEdges, matchRounds,
        weightCol = if (l == 0) None else Some("weight"))
      cmaps = cmap :: cmaps
      def w(df: DataFrame, idc: String) = curVw match {
        case None => df.withColumn("__w", lit(1L))
        case Some(vw) => df.join(
            vw.select(col("id").as(idc), col("vw").as("__wv")), Seq(idc), "left")
          .withColumn("__w", coalesce(col("__wv"), lit(1L))).drop("__wv")
      }
      // matched reps: own weight + Σ partners' weights
      val partW = w(cmap.select(col("id"), col("rep")), "id")
        .groupBy("rep").agg(sum(col("__w")).as("__pw"))
      val repW = w(cmap.select(col("rep")).distinct().withColumnRenamed("rep", "id"), "id")
        .select(col("id").as("rep"), col("__w"))
      val matchedVw = repW.join(partW, Seq("rep"))
        .select(col("rep").as("id"), (col("__w") + col("__pw")).as("vw"))
      // unmatched vertices keep their previous (sparse) weights
      val touched = cmap.select(col("id"))
        .unionByName(cmap.select(col("rep").as("id"))).distinct()
      val nextVw = curVw match {
        case None => matchedVw
        case Some(vw) => matchedVw.unionByName(
          vw.join(touched, Seq("id"), "left_anti"))
      }
      curVw = Some(nextVw.localCheckpoint(true))
      curEdges = coarse
      l += 1
    }
    // partition the coarsest graph — edge AND vertex weights make its
    // rounds optimize the FINE cut under the FINE balance constraint
    var asg = balancedPartition(curEdges,
        numParts, coarseRounds, slackPct, broadcastRowGate,
        edgeWeightCol = Some("weight"), vertexWeights = curVw)
      .localCheckpoint(true)
    // UP the V: project through each level's contraction map
    // (representatives keep their part; matched partners inherit it;
    // vertices with no coarse part — isolated-pair contractions — fall
    // back to the md5 default inside the seeded run), then refine with
    // a seeded BLP at THAT level's weights — the per-level boundary
    // refinement real METIS runs on the way up.
    graphs.zip(cmaps).foreach { case ((lvlEdges, lvlVw), cmap) =>
      val projected = asg.unionByName(
        cmap.join(asg.withColumnRenamed("id", "rep"), Seq("rep"))
          .select(col("id"), col("part")))
      asg = balancedPartition(lvlEdges, numParts, refineRounds, slackPct,
          broadcastRowGate, init = Some(projected),
          edgeWeightCol = if (lvlVw.isEmpty) None else Some("weight"),
          vertexWeights = lvlVw)
        .localCheckpoint(true)
    }
    asg
  }

  /** One local coarsening level — the exact [[localMatchCore]] matching
    * plus [[coarsenWithMap]]'s contraction arithmetic over pre-keyed
    * canonical arrays. Returns (cmap (v, rep) pairs, coarse eu/ev/ew).
    * At the unweighted fine level coarse weights COUNT absorbed edges
    * (identical to summing the canonical w = 1). */
  private def localCoarsenStep(eu: Array[Any], ev: Array[Any], ew: Array[Long],
      key: Any => Long, weighted: Boolean, rounds: Int)
      : (Array[(Any, Any)], Array[Any], Array[Any], Array[Long]) = {
    val m = eu.length
    val ulA = new Array[Long](m); val vlA = new Array[Long](m)
    var i = 0
    while (i < m) { ulA(i) = key(eu(i)); vlA(i) = key(ev(i)); i += 1 }
    val negw = if (weighted) ew.map(-_) else new Array[Long](m)
    val matched = localMatchCore(m, ulA, vlA, negw, rounds)
    val rep = scala.collection.mutable.HashMap.empty[Any, Any]
    val cmap = matched.map { case (idx, _) => (ev(idx), eu(idx)) }.toArray
    cmap.foreach { case (v, u) => rep(v) = u }
    // contraction: re-map through rep, drop key-internal edges, merge
    // parallel coarse edges
    val agg = scala.collection.mutable.LinkedHashMap.empty[(Any, Any), Long]
    var j = 0
    while (j < m) {
      val a = rep.getOrElse(eu(j), eu(j)); val b = rep.getOrElse(ev(j), ev(j))
      val al = key(a); val bl = key(b)
      if (al != bl) {
        val p = if (al < bl) (a, b) else (b, a)
        agg(p) = agg.getOrElse(p, 0L) + (if (weighted) ew(j) else 1L)
      }
      j += 1
    }
    (cmap, agg.keysIterator.map(_._1).toArray,
      agg.keysIterator.map(_._2).toArray, agg.valuesIterator.toArray)
  }

  /** Driver-side replay of the whole [[multilevelPartition]] V-cycle for
    * the small regime — identical synchronous semantics. `rows` are the
    * collected canonicalSimpleEdges(edges, None) rows (u, v, ul, vl, w):
    * the numeric order keys arrive PRE-COMPUTED (so contraction
    * orientation is exact for any id type), matching reuses
    * [[localMatchCore]], the BLP phases reuse [[localBlpMap]], and the
    * vertex-weight chain mirrors the distributed joins entry by entry. */
  private def localMultilevelPartition(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType, numParts: Int,
      matchRounds: Int, coarseRounds: Int, refineRounds: Int,
      slackPct: Int, levels: Int): DataFrame = {
    // id → numeric order key, exactly as the distributed plan computed it
    val key = scala.collection.mutable.HashMap.empty[Any, Long]
    rows.foreach { r => key(r.get(0)) = r.getLong(2); key(r.get(1)) = r.getLong(3) }
    var eu = rows.map(_.get(0)); var ev = rows.map(_.get(1))
    var ew = rows.map(_.getLong(4)) // = 1 per canonical pair at the fine level
    // per level: (pairs, weights, weighted?, sparse vertex weights or null)
    var graphs = List.empty[(Array[Any], Array[Any], Array[Long], Boolean,
      scala.collection.mutable.HashMap[Any, Long])]
    var cmaps = List.empty[Array[(Any, Any)]]
    var curVw: scala.collection.mutable.HashMap[Any, Long] = null
    def vwOf(vwm: scala.collection.mutable.HashMap[Any, Long], x: Any): Long =
      if (vwm == null) 1L else vwm.getOrElse(x, 1L)
    var l = 0
    while (l < levels) {
      graphs = ((eu, ev, ew, l > 0, curVw)) :: graphs
      val (cmap, ceu, cev, cew) =
        localCoarsenStep(eu, ev, ew, key, weighted = l > 0, matchRounds)
      // vertex-weight chain: rep absorbs its partners' weights; untouched
      // vertices carry their sparse entries up unchanged
      val pw = scala.collection.mutable.HashMap.empty[Any, Long]
      cmap.foreach { case (v, u) =>
        pw(u) = pw.getOrElse(u, 0L) + vwOf(curVw, v) }
      val nextVw = scala.collection.mutable.HashMap.empty[Any, Long]
      pw.foreach { case (u, s) => nextVw(u) = vwOf(curVw, u) + s }
      if (curVw != null) {
        val touched = scala.collection.mutable.HashSet.empty[Any]
        cmap.foreach { case (v, u) => touched += v; touched += u }
        curVw.foreach { case (id, w) => if (!touched(id)) nextVw(id) = w }
      }
      curVw = nextVw
      eu = ceu; ev = cev; ew = cew
      cmaps = cmap :: cmaps
      l += 1
    }
    // partition the coarsest graph under both weight chains
    val vwAtCoarse = curVw
    var asg: scala.collection.mutable.LinkedHashMap[Any, Int] =
      localBlpMap(eu, ev, ew, numParts, coarseRounds, slackPct,
        (_: Any) => None, x => vwOf(vwAtCoarse, x), vwProvided = true)
    // UP the V: project through each contraction map, refine at that
    // level's weights (weighted seeded BLP at deeper levels, plain at 0)
    graphs.zip(cmaps).foreach { case ((leu, lev, lew, weighted, lvw), cmap) =>
      val projected = scala.collection.mutable.HashMap.empty[Any, Int]
      asg.foreach { case (id, p) => projected(id) = p }
      cmap.foreach { case (v, u) =>
        asg.get(u).foreach(p => projected(v) = p) }
      asg = localBlpMap(leu, lev, lew, numParts, refineRounds, slackPct,
        (x: Any) => projected.get(x), x => vwOf(lvw, x),
        vwProvided = lvw != null)
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", idType),
      StructField("part", IntegerType)))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](asg.size)
    asg.foreach { case (id, p) => out.add(org.apache.spark.sql.Row(id, p)) }
    spark.createDataFrame(out, schema)
  }

  /**
   * Partition-quality summary over an (id, part) assignment — the
   * numbers the reference's partitioner logs after a gpmetis run
   * (`MetisPartitioner.cpp` edgecut output) and its streaming
   * partitioner tracks incrementally (`partitioner/stream/Partition.cpp`
   * edge-cut/load accounting): one row of
   * (parts, vertices, edges, cut_edges, cut_ratio, max_load, min_load,
   * imbalance), where edges counts the canonical undirected simple
   * graph, cut_edges those whose endpoints land in different
   * partitions, and imbalance = max_load·parts/vertices (1.0 = perfect).
   * Vertices missing from the assignment drop out of BOTH sides (inner
   * joins), keeping the terms consistent — the modularity convention.
   *
   * `numParts`: the INTENDED partition count. Without it, `parts` is
   * the count of non-empty partitions, which scores a degenerate
   * assignment (everything in 1 of 4 requested parts) as perfectly
   * balanced — pass the requested k so imbalance measures against the
   * partitioner's actual contract.
   *
   * Shape: two vertex-keyed equi-joins onto the edge list + two 1-row
   * aggregates met in a 1×1 crossJoin — edge-linear, no driver funnel.
   */
  def partitionQuality(edges: DataFrame, assignment: DataFrame,
                       idCol: String = "id", partCol: String = "part",
                       broadcastRowGate: Long = 2000000L,
                       numParts: Option[Int] = None): DataFrame = {
    val cn = PropertyGraph.canonicalUndirected(edges)
    val am = assignment.select(col(idCol).as("__id"), col(partCol).as("__p"))
      .distinct().localCheckpoint(true)
    // same gated strategy as balancedPartition: a small assignment
    // broadcasts so the edge list is scanned, not exchanged twice
    val hinted = if (am.count() <= broadcastRowGate) (d: DataFrame) => broadcast(d)
      else (d: DataFrame) => d
    val cut = cn
      .join(hinted(am.select(col("__id").as("src"), col("__p").as("__ps"))), Seq("src"))
      .join(hinted(am.select(col("__id").as("dst"), col("__p").as("__pd"))), Seq("dst"))
      .agg(count(lit(1)).as("edges"),
        count(when(col("__ps") =!= col("__pd"), 1)).as("cut_edges"))
    val loads = am.groupBy("__p").agg(count(lit(1)).as("l"))
      .agg(numParts.map(k => lit(k.toLong)).getOrElse(count(lit(1))).as("parts"),
        coalesce(sum(col("l")), lit(0L)).as("vertices"),
        coalesce(max(col("l")), lit(0L)).as("max_load"),
        // an intended k with fewer occupied partitions means some
        // partition is EMPTY — its load, 0, is the true minimum
        (numParts match {
          case None => coalesce(min(col("l")), lit(0L))
          case Some(k) => when(count(lit(1)) < k.toLong, lit(0L))
            .otherwise(coalesce(min(col("l")), lit(0L)))
        }).as("min_load"))
    // 1-row × 1-row guard join (the Cypher.scala:290 convention)
    cut.crossJoin(loads)
      .select(col("parts"), col("vertices"), col("edges"), col("cut_edges"),
        round(when(col("edges") > 0,
          col("cut_edges").cast("double") / col("edges").cast("double"))
          .otherwise(0.0), 6).as("cut_ratio"),
        col("max_load"), col("min_load"),
        round(when(col("vertices") > 0,
          col("max_load").cast("double") * col("parts").cast("double") /
            col("vertices").cast("double")).otherwise(0.0), 6).as("imbalance"))
  }

  /**
   * FastRP node embeddings (Chen et al., "Fast and Accurate Network
   * Embeddings via Very Sparse Random Projections", CIKM 2019) in the
   * repo's exact-integer form — the classical non-learned companion to
   * the reference's GCN embedding export (`src_python/fl_server.py`),
   * feeding the same kNN/vector-store surface.
   *
   * Init: R(v)[j] ∈ {+1, −1, 0} from the md5 byte of `"v:j"`
   * (byte % 6 → 0: +1, 1: −1, else 0 — the very-sparse Achlioptas
   * projection at density 1/3, md5-derived so it replays in any
   * engine, the BLP/SimHash determinism convention). Iterate:
   * N_t(v)[j] = Σ_{u ∈ Γ(v)} N_{t−1}(u)[j] over the undirected
   * collapse — A^t·R WITHOUT the usual D⁻¹ normalization and iterate
   * weighting: a diagonal positive rescale per iterate, so per-iterate
   * similarity geometry is preserved up to a shared scalar, while
   * every coordinate stays an exact 64-bit integer that replays
   * bit-identically cross-engine (the [[hits]] contract; normalized
   * float sums would be summation-order-dependent). Downstream
   * consumers weight/normalize the returned iterates as FastRP's
   * (w₁, w₂, …) — a row-local map, not part of the distributed
   * recurrence. Coordinates grow like (max degree)^t; `iterations` ≤ 3
   * keeps the worst case far from Long overflow.
   *
   * Output: one row per vertex — `id`, then `r{t}_{j}` for every
   * iterate t = 1..iterations and dimension j = 0..dims−1 (columns,
   * not arrays: each iteration is ONE edge⋈vertex join + ONE
   * vertex-keyed aggregate regardless of dims, and the flat schema is
   * the driver comparator's contract).
   *
   * Shape at scale: the canonical edge set materializes once; each
   * iteration joins the doubled orientation on the NEIGHBOR key, an
   * identical subtree across iterates, so Catalyst's ReusedExchange
   * shuffles the edge list once for the whole recurrence (the [[hits]]
   * posture — no per-iterate layout exists that pre-partitions BOTH
   * orientation halves on v). The per-iteration build side is
   * vertex-sized (dims as columns, so dims never multiplies the row
   * count), hash-hinted under the [[hits]] gate. The whole recurrence
   * composes lazily like [[pageRank]] — consume once or persist first.
   *
   * `edgeWeightCol` (the [[balancedPartition]] weighted form): the
   * neighbor sum becomes Σ w(u,v)·N(u) — parallel weighted edges merge
   * additively, weights cast to BIGINT so coordinates stay exact.
   */
  def fastRP(edges: DataFrame, dims: Int = 4, iterations: Int = 2,
             edgeWeightCol: Option[String] = None,
             localThreshold: Long = 2000000L): DataFrame = {
    require(dims >= 1 && dims <= 64, s"dims must be in [1, 64]: $dims")
    require(iterations >= 1 && iterations <= 3,
      s"iterations must be in [1, 3] (integer coords grow like deg^t): $iterations")
    val cn = (edgeWeightCol match {
      case None => PropertyGraph.canonicalUndirected(edges)
        .select(col("src"), col("dst"), lit(1L).as("__w"))
      case Some(wc) => edges
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"),
          // exact-integer contract guard: a NULL weight would propagate
          // to NULL coordinates and a fractional one silently truncates
          // under cast("long") — both violate the scaladoc's exactness
          // promise, so validate in-plan; the guard fires at the eager
          // canonicalization count below (i.e. at the fastRP call itself)
          when(col(wc).cast("double").isNull, raise_error(lit(
            s"fastRP: NULL or non-numeric edge weight in '$wc' — weights must be non-null integers")))
            .when(col(wc).cast("double") =!= col(wc).cast("long").cast("double"),
              raise_error(lit(
                s"fastRP: non-integral edge weight in '$wc' would break the exact-integer contract")))
            .otherwise(col(wc).cast("long")).as("__w"))
        .where(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(sum(col("__w")).as("__w"))
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val nE = cn.count()
    // adaptive local regime (the kCore/HITS/matching/triangle pattern):
    // below `localThreshold` canonical edges the whole recurrence is
    // latency-floor-bound (each iterate is an eager edge⋈vertex shuffle
    // job over a frame that fits on the driver thousands of times over),
    // so replay the IDENTICAL synchronous semantics driver-side — the
    // canonicalization/validation plan above still computes everything
    // up to (src, dst, __w), and the only re-implemented pieces are the
    // md5 init byte and the integer neighbor sums (exactness pinned by
    // the oracle rows + FastRpSpec local-vs-distributed parity).
    // Gated on collected row count AND on replayable id types; weights
    // are already validated/cast to long by the collected plan.
    val idType = cn.schema("src").dataType
    val localOk = idType match {
      case org.apache.spark.sql.types.StringType
           | org.apache.spark.sql.types.LongType
           | org.apache.spark.sql.types.IntegerType
           | org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (localOk && nE <= math.min(localThreshold, 100000000L)) {
      val rows = cn.collect()
      cn.unpersist()
      return localFastRP(edges.sparkSession, rows, idType, dims, iterations)
    }
    val nb = cn.select(col("src").as("u"), col("dst").as("v"), col("__w"))
      .unionByName(cn.select(col("dst").as("u"), col("src").as("v"), col("__w")))
    val verts = nb.select(col("u").as("id")).distinct().localCheckpoint(true)
    val nV = verts.count()
    val hashGated: DataFrame => DataFrame =
      if (nV <= 100000000L) d => d.hint("shuffle_hash") else identity
    def bucket(j: Int): Column = graft.pipeline.Sketches.hllBucket(
      concat(col("id").cast("string"), lit(":" + j)))
    val init = verts.select(col("id") +: (0 until dims).map { j =>
      when(pmod(bucket(j), lit(6)) === 0, lit(1L))
        .when(pmod(bucket(j), lit(6)) === 1, lit(-1L))
        .otherwise(lit(0L)).as(s"x$j")
    }: _*)
    val aggs = (0 until dims).map(j => sum(col("__w") * col(s"x$j")).as(s"x$j"))
    val iterates = Iterator.iterate(init) { e =>
      nb.join(hashGated(e.withColumnRenamed("id", "v")), Seq("v"))
        .groupBy(col("u").as("id")).agg(aggs.head, aggs.tail: _*)
    }.drop(1).take(iterations).toSeq
    // every non-final iterate has TWO consumers — the next iterate and
    // the output join. Exchange reuse does not cover them (the two
    // consumers hash the aggregate on different keys, so the shared
    // subtree ends below a non-matching exchange and the whole
    // edge-sized join+agg would re-run per consumer — measured 465 s
    // vs ~half after this persist at a 110M-canonical-edge sf10 probe).
    // Lazy persist; it stays in the session's CacheManager after the
    // call, since nothing unpersists it.
    iterates.dropRight(1).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    iterates.zipWithIndex.map { case (e, i) =>
      val t = i + 1
      e.select(col("id") +:
        (0 until dims).map(j => col(s"x$j").as(s"r${t}_$j")): _*)
    }.reduceLeft((a, b) => a.join(b, Seq("id")))
  }

  /** Driver-side replay of [[fastRP]]'s small regime — identical
    * synchronous semantics over interned arrays. `rows` are the ALREADY
    * canonicalized/validated (src, dst, __w BIGINT) rows, so the only
    * local re-implementations are hllBucket's first-md5-byte (init) and
    * the Σ w·x integer neighbor sums. Id string forms mirror Spark's
    * cast-to-string for the gated types (string/long/int/short). */
  private def localFastRP(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      dims: Int, iterations: Int): DataFrame = {
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(x: Any): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val m = rows.length
    val es = new Array[Int](m); val ed = new Array[Int](m); val ew = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = rows(i)
      es(i) = intern(r.get(0)); ed(i) = intern(r.get(1)); ew(i) = r.getLong(2)
      i += 1
    }
    val n = ids.length
    // init: R(v)[j] from the first md5 byte of "<id>:<j>" — exactly
    // Sketches.hllBucket(concat(cast(id as string), ':'||j)) % 6
    val md = java.security.MessageDigest.getInstance("MD5")
    var x = Array.ofDim[Long](n, dims)
    var v = 0
    while (v < n) {
      val s = String.valueOf(ids(v))
      var j = 0
      while (j < dims) {
        val b = md.digest((s + ":" + j).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))(0) & 0xff
        x(v)(j) = (b % 6) match { case 0 => 1L; case 1 => -1L; case _ => 0L }
        j += 1
      }
      v += 1
    }
    // iterate: N_t(u)[j] = Σ_{(u,v,w)} w · N_{t−1}(v)[j], both orientations
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Long]]]
    var t = 0
    while (t < iterations) {
      val y = Array.ofDim[Long](n, dims)
      var e = 0
      while (e < m) {
        val a = es(e); val b = ed(e); val w = ew(e)
        var j = 0
        while (j < dims) {
          y(a)(j) += w * x(b)(j)
          y(b)(j) += w * x(a)(j)
          j += 1
        }
        e += 1
      }
      snaps += y
      x = y
      t += 1
    }
    import org.apache.spark.sql.types._
    val schema = StructType(
      StructField("id", idType) +:
        (1 to iterations).flatMap(tt =>
          (0 until dims).map(j => StructField(s"r${tt}_$j", LongType))))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    v = 0
    while (v < n) {
      val vals = new Array[Any](1 + iterations * dims)
      vals(0) = ids(v)
      var k = 1
      var tt = 0
      while (tt < iterations) {
        var j = 0
        while (j < dims) { vals(k) = snaps(tt)(v)(j); k += 1; j += 1 }
        tt += 1
      }
      out.add(org.apache.spark.sql.Row.fromSeq(vals.toSeq))
      v += 1
    }
    spark.createDataFrame(out, schema)
  }
}
