package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.algorithms.GraphAlgorithms
import graft.cypher.Cypher
import graft.model.PropertyGraph
import graft.pipeline.{Dedup, Similarity}
import graft.sources.TpchBridge
import graft.sparql.Sparql
import graft.streaming.StreamingTriangles

/** What an op's answer is checked against after the JVM exits, by
  * `check.py` (DuckDB over the same parquet files, or computed there). */
sealed trait Oracle { def json: String }
object Oracle {
  /** The rows of this DuckDB query, in order (floats within 1e-6). */
  final case class Sql(sql: String) extends Oracle {
    def json: String = Json.obj("kind" -> Json.str("sql"), "sql" -> Json.str(sql))
  }
  /** `sql` yields (idA, idB, score) for every pair scoring at least `lo`;
    * every returned pair must be among them with its score, ordered by
    * (idA, idB). Pairs scoring at least `hi` must be returned, except as
    * many as the op's LSH banding `lsh` is expected to miss (see check.py). */
  final case class Band(sql: String, hi: Double, lsh: Lsh) extends Oracle {
    def json: String = Json.obj("kind" -> Json.str("band"), "sql" -> Json.str(sql),
      "hi" -> Json.num(hi), "lsh" -> lsh.json)
  }
  /** An LSH banding of `bands` bands of `rows` hashes each, over minhash
    * (`minhash`) or random-hyperplane (`cosine`) signatures. */
  final case class Lsh(curve: String, rows: Int, bands: Int) {
    def json: String = Json.obj("curve" -> Json.str(curve), "rows" -> rows.toString, "bands" -> bands.toString)
  }
  /** Exact Jaccard over character (`chars`) or word (`words`) k-shingle
    * sets of the documents, computed by `check.py`; `output` is the pair
    * list (`pairs`) or the documents a compaction keeps (`compact`). With
    * `lsh`, the pairs are checked as by [[Band]]. */
  final case class Jaccard(mode: String, k: Int, threshold: Double, output: String,
                           lsh: Option[Lsh] = None) extends Oracle {
    def json: String = Json.obj("kind" -> Json.str("jaccard"), "mode" -> Json.str(mode),
      "k" -> k.toString, "threshold" -> Json.num(threshold), "output" -> Json.str(output),
      "lsh" -> lsh.map(_.json).getOrElse("null"))
  }
  /** (triangles, distinct undirected edges) after replaying the edge
    * batches of every earlier `ingest_write` op, plus `rows` after them. */
  final case class StreamCounts(rows: Seq[Seq[Any]]) extends Oracle {
    def json: String = Json.obj("kind" -> Json.str("stream_counts"),
      "rows" -> rows.map(r => r.map(Json.value).mkString("[", ",", "]")).mkString("[", ",", "]"))
  }
}

/** Engine state an op runs against; the ingest fields change as writes land. */
final class Ctx(val spark: SparkSession, val dir: String) {
  lazy val graph: PropertyGraph = TpchBridge.graph(spark, dir)
  /** The bridge graph's triple view: one (s, p, o) per edge. */
  lazy val triples: DataFrame = graph.edges
    .select(col("src").as("s"), col("type").as("p"), col("dst").as("o")).cache()
  def table(name: String): DataFrame = TpchBridge.table(spark, dir, name)
  lazy val nCustomers: Int = table("customer").count().toInt
  lazy val nSuppliers: Int = table("supplier").count().toInt
  lazy val nEmbeddings: Int = table("embeddings").count().toInt
  var stream: StreamingTriangles = _
  var ingestGraph: PropertyGraph = _
  def resetIngest(): Unit = { stream = new StreamingTriangles(spark); ingestGraph = graph }
}

/** An op's build window ends when `run` returns; the exec window ends when
  * the returned thunk has produced the last row. */
final case class Op(template: String, layer: String, params: Seq[(String, Any)],
                    oracle: Oracle, text: Option[String] = None)(val run: Ctx => () => Array[Row]) {
  def json(idx: Int): String = Json.obj(
    "idx" -> idx.toString, "template" -> Json.str(template), "layer" -> Json.str(layer),
    "params" -> params.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }.mkString("{", ",", "}"),
    "text" -> text.map(Json.str).getOrElse("null"),
    "oracle" -> oracle.json)
}

object Workloads {
  val names: Seq[String] = Seq("interactive", "analytics")

  private def lazyRows(df: DataFrame): () => Array[Row] = () => df.collect()
  private def bridgeSql(body: String): String =
    s"WITH ${TpchBridge.sql.nodes},\n${TpchBridge.sql.edges}\n$body"
  private def quote(ids: Seq[String]): String = ids.map(i => s"'$i'").mkString(", ")

  /** A seeded, endless op stream: round after round, each round one op of
    * every template of the workload with seeded parameters, in a fixed
    * order, so every run measures the same mix in the same sequence. */
  def stream(workload: String, seed: Long, ctx: Ctx): Iterator[Seq[Op]] = {
    val rnd = new Random(seed)
    workload match {
      case "interactive" =>
        val q = new Interactive(rnd, ctx)
        Iterator.from(0).map(r => q.readRound() ++ q.ingestRound(r))
      case "analytics" =>
        val a = new Analytics(rnd, ctx)
        Iterator.continually(a.round())
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  // --------------------------------------------------------------------
  // interactive: Cypher and SPARQL reads over the bridge graph and its
  // triple view, plus streamed edge batches with read-after-write.
  // --------------------------------------------------------------------
  private final class Interactive(rnd: Random, ctx: Ctx) {
    private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    private val hot = Seq.fill(16)(rnd.nextInt(ctx.nCustomers))
    /** Skewed anchors: three in ten come from a small hot set. */
    private def anchor(): Int =
      if (rnd.nextDouble() < 0.3) hot(rnd.nextInt(hot.size)) else rnd.nextInt(ctx.nCustomers)

    private def cypher(template: String, query: String, params: Seq[(String, Any)], sql: String): Op =
      Op(template, "cypher", params, Oracle.Sql(sql), Some(query))(c => lazyRows(Cypher.run(c.graph, query)))
    private def sparql(template: String, query: String, params: Seq[(String, Any)], sql: String): Op =
      Op(template, "sparql", params, Oracle.Sql(sql), Some(query))(c => lazyRows(Sparql.run(c.triples, query)))

    def readRound(): Seq[Op] = {
      val k = anchor()
      val k1 = anchor()
      val k2 = anchor()
      val k3 = anchor()
      val k4 = anchor()
      val seg = segments(rnd.nextInt(segments.size))
      val seg2 = segments(rnd.nextInt(segments.size))
      val bal = 1000 * rnd.nextInt(9)
      val lim = 5 + rnd.nextInt(20)
      val lim2 = 3 + rnd.nextInt(8)
      Seq(
        cypher("cy_point",
          s"MATCH (n) WHERE id(n) = 'c$k' RETURN n.name AS name, n.mktsegment AS seg, toFloat(n.acctbal) AS bal",
          Seq("anchor" -> k),
          s"SELECT c_name, c_mktsegment, c_acctbal FROM customer WHERE c_custkey = $k"),
        cypher("cy_expand_1hop",
          s"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE id(c) = 'c$k1' " +
            "RETURN o.id AS oid, toFloat(o.totalprice) AS price ORDER BY oid",
          Seq("anchor" -> k1),
          s"SELECT 'o' || o_orderkey AS oid, o_totalprice FROM orders WHERE o_custkey = $k1 ORDER BY oid"),
        cypher("cy_expand_2hop",
          s"MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) WHERE id(c) = 'c$k2' " +
            s"RETURN p.id AS pid, count(*) AS n ORDER BY n DESC, pid LIMIT $lim2",
          Seq("anchor" -> k2, "limit" -> lim2),
          s"""SELECT 'p' || l_partkey AS pid, COUNT(*) AS n
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE o_custkey = $k2
             |GROUP BY pid ORDER BY n DESC, pid LIMIT $lim2""".stripMargin),
        cypher("cy_label_topk",
          s"MATCH (c:Customer) WHERE c.mktsegment = '$seg' AND c.acctbal > $bal " +
            s"RETURN c.id AS id, toFloat(c.acctbal) AS bal ORDER BY bal DESC, id LIMIT $lim",
          Seq("segment" -> seg, "min_balance" -> bal, "limit" -> lim),
          s"""SELECT 'c' || c_custkey AS id, c_acctbal AS bal FROM customer
             |WHERE c_mktsegment = '$seg' AND c_acctbal > $bal ORDER BY bal DESC, id LIMIT $lim""".stripMargin),
        cypher("cy_group_agg",
          s"MATCH (c:Customer)-[:FROM]->(n:Nation) WHERE c.mktsegment = '$seg2' " +
            "RETURN n.name AS nation, count(c) AS cnt ORDER BY nation",
          Seq("segment" -> seg2),
          s"""SELECT n_name, COUNT(*) FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_mktsegment = '$seg2' GROUP BY n_name ORDER BY n_name""".stripMargin),
        sparql("sparql_bgp",
          s"SELECT ?o ?p WHERE { <c$k3> <PLACED> ?o . ?o <CONTAINS> ?p . } ORDER BY ?o ?p",
          Seq("anchor" -> k3),
          s"""SELECT 'o' || o_orderkey AS o, 'p' || l_partkey AS p
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE o_custkey = $k3
             |ORDER BY o, p""".stripMargin),
        sparql("sparql_path",
          s"SELECT DISTINCT ?p WHERE { <c$k4> <PLACED>/<CONTAINS> ?p . } ORDER BY ?p",
          Seq("anchor" -> k4),
          s"""SELECT DISTINCT 'p' || l_partkey AS p
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE o_custkey = $k4
             |ORDER BY p""".stripMargin))
    }

    // ingest state, tracked here so each read knows what it must see
    private val poolSize = 300
    private val history = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    private val hubs = scala.collection.mutable.Map.empty[String, (String, Option[String])]

    /** One edge batch written through `StreamingTriangles.addBatch` and a
      * Cypher CREATE/MERGE, then a read that must see both. Batches carry
      * duplicates, self-loops and edges to new vertices at seeded rates. */
    def ingestRound(r: Int): Seq[Op] = {
      val size = 20 + rnd.nextInt(40)
      val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
      val batch = Seq.fill(size) {
        val u = s"v${rnd.nextInt(poolSize)}"
        val x = rnd.nextDouble()
        if (x < 0.05) (u, u)
        else if (x < 0.10 && history.nonEmpty) history(rnd.nextInt(history.size)).swap
        else if (x < 0.20) { val n = s"x${r}_${fresh.size}"; fresh += n; (u, n) }
        else (u, s"v${rnd.nextInt(poolSize)}")
      }
      history ++= batch
      val created = if (fresh.isEmpty) Seq(s"x${r}_0") else fresh.toSeq
      val origin = created.map(n => n -> batch.collectFirst { case (u, `n`) => u }.getOrElse("v0")).toMap
      val hub = s"hub${rnd.nextInt(5)}"
      val batchNo = r.toString
      hubs(hub) = hubs.get(hub) match {
        case Some((first, _)) => (first, Some(batchNo))
        case None => (batchNo, None)
      }
      val creates = created.map(n => s"(:Ingest {id: '$n', batch: '$batchNo', origin: '${origin(n)}'})")
      val write =
        s"CREATE ${creates.mkString(", ")} " +
          s"MERGE (h:Hub {id: '$hub'}) ON CREATE SET h.first = '$batchNo' ON MATCH SET h.last = '$batchNo'"
      val read =
        s"MATCH (n:Ingest) WHERE id(n) = '${created.head}' RETURN n.id AS id, n.batch AS batch, n.origin AS origin " +
          s"UNION ALL MATCH (h:Hub) WHERE id(h) = '$hub' RETURN h.id AS id, h.first AS batch, h.last AS origin"
      val (first, last) = hubs(hub)
      val edges = batch.map { case (a, b) => Seq(a, b) }
      Seq(
        Op("ingest_write", "streaming", Seq("batch" -> batchNo, "edges" -> edges), Oracle.StreamCounts(Nil), Some(write)) { c =>
          val local = c.spark.createDataFrame(
            java.util.Arrays.asList(batch.map { case (a, b) => Row(a, b) }: _*),
            StructType(Seq(StructField("src", StringType), StructField("dst", StringType))))
          val total = Trace.span("streaming.add_batch", batch.size)(c.stream.addBatch(local))
          c.ingestGraph = Trace.span("cypher.write")(Cypher.execute(c.ingestGraph, write)._1)
          () => Array(Row(total))
        },
        Op("ingest_read", "streaming", Seq("batch" -> batchNo),
          Oracle.StreamCounts(Seq(Seq(created.head, batchNo, origin(created.head)), Seq(hub, first, last.orNull))), Some(read)) { c =>
          val counts = Row(c.stream.currentCount, c.stream.edgeCount)
          val df = Trace.span("cypher.read")(Cypher.run(c.ingestGraph, read))
          () => counts +: df.collect()
        })
    }
  }

  // --------------------------------------------------------------------
  // analytics: the reference's algorithm commands over the bridge graph
  // and its derived graphs, and the dedup/similarity pipeline calls.
  // --------------------------------------------------------------------
  private final class Analytics(rnd: Random, ctx: Ctx) {
    /** A declared query of the engine, checked against its declared
      * DuckDB oracle. */
    private def declared(name: String): Op =
      Op(name, "algorithms", Seq("query" -> name), Oracle.Sql(graft.SparkEntry.oracleSql(name)))(c =>
        lazyRows(graft.SparkEntry.queries(name)(c.spark, c.dir)))

    private def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    private def node(): String = pick("c", "c", "s", "n") match {
      case "c" => s"c${rnd.nextInt(ctx.nCustomers)}"
      case "s" => s"s${rnd.nextInt(ctx.nSuppliers)}"
      case p => s"$p${rnd.nextInt(25)}"
    }

    def round(): Seq[Op] = Seq(
      pageRank(), personalizedPageRank(), egonet(), shortestPaths(),
      declared("alg_degree_in"),
      declared("alg_degree_out"),
      declared("alg_triangles"),
      declared("alg_connected_components"),
      declared("alg_kcore"),
      declared("alg_weighted_walks"),
      declared("alg_partition_blp"),
      declared("alg_fastrp"),
      declared("alg_beam_search"),
      minhashPairs(), ngramPairs(), compact(), cosinePairs(), knn())

    /** Iterations of pgrnk and PPR, and the cosine-dedup threshold, stay
      * fixed: each moves an op's cost by 30-80%, so seeding them made the
      * run's latency depend on the seed. The embeddings have no
      * near-duplicates (the largest pairwise cosine is 0.51), so the
      * threshold is set where 59 of the 124,750 pairs pass. */
    private val iters = 4
    private val cosineThreshold = 0.4
    /** minhashPairs' banding: its defaults, 16 bands of 4 hashes. */
    private val minhashLsh = Oracle.Lsh("minhash", rows = 4, bands = 16)
    /** embeddingCosinePairs' banding, fixed: 16 bands of 4 planes. Its
      * auto geometry at this threshold (64 bands of 8) made the op take
      * 14 s on 4 cores, against 2.4 s with this one. */
    private val cosineLsh = Oracle.Lsh("cosine", rows = 4, bands = 16)

    /** PageRank-family mirror: `teleport` is each node's restart mass. */
    private def rankSql(alpha: Double, iterations: Int, teleport: String): String = {
      val chain = (1 to iterations).map { i =>
        s"""r$i AS (SELECT n.id, CAST(${1 - alpha} AS DOUBLE) * n.t + CAST($alpha AS DOUBLE) * COALESCE(s.c, 0) AS rank
           |  FROM tp n LEFT JOIN (
           |    SELECT ed.dst AS id, SUM(r.rank / ed.d) AS c
           |    FROM ed JOIN r${i - 1} r ON ed.src = r.id GROUP BY ed.dst) s ON n.id = s.id)""".stripMargin
      }
      bridgeSql(
        s""", tp AS (SELECT id, $teleport AS t FROM nodes),
           |outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
           |ed AS (SELECT e.src, e.dst, o.d FROM edges e JOIN outdeg o ON e.src = o.src),
           |r0 AS (SELECT id, t AS rank FROM tp),
           |${chain.mkString(",\n")}
           |SELECT id, rank FROM r$iterations ORDER BY id""".stripMargin)
    }

    private def pageRank(): Op = {
      val alpha = pick(0.8, 0.85, 0.9)
      Op("pgrnk", "algorithms", Seq("alpha" -> alpha, "iterations" -> iters),
        Oracle.Sql(rankSql(alpha, iters, "CAST(1.0 AS DOUBLE)")))(c =>
        lazyRows(GraphAlgorithms.pageRank(c.graph, alpha, iters).select("id", "rank").orderBy("id")))
    }

    private def personalizedPageRank(): Op = {
      val alpha = pick(0.8, 0.85, 0.9)
      val sources = Seq.fill(3)(node()).distinct
      Op("ppr", "algorithms", Seq("alpha" -> alpha, "iterations" -> iters, "sources" -> sources),
        Oracle.Sql(rankSql(alpha, iters,
          s"CASE WHEN id IN (${quote(sources)}) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"))) { c =>
        import c.spark.implicits._
        lazyRows(GraphAlgorithms.personalizedPageRank(c.graph, sources.toDF("id"), alpha, iters)
          .select("id", "rank").orderBy("id"))
      }
    }

    private def egonet(): Op = {
      val ego = node()
      val members =
        s"SELECT '$ego' AS id UNION SELECT src FROM edges WHERE dst = '$ego' UNION SELECT dst FROM edges WHERE src = '$ego'"
      Op("egnt", "algorithms", Seq("ego" -> ego), Oracle.Sql(bridgeSql(
        s"""SELECT e.src, e.dst FROM edges e
           |JOIN ($members) a ON e.src = a.id JOIN ($members) b ON e.dst = b.id
           |ORDER BY 1, 2""".stripMargin)))(c =>
        lazyRows(GraphAlgorithms.egonet(c.graph, ego).orderBy("src", "dst")))
    }

    /** BFS over the dense mod-2000 order-part projection (alg_shortest_paths's graph). */
    private def shortestPaths(): Op = {
      val source = rnd.nextInt(2000).toString
      val hops = 3 + rnd.nextInt(3)
      Op("sssp", "algorithms", Seq("source" -> source, "max_hops" -> hops), Oracle.Sql(
        s"""WITH RECURSIVE eb AS (
           |  SELECT DISTINCT CAST(l_orderkey % 2000 AS VARCHAR) AS src,
           |    CAST(l_partkey % 2000 AS VARCHAR) AS dst
           |  FROM lineitem WHERE l_orderkey % 2000 <> l_partkey % 2000),
           |ue AS (SELECT src AS u, dst AS v FROM eb UNION SELECT dst, src FROM eb),
           |walk(id, dist) AS (
           |  SELECT '$source', 0
           |  UNION
           |  SELECT e.v, w.dist + 1 FROM walk w JOIN ue e ON e.u = w.id WHERE w.dist < $hops)
           |SELECT id, MIN(dist) AS dist FROM walk GROUP BY id ORDER BY CAST(id AS BIGINT)""".stripMargin)) { c =>
        val eb = c.table("lineitem")
          .select((col("l_orderkey") % 2000).cast(StringType).as("src"),
            (col("l_partkey") % 2000).cast(StringType).as("dst"))
          .where(col("src") =!= col("dst")).distinct()
        lazyRows(GraphAlgorithms.shortestPaths(eb, source, maxHops = hops)
          .select("id", "dist").orderBy(col("id").cast(LongType)))
      }
    }

    private def docs(c: Ctx): DataFrame = c.table("documents")
    private def threshold(): Double = pick(0.7, 0.8, 0.9)

    private def minhashPairs(): Op = {
      val t = threshold()
      Op("minhash_pairs", "pipeline", Seq("threshold" -> t),
        Oracle.Jaccard("chars", 5, t, "pairs", Some(minhashLsh)))(c =>
        lazyRows(Dedup.minhashPairs(docs(c), "text", "doc_id", threshold = t).orderBy("idA", "idB")))
    }

    private def ngramPairs(): Op = {
      val t = pick(0.3, 0.4, 0.5)
      Op("ngram_jaccard", "pipeline", Seq("n" -> 3, "threshold" -> t), Oracle.Jaccard("words", 3, t, "pairs"))(c =>
        lazyRows(Dedup.ngramJaccardPairs(docs(c), "text", "doc_id", n = 3, threshold = t).orderBy("idA", "idB")))
    }

    private def compact(): Op = {
      val t = threshold()
      Op("compact", "pipeline", Seq("threshold" -> t), Oracle.Jaccard("chars", 5, t, "compact"))(c =>
        lazyRows(Dedup.compact(docs(c), "text", "doc_id", threshold = t).select("doc_id").orderBy("doc_id")))
    }

    private def vectors(c: Ctx): DataFrame = c.table("embeddings")
      .select(col("vec_id").as("id"), transform(col("embedding"), _.cast(DoubleType)).as("vec"))

    private def cosinePairs(): Op = {
      val t = cosineThreshold
      Op("cosine_dedup", "pipeline", Seq("threshold" -> t), Oracle.Band(
        s"""WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
           |SELECT a.id, b.id, list_cosine_similarity(a.vec, b.vec) AS cosine
           |FROM c a JOIN c b ON a.id < b.id
           |WHERE list_cosine_similarity(a.vec, b.vec) >= ${t - 1e-6}
           |ORDER BY 1, 2""".stripMargin, t + 1e-6, cosineLsh))(c =>
        lazyRows(Dedup.embeddingCosinePairs(vectors(c), "vec", "id", bands = cosineLsh.bands,
          rowsPerBand = cosineLsh.rows, threshold = t).orderBy("idA", "idB")))
    }

    private def knn(): Op = {
      val k = pick(5, 10)
      val queries = Seq.fill(4)(rnd.nextInt(ctx.nEmbeddings)).distinct.sorted
      Op("knn_cosine", "pipeline", Seq("k" -> k, "queries" -> queries), Oracle.Sql(
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
           |q AS (SELECT vec_id AS qid, vec AS qvec FROM c WHERE vec_id IN (${queries.mkString(", ")})),
           |scored AS (
           |  SELECT q.qid, c.vec_id, list_cosine_similarity(c.vec, q.qvec) AS cosine,
           |    ROW_NUMBER() OVER (PARTITION BY q.qid
           |      ORDER BY list_cosine_similarity(c.vec, q.qvec) DESC, c.vec_id) AS rank
           |  FROM c CROSS JOIN q)
           |SELECT qid, vec_id, cosine, rank FROM scored WHERE rank <= $k ORDER BY qid, rank""".stripMargin)) { c =>
        val corpus = vectors(c)
        val q = corpus.where(col("id").isin(queries: _*)).select(col("id").as("qid"), col("vec").as("qvec"))
        lazyRows(Similarity.knnCosine(corpus, "id", "vec", q, "qid", "qvec", k).orderBy("qid", "rank"))
      }
    }
  }
}
