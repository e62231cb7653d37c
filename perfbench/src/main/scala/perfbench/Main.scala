package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.TpchBridge

/** One benchmark run: set up the engine in a fresh JVM, then drive one
  * client in a closed loop over `--rounds` rounds of a seeded op stream,
  * then write the op list, every op's rows and the metrics under `--out`
  * for `run.py` to check and report.
  *
  *   Main --workload <name> --seed <n> --rounds <n> --trace <0|1>
  *        --data <dir> --out <dir> [--only <op>]
  *
  * `--only <op>` replays one op of the seeded list alone (earlier writes
  * are re-applied first, untimed, so reads see the same state). */
object Main {
  /** Tail percentile per workload. Interactive (36 ops a run): the highest
    * with at least ten samples above it. Analytics (18 ops) has no such
    * percentile above the median; p90 there is not a resolved tail. */
  val tailPercentile: Map[String, Double] = Map("interactive" -> 0.7, "analytics" -> 0.9)

  /** `nRows` outlives `rows`, which are dropped once written. */
  final case class Rec(idx: Int, op: Op, latency: Double, build: Double, rows: Array[Row], nRows: Int,
                       error: Option[String], untraced: Option[Double], replayOnly: Boolean = false)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val rounds = opt("rounds").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val dir = opt("data")
    val out = Paths.get(opt("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val only = opt.get("only").map(_.toInt)
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    Files.createDirectories(out)

    // cold set-up, from main to the first timed op: a fresh session,
    // base-table reads and the derived graphs the workload reads, materialized
    val spark = session(cores, out)
    val l0 = System.nanoTime()
    val ctx = new Ctx(spark, dir)
    load(ctx, workload)
    ctx.resetIngest()
    val l1 = System.nanoTime()
    val setupS = (l1 - t0) / 1e9
    val loadS = (l1 - l0) / 1e9
    System.err.println(f"perfbench: setup $setupS%.2f s (load $loadS%.2f s)")

    val sc = spark.sparkContext
    val listener = new Trace.Listener
    val records = ArrayBuffer.empty[Rec]

    def execute(idx: Int, op: Op, trace: Boolean): (Double, Double, Array[Row], Option[String]) = {
      if (trace) {
        sc.addSparkListener(listener)
        Trace.begin(idx)
        sc.setLocalProperty(Trace.OpKey, idx.toString)
        sc.setLocalProperty(Trace.PhaseKey, "build")
      }
      val startMs = System.currentTimeMillis()
      val a = System.nanoTime()
      var b = a
      val result =
        try {
          val consume = op.run(ctx)
          b = System.nanoTime()
          if (trace) sc.setLocalProperty(Trace.PhaseKey, "exec")
          Right(consume())
        } catch { case e: Throwable => Left(e) }
      val c = System.nanoTime()
      if (trace) {
        sc.setLocalProperty(Trace.OpKey, null)
        sc.setLocalProperty(Trace.PhaseKey, null)
        if (op.layer == "cypher") Trace.span("cypher.parse")(graft.cypher.Parser.parseStatement(op.text.get))
        if (op.layer == "sparql") Trace.span("sparql.parse")(graft.sparql.Sparql.parse(op.text.get))
        Trace.end()
        Trace.drain(sc)
        sc.removeSparkListener(listener)
        Trace.spans.synchronized {
          Trace.spans += Trace.Span(s"op/$idx", idx, "", startMs, startMs + (c - a) / 1000000,
            Seq("build_s" -> (b - a) / 1e9, "exec_s" -> (c - b) / 1e9))
        }
      }
      result match {
        case Right(rows) => ((c - a) / 1e9, (b - a) / 1e9, rows, None)
        case Left(e) =>
          ((c - a) / 1e9, (b - a) / 1e9, Array.empty[Row],
            Some(e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("").take(300)))
      }
    }

    val stream = Workloads.stream(workload, seed, ctx)
    var idx = 0
    only match {
      case Some(target) =>
        while (idx <= target) {
          for (op <- stream.next()) {
            if (idx == target) {
              val (lat, build, rows, err) = execute(idx, op, traced)
              records += Rec(idx, op, lat, build, rows, rows.length, err, None)
            } else if (idx < target && op.template == "ingest_write") {
              val (lat, build, rows, err) = execute(idx, op, trace = false)
              records += Rec(idx, op, lat, build, rows, rows.length, err, None, replayOnly = true)
            }
            idx += 1
          }
        }
      case None =>
        for (_ <- 0 until rounds) {
          for (op <- stream.next()) {
            // traced runs time each read-only op untraced and traced back to
            // back (alternating which goes first); the difference is the
            // tracing overhead
            val paired = traced && op.template != "ingest_write"
            val untracedFirst = idx % 2 == 0
            val before = if (paired && untracedFirst) Some(execute(idx, op, trace = false)._1) else None
            val (lat, build, rows, err) = execute(idx, op, traced)
            val after = if (paired && !untracedFirst) Some(execute(idx, op, trace = false)._1) else None
            records += Rec(idx, op, lat, build, rows, rows.length, err, before.orElse(after))
            System.err.println(f"perfbench: op $idx ${op.template}%-18s ${lat}%.3f s${err.map(" FAILED " + _).getOrElse("")}")
            idx += 1
          }
        }
    }

    def write(name: String, lines: Iterator[String]): Unit = {
      val w = Files.newBufferedWriter(out.resolve(name), StandardCharsets.UTF_8)
      try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    }
    write("ops.jsonl", records.iterator.map { r =>
      Json.obj(
        "op" -> r.op.json(r.idx), "latency_s" -> Json.num(r.latency), "build_s" -> Json.num(r.build),
        "error" -> r.error.map(Json.str).getOrElse("null"), "replay_only" -> r.replayOnly.toString)
    })
    write("rows.jsonl", records.iterator.map(r =>
      Json.obj("idx" -> r.idx.toString, "rows" -> r.rows.map(Json.value).mkString("[", ",", "]"))))
    // the rows are the harness's, not the engine's: drop them before the heap is read
    records.mapInPlace(_.copy(rows = Array.empty[Row]))

    // retained heap: after full collections, outside every timing; the pause
    // lets the context cleaner drop blocks of RDDs the first one freed
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(1000); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val measured = records.filterNot(_.replayOnly).toSeq
    val metrics =
      if (traced) Metrics.perLayer(workload, measured, listener, loadS, cores)
      else Metrics.endToEnd(workload, measured, setupS, heap)

    if (traced) write("spans.jsonl", (Trace.spans.iterator ++ listener.jobAndStageSpans.iterator).map(_.json))
    write("metrics.json", Iterator(Json.obj(
      "metrics" -> metrics.map { case (k, v, u) =>
        Json.str(k) + ":" + Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }.mkString("{", ",", "}"))))
    spark.stop()
  }

  /** The engine's session posture: local[cores], one shuffle partition per
    * core, AQE on; scratch space inside the run's output directory. */
  def session(cores: Int, out: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.local.dir", out.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Base-table reads and the derived graphs `workload` reads, materialized. */
  def load(ctx: Ctx, workload: String): Unit = {
    ctx.graph.nodes.count()
    ctx.graph.edges.count()
    ctx.nCustomers; ctx.nSuppliers; ctx.nEmbeddings
    workload match {
      case "interactive" => ctx.triples.count()
      case "analytics" => TpchBridge.hashGraphEdges(ctx.spark, ctx.dir).count()
    }
  }
}
