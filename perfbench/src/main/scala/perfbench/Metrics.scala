package perfbench

/** The run's metrics as (name, value, unit). */
object Metrics {
  type M = (String, Double, String)

  /** Linear interpolation between closest ranks, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def endToEnd(workload: String, recs: Seq[Main.Rec], setupS: Double, heapMb: Double): Seq[M] = {
    val lat = recs.map(_.latency)
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", recs.size / lat.sum, "1/s"),
      ("latency_p50_s", percentile(lat, 0.5), "s"),
      ("latency_tail_s", percentile(lat, Main.tailPercentile(workload)), "s"),
      ("retained_heap_mb", heapMb, "MB"))
  }

  /** Per-op means of each layer's traced ops (0 where the layer does not run). */
  def perLayer(workload: String, recs: Seq[Main.Rec], l: Trace.Listener, loadS: Double,
               cores: Int): Seq[M] = {
    final case class OpTrace(rec: Main.Rec, jobs: Seq[Trace.JobRec], stages: Seq[Trace.StageRec]) {
      private val span = Trace.spans.synchronized(Trace.spans.find(_.name == s"op/${rec.idx}")).get
      private val buildEnd = span.startMs + math.round(rec.build * 1000)
      private def jobIntervals(phase: String) =
        jobs.filter(_.phase == phase).map(j => (j.startMs, if (j.endMs < 0) span.endMs else j.endMs))
      def jobS(phase: String): Double = jobIntervals(phase).map { case (a, b) => (b - a) / 1000.0 }.sum
      val buildDriver: Double = Trace.uncovered(span.startMs, buildEnd, jobIntervals("build"))
      val execDriver: Double = Trace.uncovered(buildEnd, span.endMs, jobIntervals("exec"))
      def sum(f: Trace.StageRec => Long): Double = stages.map(f).sum.toDouble
    }
    val ops = recs.map(r => OpTrace(r, l.jobsOf(r.idx), l.stagesOf(r.idx)))
    val mb = 1048576.0
    def perOp(f: OpTrace => Double): Double = mean(ops.map(f))
    def layer(name: String) = ops.filter(_.rec.op.layer == name)
    def callMean(name: String, f: Trace.Span => Double): Double =
      mean(recs.flatMap(r => Trace.callSpans(r.idx, name)).map(f))
    def seconds(s: Trace.Span): Double = s.attrs.toMap.apply("seconds")

    val layerWindows = Seq("cypher", "sparql", "algorithms", "pipeline").flatMap { name =>
      val ls = layer(name)
      Seq((s"$name.build_s", mean(ls.map(_.rec.build)), "s"),
        (s"$name.exec_s", mean(ls.map(o => o.rec.latency - o.rec.build)), "s"))
    }
    val writes = recs.filter(_.op.template == "ingest_write")
    val reads = recs.filter(_.op.template == "ingest_read")
    val edgesIn = recs.flatMap(r => Trace.callSpans(r.idx, "streaming.add_batch")).map(_.attrs.toMap.apply("n"))
    val paired = recs.filter(_.untraced.nonEmpty)
    val busy = recs.map(_.latency).sum
    layerWindows ++ Seq(
      ("cypher.parse_s", callMean("cypher.parse", seconds), "s"),
      ("sparql.parse_s", callMean("sparql.parse", seconds), "s"),
      ("pipeline.pairs_out", mean(layer("pipeline").map(_.rec.nRows.toDouble)), "count"),
      ("streaming.add_batch_s", callMean("streaming.add_batch", seconds), "s"),
      ("streaming.read_s", mean(reads.map(_.latency)), "s"),
      ("streaming.edges_in", mean(edgesIn), "count"),
      ("ingest.write_p50_s", percentile(writes.map(_.latency), 0.5), "s"),
      ("ingest.read_after_write_p50_s", percentile(reads.map(_.latency), 0.5), "s"),
      ("ingest.edges_per_s", if (busy > 0) edgesIn.sum / busy else 0.0, "1/s"),
      ("sources.load_s", loadS, "s"),
      ("spark.jobs", perOp(_.jobs.size.toDouble), "count"),
      ("spark.stages", perOp(_.stages.size.toDouble), "count"),
      ("spark.tasks", perOp(_.sum(_.tasks.toLong)), "count"),
      ("spark.build_jobs", perOp(_.jobs.count(_.phase == "build").toDouble), "count"),
      ("spark.build_job_s", perOp(_.jobS("build")), "s"),
      ("spark.build_driver_s", perOp(_.buildDriver), "s"),
      ("spark.exec_job_s", perOp(_.jobS("exec")), "s"),
      ("spark.exec_driver_s", perOp(_.execDriver), "s"),
      ("spark.task_run_s", perOp(_.sum(_.runMs) / 1000.0), "s"),
      ("spark.task_cpu_s", perOp(_.sum(_.cpuNs) / 1e9), "s"),
      ("spark.gc_s", perOp(_.sum(_.gcMs) / 1000.0), "s"),
      ("spark.result_mb", perOp(_.sum(_.resultBytes) / mb), "MB"),
      ("spark.shuffle_read_mb", perOp(_.sum(_.shuffleReadBytes) / mb), "MB"),
      ("spark.shuffle_write_mb", perOp(_.sum(_.shuffleWriteBytes) / mb), "MB"),
      ("spark.spill_mb", perOp(_.sum(_.spillBytes) / mb), "MB"),
      ("spark.core_busy_ratio",
        if (busy > 0) ops.map(_.sum(_.runMs)).sum / 1000.0 / (busy * cores) else 0.0, "ratio"),
      ("trace.overhead_ratio",
        if (paired.isEmpty) 0.0 else paired.map(_.latency).sum / paired.flatMap(_.untraced).sum - 1, "ratio"))
  }
}
