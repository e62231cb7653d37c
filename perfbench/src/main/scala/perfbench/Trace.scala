package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans of the traced run. An op span covers one op; call spans (parse,
  * add_batch, ...) and the listener's job and stage spans name the op span
  * as their parent. Everything stays in memory until the run ends. */
object Trace {
  final case class Span(name: String, op: Int, parent: String, startMs: Long, endMs: Long,
                        attrs: Seq[(String, Double)]) {
    def json: String = Json.obj(
      "name" -> Json.str(name), "op" -> op.toString, "parent" -> Json.str(parent),
      "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
      "attrs" -> attrs.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}"))
  }

  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  @volatile private var currentOp = -1
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def begin(op: Int): Unit = currentOp = op
  def end(): Unit = currentOp = -1

  /** Times `body` as a call span of the current traced op; free when no op is traced. */
  def span[A](name: String, n: Long = 0)(body: => A): A = {
    val op = currentOp
    if (op < 0) body
    else {
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val r = body
      val secs = (System.nanoTime() - n0) / 1e9
      spans.synchronized {
        spans += Span(name, op, s"op/$op", t0, System.currentTimeMillis(),
          Seq("seconds" -> secs, "n" -> n.toDouble))
      }
      r
    }
  }

  def callSpans(op: Int, name: String): Seq[Span] =
    spans.synchronized(spans.filter(s => s.op == op && s.name == name).toSeq)

  /** What the listener saw of one op. */
  final case class JobRec(id: Int, op: Int, phase: String, startMs: Long, var endMs: Long = -1)
  final case class StageRec(id: Int, job: Int, op: Int, startMs: Long, endMs: Long, tasks: Int,
                            runMs: Long, cpuNs: Long, gcMs: Long, resultBytes: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** Records job and stage spans of the traced ops (jobs carry the op index
    * and phase as local properties, set on the driver thread). */
  final class Listener extends SparkListener {
    private val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
    private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    private val stages = ArrayBuffer.empty[StageRec]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt).getOrElse(-1)
      if (op >= 0) {
        val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("exec")
        jobs(e.jobId) = JobRec(e.jobId, op, phase, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      for (job <- stageJob.get(info.stageId); rec <- jobs.get(job)) {
        val m = info.taskMetrics
        val s = if (m == null) StageRec(info.stageId, job, rec.op, 0, 0, info.numTasks, 0, 0, 0, 0, 0, 0, 0)
        else StageRec(info.stageId, job, rec.op,
          info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L), info.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.resultSize,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
        stages.synchronized(stages += s)
      }
    }

    def jobsOf(op: Int): Seq[JobRec] = jobs.values.filter(_.op == op).toSeq.sortBy(_.id)
    def stagesOf(op: Int): Seq[StageRec] = stages.synchronized(stages.filter(_.op == op).toSeq)

    def jobAndStageSpans: Seq[Span] = {
      val js = jobs.values.toSeq.sortBy(_.id).map(j =>
        Span(s"spark.job/${j.id}", j.op, s"op/${j.op}", j.startMs, j.endMs,
          Seq("build" -> (if (j.phase == "build") 1.0 else 0.0))))
      val ss = stages.synchronized(stages.toSeq).sortBy(_.id).map(s =>
        Span(s"spark.stage/${s.id}", s.op, s"spark.job/${s.job}", s.startMs, s.endMs, Seq(
          "tasks" -> s.tasks.toDouble, "run_ms" -> s.runMs.toDouble, "cpu_ns" -> s.cpuNs.toDouble,
          "gc_ms" -> s.gcMs.toDouble, "result_bytes" -> s.resultBytes.toDouble,
          "shuffle_read_bytes" -> s.shuffleReadBytes.toDouble,
          "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
          "spill_bytes" -> s.spillBytes.toDouble)))
      js ++ ss
    }
  }

  /** Seconds of [from, to] (ms) not covered by any of `intervals`. */
  def uncovered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, (to - from) - covered) / 1000.0
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.ListenerDrain(sc)
}
