package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import Main.{Op, Tracer}

/** Records raw scheduler events. Nothing is attributed while the run is in
  * flight: the listener bus is asynchronous, so attribution waits until the
  * bus is drained after the last op. */
final class Events extends SparkListener {
  final case class Job(id: Int, timeMs: Long, group: String, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, cpuNs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long)

  val jobs = new ConcurrentLinkedQueue[Job]
  val stageSubmitMs = new ConcurrentHashMap[Int, Long]
  val stagesDone = new ConcurrentLinkedQueue[Int]
  val tasks = new ConcurrentLinkedQueue[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time,
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull, e.stageIds))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(-1L))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.add(
      if (m == null) Task(e.stageId, e.taskInfo.launchTime, 0, 0, 0, 0)
      else Task(e.stageId, e.taskInfo.launchTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.diskBytesSpilled))
  }
}

/** Per-layer numbers of a traced run: span self times, the benchmark's own
  * counters, and scheduler counters attributed to the (op, layer) that
  * started each job. Every value is a mean per measured op, except the
  * `*.failed` counts, which are totals over the run. */
final class LayerReport(ops: Seq[Op], tracer: Tracer, events: Events,
                        measureStartMs: Long, measureEndMs: Long) {

  /** span name → metric name of its busy time */
  val spanMetric: Seq[(String, String)] = Seq(
    "entry.build" -> "entry.build_ms",
    "producer.produce" -> "producer.ms",
    "wire.encode" -> "wire.encode_ms",
    "wire.decode" -> "wire.decode_ms",
    "validator.validate" -> "validator.ms",
    "consumer.consume" -> "consumer.ms",
    "catalyst.optimize" -> "catalyst.optimize_ms",
    "catalyst.plan" -> "catalyst.plan_ms",
    "exec.run" -> "exec.ms")

  private val n = ops.size.toDouble
  private val measured = ops.map(o => o.idx -> o).toMap

  /** job id → (op, layer); jobs of warm ops and jobs outside any op are
    * left out */
  private val jobOwner: Map[Int, (Int, String)] = {
    val byWindow = tracer.windows.toIndexedSeq
    events.jobs.asScala.iterator.flatMap { j =>
      val fromGroup = Option(j.group).filter(_.startsWith("perfbench|")).map { g =>
        val Array(_, op, layer) = g.split("\\|", 3)
        (op.toInt, layer)
      }
      // jobs on threads that carry their own group (streaming micro-batches)
      // belong to the call that was running when they started
      val owner = fromGroup.orElse(byWindow.collectFirst {
        case (s, e, op, layer) if j.timeMs >= s && j.timeMs <= e => (op, layer)
      })
      owner.filter(o => measured.contains(o._1)).map(j.id -> _)
    }.toMap
  }

  private val stageJob: Map[Int, Int] = {
    val m = mutable.Map.empty[Int, Int]
    events.jobs.asScala.toSeq.sortBy(_.id).foreach(j =>
      j.stages.foreach(s => if (!m.contains(s)) m(s) = j.id))
    m.toMap
  }
  private def stageOwner(stage: Int): Option[(Int, String)] =
    stageJob.get(stage).flatMap(jobOwner.get)

  private val execTasks = events.tasks.asScala.toSeq
    .filter(t => stageOwner(t.stage).exists(_._2 == "exec.run"))

  /** Tasks of jobs started inside the measured window, and how many of them
    * could not be put on an op. */
  val sessionTasks: Int = {
    val inWindow = events.jobs.asScala.filter(j =>
      j.timeMs >= measureStartMs && j.timeMs <= measureEndMs).map(_.id).toSet
    events.tasks.asScala.count(t => stageJob.get(t.stage).exists(inWindow))
  }
  val attributedTasks: Int = events.tasks.asScala.count(t => stageOwner(t.stage).isDefined)

  private def jobsIn(layer: String): Double = jobOwner.values.count(_._2 == layer) / n

  private val layerNs: Map[String, Long] =
    tracer.spans.filter(s => measured.contains(s.op))
      .groupMapReduce(_.name)(s => s.endNs - s.startNs)(_ + _)
  private val opNs: Long = ops.map(o => o.endNs - o.startNs).sum

  def coveragePct: Double = 100.0 * layerNs.values.sum / opNs

  private def mean(k: String): Double = ops.map(_.counts(k)).sum / n
  private def failedIn(layer: String): Double = ops.count(_.failedAt == layer).toDouble

  def metrics: Seq[(String, Double, String)] = {
    val times = spanMetric.map { case (span, m) => (m, layerNs.getOrElse(span, 0L) / 1e6 / n, "ms") }
    def time(m: String) = times.find(_._1 == m).get
    val submit = events.stageSubmitMs.asScala
    Seq(
      time("entry.build_ms"),
      ("entry.build_jobs", jobsIn("entry.build"), "count"),
      ("entry.failed", failedIn("entry"), "count"),
      time("producer.ms"),
      ("producer.rels", mean("producer.rels"), "count"),
      ("producer.failed", failedIn("producer"), "count"),
      time("wire.encode_ms"),
      time("wire.decode_ms"),
      ("wire.bytes", mean("wire.bytes"), "bytes"),
      time("validator.ms"),
      ("validator.issues", mean("validator.issues"), "count"),
      time("consumer.ms"),
      ("consumer.jobs", jobsIn("consumer.consume"), "count"),
      ("consumer.failed", failedIn("consumer"), "count"),
      time("catalyst.optimize_ms"),
      time("catalyst.plan_ms"),
      ("catalyst.optimized_nodes", mean("catalyst.optimized_nodes"), "count"),
      ("catalyst.physical_nodes", mean("catalyst.physical_nodes"), "count"),
      ("catalyst.exchanges", mean("catalyst.exchanges"), "count"),
      time("exec.ms"),
      ("exec.jobs", jobsIn("exec.run"), "count"),
      ("exec.stages", events.stagesDone.asScala.count(s =>
        stageOwner(s).exists(_._2 == "exec.run")) / n, "count"),
      ("exec.tasks", execTasks.size / n, "count"),
      ("exec.task_cpu_ms", execTasks.map(_.cpuNs).sum / 1e6 / n, "ms"),
      ("exec.task_wait_ms", execTasks.map(t =>
        submit.get(t.stage).filter(_ >= 0).map(t.launchMs - _).getOrElse(0L)).sum / n, "ms"),
      ("exec.shuffle_write_bytes", execTasks.map(_.shuffleWrite).sum / n, "bytes"),
      ("exec.shuffle_read_bytes", execTasks.map(_.shuffleRead).sum / n, "bytes"),
      ("exec.spill_bytes", execTasks.map(_.spill).sum / n, "bytes"),
      ("exec.failed", failedIn("exec"), "count"),
      ("error_rate", ops.count(_.failedAt != null) / n, "ratio"),
      ("wrong_results", ops.count(_.wrong).toDouble, "count"),
      ("trace.layer_coverage", coveragePct, "%"),
      ("trace.unattributed_tasks", (sessionTasks - attributedTasks).toDouble, "count"))
  }

  /** Writes every span, a per-layer summary and a per-query summary. */
  def write(path: Path, workload: String): Unit = {
    val t0 = ops.map(_.startNs).min
    def us(ns: Long) = (ns - t0) / 1000
    val byOp = tracer.spans.filter(s => measured.contains(s.op)).groupBy(_.op)
    val spans = ops.flatMap { o =>
      val root = s"""{"id": "${o.idx}", "parent": null, "name": "op", """ +
        s""""start_us": ${us(o.startNs)}, "end_us": ${us(o.endNs)}, """ +
        s""""workload": "$workload", "query": "${o.query}", "pass": ${o.pass}}"""
      root +: byOp.getOrElse(o.idx, Nil).zipWithIndex.map { case (s, i) =>
        s"""{"id": "${o.idx}.$i", "parent": "${o.idx}", "name": "${s.name}", """ +
          s""""start_us": ${us(s.startNs)}, "end_us": ${us(s.endNs)}}"""
      }
    }
    val layerSummary = spanMetric.map { case (span, _) =>
      val ms = layerNs.getOrElse(span, 0L) / 1e6
      f""""$span": {"total_ms": $ms%.3f, "share_of_op_time": ${ms * 1e6 / opNs}%.5f}"""
    }
    val perQuery = ops.groupBy(_.query).toSeq.sortBy(_._1).map { case (q, qs) =>
      val layers = spanMetric.flatMap { case (span, _) =>
        val ns = qs.flatMap(o => byOp.getOrElse(o.idx, Nil)).filter(_.name == span)
          .map(s => s.endNs - s.startNs).sum
        if (ns == 0) None else Some(f""""$span": ${ns / 1e6 / qs.size}%.3f""")
      }
      f""""$q": {"ops": ${qs.size}, "op_ms": ${qs.map(_.ms).sum / qs.size}%.3f, """ +
        s""""failed": ${qs.count(_.failedAt != null)}, "layer_ms": {${layers.mkString(", ")}}}"""
    }
    val json =
      s"""{"workload": "$workload",
         |"layers": {${layerSummary.mkString(",\n  ")}},
         |"queries": {${perQuery.mkString(",\n  ")}},
         |"spans": [${spans.mkString(",\n  ")}]}
         |""".stripMargin
    Files.write(path, json.getBytes(UTF_8))
  }
}
