package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.substrait.{Consumer, Producer, Validator, Wire}
import graft.substrait.model.{Plan, Rel}

/** graft's benchmark: one workload per process, a closed loop with one
  * client thread, timing graft's public entry points from outside.
  *
  * An op is one query of the workload. A measured run is a whole number of
  * passes over the workload's queries (each pass in a seeded order), so every
  * run measures the same mix of queries. See NOTES.md for the workloads, the
  * metrics and what each layer is expected to move.
  *
  * The last line of stdout is the result object; per-pass times and failures
  * go to stderr.
  */
object Main {

  /** Queries whose consumed output ends in a checkpointed `LogicalRDD`,
    * which `Producer` rejects with NotImplemented: they cannot be
    * re-produced, so interchange skips them. */
  val InterchangeExcluded: Set[String] = Set(
    "d08_neardup_clusters", "d13_incremental_clusters",
    "d14_keep_best_per_cluster", "d17_graph_rank", "t36_bpe_train")

  /** The exec workload's queries: one per mechanism, few enough that a run,
    * cold start included, fits the benchmark's time budget (NOTES.md gives
    * each choice and the budget). */
  val PipelineQueries: Seq[String] = Seq(
    "d08_neardup_clusters", "e09_stream_upsert_sink", "p21_merge_into",
    "s03_knn_ivf", "t22_dsir_score")

  /** interchange: every relational plan plus pipeline and ingest plans that
    * carry graft's extension rels, all of whose builders run no Spark job, so
    * setup pays no execution cold start. j01's builder runs ten jobs. */
  val InterchangeQueries: Seq[String] =
    SparkEntry.queries.keys.filter(n => n.startsWith("q") || n.startsWith("j"))
      .filterNot(_ == "j01_asof_join").toSeq.sorted ++
      Seq("d16_shared_spans", "e03_stream_dedup", "e14_sliding_counts",
        "m14_phash_neardup", "p07_cms_heavy_hitters", "s14_knn_lsh_explicit",
        "t13_tfidf", "t28_contamination_score", "t33_split_leakage")

  val Workloads: Map[String, Seq[String]] = Map(
    "interchange" -> InterchangeQueries.filterNot(InterchangeExcluded),
    "pipeline_exec" -> PipelineQueries)

  /** Warm-up at the measured scale before the first measured op. The exec
    * workload runs two passes: the first compiles every query's generated
    * code, the second lets the JIT settle. Interchange plans on the calling
    * thread only, and C2 keeps compiling Catalyst's rules for about a minute
    * of one thread's ops, so it first runs rounds of one pass on every core
    * at once, then one pass alone (NOTES.md). */
  val ExecWarmPasses = 2
  val InterchangeWarmRounds = 3

  /** Each query's median needs three samples. */
  val MinPasses = 3

  /** A run stops at the first pass boundary after this many seconds even if
    * `--seconds` asks for more, so one process stays well inside 180 s. */
  val MaxMeasureSeconds = 120.0

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        expected: String, record: Option[String],
                        traceOut: Option[String])

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), req("work"), req("expected"),
      m.get("record"), m.get("trace-out"))
  }

  // ------------------------------------------------------------- op records

  /** One timed call into a layer, recorded only in traced runs. */
  final case class Span(op: Int, name: String, startNs: Long, endNs: Long)

  final class Op(val idx: Int, val query: String, val pass: Int) {
    var startNs = 0L
    var endNs = 0L
    var failedAt: String = null
    var wrong = false
    /** per-layer counters observed by the benchmark itself */
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def ms: Double = (endNs - startNs) / 1e6
  }

  final class Tracer(val on: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    /** epoch-ms windows of each (op, layer) call, for attributing jobs that
      * run on threads outside the caller's job group (streaming). */
    val windows = mutable.ArrayBuffer.empty[(Long, Long, Int, String)]
    def apply[T](sc: org.apache.spark.SparkContext, op: Op, layer: String)(body: => T): T = {
      sc.setJobGroup(s"perfbench|${op.idx}|$layer", layer)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally if (on) {
        val t1 = System.nanoTime()
        spans += Span(op.idx, layer, t0, t1)
        windows += ((ms0, System.currentTimeMillis(), op.idx, layer))
      }
    }
  }

  // ------------------------------------------------------------ fingerprint

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  /** Doubles rounded to 9 decimals (as tools/local_compare.py does), maps as
    * key-sorted entry arrays (hash functions reject maps), recursively. */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case st: StructType if needsNorm(st) =>
      when(c.isNull, lit(null).cast(normType(st))).otherwise(struct(st.fields.toIndexedSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("key"),
          norm(e.getField("value"), vt).as("value"))))
    case _ => c
  }

  private def normType(dt: DataType): DataType = dt match {
    case FloatType => DoubleType
    case ArrayType(et, n) => ArrayType(normType(et), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = normType(f.dataType))))
    case MapType(kt, vt, n) => ArrayType(StructType(Seq(
      StructField("key", normType(kt), nullable = false),
      StructField("value", normType(vt), n))), containsNull = false)
    case o => o
  }

  /** An executor-side, row-order-independent fingerprint over every output
    * column: row count plus the sums of the low and high 32-bit halves of
    * each row's xxhash64. Reading every column keeps Catalyst from pruning
    * the work a `count()` would let it skip. */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  // -------------------------------------------------------------- plan sizes

  private object Aqe extends AdaptiveSparkPlanHelper

  def countRels(x: Any): Int = x match {
    case r: Rel with Product => 1 + r.productIterator.map(countRels(_)).sum
    case s: Iterable[_] => s.iterator.map(countRels(_)).sum
    case p: Product => p.productIterator.map(countRels(_)).sum
    case _ => 0
  }

  def logicalNodes(p: LogicalPlan): Int = {
    var n = 0
    p.foreachWithSubqueries(_ => n += 1)
    n
  }

  def physicalCounts(p: SparkPlan): (Int, Int) = {
    val nodes = Aqe.collectWithSubqueries(p) { case x => x }
    (nodes.size, nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    })
  }

  def schemaKey(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.sql)

  // ---------------------------------------------------------------- metrics

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"metric is not a finite number: $d")
    else java.math.BigDecimal.valueOf(d).toPlainString

  // ------------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val names = Workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; one of ${Workloads.keys.mkString(", ")}"))
    val exec = args.workload != "interchange"
    val expected: Map[String, String] =
      if (args.record.isDefined || !exec) Map.empty
      else Files.readAllLines(Paths.get(args.expected)).asScala
        .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    val work = Paths.get(args.work)
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val events = new Events
    if (args.trace) sc.addSparkListener(events)

    val builders = SparkEntry.queries
    val unknown = names.filterNot(builders.contains)
    if (unknown.nonEmpty) sys.error(s"unknown queries ${unknown.mkString(", ")}")
    if (exec && args.record.isEmpty) {
      val missing = names.filterNot(expected.contains)
      if (missing.nonEmpty) sys.error(s"no expected fingerprint for ${missing.mkString(", ")}")
    }
    val tracer = new Tracer(args.trace)

    // interchange: the frames are built once, outside the measured ops
    val frames: Map[String, DataFrame] =
      if (exec) Map.empty
      else names.map(n => n -> builders(n)(spark, args.data)).toMap
    val schemas = frames.map { case (n, df) => n -> schemaKey(df) }
    val observed = mutable.Map.empty[String, mutable.Set[String]]

    def interchangeOp(op: Op, t: Tracer = tracer): Unit = {
      var layer = "producer"
      try {
        val plan = t(sc, op, "producer.produce")(Producer.produce(frames(op.query)))
        layer = "wire"
        val bytes = t(sc, op, "wire.encode")(Wire.encode(plan))
        val decoded = t(sc, op, "wire.decode")(Wire.decode(bytes))
        layer = "validator"
        val issues = t(sc, op, "validator.validate")(Validator.validate(decoded))
        layer = "consumer"
        val consumed = t(sc, op, "consumer.consume")(Consumer.consume(spark, decoded))
        layer = "catalyst"
        val optimized = t(sc, op, "catalyst.optimize")(consumed.queryExecution.optimizedPlan)
        val physical = t(sc, op, "catalyst.plan")(consumed.queryExecution.executedPlan)
        op.wrong = schemaKey(consumed) != schemas(op.query)
        if (t.on) {
          op.counts("producer.rels") = countRels(plan)
          op.counts("wire.bytes") = bytes.length
          op.counts("validator.issues") = issues.size
          recordPlanSizes(op, optimized, physical)
        }
      } catch { case NonFatal(e) => fail(op, layer, e) }
    }

    def execOp(op: Op): Unit = {
      var layer = "entry"
      try {
        val df = tracer(sc, op, "entry.build")(builders(op.query)(spark, args.data))
        layer = "catalyst"
        val fp = fingerprintFrame(df)
        val optimized = tracer(sc, op, "catalyst.optimize")(fp.queryExecution.optimizedPlan)
        val physical = tracer(sc, op, "catalyst.plan")(fp.queryExecution.executedPlan)
        if (tracer.on) recordPlanSizes(op, optimized, physical)
        layer = "exec"
        val row = tracer(sc, op, "exec.run")(fp.collect().head)
        val got = s"${row.getLong(0)}:${row.getLong(1)}:${row.getLong(2)}"
        observed.getOrElseUpdate(op.query, mutable.Set.empty) += got
        op.wrong = args.record.isEmpty && expected(op.query) != got
        if (op.wrong)
          System.err.println(s"perfbench: WRONG ${op.query}: got $got, expected ${expected(op.query)}")
      } catch { case NonFatal(e) => fail(op, layer, e) }
    }

    def recordPlanSizes(op: Op, optimized: LogicalPlan, physical: SparkPlan): Unit = {
      val (nodes, exchanges) = physicalCounts(physical)
      op.counts("catalyst.optimized_nodes") = logicalNodes(optimized)
      op.counts("catalyst.physical_nodes") = nodes
      op.counts("catalyst.exchanges") = exchanges
    }

    def fail(op: Op, layer: String, e: Throwable): Unit = {
      op.failedAt = layer
      System.err.println(s"perfbench: FAILED ${op.query} in $layer: " +
        s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }

    var nextIdx = 0
    def runPass(pass: Int, keep: mutable.ArrayBuffer[Op]): Unit = {
      val order = new Random(args.seed * 1000003L + pass).shuffle(names)
      val t0 = System.nanoTime()
      order.foreach { q =>
        val op = new Op(nextIdx, q, pass)
        nextIdx += 1
        op.startNs = System.nanoTime()
        if (exec) execOp(op) else interchangeOp(op)
        op.endNs = System.nanoTime()
        keep += op
      }
      sc.clearJobGroup()
      System.err.println(f"perfbench: ${args.workload} pass $pass: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    // one interchange warm-up round: a pass in its own order on every core
    def warmRound(round: Int): Unit = {
      val quiet = new Tracer(false)
      val t0 = System.nanoTime()
      val threads = (0 until cpus).map { t =>
        val th = new Thread(() => new Random(args.seed * 1000003L - 64 * round - t)
          .shuffle(names).foreach(q => interchangeOp(new Op(-1, q, -round), quiet)))
        th.start()
        th
      }
      threads.foreach(_.join())
      System.err.println(f"perfbench: interchange warm round $round: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    // warm-up at the measured scale; its ops are discarded
    val warm = mutable.ArrayBuffer.empty[Op]
    if (exec) (1 to ExecWarmPasses).foreach(i => runPass(-i, warm))
    else {
      (1 to InterchangeWarmRounds).foreach(warmRound)
      runPass(-1, warm)
    }
    if (tracer.on) { tracer.spans.clear(); tracer.windows.clear() }

    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val gc0 = gcMs; val jit0 = jitMs; val cg0 = codegenCompiles; val cpu0 = processCpuNs
    val measureStartMs = System.currentTimeMillis()
    val m0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    var pass = 0
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (pass < MinPasses ||
        (elapsed < args.seconds && elapsed < MaxMeasureSeconds)) {
      runPass(pass, ops)
      pass += 1
    }
    val measureEndMs = System.currentTimeMillis()
    val cpuNs = processCpuNs - cpu0
    val gcD = gcMs - gc0; val jitD = jitMs - jit0; val cgD = codegenCompiles - cg0

    val attempted = ops.size
    val failed = ops.count(_.failedAt != null)
    val wrong = ops.count(_.wrong)
    // each query's median op time: percentiles and the pass rate are taken
    // over these, so one slow op or an uneven mix of query costs cannot move
    // them
    val medianMs = ops.groupBy(_.query).values.map(qs => quantile(qs.map(_.ms).toSeq, 0.5)).toSeq
    val opsPerS = medianMs.size / (medianMs.sum / 1000)

    args.record.foreach { path =>
      val unsteady = observed.filter(_._2.size != 1)
      if (unsteady.nonEmpty)
        sys.error(s"fingerprints differ across passes: ${unsteady.keys.mkString(", ")}")
      val lines = observed.toSeq.sortBy(_._1).map { case (n, v) => s"$n\t${v.head}" }
      Files.write(Paths.get(path), lines.map(_ + "\n").mkString.getBytes(UTF_8))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", opsPerS, "1/s"),
        ("op_p50_ms", quantile(medianMs, 0.5), "ms"),
        ("op_p90_ms", quantile(medianMs, 0.9), "ms"),
        ("cpu_ms_per_op", cpuNs / 1e6 / attempted, "ms"),
        ("rss_peak_mb", vmHwmMb, "MB"))
      else {
        org.apache.spark.PerfbenchBus.drain(sc)
        val layers = new LayerReport(ops.toSeq, tracer, events, measureStartMs, measureEndMs)
        args.traceOut.foreach(p => layers.write(Paths.get(p), args.workload))
        layers.metrics ++ Seq(
          ("jvm.gc_ms", gcD.toDouble / attempted, "ms"),
          ("jvm.jit_ms", jitD.toDouble / attempted, "ms"),
          ("codegen.compiles", cgD.toDouble / attempted, "count"),
          ("trace.ops_per_s", opsPerS, "1/s"))
      }

    spark.stop()
    val correct = failed == 0 && wrong == 0
    val metricJson = metrics.map { case (n, v, u) =>
      s"${jsonStr(n)}: {\"value\": ${jsonNum(v)}, \"unit\": ${jsonStr(u)}}" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metricJson.mkString(", ")}}}""")
  }
}
