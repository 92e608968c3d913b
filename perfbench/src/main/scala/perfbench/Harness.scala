package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.pivot.{PivotOps, PivotSpec}
import graft.sources.{AvroSource, PipelineRunner}

/** The benchmark's JVM side: one closed-loop client running a workload's
  * operations one at a time against the program's public entry points.
  *
  * Phases: session + untimed warmup passes (together `setup_s`, from JVM
  * start), then whole passes over the operations until `--seconds` have
  * elapsed (at least MinPasses), then the correctness checks. With
  * `--trace 1` half the passes are traced: they register the listener and
  * record spans, and the per-layer metrics come from them alone.
  *
  * Writes `result.json` (and `spans.jsonl` when traced) into `--out`;
  * run.py turns those into the printed metrics. */
object Harness {

  final case class OpRecord(name: String, pass: Int, traced: Boolean,
                            seconds: Double, ok: Boolean, rows: Long, error: String)

  /** Per traced operation: what the listener, the plan walk and the spans saw. */
  final case class OpTrace(op: Int, pipeline: Boolean, rows: Long, wallMs: Long,
                           idleMs: Double, c: OpCounters, plan: PlanCounts, gcMs: Long,
                           outputBytes: Long, outputFiles: Int)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val data = arg(args, "data")
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val out = arg(args, "out")
    val cpus = arg(args, "cpus")
    val rowsPerOp = arg(args, "rows").toLong
    val template = new String(Files.readAllBytes(Paths.get(arg(args, "pipeline"))))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try new Harness(spark, workload, data, seconds, trace, out, rowsPerOp, template).run()
    finally spark.stop()
  }
}

final class Harness(spark: SparkSession, workload: String, data: String, seconds: Double,
                    trace: Boolean, out: String, rowsPerOp: Long, template: String) {
  import Harness._

  private val ops = Workloads.ops(workload, template)
  private val tracer = new Tracer
  private val listener = new OpListener
  private lazy val heap = new HeapMonitor
  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private val traces = mutable.ArrayBuffer.empty[OpTrace]
  private val opNames = mutable.ArrayBuffer.empty[(Int, String, Int)]
  private val reference = mutable.Map.empty[String, Seq[Digest]]
  private val warmupErrors = mutable.Map.empty[String, String]
  private val sinkRoot = s"$out/sink"
  /** The JIT is still compiling after one pass: a first timed pass ran
    * about 15% slower than the third. Two untimed passes settle it. */
  private val WarmupPasses = 2
  /** Whole passes keep a mixed workload's query mix fixed, and the floor
    * keeps the sample count (and so the tail percentile) the same from run
    * to run when a pass is long. Four, not three: with 10 queries and n =
    * 10 x passes the tail is the (n - 10)-th sample, which at three passes
    * falls on the edge between two queries' latencies and jumps between
    * them, and at four falls inside one query's samples. */
  private val MinPasses = 4

  private def sinkDir(op: Op) = s"$sinkRoot/${op.name}"

  private def macros(op: Op): Map[String, String] =
    Map("inputFile" -> s"$data/purchases.csv", "outputDirectory" -> sinkDir(op))

  /** The pipeline, spelled out stage by stage so each layer gets its own
    * span; the same calls PipelineRunner.run makes. */
  private def runPipeline(p: PipelineOp): graft.pivot.PivotResult = {
    val pipe = tracer.span("sources.parse") { PipelineRunner.parse(p.json, macros(p)) }
    val input = tracer.span("sources.read") { PipelineRunner.readSource(spark, pipe.source) }
    val s = pipe.pivot
    val spec = tracer.span("pivot.parse") {
      PivotSpec.parse(s.pivotRow, s.pivotColumns, s.aggregates, s.fieldAliases,
        s.defaultValue, s.onError, s.numPartitions)
        .fold(e => throw new IllegalArgumentException(e.mkString("; ")), identity)
    }
    val result = tracer.span("pivot.pivot") { PivotOps.pivot(input, spec) }
    tracer.span("sources.write") { PipelineRunner.writeSink(result.main, pipe.sink) }
    result
  }

  private def readBack(p: PipelineOp): DataFrame = AvroSource.read(spark, sinkDir(p))

  /** One operation. Returns the timed seconds, the digest of its output
    * (computed after the clock stops for pipelines, whose output is in
    * files) and, when traced, the executed plan. */
  private def execute(op: Op): (Double, () => Seq[Digest], () => SparkPlan) = op match {
    case q: QueryOp =>
      val t0 = System.nanoTime()
      val df = tracer.span("ops.build") { q.fn(spark, data) }
      val d = tracer.span("ops.action") { RowHash.of(df) }
      ((System.nanoTime() - t0) / 1e9, () => Seq(d), () => df.queryExecution.executedPlan)
    case p: PipelineOp =>
      val t0 = System.nanoTime()
      val result = runPipeline(p)
      val dt = (System.nanoTime() - t0) / 1e9
      // The sink's own plan is not reachable from outside; execute the
      // pivot's result once more, untimed, to walk its final plan.
      (dt, () => Seq(RowHash.of(readBack(p))), () => {
        result.main.queryExecution.toRdd.count()
        result.main.queryExecution.executedPlan
      })
  }

  private def once(op: Op, pass: Int, traced: Boolean): Unit = {
    val opId = opNames.size
    opNames += ((opId, op.name, pass))
    tracer.enabled = traced
    tracer.beginOp(opId)
    if (traced) listener.begin()
    val gc0 = if (traced) heap.gcMillis else 0L
    val wall0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    val opSpan = tracer.spans.size
    val res =
      try Right(tracer.span("op") { execute(op) })
      catch { case e: Throwable => Left(e) }
    val wall1 = System.currentTimeMillis()
    res match {
      case Left(e) =>
        records += OpRecord(op.name, pass, traced, (System.nanoTime() - nano0) / 1e9,
          ok = false, 0, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      case Right((dt, digest, plan)) =>
        // Snapshot the scheduler's counters before the untimed check runs
        // jobs of its own.
        val snap = if (!traced) None else {
          BenchBus.drain(spark.sparkContext)
          val c = listener.current
          listener.begin()
          Some((c, heap.gcMillis - gc0))
        }
        val (ok, err) =
          try {
            val d = tracer.span("check") { digest() }
            if (reference.get(op.name).contains(d)) (true, null)
            else (false, s"output digest ${d.mkString(",")} != reference " +
              reference.get(op.name).map(_.mkString(",")).getOrElse("(none)"))
          } catch { case e: Throwable => (false, s"check failed: ${e.getMessage}".take(300)) }
        records += OpRecord(op.name, pass, traced, dt, ok, if (ok) rowsPerOp else 0, err)
        snap.foreach { case (c, gcMs) =>
          c.jobIntervals.foreach { case (s, e) =>
            tracer.add("spark.job", opSpan, nano0 + (s - wall0) * 1000000L, nano0 + (e - wall0) * 1000000L)
          }
          val walked = tracer.span("trace.planwalk") { PlanWalk(plan()) }
          val (bytes, files) = op match {
            case p: PipelineOp => outputSize(sinkDir(p))
            case _ => (0L, 0)
          }
          val wallMs = wall1 - wall0
          val idle = Stats.idleFraction(wall0, wall1, c.taskIntervals.toSeq) * wallMs
          traces += OpTrace(opId, op.isInstanceOf[PipelineOp], rowsPerOp, wallMs, idle, c,
            walked, gcMs, bytes, files)
          BenchBus.drain(spark.sparkContext)
          listener.begin()
        }
    }
  }

  private def outputSize(dir: String): (Long, Int) = {
    val files = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (files.map(_.length).sum, files.size)
  }

  private val collected = mutable.Map.empty[String, DataFrame]

  /** Untimed warmup passes: they compile the code paths and record each
    * operation's reference output digest, which must repeat from pass to
    * pass. Registry query results are kept (they are small) for the
    * oracle dump after the timed window. */
  private def warmup(): Unit = for (_ <- 1 to WarmupPasses; op <- ops) {
    try {
      val digest = op match {
        case q: QueryOp =>
          val df = q.fn(spark, data)
          val local = spark.createDataFrame(df.collect().toList.asJava, df.schema)
          collected(q.name) = local
          Seq(RowHash.of(local))
        case p: PipelineOp =>
          runPipeline(p)
          Seq(RowHash.of(readBack(p)))
      }
      reference.get(op.name).filter(_ != digest).foreach { first =>
        warmupErrors(op.name) = s"output changed between warmup passes: " +
          s"${first.mkString(",")} then ${digest.mkString(",")}"
      }
      reference(op.name) = digest
    } catch {
      case e: Throwable => warmupErrors(op.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
  }

  /** Write the verified registry outputs for run.py's DuckDB oracle check. */
  private def dumpForOracle(): Unit = collected.foreach { case (name, local) =>
    local.coalesce(1).write.mode("overwrite").parquet(s"$out/dump/$name")
  }

  /** Pipelines against an independent Spark spelling of the same cross-tab. */
  private def checkPipelines(): Map[String, String] = ops.collect { case p: PipelineOp =>
    val verdict =
      try {
        val expected = Workloads.expectedTall(spark, s"$data/purchases.csv")
        val got = readBack(p)
        val aligned =
          expected.select(got.schema.fields.map(f => col(s"`${f.name}`").cast(f.dataType)).toSeq: _*)
        val want = Seq(RowHash.of(aligned))
        if (reference.get(p.name).contains(want)) "ok"
        else s"pivot output ${reference.get(p.name).map(_.mkString(",")).orNull} != independent spelling ${want.mkString(",")}"
      } catch { case e: Throwable => s"independent check failed: ${e.getMessage}".take(300) }
    p.name -> verdict
  }.toMap

  def run(): Unit = {
    warmup()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val first = Instant.now()
    val setupS = (first.getEpochSecond * 1000000000L + first.getNano - jvmStartMs * 1000000L) / 1e9

    val windowStart = System.nanoTime()
    val deadline = windowStart + (seconds * 1e9).toLong
    var pass = 0
    // Traced runs order passes untraced, traced, traced, untraced (and
    // repeat), so JIT warm-up over the window favours neither side of
    // the overhead comparison.
    def tracedPass(p: Int) = trace && (p % 4 == 1 || p % 4 == 2)
    while (pass < MinPasses || System.nanoTime() < deadline || (trace && pass % 4 != 0)) {
      val traced = tracedPass(pass)
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        heap.active = true
      }
      ops.foreach(once(_, pass, traced))
      if (traced) {
        BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        heap.active = false
      }
      pass += 1
    }
    val timedS = (System.nanoTime() - windowStart) / 1e9

    val checks = checkPipelines()
    dumpForOracle()
    val oracle = ops.collect { case q: QueryOp =>
      q.name -> SparkEntry.oracleSql.getOrElse(q.name, null)
    }.toMap

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "passes" -> pass,
      "ops" -> records.toSeq,
      "reference" -> reference.map { case (k, v) => k -> v.mkString(",") }.toMap,
      "warmup_errors" -> warmupErrors.toMap,
      "pipeline_checks" -> checks,
      "oracle_sql" -> oracle)
    if (trace) {
      result("layers") = layers()
      writeSpans()
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(out, "result.json"), mapper.writeValueAsBytes(result))
  }

  /** Per-layer metrics over the traced operations (means per operation
    * unless the name says otherwise). */
  private def layers(): Map[String, Double] = {
    val all = traces.toSeq
    val piv = all.filter(_.pipeline)
    val qs = all.filterNot(_.pipeline)
    def perOp(xs: Seq[OpTrace])(f: OpTrace => Double): Double =
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    def ratio(xs: Seq[OpTrace])(num: OpTrace => Double, den: OpTrace => Double): Double = {
      val d = xs.map(den).sum
      if (d == 0) 0.0 else xs.map(num).sum / d
    }
    def span(name: String)(t: OpTrace): Double = tracer.seconds(t.op, name)
    val traced = records.filter(_.traced).map(_.seconds).sum
    val untraced = records.filterNot(_.traced).map(_.seconds).sum
    Map(
      "pivot.plan_ms" -> perOp(piv)(span("pivot.pivot")) * 1000,
      "pivot.agg_exprs" -> perOp(piv)(_.plan.aggExprs),
      "pivot.codegen_fallback_nodes" -> perOp(piv)(_.plan.codegenFallbackNodes),
      "pivot.combine_ratio" -> ratio(piv)(_.c.shuffleWriteRecords.toDouble, _.rows.toDouble),
      "pivot.shuffle_bytes_per_row" -> ratio(piv)(_.c.shuffleWriteBytes.toDouble, _.rows.toDouble),
      "pivot.spill_bytes" -> perOp(piv)(_.c.spillBytes.toDouble),
      "sources.input_bytes" -> perOp(piv)(_.c.inputBytes.toDouble),
      "sources.write_s" -> perOp(piv)(span("sources.write")),
      "sources.output_bytes" -> perOp(piv)(_.outputBytes.toDouble),
      "sources.output_files" -> perOp(piv)(_.outputFiles.toDouble),
      "ops.build_s" -> perOp(qs)(span("ops.build")),
      "ops.action_s" -> perOp(qs)(span("ops.action")),
      "ops.jobs" -> perOp(all)(_.c.jobs.toDouble),
      "ops.idle_frac" -> ratio(all)(_.idleMs, _.wallMs.toDouble),
      "ops.checkpoint_bytes" -> perOp(all)(_.c.rddBlockBytes.toDouble),
      "ops.exchanges" -> perOp(all)(_.plan.exchanges),
      "ops.smj" -> perOp(all)(_.plan.smj),
      "ops.bnlj" -> perOp(all)(_.plan.bnlj),
      "functions.native_exprs" -> perOp(all)(_.plan.nativeExprs),
      "functions.fallback_exprs" -> perOp(all)(_.plan.fallbackExprs),
      "functions.task_cpu_s" -> perOp(all)(_.c.executorCpuNs / 1e9),
      "spark.tasks" -> perOp(all)(_.c.tasks.toDouble),
      "spark.stages" -> perOp(all)(_.c.stages.toDouble),
      "spark.shuffle_read_bytes" -> perOp(all)(_.c.shuffleReadBytes.toDouble),
      "spark.executor_run_s" -> perOp(all)(_.c.executorRunMs / 1e3),
      "spark.gc_s" -> perOp(all)(_.gcMs / 1e3),
      "spark.peak_heap_mb" -> heap.peakAfterGcBytes / 1048576.0,
      "trace.overhead_frac" -> (if (untraced > 0) traced / untraced - 1 else 0.0),
      "trace.ops" -> all.size.toDouble,
      "trace.spans" -> tracer.spans.size.toDouble)
  }

  private def writeSpans(): Unit = {
    val names = opNames.map { case (id, n, p) => id -> (n, p) }.toMap
    val lines = tracer.spans.iterator.filter(_ != null).map { s =>
      val (op, pass) = names.getOrElse(s.opId, ("", -1))
      s"""{"id":${s.id},"name":"${s.name}","op_id":${s.opId},"op":"$op","pass":$pass,""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
    }
    Files.write(Paths.get(out, "spans.jsonl"), lines.toSeq.asJava)
  }
}
