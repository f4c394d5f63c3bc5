package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.api.FameSession
import graft.ast.{FameExpr, Frequency}
import graft.ast.FameExpr._
import graft.ast.FameStmt._
import graft.compile.ColumnCompiler
import graft.kernels.{Convert, Indices, Nlrx, ShiftPct}
import graft.parse.FameParser
import graft.plan.Scheduler
import graft.streaming.FameStream

/** One benchmark invocation: set up, run closed-loop iterations of one
  * workload for a fixed time, write the engine output the correctness check
  * reads, and leave every sample in `<work>/result.json`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --t0-ms EPOCH_MS
  * The inputs and the FAME script are already generated in DIR; `t0-ms` is
  * the wall clock at which set-up (input generation) started.
  */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      work: String, t0Ms: Long)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val a = Args(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("t0-ms").toLong)
    val spark = session(a.work)
    try run(spark, a) finally spark.stop()
  }

  /** local[N], shuffle partitions = N, GraftExtensions; every other setting
    * is the Spark default (ANSI on). N = min(4, cores) / 2 leaves cores to
    * the driver, the JIT and the collector, which keeps run-to-run timings
    * steadier than saturating every core. The UI is off and scratch space
    * stays in the work directory.
    */
  def session(work: String): SparkSession = {
    val n = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) / 2)
    SparkSession.builder().master(s"local[$n]").appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  val SetupRounds = 3

  def run(spark: SparkSession, a: Args): Unit = {
    val sessionReadyMs = System.currentTimeMillis()
    val w: Workload = a.workload match {
      case "fame_entities"    => new FameBatch(spark, a, Seq("ENTITY"))
      case "fame_long_script" => new FameBatch(spark, a, Nil)
      case "fame_stream"      => new Stream(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // staging is repeated and setup_s takes the median staging round; the
    // untimed warm-up iteration then runs once on the last staged copy
    val rounds = (0 until SetupRounds).map { r =>
      val t0 = System.nanoTime()
      w.stage(r)
      secs(t0, System.nanoTime())
    }
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = secs(w0, System.nanoTime())
    val firstTimedMs = System.currentTimeMillis()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val gc0 = gcMs

    val plain = new Samples
    val traced = new Samples
    // closed loop: the next iteration starts only after the previous one
    // committed, and only if it is expected to end inside the window (the
    // previous iteration's length is the estimate); a traced run needs at
    // least one untraced and one traced iteration
    val start = System.nanoTime()
    var last = 0.0
    var i = 0
    while (i == 0 || (a.trace && i < 2) ||
        secs(start, System.nanoTime()) + last <= a.seconds) {
      val it0 = System.nanoTime()
      w.attempted += 1
      try {
        tracer.filter(_ => i % 2 == 1) match {
          case Some(t) =>
            t.iter = i
            t.attach()
            try w.tracedIteration(i, t, traced) finally t.detach()
          case None => w.iterate(i, None, plain)
        }
      } catch {
        case e: Throwable => w.fail(s"iteration $i", e)
      }
      last = secs(it0, System.nanoTime())
      i += 1
    }
    val iters = i
    val gcTotal = gcMs - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    w.attempted += 1
    try w.writeCheck()
    catch { case e: Throwable => w.fail("check output", e) }

    val layers: Map[String, Double] = tracer.map { t =>
      w.layers.set("jvm.heap_peak_mb", heapPeakMb)
      w.layers.set("jvm.gc_ms", gcTotal.toDouble / iters)
      w.layers.set("trace.overhead_ratio",
        median(traced.run.toSeq) / median(plain.run.toSeq))
      val out = s"${a.work}/trace"
      Files.createDirectories(Paths.get(out))
      Files.write(Paths.get(out, "spans.jsonl"),
        t.toJsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      w.layers.result
    }.getOrElse(Map.empty)

    val result = Map(
      "attempted" -> w.attempted,
      "failed" -> w.failed,
      "errors" -> w.errors.toSeq,
      "iterations" -> iters,
      "session_s" -> (sessionReadyMs - a.t0Ms) / 1e3,
      "setup_rounds_s" -> rounds,
      "warmup_s" -> warmupS,
      "first_timed_s" -> (firstTimedMs - a.t0Ms) / 1e3,
      "samples" -> Map(
        "run_s" -> plain.run.toSeq, "compile_s" -> plain.compile.toSeq,
        "exec_s" -> plain.exec.toSeq, "batch_s" -> plain.batch.toSeq),
      "layers" -> layers)
    Files.write(Paths.get(a.work, "result.json"),
      Json(result).getBytes(StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------- helpers

  final class Samples {
    val run, compile, exec, batch = ArrayBuffer.empty[Double]
  }

  /** Per-layer values, one sample per traced iteration (or per batch);
    * reported as medians.
    */
  final class Layers {
    private val m = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def add(name: String, v: Double): Unit =
      m.getOrElseUpdate(name, ArrayBuffer.empty) += v
    def set(name: String, v: Double): Unit =
      m(name) = ArrayBuffer(v)
    def result: Map[String, Double] =
      m.map { case (k, v) => k -> median(v.toSeq) }.toMap
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def span[T](t: Option[Tracer], name: String)(body: => T): T =
    t match {
      case Some(tr) => tr.span(name)(body)
      case None     => body
    }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  def exprNodes(e: FameExpr): Int = e match {
    case Bin(_, l, r)   => 1 + exprNodes(l) + exprNodes(r)
    case Un(_, x)       => 1 + exprNodes(x)
    case Cond(c, t, f)  => 1 + exprNodes(c) + exprNodes(t) + exprNodes(f)
    case Call(_, args)  => 1 + args.map(exprNodes).sum
    case _              => 1
  }

  // ----------------------------------------------------------- workloads

  abstract class Workload(val spark: SparkSession, val a: Args) {
    val keys: Seq[String]
    val script: String = new String(
      Files.readAllBytes(Paths.get(a.work, "script.fame")), StandardCharsets.UTF_8)
    val layers = new Layers
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]

    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator
        .take(3).mkString(" | ")
      errors += s"$what: ${e.getClass.getSimpleName}: ${msg.take(400)}"
    }

    /** Set-up round `r`: stage the generated input in the engine's format. */
    def stage(r: Int): Unit
    def warmup(): Unit
    /** One closed-loop iteration: script plus input to a committed result. */
    def iterate(i: Int, t: Option[Tracer], s: Samples): Unit
    def tracedIteration(i: Int, t: Tracer, s: Samples): Unit
    def writeCheck(): Unit

    /** The whole input as one keyed (or unkeyed) monthly frame. */
    def history(): DataFrame
    def inputColumns: Seq[String] = history().columns.toSeq

    /** parse, plan and compile, called directly from outside the engine:
      * the same front-end work `FameSession.run` does before it builds.
      */
    def frontEnd(t: Tracer): (Double, Double) = {
      val stmts = t.span("parse")(FameParser.parseScript(script))
      val parse = t.spansNamed("parse").last
      layers.add("parse.ms", parse.ms)
      layers.set("parse.statements", stmts.size.toDouble)
      layers.set("parse.chars", script.length.toDouble)

      val pre = inputColumns.map(_.toUpperCase).toSet
      val (bounds, levels) = t.span("plan") {
        val b = Scheduler.bind(stmts, pre)
        (b, Scheduler.levels(b.filterNot(_.stmt.isInstanceOf[ConvertAssign]), pre))
      }
      val plan = t.spansNamed("plan").last
      layers.add("plan.ms", plan.ms)
      layers.set("plan.levels", levels.size.toDouble)
      layers.set("plan.max_level_width",
        levels.map(_.size).foldLeft(0)(math.max).toDouble)

      val ctx = ColumnCompiler.Ctx("DATE", keys,
        scalars = stmts.collect { case ScalarAssign(n, _) => n -> (1.0: Any) }.toMap,
        refMap = stmts.collect { case c: ConvertAssign =>
          c.target -> (c.source + c.freq.suffix) }.toMap,
        lookup = (_, _) => 1.0)
      val exprs = bounds.map(_.stmt).collect { case Assign(_, e, _, _) => e }
      t.span("compile")(exprs.foreach(ColumnCompiler.compile(_, ctx)))
      layers.add("compile.ms", t.spansNamed("compile").last.ms)
      layers.set("compile.expr_nodes", exprs.map(exprNodes).sum.toDouble)
      (parse.ms, plan.ms)
    }

    /** `FameSession.run` → forced executed plan → noop sink, with the api,
      * catalyst and exec layers recorded when traced.
      */
    def fameRun(in: DataFrame, t: Option[Tracer], s: Option[Samples],
        parsePlanMs: Double = 0.0): Unit = {
      val t0 = System.nanoTime()
      val df = span(t, "api")(FameSession.run(script, in, partitionKeys = keys).df)
      span(t, "catalyst")(df.queryExecution.executedPlan)
      val t1 = System.nanoTime()
      span(t, "exec")(sink(df))
      val t2 = System.nanoTime()
      s.foreach { s =>
        s.compile += secs(t0, t1); s.exec += secs(t1, t2); s.run += secs(t0, t2)
        // a batch workload commits one batch per iteration
        s.batch += secs(t0, t2)
      }
      t.foreach { t =>
        val api = t.spansNamed("api").last
        layers.add("api.build_ms", api.ms)
        layers.add("api.build_jobs", t.jobsOf(api).size.toDouble)
        layers.add("api.build_job_ms", t.jobMs(api))
        layers.add("api.build_driver_ms", api.ms - t.jobMs(api) - parsePlanMs)

        val qe = df.queryExecution
        val phases = qe.tracker.phases
        def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        layers.add("catalyst.analysis_ms", phase("analysis"))
        layers.add("catalyst.optimization_ms", phase("optimization"))
        layers.add("catalyst.planning_ms", phase("planning"))
        layers.add("catalyst.logical_nodes",
          qe.optimizedPlan.collect { case p => p }.size.toDouble)
        val exec = t.spansNamed("exec").last
        val sunk = t.qesOf(exec).lastOption.map(_._2.executedPlan)
        layers.add("catalyst.physical_nodes", sunk.map(PlanShape.nodes).getOrElse(0).toDouble)
        layers.add("catalyst.exchanges", sunk.map(PlanShape.exchanges).getOrElse(0).toDouble)
        layers.add("catalyst.windows", sunk.map(PlanShape.windows).getOrElse(0).toDouble)
        layers.add("catalyst.codegen_stages",
          sunk.map(PlanShape.codegenStages).getOrElse(0).toDouble)

        val st = t.stagesOf(exec)
        layers.add("exec.ms", exec.ms)
        layers.add("exec.jobs", t.jobsOf(exec).size.toDouble)
        layers.add("exec.stages", st.size.toDouble)
        layers.add("exec.tasks", st.map(_.tasks).sum.toDouble)
        layers.add("exec.task_ms", st.map(_.runMs).sum.toDouble)
        layers.add("exec.shuffle_write_bytes", st.map(_.shuffleWrite).sum.toDouble)
        layers.add("exec.shuffle_read_bytes", st.map(_.shuffleRead).sum.toDouble)
        layers.add("exec.spill_bytes", st.map(_.spill).sum.toDouble)
        layers.add("exec.driver_gap_ms", t.driverGapMs(exec))
      }
    }

    /** Level series the kernels run on, renamed to the kernel-facing names
      * (REV, CNT and the two goods A/PA, B/PB).
      */
    def kernelInput(): DataFrame

    /** Each kernel called directly on this workload's input and sunk. */
    def kernels(t: Tracer): Unit = {
      val in = kernelInput()
      val base = LocalDate.of(1996, 1, 1)
      def k(name: String)(df: => DataFrame): Unit = {
        t.span(s"kernels.$name")(sink(df))
        val sp = t.spansNamed(s"kernels.$name").last
        layers.add(s"kernels.${name}_ms", sp.ms)
        layers.add(s"kernels.${name}_jobs", t.jobsOf(sp).size.toDouble)
        layers.add(s"kernels.${name}_shuffle_bytes",
          t.stagesOf(sp).map(_.shuffleWrite).sum.toDouble)
      }
      k("convert") {
        val q = Convert.down(in, "DATE", Seq("REV"), Frequency.Monthly,
          Frequency.Quarterly, "sum", keys)
        Convert.up(q, "DATE", Seq("REV"), Frequency.Quarterly, Frequency.Monthly,
          "constant", keys)
      }
      k("chain")(Indices.chain(in, "DATE", Seq(1 -> "A", 1 -> "B"), 1996, "X", keys))
      k("nlrx")(Nlrx.HpSmoother.grouped(in, "DATE", "SM", 1600.0, Seq("REV"), keys))
      k("shiftpct")(ShiftPct.backwards(in.withColumn("LVL", col("REV")), "DATE",
        Seq("LVL" -> "CNT"), Some(base), LocalDate.of(1997, 6, 1), keys))
    }
  }

  /** fame_entities (keyed) and fame_long_script (unkeyed). */
  final class FameBatch(spark: SparkSession, a: Args, val keys: Seq[String])
      extends Workload(spark, a) {
    private var staged = ""

    def stage(r: Int): Unit = {
      if (staged.nonEmpty) deleteTree(staged)
      staged = s"${a.work}/staged/r$r"
      val raw = spark.read.parquet(s"${a.work}/input.parquet")
      val parts =
        if (keys.isEmpty) raw.coalesce(1)
        else raw.repartition(
          spark.conf.get("spark.sql.shuffle.partitions").toInt, keys.map(col): _*)
      parts.write.parquet(staged)
    }

    def history(): DataFrame = spark.read.parquet(staged)

    /** Four iterations: with fewer, the first timed iterations still ran
      * up to 20% slower than the rest while the JIT settled.
      */
    def warmup(): Unit = (1 to 4).foreach(_ => fameRun(history(), None, None))

    def iterate(i: Int, t: Option[Tracer], s: Samples): Unit =
      fameRun(history(), t, Some(s))

    def tracedIteration(i: Int, t: Tracer, s: Samples): Unit = {
      val (parseMs, planMs) = frontEnd(t)
      fameRun(history(), Some(t), Some(s), parseMs + planMs)
      kernels(t)
    }

    def kernelInput(): DataFrame = {
      val in = history()
      if (keys.nonEmpty) in
      else in.select(col("DATE"), col("S01").as("REV"), col("S02").as("CNT"),
        col("S03").as("A"), col("S04").as("PA"), col("S05").as("B"),
        col("S06").as("PB"))
    }

    def writeCheck(): Unit =
      FameSession.run(script, history(), partitionKeys = keys).df
        .write.parquet(s"${a.work}/check")
  }

  /** fame_stream: `FameStream.runIncremental` over a file source that
    * receives one chunk at a time; the next chunk lands only after the
    * previous batch has committed.
    */
  final class Stream(spark: SparkSession, a: Args) extends Workload(spark, a) {
    val keys = Seq("KEY")
    private var staged = ""
    private var chunkFiles: Seq[String] = Nil
    private var chunkRows: Seq[Long] = Nil
    private var schema: StructType = _
    private var checkSaved = false

    /** Re-writes every generated chunk as one parquet file, in one job. */
    def stage(r: Int): Unit = {
      if (staged.nonEmpty) deleteTree(staged)
      staged = s"${a.work}/staged/r$r"
      val raw = spark.read.parquet(s"${a.work}/chunks")
      raw.repartition(col("chunk")).write.partitionBy("chunk").parquet(staged)
      val dirs = new File(staged).listFiles().filter(_.getName.startsWith("chunk="))
        .sortBy(_.getName.stripPrefix("chunk=").toInt)
      chunkFiles = dirs.toSeq.map(_.listFiles().map(_.getPath)
        .filter(p => p.endsWith(".parquet")).head)
      schema = StructType(raw.schema.filterNot(_.name == "chunk"))
      chunkRows = raw.groupBy("chunk").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).map(_._2).toSeq
    }

    def history(): DataFrame = spark.read.schema(schema).parquet(chunkFiles: _*)
    override def inputColumns: Seq[String] = schema.fieldNames.toSeq

    def warmup(): Unit = {
      val dir = s"${a.work}/warmup"
      stream(dir, chunkFiles.take(2), None, None)
      deleteTree(dir)
    }

    /** Script text to a started incremental query: the tier check, then
      * `runIncremental` until the query runs.
      */
    private def start(dir: String): org.apache.spark.sql.streaming.StreamingQuery = {
      FameStream.incrementalPlan(script, partitioned = true,
          Some(schema.fieldNames.toSet)) match {
        case Left(reason) => throw new IllegalStateException(
          s"script refused by the incremental tier: $reason")
        case Right(_) =>
      }
      val src = Paths.get(dir, "src")
      Files.createDirectories(src)
      FameStream.runIncremental(
        spark.readStream.schema(schema).parquet(src.toString), script,
        s"$dir/bronze", s"$dir/result", partitionKeys = keys,
        checkpointDir = Some(s"$dir/ckpt"))
    }

    /** Query starts are short, so each iteration times a few extra starts
      * on an empty source (stopped at once) before the real one; compile_s
      * is the median of all of them.
      */
    val StartProbes = 8

    /** One whole stream: start, land every chunk, stop. */
    private def stream(dir: String, chunks: Seq[String], t: Option[Tracer],
        s: Option[Samples]): Unit = {
      if (s.isDefined) (1 to StartProbes).foreach { p =>
        val t0 = System.nanoTime()
        val q = start(s"$dir/probe-$p")
        s.get.compile += secs(t0, System.nanoTime())
        q.stop()
      }
      val t0 = System.nanoTime()
      val q = start(dir)
      val t1 = System.nanoTime()
      val src = Paths.get(dir, "src")
      try {
        chunks.zipWithIndex.foreach { case (c, k) =>
          val landing = src.resolve(s".landing-$k")
          Files.copy(Paths.get(c), landing)
          if (s.isDefined) attempted += 1
          val b0 = System.nanoTime()
          try span(t, "streaming.batch") {
            Files.move(landing, src.resolve(f"chunk-$k%02d.parquet"),
              StandardCopyOption.ATOMIC_MOVE)
            q.processAllAvailable()
          } catch {
            case e: Throwable => if (s.isDefined) fail(s"batch $k", e); throw e
          }
          s.foreach(_.batch += secs(b0, System.nanoTime()))
        }
      } finally q.stop()
      val t2 = System.nanoTime()
      s.foreach { s =>
        s.compile += secs(t0, t1); s.exec += secs(t1, t2); s.run += secs(t0, t2)
      }
    }

    def iterate(i: Int, t: Option[Tracer], s: Samples): Unit = {
      val dir = s"${a.work}/iter/$i"
      stream(dir, chunkFiles, t, Some(s))
      t.foreach(batchLayers(dir, _))
      // the first completed stream's emitted rows are what the check reads
      if (!checkSaved) {
        Files.move(Paths.get(dir, "result"), Paths.get(a.work, "check"))
        checkSaved = true
      }
      deleteTree(dir)
    }

    /** Per-batch figures read back from the stream's own outputs. */
    private def batchLayers(dir: String, t: Tracer): Unit = {
      def countsBy(path: String, part: String): Map[Long, Long] =
        if (!new File(path).exists()) Map.empty
        else spark.read.parquet(path).groupBy(col(part)).count().collect()
          .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
      val emitted = countsBy(s"$dir/result", "batch")
      val carry = countsBy(s"$dir/bronze/_tail", "v")
      val stateDir = new File(s"$dir/bronze/_state")
      val state = Option(stateDir.listFiles()).toSeq.flatten
        .map(d => countsBy(d.getPath, "v"))
        .foldLeft(Map.empty[Long, Long]) { (acc, m) =>
          m.foldLeft(acc) { case (x, (k, v)) => x.updated(k, x.getOrElse(k, 0L) + v) }
        }
      val batches = t.spansNamed("streaming.batch").filter(_.iter == t.iter)
      var cumIn = 0L
      var cumOut = 0L
      batches.zipWithIndex.foreach { case (b, k) =>
        val in = chunkRows(k)
        val out = emitted.getOrElse(k.toLong, 0L)
        cumIn += in; cumOut += out
        val prevCarry = if (k == 0) 0L else carry.getOrElse(k - 1L, 0L)
        val st = t.stagesOf(b)
        layers.add("streaming.batch_ms", b.ms)
        layers.add("streaming.jobs_per_batch", t.jobsOf(b).size.toDouble)
        layers.add("streaming.bytes_written_per_batch",
          st.map(_.bytesWritten).sum.toDouble)
        layers.add("streaming.rows_in", in.toDouble)
        layers.add("streaming.rows_emitted", out.toDouble)
        layers.add("streaming.rows_held", (cumIn - cumOut).toDouble)
        layers.add("streaming.carry_rows", carry.getOrElse(k.toLong, 0L).toDouble)
        layers.add("streaming.state_rows", state.getOrElse(k.toLong, 0L).toDouble)
        layers.add("streaming.reeval_ratio", (prevCarry + in).toDouble / in)
      }
    }

    def tracedIteration(i: Int, t: Tracer, s: Samples): Unit = {
      iterate(i, Some(t), s)
      // the stream's script as one batch run over the whole history: the
      // api/catalyst/exec path every micro-batch reuses
      val (parseMs, planMs) = frontEnd(t)
      fameRun(history(), Some(t), None, parseMs + planMs)
      kernels(t)
    }

    def kernelInput(): DataFrame =
      history().select(col("KEY"), col("DATE"), col("REV"), col("CNT"),
        col("REV").as("A"), col("CNT").as("PA"), col("CNT").as("B"),
        col("REV").as("PB"))

    def writeCheck(): Unit =
      if (!checkSaved) throw new IllegalStateException("no stream completed")
  }

  // ---------------------------------------------------------------- json

  object Json {
    def apply(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      case m: Map[_, _] =>
        m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
          .mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
      case other => apply(other.toString)
    }
  }
}
