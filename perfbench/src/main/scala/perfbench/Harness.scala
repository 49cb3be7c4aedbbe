package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM, `local[N]` with N cores.
  *
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --data DIR --queries FILE
  *
  * Set-up builds a session (plus `Sessions.init`) three times, keeps the
  * last one and runs the workload's untimed warm-up on it. Untraced runs
  * then time passes until `--seconds` have passed (at least one pass);
  * traced runs take one pass with spans around every engine call, and
  * compare it with the untraced passes of earlier runs in the same
  * checkout (or, without any, with one untraced pass of their own). An operation that throws or fails its output check
  * is counted as failed and never timed. The last stdout line is the
  * result JSON; everything before it is for people.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: String, queries: Path)

  /** One operation; `seconds` is None when it threw or failed its check. */
  final case class Op(name: String, seconds: Option[Double], error: String = "")

  type Metric = (String, Double, String)

  trait Workload {
    /** Run on every session set-up builds (part of set-up). */
    def perSession(spark: SparkSession): Seq[Op] = Nil

    /** Untimed warm-up on the kept session (part of set-up). */
    def warmUp(spark: SparkSession): Seq[Op]

    /** One timed pass. */
    def pass(spark: SparkSession): Seq[Op]

    /** Operations whose times feed the printed `op_p50_s` and `op_p90_s`. */
    def primary(op: Op): Boolean = true

    /** The pass with a span around every engine call: its operations and
      * the workload's per-layer metrics.
      */
    def tracedPass(spark: SparkSession, tracer: Tracer): (Seq[Op], Seq[Metric])

    /** The workload's own figures (such as `meertrap.run_s`), printed for people. */
    def report(passes: Seq[Seq[Op]]): Seq[Metric]
  }

  val SetupRounds = 3

  /** Every per-layer metric a traced run reports; one whose layer the
    * workload does not reach reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.run_summary.read_s" -> "s", "sources.spccl.read_s" -> "s",
    "sources.list_jobs" -> "count", "sources.files" -> "count", "sources.corrupt" -> "count",
    "sources.quarantined" -> "count", "sources.json_unique_ratio" -> "ratio",
    "meertrap.build_s" -> "s", "meertrap.build_jobs" -> "count", "meertrap.metrics_s" -> "s",
    "meertrap.asof_matched_ratio" -> "ratio") ++
    EtlDay.Names.map(n => s"load.parquet.write_s.$n" -> "s") ++ Seq(
    "load.parquet.rows" -> "count", "load.parquet.mb" -> "MB",
    "atnf.extract_s" -> "s", "atnf.transform_write_s" -> "s",
    "sessions.init_s" -> "s", "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.consume_s" -> "s", "core.rdd_blocks_left" -> "count", "queries.gate_s" -> "s") ++
    Tracer.Engine().metrics.map(m => m._1 -> m._3) ++
    Tracer.Layers.map(l => s"self_s.$l" -> "s") ++
    Seq("trace.pass_s" -> "s", "trace.overhead_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    Files.createDirectories(o.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val w: Workload = o.workload match {
      case "etl-day"       => new EtlDay(o)
      case "queries-light" => QueryPass.light(o)
      case "queries-heavy" => QueryPass.heavy(o)
      case other           => sys.error(s"unknown workload: $other")
    }

    // Set-up: the median of three session builds (each with the
    // workload's per-session step), plus one warm-up on the last session.
    var spark: SparkSession = null
    val warm = ArrayBuffer.empty[Op]
    val builds = (1 to SetupRounds).map { round =>
      val t0 = System.nanoTime()
      spark = graft.Sessions.init(graft.Sessions.builder(s"local[$cores]", cores)
        .config("spark.local.dir", o.work.resolve("spark-local").toString)
        .getOrCreate())
      spark.sparkContext.setLogLevel("WARN")
      warm ++= w.perSession(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (round < SetupRounds) spark.stop()
      dt
    }
    val w0 = System.nanoTime()
    warm ++= w.warmUp(spark)
    val setupS = median(builds) + (System.nanoTime() - w0) / 1e9

    val passes = ArrayBuffer.empty[Seq[Op]]
    var heapMb = 0.0
    def timedPass(): Unit = {
      passes += w.pass(spark)
      heapMb = heapMb max liveHeapMb(spark)
    }
    val metrics = ArrayBuffer.empty[Metric]
    val traced = ArrayBuffer.empty[Op]
    if (!o.trace) {
      // The window counts whole passes, failed ones too.
      val start = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < o.seconds) timedPass()
    } else {
      // Untraced reference: this checkout's earlier untraced passes if
      // there are any (a MeerTRAP day costs a minute), else one pass now.
      val past = history(o)
      val earlier = if (Files.exists(past)) Files.readAllLines(past).asScala.map(_.toDouble).toSeq else Nil
      val untraced = if (earlier.nonEmpty) median(earlier) else {
        timedPass()
        passes.head.flatMap(_.seconds).sum
      }
      val tracer = new Tracer(spark)
      tracer.start()
      val (ops, layerMetrics) = try w.tracedPass(spark, tracer) finally tracer.stop()
      traced ++= ops
      metrics ++= layerMetrics
      metrics ++= engineMetrics(tracer)
      val tracedS = tracer.spans.filter(_.parent.isEmpty).map(_.seconds).sum
      metrics += (("trace.pass_s", tracedS, "s"))
      metrics += (("trace.overhead_s", tracedS - untraced, "s"))
      writeSpans(o, tracer)
    }

    val all = warm ++ passes.flatten ++ traced
    val failed = all.count(_.seconds.isEmpty)
    all.filter(_.seconds.isEmpty).foreach(op => println(s"FAILED ${op.name}: ${op.error}"))
    val opTimes = passes.flatten.filter(w.primary).flatMap(_.seconds)
    val endToEnd = Seq[Metric](
      ("setup_s", setupS, "s"),
      ("pass_s", median(passes.map(_.flatMap(_.seconds).sum).toSeq), "s"),
      ("peak_heap_mb", heapMb, "MB"))
    // Per-operation percentiles are printed, not reported: over one short
    // pass they spread too much between runs to gate on.
    // A traced run that found earlier untraced passes has timed none itself.
    val shown = (if (passes.isEmpty) Nil else endToEnd ++ Seq(("op_p50_s", median(opTimes.toSeq), "s"),
      ("op_p90_s", percentile(opTimes.toSeq, 0.9), "s")) ++ w.report(passes.toSeq)) ++
      Seq(("fail_ratio", failed.toDouble / all.size, "ratio"))
    println(f"workload ${o.workload} seed ${o.seed} cores $cores passes ${passes.size} " +
      f"ops ${all.size} failed $failed set-up builds ${builds.map(b => f"$b%.2f").mkString(",")}")
    (shown ++ metrics).foreach { case (n, v, u) => println(f"  $n%-44s $v%14.4f $u") }
    val reported = if (!o.trace) endToEnd else {
      val got = metrics.map(m => m._1 -> m._2).toMap
      PerLayer.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
    }
    val json = reported.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    if (!o.trace && failed == 0) Files.write(history(o), s"${endToEnd(1)._2}\n".getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, """ +
      s""""metrics": {${json.mkString(", ")}}}""")
    spark.stop()
    if (failed > 0) sys.exit(2)
  }

  /** Untraced pass times of earlier runs in this checkout, one per line. */
  private def history(o: Opts): Path = {
    val f = o.work.getParent.resolve(s"history/${o.workload}.txt")
    Files.createDirectories(f.getParent)
    f
  }

  /** Engine totals over the traced pass, plus each layer's own time. */
  private def engineMetrics(tracer: Tracer): Seq[Metric] = {
    val perSpan = tracer.attribute()
    val total = perSpan.values.foldLeft(Tracer.Engine())(_ + _)
    total.metrics ++ Tracer.Layers.map { l =>
      (s"self_s.$l", tracer.spans.filter(_.layer == l).map(tracer.selfSeconds).sum, "s")
    }
  }

  /** Spans with their attributed engine counters, one JSON object per line. */
  private def writeSpans(o: Opts, tracer: Tracer): Unit = {
    val perSpan = tracer.attribute()
    val dir = o.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val lines = tracer.spans.map { s =>
      val e = perSpan(s.id).metrics.map { case (n, v, _) => s""""$n": ${num(v)}""" }
      s"""{"id": ${s.id}, "name": "${s.name}", "layer": "${s.layer}", """ +
        s""""parent": ${s.parent.getOrElse(-1)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""seconds": ${num(s.seconds)}, "self_s": ${num(tracer.selfSeconds(s))}, ${e.mkString(", ")}}"""
    }
    val file = dir.resolve(s"${o.workload}-seed${o.seed}.jsonl")
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    println(s"spans: ${tracer.spans.size} written to $file")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((math.ceil(p * xs.size).toInt - 1) max 0)

  /** Heap still live after a full collection. The second collection frees
    * what Spark's cleaner released after the first one.
    */
  private def liveHeapMb(spark: SparkSession): Double = {
    Tracer.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Times `body`; a throw or a failed check becomes a failed operation. */
  def timed(name: String)(body: => Unit)(check: => Option[String]): Op = {
    val t0 = System.nanoTime()
    try {
      body
      val dt = (System.nanoTime() - t0) / 1e9
      check match {
        case None      => progress(Op(name, Some(dt)))
        case Some(err) => progress(Op(name, None, err))
      }
    } catch {
      case scala.util.control.NonFatal(e) => progress(Op(name, None, e.toString.take(300)))
    }
  }

  /** Each finished operation goes to stderr, which `run.py` keeps as the run's log. */
  private def progress(op: Op): Op = {
    System.err.println(s"[perfbench] ${op.name} ${op.seconds.fold("FAILED " + op.error)(s => f"$s%.3f s")}")
    op
  }

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("data"), Paths.get(need("queries")))
  }
}
