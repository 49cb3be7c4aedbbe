package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.atnf.AtnfTransform
import graft.meertrap.MeertrapPipeline
import graft.sources.{RunSummarySource, SpcclSource}
import Harness.{Metric, Op, Opts, timed}

/** The paper's daily ingest: `meertrap.Main.run --out` over a generated
  * day partition, then `atnf.Main.run --out` over a generated catalogue
  * snapshot. Every pass (warm-up and traced ones too) reads a partition
  * and a snapshot the session has never listed, and writes to fresh
  * output directories, like a real daily run.
  */
final class EtlDay(o: Opts) extends Harness.Workload {
  import EtlDay._

  private val archive = o.work.resolve("archive")
  private var nextDay = 0

  private final case class Day(key: String, truth: DayGen.Truth, snapshot: Path, out: Path)

  private def freshDay(): Day = {
    val i = nextDay
    nextDay += 1
    val (key, truth) = DayGen.day(archive, o.seed, i, Shape)
    val snapshot = DayGen.atnfSnapshot(o.work.resolve(s"atnf/$key"), o.seed + i, Pulsars)
    Day(key, truth, snapshot, o.work.resolve(s"out/$key"))
  }

  /** A MeerTRAP run costs over a minute whatever the day's size, so set-up
    * warms each session with an ATNF run only.
    */
  override def perSession(spark: SparkSession): Seq[Op] = Seq(atnfRun(spark, freshDay()))

  def warmUp(spark: SparkSession): Seq[Op] = Nil

  override def primary(op: Op): Boolean = op.name == "meertrap.run"

  def pass(spark: SparkSession): Seq[Op] = {
    val d = freshDay()
    val printed = new ByteArrayOutputStream()
    val conf = spark.sparkContext.hadoopConfiguration
    val meertrap = timed("meertrap.run") {
      Console.withOut(new PrintStream(printed, true, "UTF-8")) {
        graft.meertrap.Main.run(spark, graft.meertrap.Main.Args(
          input = archive.toString, partitionKey = d.key, out = Some(d.out.resolve("meertrap").toString)))
      }
    }(checkMeertrap(d, printed.toString("UTF-8"), conf))
    Seq(meertrap, atnfRun(spark, d))
  }

  private def atnfRun(spark: SparkSession, d: Day): Op = timed("atnf.run") {
    graft.atnf.Main.run(spark, graft.atnf.Main.Args(
      snapshot = d.snapshot.toString, out = Some(d.out.resolve("atnf").toString)))
  }(checkRows("atnf", parquet(d.out.resolve("atnf"), spark.sparkContext.hadoopConfiguration)._1,
    Pulsars.toLong))

  /** `Main.run`'s body, one span per engine call; the sources are read
    * once more up front so their listing and resolution get a span.
    */
  def tracedPass(spark: SparkSession, tr: Tracer): (Seq[Op], Seq[Metric]) = {
    val d = freshDay()
    val dir = archive.resolve(d.key).toString
    val conf = spark.sparkContext.hadoopConfiguration
    var rs: RunSummarySource.Result = null
    var sp: SpcclSource.Result = null
    var metricsOut = Map.empty[String, Long]
    val writeSpans = Map.newBuilder[String, Tracer.Span]
    val meertrap = timed("meertrap.run") {
      tr.span("meertrap.run", "meertrap") {
        rs = tr.span("sources.run_summary.read", "sources")(RunSummarySource.read(spark, dir))
        sp = tr.span("sources.spccl.read", "sources")(SpcclSource.read(spark, dir))
        val out = tr.span("meertrap.build", "meertrap")(
          MeertrapPipeline.run(spark, dir, None, partitionKey = d.key))
        outputs(out).foreach { case (name, df) =>
          tr.span(s"load.parquet.write.$name", "load")(
            df.write.mode("overwrite").parquet(d.out.resolve(s"meertrap/$name").toString))
          writeSpans += name -> tr.spans.last
        }
        metricsOut = tr.span("meertrap.metrics", "meertrap")(MeertrapPipeline.metrics(out))
      }
    }(checkMeertrap(d, metricsLine(metricsOut), conf))
    val atnf = timed("atnf.run") {
      tr.span("atnf.run", "atnf") {
        val extracted = tr.span("atnf.extract", "atnf")(
          AtnfTransform.extract(spark, d.snapshot.toString, new java.sql.Timestamp(0L)))
        tr.span("atnf.transform_write", "atnf")(AtnfTransform.transform(extracted)
          .write.mode("overwrite").parquet(d.out.resolve("atnf").toString))
      }
    }(checkRows("atnf", parquet(d.out.resolve("atnf"), conf)._1, Pulsars.toLong))

    // Counts read after the traced spans close, so they are not attributed.
    val engine = tr.attribute()
    def seconds(name: String) = tr.spans.filter(_.name == name).map(_.seconds).sum
    def jobs(layerPrefix: String) =
      tr.spans.filter(_.name.startsWith(layerPrefix)).map(s => engine(s.id).jobs).sum.toDouble
    val jsonFiles = if (rs == null) 0 else rs.parsed.inputFiles.length
    val spcclFiles = if (sp == null) 0 else sp.parsed.inputFiles.length
    val uniqueGood = if (rs == null) 0L else rs.parsed.count()
    val written = Names.map(n => parquet(d.out.resolve(s"meertrap/$n"), conf))
    val cands = spark.read.parquet(d.out.resolve("meertrap/candidate").toString)
    val matched = cands.where(col("beam_id").isNotNull).count().toDouble / (cands.count() max 1L)
    val metrics = Seq[Metric](
      ("sources.run_summary.read_s", seconds("sources.run_summary.read"), "s"),
      ("sources.spccl.read_s", seconds("sources.spccl.read"), "s"),
      ("sources.list_jobs", jobs("sources."), "count"),
      ("sources.files", (jsonFiles + spcclFiles).toDouble, "count"),
      ("sources.corrupt", metricsOut.getOrElse("corrupt_run_summaries", 0L).toDouble, "count"),
      ("sources.quarantined", metricsOut.getOrElse("quarantined_spccl", 0L).toDouble, "count"),
      ("sources.json_unique_ratio",
        (uniqueGood + metricsOut.getOrElse("corrupt_run_summaries", 0L)).toDouble / (jsonFiles max 1),
        "ratio"),
      ("meertrap.build_s", seconds("meertrap.build"), "s"),
      ("meertrap.build_jobs", jobs("meertrap.build"), "count"),
      ("meertrap.metrics_s", seconds("meertrap.metrics"), "s"),
      ("meertrap.asof_matched_ratio", matched, "ratio"),
      ("load.parquet.rows", written.map(_._1).sum.toDouble, "count"),
      ("load.parquet.mb", written.map(_._2).sum / 1048576.0, "MB"),
      ("atnf.extract_s", seconds("atnf.extract"), "s"),
      ("atnf.transform_write_s", seconds("atnf.transform_write"), "s")) ++
      writeSpans.result().toSeq.sortBy(_._1).map { case (n, s) => (s"load.parquet.write_s.$n", s.seconds, "s") }
    (Seq(meertrap, atnf), metrics)
  }

  def report(passes: Seq[Seq[Op]]): Seq[Metric] = {
    def med(name: String) = Harness.median(passes.flatten.filter(_.name == name).flatMap(_.seconds))
    Seq(("meertrap.run_s", med("meertrap.run"), "s"), ("atnf.run_s", med("atnf.run"), "s"),
      ("etl.days", passes.size.toDouble, "count"))
  }

  private def checkMeertrap(d: Day, printed: String, conf: Configuration): Option[String] = {
    val got = printed.linesIterator.find(_.startsWith("[meertrap-metrics] ")).toSeq
      .flatMap(_.stripPrefix("[meertrap-metrics] ").split(' ').toSeq)
      .map(_.split('=')).collect { case Array(k, v) => k -> v.toLong }.toMap
    val rows = Names.map(n => n -> parquet(d.out.resolve(s"meertrap/$n"), conf)._1).toMap
    val bad = (d.truth.metrics.toSeq.filter { case (k, v) => !got.get(k).contains(v) }
      .map { case (k, v) => s"metric $k=${got.getOrElse(k, "missing")} expected $v" } ++
      d.truth.writtenRows.toSeq.filter { case (k, v) => rows(k) != v }
        .map { case (k, v) => s"$k rows=${rows(k)} expected $v" })
    if (bad.isEmpty) None else Some(s"${d.key}: ${bad.mkString("; ")}")
  }

  private def checkRows(what: String, got: Long, expected: Long): Option[String] =
    if (got == expected) None else Some(s"$what rows=$got expected $expected")
}

object EtlDay {
  /** Bundles per day partition and pulsars per catalogue snapshot. */
  val Shape = DayGen.Shape(bundles = 120)
  val Pulsars = 3700

  /** The five frames `meertrap.Main.run --out` writes, in its order. */
  val Names = Seq("observation", "beam", "candidate", "corrupt_run_summaries", "quarantined_spccl")

  def outputs(out: MeertrapPipeline.Output): Seq[(String, DataFrame)] = Names.zip(Seq(
    out.observation.obs, out.observation.beam, out.candidates, out.corruptRunSummaries,
    out.quarantinedSpccl))

  /** The line `Main.run` prints, rebuilt from `MeertrapPipeline.metrics`. */
  def metricsLine(m: Map[String, Long]): String =
    "[meertrap-metrics] " + m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")

  /** Rows (from the footers) and bytes of the parquet files under `dir`. */
  def parquet(dir: Path, conf: Configuration): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L)
    else {
      val listing = Files.list(dir)
      val files = try listing.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
                  finally listing.close()
      val rows = files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }
      (rows.sum, files.map(Files.size).sum)
    }
}
