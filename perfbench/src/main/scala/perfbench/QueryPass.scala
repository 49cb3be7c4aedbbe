package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import Harness.{Metric, Op, Opts, timed}

/** A pass over registered queries, each run the way `graft.Bench` runs it:
  * `SparkEntry.queries(name)(spark, dir).count()`, with the session's
  * cache cleared and a full GC after each one (untimed, as `graft.Bench`
  * does; without the GC the figures spread far more).
  * A query whose row count differs from the one recorded in
  * `queries.json` counts as failed.
  */
final class QueryPass(o: Opts, label: String, names: Seq[String], warm: Seq[String],
                      expected: Map[String, Long]) extends Harness.Workload {

  private def run(spark: SparkSession, name: String): Op = {
    var rows = -1L
    val op = timed(name) {
      rows = graft.SparkEntry.queries(name)(spark, o.data).count()
    }(if (rows == expected(name)) None else Some(s"rows=$rows expected ${expected(name)}"))
    spark.catalog.clearCache()
    System.gc()
    op
  }

  def warmUp(spark: SparkSession): Seq[Op] = warm.map(run(spark, _))

  def pass(spark: SparkSession): Seq[Op] = names.map(run(spark, _))

  def tracedPass(spark: SparkSession, tr: Tracer): (Seq[Op], Seq[Metric]) = {
    val inits = ArrayBuffer.empty[Double]
    var blocksLeft = 0L
    var gate = 0.0
    val ops = tr.span(label, "pass") {
      names.map { name =>
        inits += { val t0 = System.nanoTime(); tr.span(s"sessions.init:$name", "sessions")(
          graft.Sessions.init(spark)); (System.nanoTime() - t0) / 1e9 }
        var rows = -1L
        val op = timed(name) {
          val df = tr.span(s"queries.build:$name", "queries")(graft.SparkEntry.queries(name)(spark, o.data))
          rows = tr.span(s"queries.consume:$name", "queries")(df.count())
        }(if (rows == expected(name)) None else Some(s"rows=$rows expected ${expected(name)}"))
        Tracer.drain(spark.sparkContext)
        blocksLeft += spark.sparkContext.getPersistentRDDs.size
        spark.catalog.clearCache()
        // The gate's cost: the registered query minus its gate-free variant.
        for (serving <- graft.SparkEntry.servingQueries.get(name); full <- op.seconds) {
          val t0 = System.nanoTime()
          tr.span(s"gate.serving:$name", "gate")(serving(spark, o.data).count())
          gate += full - (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
        }
        System.gc()
        op
      }
    }
    val engine = tr.attribute()
    def total(prefix: String) = tr.spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    val buildJobs = tr.spans.filter(_.name.startsWith("queries.build:")).map(s => engine(s.id).jobs).sum
    (ops, Seq[Metric](
      ("sessions.init_s", Harness.median(inits.toSeq), "s"),
      ("queries.build_s", total("queries.build:"), "s"),
      ("queries.build_jobs", buildJobs.toDouble, "count"),
      ("queries.consume_s", total("queries.consume:"), "s"),
      ("core.rdd_blocks_left", blocksLeft.toDouble, "count"),
      ("queries.gate_s", gate, "s")))
  }

  def report(passes: Seq[Seq[Op]]): Seq[Metric] = {
    val times = passes.flatten.flatMap(_.seconds)
    val short = label.stripPrefix("queries-")
    Seq((s"$short.query_p50_s", Harness.median(times), "s"),
      (s"$short.query_p90_s", Harness.percentile(times, 0.9), "s"),
      (s"$short.query_max_s", if (times.isEmpty) 0.0 else times.max, "s"),
      (s"$short.pass_s", Harness.median(passes.map(_.flatMap(_.seconds).sum)), "s"),
      (s"$short.queries", names.size.toDouble, "count"))
  }
}

object QueryPass {
  private def spec(o: Opts) = new com.fasterxml.jackson.databind.ObjectMapper().readTree(o.queries.toFile)

  private def list(o: Opts, key: String): Seq[String] = spec(o).get(key).elements().asScala.map(_.asText).toSeq

  private def rows(o: Opts): Map[String, Long] =
    spec(o).get("rows").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  /** The sub-second queries, in an order set by the seed; the warm-up is
    * the same pass.
    */
  def light(o: Opts): QueryPass = {
    val names = new scala.util.Random(o.seed).shuffle(list(o, "light"))
    new QueryPass(o, "queries-light", names, names, rows(o))
  }

  /** The three slowest gated pipelines, in a fixed order; the warm-up is a
    * few light queries.
    */
  def heavy(o: Opts): QueryPass =
    new QueryPass(o, "queries-heavy", list(o, "heavy"), list(o, "heavy_warmup"), rows(o))
}
