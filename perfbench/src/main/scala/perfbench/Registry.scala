package perfbench

import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import graft.{GraftQuery, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch side: registry queries, each timed on its first execution
  * in one session, materialized by a `noop` write of every column. */
object Registry {

  /** Every `Stride`-th query of the registry, in registry order: a
    * sample that spans every query family, sized so the timed phase
    * takes about twenty seconds on four cores. q166 is left out because
    * it persists a bucketed corpus under a fixed path outside the
    * working directory. */
  val Stride = 11
  val Excluded = Set("q166_snapshot_diff")

  def selected: Seq[GraftQuery] =
    SparkEntry.registry.filterNot(q => Excluded(q.name)).zipWithIndex
      .collect { case (q, i) if i % Stride == 0 => q }

  final case class Outcome(name: String, wallMs: Double, digest: String, error: Option[String])

  /** Order-independent digest over every column: the row count and the
    * sum of a 64-bit hash of each row's text. Rows are collected to the
    * driver; registry outputs are small. */
  def digest(df: DataFrame): String = {
    val rows = df.collect()
    val total = rows.iterator.map { r =>
      val s = r.toString
      (BigInt(MurmurHash3.stringHash(s, 0x3c074a61)) << 32) + (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
    }.sum
    s"${rows.length}:$total"
  }

  /** Run `queries` in order. A query that throws is not timed. The
    * digest is taken after the timed write, outside the query's spans. */
  def run(spark: SparkSession, dir: String, queries: Seq[GraftQuery], tracer: Tracer, measured: Measured,
      afterEach: () => Unit = () => ()): Seq[Outcome] = {
    val sc = spark.sparkContext
    queries.map { q =>
      tracer.trace = q.name
      sc.setJobGroup(s"build:${q.name}", q.name)
      val outcome =
        try {
          val t0 = tracer.nowMs
          val df = measured(tracer.span("query") {
            val built = tracer.span("query.build")(q.run(spark, dir))
            sc.setJobGroup(s"exec:${q.name}", q.name)
            tracer.span("query.exec")(built.write.format("noop").mode("overwrite").save())
            built
          })
          val wallMs = tracer.nowMs - t0
          sc.setJobGroup(s"check:${q.name}", q.name)
          Outcome(q.name, wallMs, digest(df), None)
        } catch {
          case NonFatal(e) =>
            Outcome(q.name, Double.NaN, "", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      sc.clearJobGroup()
      afterEach()
      outcome
    }
  }

  /** Failed outputs: a query that threw, or whose digest differs from the
    * recorded one (a query with no recorded digest fails too). */
  def failures(outcomes: Seq[Outcome], expected: Map[String, String]): Seq[String] =
    outcomes.flatMap { o =>
      o.error.map(e => s"${o.name} threw $e").orElse(
        if (!expected.get(o.name).contains(o.digest))
          Some(s"${o.name} digest ${o.digest} != recorded ${expected.getOrElse(o.name, "<none>")}")
        else None)
    }

  def readDigests(path: java.nio.file.Path): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(path).asScala.map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(n, d) = l.split("\t"); n -> d }.toMap
  }
}
