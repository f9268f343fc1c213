package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Analytics, Analytics2, Curation, Curation2, Curation3, Curation4, Curation5, Curation6, Curation7, Curation8, Curation9, Curation10, Curation11, Curation12, Curation13, Curation14, Curation15, Curation16, Curation17, Dedup, Media, Media2, Relational, Relational2, Relational3, Relational4, Similarity, Similarity2, TextOps, TextOps2}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 that has a batch-relational surface
  * is registered here; where the semantics are ANSI-expressible the
  * matching DuckDB oracle SQL is provided (same output column names, so
  * the driver's sorted-column hash compare lines up). Streaming-only
  * surfaces (Pipeline DSL, stateful intersections, sinks) are covered by
  * ScalaTest specs instead — they have no SQL twin.
  */
object SparkEntry {

  // Numbering note: the registry has no `q71` — the id was skipped when
  // TextOps2 was numbered in round 3 and never back-filled (renumbering
  // would invalidate every recorded artifact/prior keyed by query id).
  // q37b fills the count: 206 queries across ids q01..q206.
  val registry: Seq[GraftQuery] =
    Relational.all ++ Relational2.all ++ Relational3.all ++ Relational4.all ++
      TextOps.all ++ TextOps2.all ++ Dedup.all ++ Similarity.all ++ Similarity2.all ++
      Curation.all ++
      Curation2.all ++ Curation3.all ++ Curation4.all ++ Curation5.all ++
      Curation6.all ++ Curation7.all ++ Curation8.all ++ Curation9.all ++
      Curation10.all ++ Curation11.all ++ Curation12.all ++ Curation13.all ++
      Curation14.all ++ Curation15.all ++ Curation16.all ++ Curation17.all ++
      Analytics.all ++ Analytics2.all ++ Media.all ++ Media2.all

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The
    * end-to-end curation pipeline (quality gate ∩ exact-dedup keeper ∩
    * near-dup exclusion, q89) — one query exercising per-row signals,
    * hash aggregation, and the blocked pair join. */
  def entry(spark: SparkSession): DataFrame =
    Curation.q89.run(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> (q.run _)).toMap

  /** The registry queries `ids` name, in registry order. An id is a full
    * name or the exact id before its first `_`, so `q11` selects
    * `q11_distinct_agg` and never `q110_*`. An id that selects nothing
    * throws naming it; no ids select the whole registry. */
  def select(ids: Seq[String]): Seq[GraftQuery] = {
    def idsOf(q: GraftQuery) = Set(q.name, q.name.takeWhile(_ != '_'))
    val wanted = ids.map(_.trim).toSet
    val unknown = wanted -- registry.flatMap(idsOf)
    require(unknown.isEmpty, s"no registry query has the id ${unknown.mkString(", ")}")
    if (ids.isEmpty) registry else registry.filter(q => idsOf(q).exists(wanted))
  }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables. Omitted for non-SQL-expressible ops
    * (LSH/sketch/heuristic operators) → driver records rows-only. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
