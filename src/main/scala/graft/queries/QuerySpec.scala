package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog key: its builder, its oracle and its plan note.
  * `SparkEntry` derives every catalog map from a `Seq[QuerySpec]`, so
  * a key's facts live in one place, next to the helpers its family
  * shares. `build(spark, sfDir)` returns the key's result frame. */
final case class QuerySpec(key: String, build: QuerySpec.Build,
                           oracle: QuerySpec.Oracle, plan: QuerySpec.Plan)

object QuerySpec {

  type Build = (SparkSession, String) => DataFrame

  /** How the driver checks a key's rows. */
  sealed trait Oracle

  /** Equivalent SQL that DuckDB runs over the same parquet tables.
    * `spark` is the Spark-dialect twin, present only where `duckdb`
    * does not parse in Spark; `SqlParitySpec` runs whichever parses
    * through `spark.sql` against the builder's rows. */
  final case class Sql(duckdb: String, spark: Option[String] = None) extends Oracle

  /** No exact SQL twin exists (a lossy codec or engine-specific
    * hashes): the driver checks rows only, for the stated reason. */
  final case class Lossy(reason: String) extends Oracle {
    require(reason.trim.nonEmpty, "a lossy key states why it has no oracle")
  }

  /** What `graft.tools.Plans` writes to PLANS.md for the key: why its
    * own frame's physical plan is the one wanted at 100 TB, and an
    * internal frame whose plan the public result hides. */
  final case class Plan(rationale: Option[String], internal: Option[Internal])

  object Plan {
    val none: Plan = Plan(None, None)
    def apply(rationale: String): Plan = Plan(Some(rationale), None)
  }

  /** A designated internal dataflow frame of a key whose public result
    * is a verdict row: `build(spark, sfDir, scratchDir)`. */
  final case class Internal(rationale: String,
                            build: (SparkSession, String, String) => DataFrame)

  /** The usual spelling in a family file: the builder is the block. */
  def apply(key: String, oracle: Oracle, plan: Plan = Plan.none)(build: Build): QuerySpec =
    new QuerySpec(key, build, oracle, plan)

  /** The families' specs in order; fails on a key declared twice. */
  def catalog(families: Seq[QuerySpec]*): Seq[QuerySpec] = {
    val specs = families.flatten
    val twice = specs.groupBy(_.key).collect { case (k, xs) if xs.size > 1 => k }
    require(twice.isEmpty, s"query keys declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    specs
  }
}
