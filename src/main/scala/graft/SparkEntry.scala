package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.queries.QuerySpec.Sql

/** Driver contract — see SURVEY.md §2.5/§7. Every key is one
  * [[QuerySpec]] (builder, oracle, plan note) in the family file of
  * `graft.queries` that shares its helpers: [[RefQueries]] (the
  * reference's scan/parse/gradient/SGD/sketch surface),
  * [[RelationalQueries]], [[SketchQueries]], [[TextQueries]],
  * [[CurationQueries]], [[DedupQueries]], [[MediaQueries]],
  * [[VectorQueries]], [[AnnQueries]], [[RetrievalQueries]] and
  * [[TokenizeQueries]]. To add a key, append a spec to its family's
  * `specs`; the maps below, Verify, Bench and Plans pick it up, and a
  * key declared twice fails the catalog. */
object SparkEntry {

  /** Every key's spec, in family order. */
  lazy val specs: Seq[QuerySpec] = QuerySpec.catalog(
    RefQueries.specs, RelationalQueries.specs, SketchQueries.specs,
    TextQueries.specs, CurationQueries.specs, DedupQueries.specs,
    MediaQueries.specs, VectorQueries.specs, AnnQueries.specs,
    RetrievalQueries.specs, TokenizeQueries.specs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.key -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (lossy sketch, engine-hash
    * MinHash/SimHash) get the rows-only check. */
  lazy val oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(k, _, Sql(sql, _), _) => k -> sql }.toMap

  /** Spark-dialect SQL twins for the oracle statements that are
    * DuckDB-only dialect. Used by SqlParitySpec to prove the whole
    * catalog through `spark.sql` text as well. */
  lazy val sparkSql: Map[String, String] =
    specs.collect { case QuerySpec(k, _, Sql(_, Some(twin)), _) => k -> twin }.toMap
}
