package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented capability registers one [[QueryDef]] in [[registry]];
  * `queries`/`oracleSql` are derived views of that single list, so a query and
  * its DuckDB oracle can never drift apart structurally.
  */
object SparkEntry {

  /** The full declared capability surface (SURVEY.md §2 + LLM-pipeline ops). */
  def registry: Seq[QueryDef] =
    operators.Aggregates.all ++
      operators.Joins.all ++
      operators.Windows.all ++
      operators.SortLimit.all ++
      operators.SetOps.all ++
      operators.Expressions.all ++
      operators.Subqueries.all ++
      operators.GoldenSql.all ++
      operators.GoldenSqlt.all ++
      operators.GoldenSqltWindow.all ++
      operators.GoldenSqltSubquery.all ++
      operators.GoldenSqltGroupHof.all ++
      operators.GoldenSqltString.all ++
      operators.GoldenSqltSubquery2.all ++
      operators.GoldenSqltGbFilter.all ++
      operators.GoldenSqltCount.all ++
      operators.GoldenSqltJoins.all ++
      operators.GoldenSqltPivot.all ++
      operators.GoldenSqltExtract.all ++
      operators.GoldenSqltSetOps.all ++
      operators.GoldenSqltMisc.all ++
      operators.GoldenSqltAliases.all ++
      operators.GoldenSqltLimit.all ++
      operators.Battery.all.flatMap(_.all) ++
      operators.Verbatim.all.flatMap(_.all) ++
      operators.Tpch.all ++
      operators.TpchFull.all ++
      operators.Ssb.all ++
      operators.TpcdsShapes.all ++
      operators.AsOf.all ++
      operators.Events.all ++
      operators.Caching.all ++
      operators.Dedup.all ++
      operators.Similarity.all ++
      operators.Clustering.all ++
      operators.TextAnalysis.all ++
      operators.LmScore.all ++
      operators.Retrieval.all ++
      operators.Mutations.all ++
      operators.DocPipeline.all ++
      operators.Sampling.all ++
      operators.Layout.all ++
      operators.Profiling.all ++
      operators.Multimodal.all ++
      operators.Graphs.all ++
      operators.Linkage.all ++
      operators.ArrowBatch.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    plans.GraftFunctions.ensureRegistered(spark)
    operators.Aggregates.q1Agg.run(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Each run first ensures the graft SQL functions exist in the caller's
    * session — the driver builds its SparkSession without
    * `spark.sql.extensions=graft.plans.GraftExtensions`, and several queries
    * reference `simhash64`/`minhash_sig`/… from SQL text. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      q.name -> { (spark: SparkSession, dir: String) =>
        plans.GraftFunctions.ensureRegistered(spark)
        q.run(spark, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
