package graft.tools

import graft.{Engine, Sessions}
import graft.operators.TpcdsVerbatim
import org.apache.spark.sql.SparkSession

/** Scaled run of the VERBATIM TPC-DS texts — the TPC-DS mirror of
  * [[TpchScaleBench]] (VERDICT r13 #5): the fixture-scale bench rows are
  * per-query-floor bound, so the SHJ/reorder strategy decisions for this
  * corpus must rest on scale measurements, not fixture-noise A/Bs.
  *
  * Mechanics:
  *   - reuses [[TpchScaleBench.buildScratch]] to replicate orders+lineitem
  *     `factor`× with shifted keys; the TPC-DS micro-schema is PARAMETRIC
  *     in those base facts (every fact attribute is mod arithmetic on the
  *     keys), so [[graft.Sessions.fixture]] over the scaled dir
  *     derives a `factor`×-sized store/catalog/web schema with full
  *     referential integrity while the dims keep their spec-shaped caps;
  *   - the fixture materializes through the NORMAL Sessions.fixture path
  *     (ANALYZE + CBO + the shared session profile, whose 8-partition
  *     floor self-releases and whose SHJ preference self-ENABLES above
  *     [[graft.Sessions.smallFactRows]]);
  *   - times every verbatim text min-of-3 warm, prints one JSON line, and
  *     writes each query's prefix-free DuckDB text under
  *     `<fixtureRoot>/_duck_sql/` so tools/tpcds_scale_duck.py can time
  *     DuckDB over the SAME materialized parquet.
  *
  * Usage: sbt "runMain graft.tools.TpcdsScaleBench <factor> [srcDir]"
  *        factor 1 runs over srcDir directly (no scratch build).
  */
object TpcdsScaleBench {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(30)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Engine.configure(
      SparkSession.builder().master(s"local[${Engine.cpus}]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = if (factor == 1) src else {
      val out = s"/tmp/graft_tpch_scale_x$factor"
      TpchScaleBench.buildScratch(spark, factor, src, out)
      out
    }
    val t0 = System.nanoTime()
    val session = Sessions.fixture(spark, dir, TpcdsVerbatim.corpus)
    val root = TpcdsVerbatim.corpus.root(dir)
    println(f"[tpcds-scale x$factor] fixture ready in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1fs  root=${root.getPath}  " +
      s"shufflePartitions=${session.conf.get("spark.sql.shuffle.partitions")}  " +
      "preferSMJ=" +
      session.conf.get("spark.sql.join.preferSortMergeJoin", "true"))

    val duckDir = new java.io.File(root, "_duck_sql")
    duckDir.mkdirs()
    TpcdsVerbatim.queryNames.foreach { q =>
      java.nio.file.Files.writeString(
        duckDir.toPath.resolve(s"$q.sql"), TpcdsVerbatim.oracleBody(q))
    }

    val times = TpcdsVerbatim.queryNames.map { q =>
      val dts = (1 to 3).map { _ =>
        val start = System.nanoTime()
        val n = session.sql(TpcdsVerbatim.queryText(q)).count()
        ((System.nanoTime() - start) / 1e9, n)
      }
      spark.catalog.clearCache()
      val (dt, n) = (dts.map(_._1).min, dts.head._2)
      println(f"[tpcds-scale x$factor] $q%-6s rows=$n%-9d ${dt}%.3fs")
      q -> dt
    }
    val total = times.map(_._2).sum
    println(s"""{"metric":"tpcds_verbatim_x$factor","value":${f"$total%.3f"},""" +
      s""""unit":"sec","factor":$factor,"fixtureRoot":"${root.getPath}",""" +
      s""""queries":{""" +
      times.map { case (q, t) => s""""$q":${f"$t%.3f"}""" }.mkString(",") +
      "}}")
    spark.stop()
  }
}
