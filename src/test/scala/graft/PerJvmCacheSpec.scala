package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Costs paid once per JVM: a table's footer is read once per data file
  * (graft.Tables) and follows a rewritten file, the schema it yields is the
  * one Spark's inference gives, a session registering seen tables starts no
  * Spark job, and the codegen cache holds more than Spark's default 100
  * classes (graft.Engine.configure). */
class PerJvmCacheSpec extends GraftSpecBase {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("a second session registers seen tables without a Spark job") {
    Tables.registerAll(spark.newSession(), sfDir)
    val s = spark.newSession()
    assert(jobsDuring {
      Tables.registerAll(s, sfDir)
      Tables.names.foreach(n => s.table(n).schema)
    } == 0)
    // the count sees the job that schema inference starts
    assert(jobsDuring(s.read.parquet(s"$sfDir/nation.parquet").schema) > 0)
  }

  test("a table's schema is the one schema inference gives") {
    val root = new File(sfDir).getParent
    val multi = s"${tmpDir("graft-multi")}/t.parquet"
    spark.range(0, 3000, 1, 3).selectExpr("id", "CAST(id AS STRING) AS s",
      "CAST(id AS TIMESTAMP) AS ts", "array(id) AS xs").write.parquet(multi)
    assert(new File(multi).list().count(_.endsWith(".parquet")) == 3)
    val paths = multi +: (for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      n <- Tables.names
    } yield s"$root/$sf/$n.parquet")
    // the conversion follows the session's parquet confs
    val ntz = spark.newSession()
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    // Tables reads with the footer's schema (the reader makes it nullable,
    // as it does an inferred one)
    for (s <- Seq(spark, ntz); p <- paths)
      assert(s.read.schema(Tables.schemaOf(s, p).get).parquet(p).schema ==
        s.read.parquet(p).schema, p)
    assert(Tables.schemaOf(ntz, s"$sfDir/orders.parquet") !=
      Tables.schemaOf(spark, s"$sfDir/orders.parquet"))
  }

  test("a file rewritten at the same path is read again") {
    val dir = tmpDir("graft-footer")
    val path = s"$dir/t.parquet"
    def install(df: DataFrame, rowGroupBytes: Int): Unit = {
      val out = s"${tmpDir("graft-footer-w")}/o"
      df.coalesce(1).write.option("parquet.block.size", rowGroupBytes).parquet(out)
      val part = new File(out).listFiles().filter(_.getName.endsWith(".parquet"))
      Files.copy(part.head.toPath, new File(path).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    def read(s: SparkSession) =
      (Tables(s, dir, "t").columns.toSeq, Tables.rowGroupCount(s, path))
    install(spark.range(100).selectExpr("id AS a"), 128 << 20)
    assert(read(spark.newSession()) == (Seq("a"), 1))
    install(spark.range(200000).selectExpr("id AS b", "CAST(id AS STRING) AS c"),
      64 << 10)
    val s = spark.newSession()
    val (cols, rowGroups) = read(s)
    assert(cols == Seq("b", "c"))
    assert(rowGroups > 1)
    assert(Tables(s, dir, "t").count() == 200000)
  }

  test("the codegen cache holds more than 100 compiled classes") {
    // each literal is inlined into its own whole-stage class
    def q(i: Int) = spark.range(8).selectExpr(s"id * $i + ${i + 1} AS x").collect()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val start = compiles
    (1 to 120).foreach(q)
    val filled = compiles
    assert(filled - start > 100)
    q(1)
    assert(compiles == filled)
  }
}
