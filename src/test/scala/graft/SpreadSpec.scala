package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** `Tables.spread` repartitions a table whose scan would run on fewer tasks
  * than the session has cores: fewer row groups than cores, or a small file
  * whose row groups Spark packs into one split. */
class SpreadSpec extends GraftSpecBase {

  test("a small file with a row group per core spreads, a file per core " +
      "does not") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = Files.createTempDirectory("graft-spread").toString
    // one file, many row groups, far under the 4 MB split floor
    val out = s"${Files.createTempDirectory("graft-spread-w")}/o"
    spark.range(200000).selectExpr("id AS k", "CAST(id AS STRING) AS s")
      .coalesce(1).write.option("parquet.block.size", 64 << 10).parquet(out)
    val part = new File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, new File(s"$dir/one.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    assert(part.length < (4 << 20))
    // one row group in each of `cores` files
    spark.range(0, 4000, 1, cores).selectExpr("id AS k")
      .write.parquet(s"$dir/many.parquet")
    val s = spark.newSession()
    for (t <- Seq("one", "many"))
      assert(Tables.rowGroupCount(s, s"$dir/$t.parquet") >= cores, t)
    assert(Tables(s, dir, "one").rdd.getNumPartitions == 1)
    assert(Tables.spread(s, dir, "one", "k") ne Tables(s, dir, "one"))
    assert(Tables.spread(s, dir, "many", "k") eq Tables(s, dir, "many"))
  }
}
