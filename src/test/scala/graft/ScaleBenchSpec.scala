package graft

import java.io.File

import graft.operators.SsbVerbatim
import graft.tools.ScaleBench

/** The scale harness end to end on the smallest corpus: one JSON line
  * naming every query with its time and rows, and one DuckDB statement
  * and one plan file per query under the fixture root. */
class ScaleBenchSpec extends GraftSpecBase {

  test("ScaleBench ssb x1 reports every query and writes its twin inputs") {
    val line = ScaleBench.run(spark, "ssb", 1, "/root/testdata/sf0.01")
    assert(line.startsWith("""{"metric":"ssb_verbatim_x1","""), line)
    def obj(key: String): Map[String, String] =
      s""""$key":\\{([^}]*)\\}""".r.findFirstMatchIn(line).get.group(1)
        .split(",").map { kv =>
          val Array(k, v) = kv.split(":")
          k.stripPrefix("\"").stripSuffix("\"") -> v
        }.toMap
    val corpus = SsbVerbatim.corpus
    val qs = corpus.queryNames.toSet
    assert(qs.size == 13)
    assert(obj("queries").keySet == qs)
    val rows = obj("rows")
    assert(rows.keySet == qs)
    qs.foreach(q => assert(rows(q).toInt > 0, q))

    val root = new File(""""fixtureRoot":"([^"]+)"""".r
      .findFirstMatchIn(line).get.group(1))
    def files(sub: String, ext: String): Set[String] =
      new File(root, sub).list().toSet.map((_: String).stripSuffix(ext))
    assert(files("_duck_sql", ".sql") == qs)
    assert(files("_plans", ".txt") == qs)
    qs.foreach { q =>
      val sql = java.nio.file.Files.readString(
        new File(root, s"_duck_sql/$q.sql").toPath)
      assert(sql == corpus.oracleBody(q) && !sql.contains(";"), q)
    }
  }
}
