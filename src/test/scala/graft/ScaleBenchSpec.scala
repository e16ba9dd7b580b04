package graft

import java.io.File

import graft.operators.SsbVerbatim
import graft.tools.ScaleBench

/** The scale harness end to end on the smallest corpus and on two heavy
  * entries: one JSON line naming every row with its time and rows, and one
  * plan file per row (and, for a corpus, one DuckDB statement) under the
  * fixture root. */
class ScaleBenchSpec extends GraftSpecBase {

  private def obj(line: String, key: String): Map[String, String] =
    s""""$key":\\{([^}]*)\\}""".r.findFirstMatchIn(line).get.group(1)
      .split(",").map { kv =>
        val Array(k, v) = kv.split(":")
        k.stripPrefix("\"").stripSuffix("\"") -> v
      }.toMap

  private def root(line: String): File = new File(""""fixtureRoot":"([^"]+)"""".r
    .findFirstMatchIn(line).get.group(1))

  private def files(line: String, sub: String, ext: String): Set[String] =
    new File(root(line), sub).list().toSet.map((_: String).stripSuffix(ext))

  test("ScaleBench ssb x1 reports every query and writes its twin inputs") {
    val line = ScaleBench.run(spark, "ssb", 1, "/root/testdata/sf0.01", Nil)
    assert(line.startsWith("""{"metric":"ssb_verbatim_x1","""), line)
    val corpus = SsbVerbatim.corpus
    val qs = corpus.queryNames.toSet
    assert(qs.size == 13)
    assert(obj(line, "queries").keySet == qs)
    val rows = obj(line, "rows")
    assert(rows.keySet == qs)
    qs.foreach(q => assert(rows(q).toInt > 0, q))
    assert(line.endsWith(""""failed":[]}"""), line)
    assert(files(line, "_duck_sql", ".sql") == qs)
    assert(files(line, "_plans", ".txt") == qs)
    qs.foreach { q =>
      val sql = java.nio.file.Files.readString(
        new File(root(line), s"_duck_sql/$q.sql").toPath)
      assert(sql == corpus.oracleBody(q) && !sql.contains(";"), q)
    }
  }

  test("ScaleBench heavy x1 reports the named entries and writes their plans") {
    val named = Set("q1_agg", "op_kmeans_i8")
    val plans = new File(Sessions.replica(spark, "/root/testdata/sf0.01", 1), "_plans")
    named.foreach(q => new File(plans, s"$q.txt").delete())
    val line = ScaleBench.run(spark, "heavy", 1, "/root/testdata/sf0.01",
      named.toSeq)
    assert(line.startsWith("""{"metric":"heavy_x1","""), line)
    assert(line.endsWith(""""failed":[]}"""), line)
    assert(obj(line, "queries").keySet == named)
    val rows = obj(line, "rows")
    assert(rows.keySet == named)
    named.foreach(q => assert(rows(q).toInt > 0, q))
    assert(root(line) == plans.getParentFile)
    named.foreach(q => assert(new File(plans, s"$q.txt").length > 0, q))
  }
}
