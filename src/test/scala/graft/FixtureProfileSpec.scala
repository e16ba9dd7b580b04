package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Verbatim
import graft.tools.PlanSignature

/** Pins the ONE small-fixture session profile (Sessions.tuneFixture,
  * VERDICT r12 #6): all three verbatim fixture sessions floor shuffle
  * partitions at 8 when their largest fact is micro-scale, and the floor
  * self-releases above Sessions.smallFactRows so the scaled verbatim runs
  * (tools.ScaleBench) keep cores-wide parallelism. */
class FixtureProfileSpec extends GraftSpecBase {

  private val key = "spark.sql.shuffle.partitions"

  test("all three verbatim fixture sessions use the shared 8-partition " +
    "floor at micro-fixture scale") {
    // joinReorder: the written order wins for TPC-H (TpchVerbatim.corpus)
    val reorder = Map("tpch" -> "false", "tpcds" -> "true", "ssb" -> "true")
    assert(Verbatim.all.map(_.name) == Seq("tpcds", "tpch", "ssb"))
    Verbatim.all.foreach { corpus =>
      val name = corpus.name
      val s = Sessions.fixture(spark, sfDir, corpus)
      assert(s.conf.get(key) == "8",
        s"$name fixture session should carry the small-fixture floor")
      assert(s.conf.get("spark.sql.cbo.joinReorder.enabled") == reorder(name),
        s"$name fixture session join reordering")
      // plan pins never see the fixture database's version hash
      assert(PlanSignature.normalize(s"Scan ${corpus.database(sfDir)}.t\n") ==
        s"Scan graft_${corpus.tag}_v.t\n", s"$name database is not normalized")
    }
    // and the profile is session-scoped: the outer session is untouched
    assert(spark.conf.get(key) != "8")
  }

  test("the floor releases above the smallFactRows threshold") {
    val s = spark.newSession()
    val before = s.conf.get(key)
    Sessions.tuneFixture(s, Sessions.smallFactRows)
    assert(s.conf.get(key) == before,
      "an at-threshold fact must keep the engine-wide default")
    Sessions.tuneFixture(s, Sessions.smallFactRows - 1)
    assert(s.conf.get(key) == "8")
  }

  test("SHJ local-map threshold derives from the memory envelope") {
    val mb = 1L << 20
    // r13's failure case: 8 GB heap / 32 cores can NOT afford 64 MB builds
    // (observed "Can't acquire 67108864 bytes"); the derivation must land
    // under that and over the 16 MB floor.
    val small = Sessions.shjLocalMapThreshold(8L << 30, 32)
    assert(small < 64 * mb && small >= 16 * mb, s"got $small")
    // the 48 GB rerun that ran clean gets a proportionally larger budget
    val big = Sessions.shjLocalMapThreshold(48L << 30, 32)
    assert(big > small && big <= 256 * mb, s"got $big")
    // clamps: a tiny heap floors at 16 MB, a huge heap caps at 256 MB
    assert(Sessions.shjLocalMapThreshold(1L << 30, 64) == 16 * mb)
    assert(Sessions.shjLocalMapThreshold(1L << 40, 4) == 256 * mb)
  }

  test("no verbatim session re-introduces a duplicated literal conf") {
    // guard the unification itself: each corpus file holds only data (its
    // Corpus value); the one shared definition, Verbatim.scala, turns a
    // corpus into registry rows and holds the operators' only
    // Sessions.fixture call; Sessions.fixture owns the session
    val dir = Paths.get("src/main/scala/graft/operators")
    def src(f: String): String = Files.readString(dir.resolve(f))
    def fixtureCalls(f: String): Int =
      src(f).split("Sessions\\.fixture\\(", -1).length - 1
    val s = Files.list(dir)
    val calls = try s.iterator().asScala.map(_.getFileName.toString)
      .map(f => f -> fixtureCalls(f)).filter(_._2 > 0).toMap
    finally s.close()
    assert(calls == Map("Verbatim.scala" -> 1), calls)
    Verbatim.all.map(c => s"${c.name.capitalize}Verbatim.scala").foreach { f =>
      val text = src(f)
      assert(!text.contains("\"spark.sql."),
        s"$f names a session conf — the profile belongs in Sessions")
      assert(!text.contains("conf.set"), s"$f sets a session conf")
      assert(!text.contains("newSession()"), s"$f builds a session")
      assert(!text.contains("getResourceAsStream") &&
        !text.contains("resource("), s"$f opens a resource")
    }
  }
}
