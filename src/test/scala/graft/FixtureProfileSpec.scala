package graft

import graft.operators.{SsbVerbatim, TpcdsVerbatim, TpchVerbatim}

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
    val sessions = Seq(
      ("tpch", TpchVerbatim.corpus, "false"),
      ("tpcds", TpcdsVerbatim.corpus, "true"),
      ("ssb", SsbVerbatim.corpus, "true"))
    sessions.foreach { case (name, corpus, reorder) =>
      val s = Sessions.fixture(spark, sfDir, corpus)
      assert(s.conf.get(key) == "8",
        s"$name fixture session should carry the small-fixture floor")
      assert(s.conf.get("spark.sql.cbo.joinReorder.enabled") == reorder,
        s"$name fixture session join reordering")
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
    // guard the unification itself: each corpus file holds only its
    // Sessions.Corpus value; Sessions.fixture owns the session
    val files = Seq("TpchVerbatim.scala", "SsbVerbatim.scala",
      "TpcdsVerbatim.scala")
    files.foreach { f =>
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/main/scala/graft/operators/$f")),
        "UTF-8")
      assert(!src.contains("\"spark.sql."),
        s"$f names a session conf — the profile belongs in Sessions")
      assert(!src.contains("conf.set"), s"$f sets a session conf")
      assert(!src.contains("newSession()"), s"$f builds a session")
      assert(src.contains("Sessions.fixture(outer, dir, corpus)"),
        s"$f no longer runs through Sessions.fixture")
    }
  }
}
