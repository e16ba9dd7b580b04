package graft

import java.io.File
import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.operators.{Corpus, GoldenCore}

/** Derived-session ownership (graft.Sessions) and the per-session table
  * catalog (graft.Tables): live sessions never share catalog state, battery
  * results do not follow the host, and the fixture materialization and the
  * scaled replica survive concurrent writers. */
class SessionsSpec extends GraftSpecBase {

  test("two live sessions never share catalog state") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    Seq(s1, s2).foreach { s =>
      Tables.names.foreach(t => assert(Tables(s, sfDir, t).sparkSession eq s))
    }
    Tables.registerAll(s1, sfDir)
    assert(s1.catalog.tableExists("lineitem"))
    assert(!s2.catalog.tableExists("lineitem"))
    Tables.registerAll(s2, sfDir)
    Tables.names.foreach(t => assert(s2.catalog.tableExists(t), t))
    assert(s2.table("nation").count() == s1.table("nation").count())
  }

  test("a battery's float aggregates do not depend on the host's cores") {
    // core group-by t013: SKEWNESS over the nine-row testData view merges
    // one partial per input partition, so its last digit follows the
    // local relation's split; the oracle's value is the 32-core host's
    val stmts = GoldenCore.battery.load("group-by")._2
      .map(st => st.id -> st.sql).toMap
    val s = Sessions.battery(spark)
    s.sql(stmts("t000"))
    assert(s.sql(stmts("t013")).head().getDouble(0).toString ==
      "-0.2723801058145728")
  }

  test("SPARK_GRAFT_CPUS parses to an integer of at least 1") {
    assert(Engine.parseCpus("032") == 32)
    Seq("abc", "0", "-1").foreach { v =>
      val e = intercept[IllegalArgumentException](Engine.parseCpus(v))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("the battery session is fresh per call and floors partitions at 4") {
    val a = Sessions.battery(spark)
    val b = Sessions.battery(spark)
    assert(!(a eq b) && !(a eq spark))
    assert(a.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("the spread session is cached per (context, dir) and holds views") {
    val s = Sessions.spread(spark, sfDir)
    assert(Sessions.spread(spark.newSession(), sfDir) eq s)
    Tables.names.foreach(t => assert(s.catalog.tableExists(t), t))
    assert(s.table("lineitem").count() ==
      Tables(spark, sfDir, "lineitem").count())
  }

  private val tiny = Corpus(name = "t", tag = "t", queryNames = Nil,
    baseTables = Nil, fixtures = Seq(
      "a" -> "SELECT id FROM range(5000)",
      "b" -> "SELECT id, id % 7 AS k FROM range(3000)"),
    largestFact = "a", joinReorder = false, renames = Map.empty,
    oracleRenames = Set.empty, dualRound = Map.empty, oracleCasts = Map.empty,
    bodyFixes = Map.empty)

  private def assertComplete(root: File): Unit = {
    assert(new File(root, Sessions.Done).exists())
    tiny.fixtures.foreach { case (n, sql) =>
      assert(spark.read.parquet(new File(root, n).getPath).count() ==
        spark.sql(sql).count(), n)
    }
    assertAlone(root)
  }

  private val factor = 2

  private def assertReplica(root: File): Unit = {
    assert(new File(root, Sessions.Done).exists())
    val facts = Set("orders", "lineitem", "events", "documents")
    Tables.names.foreach { t =>
      val n = spark.read.parquet(new File(root, s"$t.parquet").getPath).count()
      val src = Tables(spark, sfDir, t).count()
      assert(n == (if (facts(t)) factor * src else src), t)
    }
    assert(spark.read.parquet(new File(root, "embeddings_rep.parquet").getPath)
      .count() == factor * Tables(spark, sfDir, "embeddings").count())
    assertAlone(root)
  }

  /** no writer's private copy is left next to the root */
  private def assertAlone(root: File): Unit =
    assert(root.getParentFile.list().toSeq == Seq(root.getName))

  test("concurrent materializations into one root leave one complete copy") {
    val installs: Seq[(File => Unit, File => Unit)] = Seq(
      (Sessions.materialize(spark, tiny, _), assertComplete),
      (Sessions.replicate(spark, sfDir, factor, _), assertReplica))
    installs.foreach { case (build, check) =>
      val root = new File(Files.createTempDirectory("graft-fx").toFile, "root")
      val writers = (1 to 2).map(_ => Future(build(root)))
      writers.foreach(Await.result(_, 5.minutes))
      check(root)
    }
  }

  test("a root left without its marker is replaced") {
    val root = new File(Files.createTempDirectory("graft-fx").toFile, "root")
    assert(new File(root, "a").mkdirs())
    Files.writeString(new File(root, "a/junk").toPath, "partial")
    Sessions.materialize(spark, tiny, root)
    assertComplete(root)
  }
}
