package graft

import java.io.File
import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Derived-session ownership (graft.Sessions) and the per-session table
  * catalog (graft.Tables): live sessions never share catalog state, and the
  * fixture materialization survives concurrent writers. */
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

  private val tiny = Sessions.Corpus("t", Nil, Seq(
    "a" -> "SELECT id FROM range(5000)",
    "b" -> "SELECT id, id % 7 AS k FROM range(3000)"),
    "a", joinReorder = false)

  private def assertComplete(root: File): Unit = {
    assert(new File(root, Sessions.Done).exists())
    tiny.fixtures.foreach { case (n, sql) =>
      assert(spark.read.parquet(new File(root, n).getPath).count() ==
        spark.sql(sql).count(), n)
    }
    // no writer's private copy is left next to the root
    assert(root.getParentFile.list().toSeq == Seq(root.getName))
  }

  test("concurrent materializations into one root leave one complete copy") {
    val root = new File(Files.createTempDirectory("graft-fx").toFile, "root")
    val writers = (1 to 2).map(_ =>
      Future(Sessions.materialize(spark, tiny, root)))
    writers.foreach(Await.result(_, 5.minutes))
    assertComplete(root)
  }

  test("a root left without its marker is replaced") {
    val root = new File(Files.createTempDirectory("graft-fx").toFile, "root")
    assert(new File(root, "a").mkdirs())
    Files.writeString(new File(root, "a/junk").toPath, "partial")
    Sessions.materialize(spark, tiny, root)
    assertComplete(root)
  }
}
