package graft

import org.apache.spark.sql.functions.{col, udf}

/** The one timed run ([[Bench.minOf3]]) that Bench and ScaleBench share. */
class BenchSpec extends GraftSpecBase {

  test("the timed run recomputes a persisted fragment in every iteration") {
    val computed = spark.sparkContext.longAccumulator("fragment computations")
    // one function value, so every iteration's fragment plan is the same
    // plan, and a cache left by an earlier iteration would serve it
    val touch = udf { (id: Long) => computed.add(1); id }
    val t = Bench.minOf3(spark, "persisted_fragment") {
      val fragment = spark.range(0, 1, 1, 1).select(touch(col("id")).as("v"))
        .persist()
      fragment.filter(col("v") >= 0)
    }
    assert(t.isDefined)
    assert(computed.value == 3)
  }

  test("release drops the localCheckpoint blocks clearCache leaves behind") {
    val s = spark; import s.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 0L))
      .toDF("src", "dst")
    operators.Graphs.kCore(edges, "src", "dst", k = 2, rounds = 2).collect()
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "kCore's round checkpoints should outlive clearCache")
    Bench.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a row with no successful iteration times as None") {
    assert(Bench.minOf3(spark, "always_fails")(
      throw new IllegalStateException("planted failure")).isEmpty)
  }
}
