package graft.tools

import graft.{Engine, Tables}

/** One-shot generator for the COMMITTED multimodal blob fixture: the four
  * per-document container blobs (BMP/WAV/PNG/TIFF, shared builders in
  * [[graft.operators.Multimodal.blobFixture]]) written to a parquet file
  * under src/test/resources. MultimodalFixtureSpec then proves the
  * parquet-round-tripped bytes parse identically to fresh in-memory
  * synthesis — the parsers eat blobs that really went through a binary
  * column write/read, not only expression-pipeline bytes. Usage:
  *   sbt "runMain graft.tools.MmFixtureGen [srcDir] [outDir]"
  */
object MmFixtureGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1)
      .getOrElse("src/test/resources/fixtures/mm_blobs.parquet")
    val spark = Engine.session()
    graft.operators.Multimodal.blobFixture(Tables(spark, src, "documents"))
      .coalesce(1).write.mode("overwrite").parquet(out)
    println(s"[mm-fixture] wrote ${spark.read.parquet(out).count()} rows to $out")
    spark.stop()
  }
}
