package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.Engine
import graft.operators.Battery
import org.apache.spark.sql.SparkSession

/** Dev probe for golden-file porting: executes a statement list extracted
  * from a reference SQLQueryTestSuite `.out` file
  * (tools/coercion_extract.py) and dumps each statement's ACTUAL Spark
  * behavior — result schema, rendered rows, or error class — so the
  * generator can build literal oracles and a divergence report against
  * the reference golden. Not part of the library surface.
  *
  * Usage: runMain graft.tools.CoercionProbe /tmp/coerce/<prefix>_<base>.stmts ...
  * writes <prefix>_<base>.probe next to each input; every file replays the
  * same way, whatever its battery family.
  */
object CoercionProbe {
  private val FS = '\u001f' // field sep
  private val RS = '\u001e' // record sep
  private val CS = '\u001d' // cell sep

  def main(args: Array[String]): Unit = {
    // the probe replays in the runtime's battery session (Battery.open):
    // float-aggregate merge order over inline data follows the leaf-node
    // slicing, so probing in any other session would pin last-ulp values
    // the runtime can't reproduce
    val spark = Engine.session()
    args.foreach { path =>
      val text = new String(Files.readAllBytes(Paths.get(path)),
        StandardCharsets.UTF_8)
      val stmts = text.split(RS).filter(_.nonEmpty).toSeq.map { rec =>
        val Array(id, sql) = rec.split(FS.toString, 2)
        (id, sql)
      }
      val dest = path.replaceAll("\\.stmts$", "") + ".probe"
      Files.write(Paths.get(dest), replay(spark, stmts)
        .map(_.mkString(FS.toString) + RS).mkString
        .getBytes(StandardCharsets.UTF_8))
      println(s"[probe] $path -> $dest")
    }
    spark.stop()
  }

  private def render(v: Any): String = v match {
    case null => "N"
    case s => "S" + s.toString
  }

  /** One file's statements `(id, sql)` replayed in a fresh battery session
    * through the runtime's executor, one record per statement:
    * `id SETUP "" 0`, `id OK <types> <width> <cells>` or
    * `id ERR <exception class> <message>`. */
  private[graft] def replay(outer: SparkSession,
      stmts: Seq[(String, String)]): Seq[Seq[String]] = {
    val battery = Battery.open(outer)
    stmts.map { case (id, sql) =>
      try battery.execute(sql) match {
        case None => Seq(id, "SETUP", "", "0")
        case Some(df) =>
          val ty = df.schema.map(_.dataType.sql).mkString(", ")
          // render via the SAME cast-to-string the generated QueryDef
          // applies at runtime, so probe values == runtime values by
          // construction (Row.toString renders timestamps differently)
          val n = df.columns.length
          val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
          val strDf = renamed.select(
            (0 until n).map(i => renamed.col(s"c$i").cast("string")): _*)
          val cells = strDf.collect().map(r =>
            (0 until r.length).map(i => render(r.get(i)))
              .mkString(FS.toString)).mkString(CS.toString)
          Seq(id, "OK", ty, n.toString, cells)
      } catch {
        case e: Throwable =>
          val cls = e.getClass.getSimpleName
          val msg = Option(e.getMessage).getOrElse("").take(200)
            .replace('\n', ' ').replace(FS, ' ').replace(RS, ' ')
          Seq(id, "ERR", cls, msg)
      }
    }
  }
}
