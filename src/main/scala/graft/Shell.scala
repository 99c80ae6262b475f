package graft

import scala.io.StdIn

import graft.sql.{GraftSession, Render}
import graft.tables.Tables

/** Interactive SQL shell — the library's stand-in for the reference's
  * MySQL/ClickHouse wire entry points (servers/mysql/mysql_handler.rs):
  * reads `;`-terminated statements from stdin, runs them through the full
  * dialect layer, prints reference-style tab-separated rows.
  *
  * Usage:
  *   `sbt "runMain graft.Shell [sfDir]"`              — interactive REPL
  *   `sbt "runMain graft.Shell [sfDir] -e 'q1; q2'"`  — run and exit
  * With an sfDir the star schema registers as views.
  */
object Shell {
  def main(args: Array[String]): Unit = {
    val (sfDir, batchSql) = args.toList match {
      case "-e" :: sql :: Nil => (None, Some(sql))
      case dir :: "-e" :: sql :: Nil => (Some(dir), Some(sql))
      case dir :: Nil => (Some(dir), None)
      case _ => (None, None)
    }
    val spark = SparkBoot.builder("graft-shell").getOrCreate()
    val g = GraftSession(spark)
    sfDir.foreach(dir => Tables.registerAll(spark, dir))

    def exec(sql: String): Unit =
      if (sql.trim.nonEmpty) {
        try g.sql(sql).collect().foreach(r => println(Render.row(r)))
        catch { case e: Throwable =>
          println(s"ERROR: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")}")
        }
      }

    batchSql match {
      case Some(sqls) => sqls.split(";").foreach(exec)
      case None =>
        val buf = new StringBuilder
        print("graft> ")
        var line = StdIn.readLine()
        while (line != null && line.trim != "exit" && line.trim != "quit") {
          buf.append(line).append('\n')
          if (line.trim.endsWith(";")) {
            exec(buf.toString.trim.stripSuffix(";"))
            buf.clear()
            print("graft> ")
          }
          line = StdIn.readLine()
        }
    }
    spark.stop()
  }
}
