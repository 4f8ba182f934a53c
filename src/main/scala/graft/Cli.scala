package graft

import org.apache.spark.sql.SparkSession
import graft.api.{StatementClient, StatementServer}

/** presto-cli-style console (reference presto-cli/ Console.java +
  * StatementClientV1 loop) — proof that the whole stack serves an
  * interactive user: every statement goes over REAL localhost HTTP
  * through `POST /v1/statement`, pages back via nextUri, and renders as
  * the reference's aligned-ASCII table with a row count and wall time.
  * Errors render the QueryError name + message exactly as a client
  * would see them.
  *
  * Usage: runMain graft.Cli [sfDir] ["one-shot SQL"]
  *   - with SQL args: execute each and exit (scriptable, like
  *     `presto --execute`);
  *   - without: read statements from stdin (`;`-terminated), `quit` ends.
  */
object Cli {

  private def render(rows: Seq[Seq[String]], header: Seq[String]): String = {
    val all = header +: rows
    val widths = header.indices.map(i => all.map(_(i).length).max)
    def line(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
        .mkString(" ", " | ", " ")
    val sep = widths.map("-" * _).mkString("-", "-+-", "-")
    (line(header) +: sep +: rows.map(line)).mkString("\n")
  }

  private def runOne(spark: SparkSession, base: String, sql: String): Unit = {
    val t0 = System.nanoTime()
    try {
      val df = StatementClient.execute(spark, base, sql)
      val header = df.columns.toSeq
      val rows = df.collect().toSeq.map(_.toSeq.map {
        case null => "NULL"
        case v => v.toString
      })
      val sec = (System.nanoTime() - t0) / 1e9
      println(render(rows, header))
      println(f"(${rows.size} rows in $sec%.2fs)")
    } catch {
      case e: Exception =>
        println(s"Query failed: ${e.getMessage}")
    }
    println()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    Tables.registerAll(spark, sfDir)
    val base = StatementServer.ensureStarted(spark)
    println(s"graft> connected to $base (tables from $sfDir)")

    if (args.length > 1) {
      args.drop(1).foreach(sql => runOne(spark, base, sql))
    } else {
      val buf = new StringBuilder
      print("graft> ")
      for (line <- scala.io.Source.stdin.getLines()) {
        buf.append(line).append('\n')
        val text = buf.toString.trim
        if (text == "quit" || text == "exit") {
          spark.stop(); return
        }
        if (text.endsWith(";")) {
          buf.clear()
          runOne(spark, base, text)
          print("graft> ")
        }
      }
    }
    spark.stop()
  }
}
