package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Plan-audit aid: prints the physical plan of named queries (all when
  * none given, or "all") — the `.explain` loop the build rules demand,
  * runnable per query without touching the bench.
  * Usage: sbt "runMain graft.PlanDump <sfDir> [q01_agg,q02_...] [outDir]"
  * With an `outDir` third argument, each query's FORMATTED plan is also
  * written to `<outDir>/<name>.txt` (the plans/ before/after evidence
  * files); stdout keeps the simple mode for eyeballing. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries = Harness.select(args.lift(1).filter(_ != "all").getOrElse(""))
    val outDir = args.lift(2).map(Paths.get(_))
    outDir.foreach(Files.createDirectories(_))
    val spark = GraftSession.build(Harness.cpus, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    queries.foreach { case (name, fn) =>
      println(s"\n===== $name =====")
      try {
        val qe = fn(spark, sfDir).queryExecution
        println(qe.explainString(SimpleMode))
        outDir.foreach(d => Files.writeString(d.resolve(s"$name.txt"),
          qe.explainString(FormattedMode) + "\n"))
      }
      catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
