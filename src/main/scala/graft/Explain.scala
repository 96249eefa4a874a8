package graft

/** Dev utility: print the formatted physical plan of selected queries
  * (all of them if no names given) — the plan-audit loop the 100 TB
  * design bar demands: check pushed filters, pruned schemas, join
  * strategies, and the absence of cartesian products before calling an
  * operator done.
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        case None => println("unknown query")
      }
    }
    spark.stop()
  }
}
