package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // only — the driver always runs the full surface with 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // PlanLint enforcement: every query's physical plan must be clean
    // modulo the documented PlanLint.queryAllow exceptions, each of which
    // must still match a finding (PlanLint.violations) — the 100 TB
    // design bar runs in the SAME pass the driver grades. Violations are
    // collected (results still written, so correctness artifacts stay
    // complete) and fail the run at the end. GRAFT_LINT=warn downgrades
    // to stderr-only for local iteration.
    val lintStrict = !sys.env.get("GRAFT_LINT").contains("warn")
    val lintDirty = Seq.newBuilder[String]
    // GRAFT_ACTIONS=record prints every query's measured action count
    // (bound calibration); otherwise counts are enforced like lint rules
    val actionsRecord = sys.env.get("GRAFT_ACTIONS").contains("record")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        // runtime action audit wraps BOTH construction (where iterative
        // fixpoints spend their jobs) and the result write — the same
        // span a cluster pays scheduler round-trips for
        val audited = ActionAudit.audit(spark) {
          val df = fn(spark, sfDir)
          val bad = PlanLint.violations(name, df)
          if (bad.nonEmpty) {
            val msg = s"$name -> ${bad.mkString("; ")}"
            System.err.println(s"[verify][lint] $msg")
            lintDirty += msg
          }
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        if (actionsRecord)
          System.err.println(s"[verify][actions] $name ${audited.actions}")
        else if (audited.actions > PlanLint.actionBound(name)) {
          val msg = s"$name -> [action-count] ${audited.actions} actions " +
            s"> bound ${PlanLint.actionBound(name)} (hidden driver loop?)"
          System.err.println(s"[verify][lint] $msg")
          lintDirty += msg
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // q45/fan-out caches are per-query
    }
    def q(s: String): String = "\"" + JsonUtil.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val dirty = lintDirty.result()
    if (dirty.nonEmpty) {
      System.err.println(
        s"[verify] ${dirty.size} queries fail the plan lint:\n" +
          dirty.mkString("\n"))
      if (lintStrict) sys.exit(2)
    }
  }
}
