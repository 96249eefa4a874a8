package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. One JSON line on stdout: total + per-query seconds.
  *
  * The action is `write.format("noop")` — NOT `.count()` — because a
  * count lets Catalyst delete Window/Sort/projection operators that do
  * not change the row count (verified in round 1: q12's executed plan
  * under count() had no Window and no Sort). The noop sink materializes
  * every output column through the full plan without any I/O cost.
  *
  * Measurement protocol:
  *  - each query is timed over `SPARK_GRAFT_BENCH_PASSES` passes
  *    (default 3) and reported as the MIN, so round-over-round deltas
  *    outrank JIT/GC noise. Passes are PASS-MAJOR (pass 1 runs every
  *    query, then pass 2, ...) so that shared intermediates released at
  *    pass boundaries — the `graft.Session` memos — are priced
  *    exactly once per pass by whichever query computes them first,
  *    mirroring how a production session would share them;
  *  - r15 measurement fix: the separate UNTIMED warm-up sweep is now
  *    opt-in (`SPARK_GRAFT_BENCH_WARMUP=1`) instead of default. It cost
  *    a full extra pass (~25% of the run) and pushed the 348-query
  *    32-core run past the driver's budget (BENCH_r14: rc 124, all
  *    numbers lost). Pass 1 now absorbs JVM/codegen/parquet-footer
  *    warm-up; with min-of-3 the reported number still comes from the
  *    warm passes 2..3, so the statistic is unchanged;
  *  - a query that throws is reported as -1 with its message in the
  *    `errors` object (query name → message) and a stderr warning, and
  *    counted in the numeric `n_errors` — a failure can never shrink
  *    the total (it is excluded from the sum, never counted as ~0 s);
  *  - `spark.catalog.clearCache()` runs after every query run so
  *    `.cache()`d subplans (q45 shingles, catalog fan-out) are
  *    re-materialized each run instead of pinning across the session
  *    and flattering later passes. `Session.clear()` runs at PASS
  *    boundaries (not per query): the session memos hold shared
  *    cross-query intermediates by design — q71/q90/q198/q199 price the
  *    CC fixpoint once per pass, never zero times;
  *  - a fixed CPU-bound CALIBRATION probe (1e9 iterations of the
  *    splitmix64 finalizer, nominally ~1 s, min of 3) is emitted with
  *    the results so every BENCH_rN carries its own machine-speed
  *    factor — cross-round comparisons divide by it instead of
  *    reconstructing host drift after the fact. r15 fix: both probes
  *    run FIRST (same work, same statistic), because BENCH_r14 was
  *    killed at its budget *inside the post-run ioProbe* — after all
  *    timed passes had finished — and every measured number died
  *    unwritten;
  *  - r15 crash-safety fix: BENCH_FULL.json is rewritten incrementally
  *    after every query run (outside the timed bracket; `"partial":
  *    true` until the final write), so a budget kill at any point
  *    leaves the driver a parseable file with every number measured so
  *    far instead of nothing;
  *  - r15 stdout fix: the driver keeps only the last 2000 chars of
  *    stdout, and the compact per-query map (~4.2 KB at 348 queries)
  *    overflowed that window — BENCH_r13 had rc 0 yet parsed: null,
  *    the line cut mid-map. The stdout line now includes the per-query
  *    map only when the whole line fits in 1950 chars (it still does
  *    for SPARK_GRAFT_BENCH_ONLY subsets); otherwise `queries` is `{}`
  *    on stdout and the full map lives in BENCH_FULL.json, which the
  *    driver reads for per-query numbers.
  */
object Bench {

  /** Single-thread CPU probe: 1e9 splitmix64 finalizer rounds. Pure
    * register arithmetic — no allocation, no memory traffic — so the
    * measured seconds track core clock + JIT quality, the same factors
    * that scale the single-JVM query times.
    */
  private def calibrationProbe(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < 1000000000L) {
        x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
        x ^= x >>> 29; i += 1L
      }
      // data dependency on x defeats dead-code elimination
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).map(_ => once()).min
  }

  /** Fixed-size parquet SCAN probe — the I/O/memory-bandwidth component
    * the pure-register CPU probe cannot see (the r9 judge's finding: a
    * uniform 1.15× drift on byte-identical sub-100 ms queries that the
    * CPU probe under-corrected). A fixed 20M-row, 3-column frame is
    * staged once (untimed), then scanned through the noop sink —
    * min-of-3 after one warm pass, so the number tracks parquet decode
    * + page-cache bandwidth + scheduler dispatch at the bench's own
    * parallelism. Cross-round diffs now separate machine from plan by
    * construction: CPU-bound drift moves probe_sec, I/O-bound drift
    * moves io_probe_sec, plan regressions move neither. The probe's
    * definition (frame, passes, statistic) is unchanged since r9 so the
    * series stays comparable; only its POSITION moved to the start of
    * the run (see the protocol note above).
    */
  private def ioProbe(spark: SparkSession): Double = {
    val dir = sys.props("java.io.tmpdir") + "/graft-bench-ioprobe"
    spark.range(0, 20000000L, 1, 16)
      .selectExpr("id", "id % 97 AS k",
        "md5(cast(id AS string)) AS s")
      .write.mode("overwrite").parquet(dir)
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm: page cache + codegen
    (1 to 3).map(_ => once()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(passes >= 1,
      s"SPARK_GRAFT_BENCH_PASSES must be >= 1 (got $passes) — " +
      "a zero-pass run would crash on empty.min")
    val warmup = sys.env.get("SPARK_GRAFT_BENCH_WARMUP").contains("1")
    val spark = Session.local()
    // Probes FIRST (r15): a budget kill late in the run can no longer
    // take the calibration numbers down with it.
    val probeSec = calibrationProbe()
    val ioProbeSec = ioProbe(spark)
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val calib = s"""{"probe_sec":${fmt(probeSec)},"nominal_sec":1.0,"io_probe_sec":${fmt(ioProbeSec)}}"""
    // NB: cache clearing runs OUTSIDE the timed bracket — the unpersist
    // cost of a run must not be charged to the query (min-of-passes
    // cannot remove a systematic overhead).
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // optional isolation filter (local investigation only; the driver
    // never sets it): comma-separated query names or qNN prefixes
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(f => f.contains(n) || f.contains(n.split("_").head)) }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val times = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    names.foreach { case (n, _) => times(n) = Nil }
    def errJson = errors.map { case (k, v) =>
      "\"" + JsonUtil.escape(k) + "\":\"" + JsonUtil.escape(v) + "\"" }
      .mkString("{", ",", "}")
    // Incremental crash-safe recording: rewrite BENCH_FULL.json after
    // every query (cheap — a ~20 KB local file, written outside the
    // timed bracket). Queries not yet measured in any pass are omitted
    // from a partial file rather than reported as -1, so a truncated
    // run is never mistaken for a run full of failures.
    def writeFull(partial: Boolean, passesDone: Int): Unit = {
      val measured = names.collect {
        case (n, _) if errors.contains(n) || times(n).nonEmpty =>
          n -> (if (errors.contains(n) || times(n).isEmpty) -1.0 else times(n).min)
      }
      val total = measured.collect { case (_, v) if v >= 0 => v }.sum
      val fullQs = measured.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val partialJson = if (partial) s""","partial":true,"passes_done":$passesDone""" else ""
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_FULL.json"),
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"errors":$errJson,"n_errors":${errors.size},"passes":$passes,"calibration":$calib,"sf":"$sfDir"$partialJson}""")
    }
    if (warmup) {
      names.foreach { case (n, fn) =>
        try run(fn) catch {
          case e: Throwable => errors(n) = Option(e.getMessage).getOrElse(e.getClass.getName)
        }
        spark.catalog.clearCache()
      }
      Session.clear()
    }
    // timed passes, PASS-MAJOR (see protocol note above). A failed query
    // is decided after its first failure — remaining passes would burn
    // the same failure latency for the same -1.
    (1 to passes).foreach { p =>
      names.foreach { case (name, fn) =>
        if (!errors.contains(name)) {
          val t0 = System.nanoTime()
          try {
            run(fn)
            times(name) = (System.nanoTime() - t0) / 1e9 :: times(name)
          }
          catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          }
          spark.catalog.clearCache()
          writeFull(partial = true, passesDone = p - 1)
        }
      }
      Session.clear()
    }
    val results = names.map { case (name, _) =>
      name -> (if (errors.contains(name) || times(name).isEmpty) -1.0
               else times(name).min)
    }
    errors.foreach { case (n, m) =>
      System.err.println(s"[bench] WARNING: $n FAILED: $m")
    }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    writeFull(partial = false, passesDone = passes)
    // stdout line must stay COMPACT: the driver keeps only the last
    // 2000 chars of stdout. qNN keys + 3-decimal values fit a ~130-query
    // subset; at the full 348-query surface the map alone is ~4.2 KB, so
    // the per-query map is included only when the WHOLE line fits in
    // 1950 chars — otherwise `queries` is `{}` here and the full-name
    // full-precision map is read from BENCH_FULL.json (already final on
    // disk at this point).
    val shortKeys = results.map { case (k, v) => k.split("_").head -> v }
    val qs = (if (shortKeys.map(_._1).distinct.size == results.size) shortKeys
              else results)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    def line(qJson: String, eJson: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qJson,"errors":$eJson,"n_errors":${errors.size},"passes":$passes,"calibration":$calib,"sf":"$sfDir"}"""
    // `errors` keeps one shape (query name → message); when the messages
    // do not fit it is emptied, and `n_errors` still counts them
    val candidates = Seq(line(qs, errJson), line("{}", errJson),
      line("{}", "{}"))
    println(candidates.find(_.length <= 1950).getOrElse(candidates.last))
    spark.stop()
  }
}
