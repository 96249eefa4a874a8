package graft

import graft.plans.SummaryRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

/** The materialized-summary rewrite rule (plans/SummaryRewrite.scala).
  * The DuckDB oracle proves q181's RESULT against the raw fact; these
  * prove the mechanism: the plan really swaps to the summary scan, every
  * soundness gate really disqualifies, and rewritten results are
  * bit-identical to the fact-scan plan inside one session.
  */
class SummaryRewriteSpec extends SparkSpec with BeforeAndAfterEach {

  private val sumDir = "/tmp/graft_mv_spec/lineitem_daily"

  override def beforeEach(): Unit = { SummaryRewrite.clear(); super.beforeEach() }
  override def afterEach(): Unit = { SummaryRewrite.clear(); super.afterEach() }

  private def li = Tables.lineitem(spark, sfDir)

  private def buildAndRegister(): Unit = {
    SummaryRewrite.ensureRule(spark)
    li.groupBy(col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
           sum(col("l_extendedprice")).as("sum_price"),
           min(col("l_discount")).as("min_disc"),
           max(col("l_discount")).as("max_disc"),
           count(col("l_quantity")).as("cnt_qty"),
           count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(sumDir)
    SummaryRewrite.register(spark, s"$sfDir/lineitem.parquet",
      dims = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
      mins = Map("l_discount" -> "min_disc"),
      maxs = Map("l_discount" -> "max_disc"),
      countCol = Some("cnt"), summaryPath = sumDir,
      cnts = Map("l_quantity" -> "cnt_qty"))
  }

  private def scansSummary(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("graft_mv_spec")

  private def query: DataFrame = li
    .where(col("l_shipdate") >= lit("1995-06-01").cast("timestamp"))
    .groupBy(col("l_returnflag"))
    .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
         count(lit(1)).as("n"),
         min(col("l_discount")).as("min_disc"))
    .orderBy("l_returnflag")

  test("rewrite fires: summary scan in the plan, results bit-identical") {
    val expected = query.collect() // registry empty -> fact scan
    buildAndRegister()
    val rewritten = query
    assert(scansSummary(rewritten), "plan did not swap to the summary:\n" +
      rewritten.queryExecution.executedPlan)
    assert(rewritten.collect().toSeq == expected.toSeq)
  }

  test("schema and exprIds survive: parent operators still resolve") {
    buildAndRegister()
    val q = query
    // orderBy above the agg references the agg's output exprIds; a join
    // above must also still resolve
    val joined = q.join(Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag")).distinct(), "l_returnflag")
    assert(joined.count() == q.count())
    assert(q.schema.map(f => (f.name, f.dataType)) ==
      Seq(("l_returnflag", org.apache.spark.sql.types.StringType),
          ("sum_qty", org.apache.spark.sql.types.DoubleType),
          ("n", org.apache.spark.sql.types.LongType),
          ("min_disc", org.apache.spark.sql.types.DoubleType)))
  }

  test("soundness gates: disqualified queries stay on the fact scan") {
    buildAndRegister()
    // 1. avg over a measure with NO declared count partial -> no rewrite
    // (COUNT(*)'s row count cannot stand in: NULLs would divide wrong)
    val avgQ = li.groupBy(col("l_returnflag"))
      .agg(avg(col("l_extendedprice")).as("a"))
    assert(!scansSummary(avgQ), "avg without a count partial must not rewrite")
    // 2. DISTINCT aggregate -> no rewrite
    val distQ = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_linestatus")).as("d"))
    assert(!scansSummary(distQ), "distinct must not rewrite")
    // 3. group on a non-dim -> no rewrite
    val keyQ = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("s"))
    assert(!scansSummary(keyQ), "non-dim grouping must not rewrite")
    // 4. filter on a MEASURE -> no rewrite (summary lost row detail)
    val mfQ = li.where(col("l_discount") > 0.05)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    assert(!scansSummary(mfQ), "measure filter must not rewrite")
    // 5. global COUNT (no GROUP BY) -> no rewrite (empty-fact NULL trap)
    val gcQ = li.agg(count(lit(1)).as("n"))
    assert(!scansSummary(gcQ), "global count must not rewrite")
    // and each disqualified query still computes correctly from the fact
    assert(keyQ.count() > 0 && gcQ.collect().head.getLong(0) == li.count())
  }

  test("non-deterministic and reference-free filters stay on the fact scan") {
    buildAndRegister()
    // rand() sampler: per-ROW semantics; evaluated per summary row it
    // would sample groups, not rows — must not rewrite
    val randQ = li.where(rand(7) < 0.5)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    assert(!scansSummary(randQ), "non-deterministic filter must not rewrite")
    // (a DETERMINISTIC reference-free predicate constant-folds away
    // before the rule ever sees it — the references.nonEmpty half of the
    // gate defends the remaining path: non-foldable reference-free
    // expressions, which today are exactly the non-deterministic ones)
    // a deterministic dim filter still rewrites (the gate is not overtight)
    assert(scansSummary(query))
  }

  test("multi-root fact reads are never rewritten") {
    buildAndRegister()
    // reading the registered fact path PLUS another root: a rewrite
    // would drop the second root's rows
    val multi = spark.read.parquet(s"$sfDir/lineitem.parquet",
        s"$sfDir/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    assert(!scansSummary(multi), "multi-root read must not rewrite")
    // and it computes from the (doubled) fact
    val single = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    multi.collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - 2 * single(r.getString(0))) < 1e-6))
  }

  test("a rewritten fact invalidates the registered summary (staleness)") {
    val factDir = "/tmp/graft_mv_spec/stale_fact"
    val sDir = "/tmp/graft_mv_spec/stale_summary"
    li.limit(100).write.mode("overwrite").parquet(factDir)
    SummaryRewrite.ensureRule(spark)
    def fact = spark.read.parquet(factDir)
    fact.groupBy(col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
           sum(col("l_extendedprice")).as("sum_price"),
           min(col("l_discount")).as("min_disc"),
           max(col("l_discount")).as("max_disc"),
           count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(sDir)
    SummaryRewrite.register(spark, factDir,
      dims = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
      sums = Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
      mins = Map("l_discount" -> "min_disc"),
      maxs = Map("l_discount" -> "max_disc"),
      countCol = Some("cnt"), summaryPath = sDir)
    def agg = fact.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s"))
    assert(agg.queryExecution.executedPlan.toString.contains("stale_summary"),
      "fresh registration must rewrite")
    // rewrite the fact: DIFFERENT rows — the summary is now stale
    li.limit(50).write.mode("overwrite").parquet(factDir)
    val after = agg
    assert(!after.queryExecution.executedPlan.toString.contains("stale_summary"),
      "stale summary must not serve the rewritten fact")
    // and the answer comes from the NEW fact
    assert(after.agg(sum(col("s"))).head().getDouble(0) ==
      li.limit(50).agg(sum(col("l_quantity"))).head().getDouble(0))
  }

  test("mergePartials keeps an all-NULL measure group NULL (SUM contract)") {
    import spark.implicits._
    val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
      "sum_qty", "sum_price", "min_disc", "max_disc", "cnt")
    def frame(qty: Option[Double]) = Seq(
      ("A", "F", "1995-01-01", qty, qty, Some(0.01), Some(0.05), 3L))
      .toDF(cols: _*)
    // both sides NULL -> NULL (a rebuild's Sum over all-NULL is NULL)
    val merged = graft.ops.Warehouse.mergePartials(frame(None), frame(None))
      .select("sum_qty", "sum_price").head()
    assert(merged.isNullAt(0) && merged.isNullAt(1),
      s"all-NULL group must merge to NULL, got $merged")
    // one side present -> its value
    val half = graft.ops.Warehouse.mergePartials(frame(Some(7.5)), frame(None))
      .select("sum_qty").head()
    assert(half.getDouble(0) == 7.5)
  }

  test("q183: incremental refresh serves the query from the merged summary") {
    SummaryRewrite.clear()
    val df = graft.ops.Warehouse.q183SummaryRefresh(spark, sfDir)
    assert(df.queryExecution.executedPlan.toString
      .contains("lineitem_daily_incr"),
      "q183's query was not answered from the refreshed summary")
    // and the merged summary equals a from-scratch rebuild, group for group
    val incr = spark.read.parquet(
      graft.ops.Warehouse.summaryDir(sfDir, "lineitem_daily_incr"))
    val direct = li.groupBy(col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
           min(col("l_discount")).as("min_disc"),
           max(col("l_discount")).as("max_disc"),
           count(lit(1)).as("cnt"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.get(2))
    val gi = incr.select(col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"), col("sum_qty"), col("min_disc"), col("max_disc"),
        col("cnt"))
      .collect().map(r => key(r) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    val gd = direct.collect().map(r => key(r) ->
      (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    assert(gi.keySet == gd.keySet)
    gi.foreach { case (k, (sq, mn, mx, n)) =>
      val (dsq, dmn, dmx, dn) = gd(k)
      assert(n == dn && mn == dmn && mx == dmx, s"$k exact state diverged")
      assert(math.abs(sq - dsq) < 1e-6, s"$k sum_qty $sq vs $dsq")
    }
  }

  test("q188: the rewrite serves SQL text over a view (entry-point agnostic)") {
    SummaryRewrite.clear()
    val df = graft.ops.Warehouse.q188SqlMvRewrite(spark, sfDir)
    assert(df.queryExecution.executedPlan.toString.contains("lineitem_daily"),
      "SQL-text query was not answered from the summary")
    // and the values match the raw-fact computation
    SummaryRewrite.clear()
    val raw = li.where(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
           count(lit(1)).as("n"), max(col("l_discount")).as("max_disc"))
      .orderBy("l_returnflag", "l_linestatus").collect()
    assert(df.collect().toSeq == raw.toSeq)
  }

  test("streaming maintenance: foreachBatch folds micro-batch deltas into the summary") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the fact arrives as a stream in 3 micro-batches; each batch's
    // partials merge into the persisted summary (versioned dirs stand in
    // for the snapshot store's atomic swap)
    val rows = li.select(col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate").cast("string").as("ship_s"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_orderkey"))
      .as[(String, String, String, Double, Double, Double, Long)]
      .collect()
    val in = MemoryStream[(String, String, String, Double, Double, Double, Long)]
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft_mv_stream").toString
    @volatile var version = -1
    def summaryAt(v: Int) = spark.read.parquet(s"$baseDir/v$v")
    val q = in.toDS().toDF("l_returnflag", "l_linestatus", "ship_s",
        "l_quantity", "l_extendedprice", "l_discount", "l_orderkey")
      .withColumn("l_shipdate", col("ship_s").cast("timestamp_ntz"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val delta = graft.ops.Warehouse.lineitemPartials(df)
        val next = if (version < 0) delta
          else graft.ops.Warehouse.mergePartials(summaryAt(version), delta)
        next.write.mode("overwrite").parquet(s"$baseDir/v${version + 1}")
        version += 1
      }
      .start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { batch =>
        in.addData(batch.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    assert(version >= 1, "expected multiple micro-batches")
    // the streamed summary must equal a from-scratch rebuild over the fact
    val got = summaryAt(version)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate").cast("string"), col("sum_qty"), col("min_disc"),
        col("max_disc"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    val exp = graft.ops.Warehouse.lineitemPartials(li)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate").cast("string"), col("sum_qty"), col("min_disc"),
        col("max_disc"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, (sq, mn, mx, n)) =>
      val (esq, emn, emx, en) = exp(k)
      assert(n == en && mn == emn && mx == emx, s"$k exact state diverged")
      assert(math.abs(sq - esq) < 1e-6, s"$k sum_qty $sq vs $esq")
    }
  }

  test("seeded property: random eligible shapes rewrite and agree with the fact") {
    buildAndRegister()
    val rnd = new scala.util.Random(4242)
    val dims = Vector("l_returnflag", "l_linestatus", "l_shipdate")
    // (label, aggregate builder, exact? — exact states compare ==, float
    // partial-sum states compare with tolerance)
    val aggPool: Vector[(String, org.apache.spark.sql.Column, Boolean)] =
      Vector(
        ("sq", sum(col("l_quantity")), false),
        ("sp", sum(col("l_extendedprice")), false),
        ("mn", min(col("l_discount")), true),
        ("mx", max(col("l_discount")), true),
        ("ct", count(lit(1)), true),
        ("rq", round(sum(col("l_quantity")), 1), false),
        ("aq", avg(col("l_quantity")), false),          // sum/cnt partials
        ("cq", count(col("l_quantity")), true),          // non-null count
        ("ra", round(avg(col("l_quantity")), 2), false))
    for (trial <- 1 to 15) {
      val gDims = rnd.shuffle(dims).take(1 + rnd.nextInt(dims.size))
      val aggs = rnd.shuffle(aggPool).take(1 + rnd.nextInt(aggPool.size))
      val flags = Seq("A", "N", "R")
      val useFilter = rnd.nextBoolean()
      // same rnd state must drive both runs: snapshot it for the pair
      val seedState = rnd.nextLong()
      val rndA = new scala.util.Random(seedState)
      val rndB = new scala.util.Random(seedState)
      def mk(r: scala.util.Random): DataFrame = {
        val base = if (useFilter)
          li.where(col("l_returnflag") === flags(r.nextInt(3))) else li
        base.groupBy(gDims.map(col): _*)
          .agg(aggs.head._2.as(aggs.head._1),
               aggs.tail.map(a => a._2.as(a._1)): _*)
      }
      val rewritten = mk(rndA)
      assert(scansSummary(rewritten), s"trial $trial: no rewrite for " +
        s"dims=$gDims aggs=${aggs.map(_._1)} filter=$useFilter")
      val got = rewritten.collect()
      SummaryRewrite.clear()
      val exp = mk(rndB).collect()
      buildAndRegister()
      val key = (r: org.apache.spark.sql.Row) =>
        gDims.indices.map(r.get).mkString("|")
      val gm = got.map(r => key(r) -> r).toMap
      val em = exp.map(r => key(r) -> r).toMap
      assert(gm.keySet == em.keySet, s"trial $trial: group sets differ")
      gm.foreach { case (k, gr) =>
        val er = em(k)
        aggs.zipWithIndex.foreach { case ((label, _, exact), i) =>
          val idx = gDims.size + i
          if (exact) assert(gr.get(idx) == er.get(idx),
            s"trial $trial $label@$k: ${gr.get(idx)} vs ${er.get(idx)}")
          else {
            val (g, e) = (gr.getDouble(idx), er.getDouble(idx))
            assert(math.abs(g - e) <= math.abs(e) * 1e-9 + 1e-6,
              s"trial $trial $label@$k: $g vs $e")
          }
        }
      }
    }
  }

  // ─── join shape (q200): summary keyed by the join key, dim above ─────

  private val suppSumDir = "/tmp/graft_mv_spec/lineitem_by_supp"
  private def sup = Tables.supplier(spark, sfDir)

  private def buildAndRegisterSupp(): Unit = {
    SummaryRewrite.ensureRule(spark)
    li.groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice")).as("sum_price"),
           count(col("l_extendedprice")).as("cnt_price"),
           sum(col("l_quantity")).as("sum_qty"),
           count(col("l_quantity")).as("cnt_qty"),
           min(col("l_discount")).as("min_disc"),
           count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(suppSumDir)
    SummaryRewrite.register(spark, s"$sfDir/lineitem.parquet",
      dims = Seq("l_suppkey"),
      sums = Map("l_extendedprice" -> "sum_price", "l_quantity" -> "sum_qty"),
      mins = Map("l_discount" -> "min_disc"), maxs = Map.empty,
      countCol = Some("cnt"), summaryPath = suppSumDir,
      cnts = Map("l_extendedprice" -> "cnt_price", "l_quantity" -> "cnt_qty"))
  }

  test("join shape: fact JOIN dim aggregate rewrites to summary JOIN dim " +
       "and agrees with the fact plan") {
    buildAndRegisterSupp()
    def mk: DataFrame = li
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(sum(col("l_quantity")).as("sq"),
           avg(col("l_extendedprice")).as("ap"),
           count(col("l_quantity")).as("cq"),
           count(lit(1)).as("n"),
           min(col("l_discount")).as("mn"))
    val rewritten = mk
    assert(scansSummary(rewritten), "join-shape query must rewrite:\n" +
      rewritten.queryExecution.optimizedPlan)
    val got = rewritten.collect().map(r => r.get(0) -> r).toMap
    SummaryRewrite.clear()
    val exp = mk.collect().map(r => r.get(0) -> r).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, g) =>
      val e = exp(k)
      assert(math.abs(g.getDouble(1) - e.getDouble(1)) < 1e-6, s"sq@$k")
      assert(math.abs(g.getDouble(2) - e.getDouble(2)) <=
        math.abs(e.getDouble(2)) * 1e-12 + 1e-9, s"ap@$k")
      assert(g.getLong(3) == e.getLong(3), s"cq@$k")
      assert(g.getLong(4) == e.getLong(4), s"n@$k")
      assert(g.getDouble(5) == e.getDouble(5), s"mn@$k")
    }
  }

  test("join shape soundness: dim measures, outer joins, non-dim keys, " +
       "non-deterministic filters all stay on the fact") {
    buildAndRegisterSupp()
    val joined = li.join(sup, col("l_suppkey") === col("s_suppkey"))
    // 1. aggregate over a DIM-side column: its per-fact-row multiplicity
    // is collapsed in the summary -> refused
    assert(!scansSummary(joined.groupBy(col("s_nationkey"))
      .agg(sum(col("s_acctbal")).as("x"))), "dim-side measure must not rewrite")
    // 2. outer join: unmatched-side NULL rows are not reproducible from
    // the summary contract -> refused (Inner only)
    assert(!scansSummary(li.join(sup,
        col("l_suppkey") === col("s_suppkey"), "left")
      .groupBy(col("s_nationkey")).agg(sum(col("l_quantity")).as("x"))),
      "outer join must not rewrite")
    // 3. join keyed on a fact column the summary did not group by
    assert(!scansSummary(li.join(sup,
        col("l_partkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey")).agg(sum(col("l_quantity")).as("x"))),
      "non-dim join key must not rewrite")
    // 4. non-deterministic SELECTIVE filter above the join (evaluates
    // once per summary row instead of once per fact row; a tautological
    // rand() < 2.0 is eliminated by the optimizer's rand-bounds rule
    // before this rule runs, so the rewrite firing there is sound)
    assert(!scansSummary(joined.where(rand(7) < 0.5)
      .groupBy(col("s_nationkey")).agg(sum(col("l_quantity")).as("x"))),
      "rand() filter must not rewrite")
    // 5. grouping by a fact column that is not a summary dim
    assert(!scansSummary(joined.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("x"))),
      "non-dim fact grouping must not rewrite")
    // every refused shape still computes (fact path, not an error)
    assert(joined.groupBy(col("s_nationkey"))
      .agg(sum(col("s_acctbal")).as("x")).count() > 0)
  }

  test("seeded property: random join shapes rewrite and agree with the fact") {
    buildAndRegisterSupp()
    val rnd = new scala.util.Random(8484)
    val dimCols = Vector("s_nationkey", "s_name")
    val aggPool: Vector[(String, org.apache.spark.sql.Column, Boolean)] =
      Vector(
        ("sq", sum(col("l_quantity")), false),
        ("sp", sum(col("l_extendedprice")), false),
        ("ap", avg(col("l_extendedprice")), false),
        ("cq", count(col("l_quantity")), true),
        ("ct", count(lit(1)), true),
        ("mn", min(col("l_discount")), true))
    for (trial <- 1 to 8) {
      val gDims = rnd.shuffle(dimCols).take(1 + rnd.nextInt(dimCols.size))
      val aggs = rnd.shuffle(aggPool).take(1 + rnd.nextInt(aggPool.size))
      // filter placement: fact-side (below join, on the summary dim) or
      // dim-side (above the join) or none — all three must stay sound
      val mode = rnd.nextInt(3)
      def mk: DataFrame = {
        val fact = if (mode == 0) li.where(col("l_suppkey") % 7 === 0) else li
        val j = fact.join(sup, col("l_suppkey") === col("s_suppkey"))
        val base = if (mode == 1) j.where(col("s_nationkey") < 13) else j
        base.groupBy(gDims.map(col): _*)
          .agg(aggs.head._2.as(aggs.head._1),
               aggs.tail.map(a => a._2.as(a._1)): _*)
      }
      val rewritten = mk
      assert(scansSummary(rewritten), s"trial $trial: no rewrite for " +
        s"dims=$gDims aggs=${aggs.map(_._1)} mode=$mode")
      val got = rewritten.collect()
      SummaryRewrite.clear()
      val exp = mk.collect()
      buildAndRegisterSupp()
      val key = (r: org.apache.spark.sql.Row) =>
        gDims.indices.map(r.get).mkString("|")
      val gm = got.map(r => key(r) -> r).toMap
      val em = exp.map(r => key(r) -> r).toMap
      assert(gm.keySet == em.keySet, s"trial $trial: group sets differ")
      gm.foreach { case (k, gr) =>
        val er = em(k)
        aggs.zipWithIndex.foreach { case ((label, _, exact), i) =>
          val idx = gDims.size + i
          if (exact) assert(gr.get(idx) == er.get(idx),
            s"trial $trial $label@$k: ${gr.get(idx)} vs ${er.get(idx)}")
          else {
            val (g, e) = (gr.getDouble(idx), er.getDouble(idx))
            assert(math.abs(g - e) <= math.abs(e) * 1e-9 + 1e-6,
              s"trial $trial $label@$k: $g vs $e")
          }
        }
      }
    }
  }

  test("sum/min/max re-aggregation matches the fact for every group") {
    buildAndRegister()
    val fromSummary = li
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sp"),
           max(col("l_discount")).as("mx"),
           count(lit(1)).as("n"))
    assert(scansSummary(fromSummary))
    val got = fromSummary.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    SummaryRewrite.clear()
    val exp = li
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sp"),
           max(col("l_discount")).as("mx"),
           count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, (sp, mx, n)) =>
      val (esp, emx, en) = exp(k)
      assert(n == en && mx == emx, s"$k: exact aggs diverged")
      assert(math.abs(sp - esp) < 0.05, s"$k: $sp vs $esp")
    }
  }
}
