package graft

import graft.PlanLint.{assertClean, lint}
import org.apache.spark.sql.functions._

/** The plan linter: planted bad plans must be caught, clean plans must
  * pass, and — the point of the tool — EVERY registered query's plan is
  * lint-clean modulo a short, documented exception list, every entry of
  * which still matches a finding.
  */
class PlanLintSpec extends SparkSpec {
  // (NoPushdownSource lives in the package object below the spec — DSv2
  // lookup needs a stable named class.)
  import spark.implicits._

  test("planted pathologies are each caught by their rule") {
    val li = Tables.lineitem(spark, sfDir)
    val or = Tables.orders(spark, sfDir)
    // crossJoin: CartesianProduct, or BNLJ when one side broadcasts —
    // either way the linter must object
    assert(lint(li.crossJoin(or))
      .exists(f => f.rule == "cartesian" || f.rule == "nested-loop"))
    // nested-loop: inequality-only join
    assert(lint(li.join(or, li("l_extendedprice") > or("o_totalprice")))
      .exists(_.rule == "nested-loop"))
    // expand: two distinct aggregates in one pass
    assert(lint(li.groupBy($"l_returnflag")
        .agg(countDistinct($"l_orderkey"), countDistinct($"l_partkey")))
      .exists(_.rule == "expand"))
    // global window: no PARTITION BY
    val w = org.apache.spark.sql.expressions.Window.orderBy($"l_orderkey")
    assert(lint(li.withColumn("rn", row_number().over(w)))
      .exists(_.rule == "global-window"))
    // unpushed filter: a CONVERTIBLE predicate above a DSv2 scan whose
    // source implements no filter pushdown — the custom-source author's
    // classic omission (v1 file scans always DISPLAY translated filters,
    // so the v2 path is where this failure actually manifests)
    val noPush = spark.read
      .format(classOf[graft.NoPushdownSource].getName).load()
      .where($"id" === 5L)
    assert(lint(noPush).exists(_.rule == "unpushed-filter"),
      s"DSv2-without-pushdown not flagged:\n${noPush.queryExecution.executedPlan}")
    // ...while a derived-expression predicate must NOT be flagged (it
    // could never have pushed; flagging it would be pure noise)
    assert(!lint(li.where(length($"l_returnflag") + $"l_quantity" > 5))
      .exists(_.rule == "unpushed-filter"),
      "derived-expression predicates can never push and must not be flagged")
    // low-cardinality window: the round-6 q160 shape — PARTITION BY an
    // enum column straight over the fact table
    val wFlag = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag").orderBy($"l_orderkey")
    assert(lint(li.withColumn("rn", row_number().over(wFlag)))
      .exists(_.rule == "low-cardinality-window"))
    // ...but the same partitioning over a post-aggregation frame is the
    // q144 principle and must pass
    val agged = li.groupBy($"l_returnflag", $"l_orderkey")
      .agg(sum($"l_quantity").as("q"))
    assert(!lint(agged.withColumn("rn", row_number().over(wFlag)))
      .exists(_.rule == "low-cardinality-window"),
      "post-aggregation input must exempt the low-cardinality window")
    // ...and a CONSTANT rank limit must also pass: Spark plans it as
    // WindowGroupLimit(Partial) below the exchange, so the enum window
    // only sees ≤ k rows per map task (the q81/q102 shape)
    assert(!lint(li.withColumn("rn", row_number().over(wFlag))
        .where($"rn" <= 5))
      .exists(_.rule == "low-cardinality-window"),
      "rank-limited windows are two-phase and must not be flagged")
    // rename escape is CLOSED (round-8 lineage trace): an enum column
    // renamed away from its hinted name still traces to the scan column
    val wRenamed = org.apache.spark.sql.expressions.Window
      .partitionBy($"seg").orderBy($"l_orderkey")
    assert(lint(li.withColumnRenamed("l_returnflag", "seg")
        .withColumn("rn", row_number().over(wRenamed)))
      .exists(_.rule == "low-cardinality-window"),
      "withColumnRenamed must not escape the lineage-based hint match")
    // ...and the converse false positive is gone: a HIGH-cardinality key
    // aliased to a hinted name traces to its real origin
    val wShadow = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"l_quantity")
    assert(!lint(li.withColumnRenamed("l_orderkey", "lang")
        .withColumn("rn", row_number().over(wShadow)))
      .exists(_.rule == "low-cardinality-window"),
      "a high-cardinality column aliased to a hinted name must not flag")
    // a derived expression over ONLY enum origins is itself enum-like
    val wDerived = org.apache.spark.sql.expressions.Window
      .partitionBy(concat($"l_returnflag", $"l_linestatus").as("k"))
      .orderBy($"l_orderkey")
    assert(lint(li.withColumn("rn", row_number().over(wDerived)))
      .exists(_.rule == "low-cardinality-window"),
      "enum-only derived partition keys must flag")
    // exact percentile, single group, straight over the fact: flagged
    assert(lint(li.agg(expr("percentile(l_quantity, 0.5D)")))
      .exists(_.rule == "exact-percentile"))
    // same over enum-only grouping: flagged
    assert(lint(li.groupBy($"l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5D)")))
      .exists(_.rule == "exact-percentile"))
    // approx_percentile: NOT flagged (it IS the scale path)
    assert(!lint(li.agg(expr("approx_percentile(l_quantity, 0.5D, 1000)")))
      .exists(_.rule == "exact-percentile"))
    // exact percentile grouped by a high-cardinality key: NOT flagged
    assert(!lint(li.groupBy($"l_orderkey")
        .agg(expr("percentile(l_quantity, 0.5D)")))
      .exists(_.rule == "exact-percentile"))
  }

  test("the prefix-sum exemption is matched on plan structure, not on " +
       "the __pfx_bt name") {
    val li = Tables.lineitem(spark, sfDir)
    val byKey = org.apache.spark.sql.expressions.Window.orderBy($"l_orderkey")
    def globalWindow(df: org.apache.spark.sql.DataFrame) =
      lint(df).exists(_.rule == "global-window")
    // the real machinery: a GLOBAL prefix sum's offsets window sits on
    // the final aggregate that produces __pfx_bt — exempt
    assert(!globalWindow(graft.ops.Windows.prefixSum(li, Nil,
      $"l_orderkey".divide(256).cast("long"), Seq($"l_orderkey", $"l_linenumber"),
      $"l_quantity".cast("long"), "cum")))
    // a plain column that merely carries the name — flagged
    assert(globalWindow(li.withColumn("__pfx_bt", $"l_quantity")
      .withColumn("x", sum($"__pfx_bt").over(byKey))))
    // an aggregate's GROUPING key under the name, not an aggregate
    // result — flagged
    assert(globalWindow(li.groupBy($"l_orderkey".as("__pfx_bt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("x", sum($"n").over(
        org.apache.spark.sql.expressions.Window.orderBy($"__pfx_bt")))))
  }

  test("a join without an equi-key is exempt only when the plan bounds " +
       "its build side") {
    val li = Tables.lineitem(spark, sfDir)
    def joinFindings(fs: Seq[PlanLint.Finding]) =
      fs.filter(f => f.rule == "nested-loop" || f.rule == "cartesian")
    // a formerly allowed query gains an unbounded cross join: its name
    // buys no exemption
    val q163 = SparkEntry.queries("q163_basket_affinity")(spark, sfDir)
    assert(joinFindings(PlanLint.violations("q163_basket_affinity",
      q163.crossJoin(li))).nonEmpty)
    // a broadcast build bounded above the threshold still flags
    assert(joinFindings(lint(li.crossJoin(broadcast(
      Tables.orders(spark, sfDir).limit(5000))))).nonEmpty)
    // a one-row global aggregate and a small local relation bound
    // themselves
    assert(joinFindings(lint(li.crossJoin(broadcast(
      li.agg(max($"l_quantity").as("mq")))))).isEmpty)
    assert(joinFindings(lint(li.crossJoin(Seq(1, 2, 3).toDF("k")))).isEmpty)
  }

  test("clean and residual-filter plans pass") {
    val li = Tables.lineitem(spark, sfDir)
    // plain partial+final aggregation: clean
    assertClean(li.groupBy($"l_returnflag").agg(sum($"l_quantity")))
    // pushable predicate: the residual Filter above a scan that DID push
    // must NOT be flagged
    assertClean(li.where($"l_orderkey" === 5L))
    // broadcast equi-join: clean
    assertClean(Tables.orders(spark, sfDir).join(
      broadcast(Tables.customer(spark, sfDir)),
      $"o_custkey" === $"c_custkey"))
  }

  test("q140 typed pipeline: the Column filter still reaches the parquet scan") {
    val plan = graft.ops.Relational.q140TypedPipeline(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), " +
        "GreaterThan(o_totalprice,150000.0)"),
      s"typed wrapping lost the pushable predicate:\n$plan")
  }

  test("every registered query plan is lint-clean modulo documented exceptions") {
    val skip = Set(
      // session-mutating / external-io queries whose FUNCTIONS run work
      // that is orthogonal to plan shape and expensive to rebuild here:
      "q97_jdbc_roundtrip",     // Derby round-trip (JdbcSinkSpec covers it)
      "q130_snapshot_roundtrip", // publishes snapshots (SnapshotStoreSpec)
      "q133_snapshot_cdc",       // publishes snapshots (SnapshotStoreSpec)
      "q57_paginated_ingest"     // driver-side paginated fixture ingest
    )
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skip.contains(q._1))
      .flatMap { case (name, fn) =>
        try {
          val extra = PlanLint.violations(name, fn(spark, sfDir))
          if (extra.isEmpty) None
          else Some(s"$name -> ${extra.mkString("; ")}")
        } catch {
          case e: Throwable => Some(s"$name -> lint crashed: ${e.getMessage}")
        } finally spark.catalog.clearCache()
      }
    assert(failures.isEmpty,
      s"${failures.size} queries fail the plan lint:\n${failures.mkString("\n")}")
  }

  test("ActionAudit counts exactly the actions the body launches") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(100).toDF("x")
    // 0 actions: pure construction is free
    assert(ActionAudit.audit(spark) {
      df.filter(col("x") > 10).groupBy().count()
    }.actions === 0)
    // N actions: each collect/count/write is one driver round-trip
    val a3 = ActionAudit.audit(spark) {
      df.count(); df.filter(col("x") > 50).collect()
      df.limit(5).write.format("noop").mode("overwrite").save()
    }
    assert(a3.actions === 3, s"expected 3 actions, counted ${a3.actions}")
    // the round-7 pathology the rule exists for: a double-action
    // fixpoint round (count + exceptAll-emptiness) costs 2, the
    // single-action fingerprint form costs 1
    val twoPerRound = ActionAudit.audit(spark) {
      val next = df.filter(col("x") > 10)
      next.count(); next.exceptAll(df).isEmpty
    }
    assert(twoPerRound.actions === 2)
  }

  test("actionBounds keys are live registry queries (no name drift)") {
    val stale = PlanLint.actionBounds.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"actionBounds names not in SparkEntry.queries: $stale")
  }
}
