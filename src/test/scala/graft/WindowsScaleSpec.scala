package graft

import graft.ops.Windows
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The scalable per-group prefix-sum/dense-position helpers must produce
  * EXACTLY the values of the naive low-cardinality window they replace —
  * the whole point is that oracles and downstream logic cannot tell the
  * difference, only the physical plan changes (bounded partitions
  * instead of one task per enum value).
  */
class WindowsScaleSpec extends SparkSpec {

  test("densePos reproduces row_number over an enum partition exactly") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_partkey"), col("l_suppkey"))
    val ord = Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_partkey"), col("l_suppkey"))
    val naive = li.withColumn("rn",
      row_number().over(Window.partitionBy(col("l_returnflag"))
        .orderBy(ord: _*)).cast("long"))
    val scalable = Windows.densePos(li, Seq("l_returnflag"),
      expr("l_orderkey div 256"), ord, "rn")
    assert(naive.exceptAll(scalable.select(naive.columns.map(col): _*)).isEmpty
      && scalable.select(naive.columns.map(col): _*).exceptAll(naive).isEmpty,
      "densePos diverged from the naive window")
  }

  test("prefixSum reproduces a running sum over an enum partition exactly") {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("n"))
    val naive = docs.withColumn("cum",
      sum(col("n")).over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val scalable = Windows.prefixSum(docs, Seq("lang"),
      expr("doc_id div 256"), Seq(col("doc_id")), col("n"), "cum")
    assert(naive.exceptAll(scalable.select(naive.columns.map(col): _*)).isEmpty
      && scalable.select(naive.columns.map(col): _*).exceptAll(naive).isEmpty,
      "prefixSum diverged from the naive window")
  }

  test("prefixSum over integral DOUBLEs (the q90 packing path) is exact") {
    // the helper re-associates float addition (within-bucket sums, then
    // cumulated bucket totals), so general doubles agree only to ULP;
    // the q76/q90 contract is INTEGRAL-valued doubles (token counts),
    // where IEEE addition is exact below 2^53 and the bucketed form must
    // match the naive window bit-for-bit
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars").cast("double").as("n"))
    val naive = docs.withColumn("cum",
      sum(col("n")).over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val scalable = Windows.prefixSum(docs, Seq("lang"),
      expr("doc_id div 256"), Seq(col("doc_id")), col("n"), "cum")
    assert(naive.exceptAll(scalable.select(naive.columns.map(col): _*)).isEmpty
      && scalable.select(naive.columns.map(col): _*).exceptAll(naive).isEmpty,
      "integral-double prefixSum diverged from the naive window")
  }

  test("densePosScaled / prefixSumScaled match the naive window with a " +
       "FIXED bucket count") {
    // the input-scaled variants derive bucket width from the key range so
    // the bucket COUNT (and with it the broadcast offsets frame) is
    // bounded at any input size — values must still be cell-identical
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars").cast("long").as("n"))
    val naivePos = docs.withColumn("pos",
      row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id")))
        .cast("long"))
    val scaledPos = Windows.densePosScaled(docs, Seq("lang"), col("doc_id"),
      Seq(col("doc_id")), "pos", nBuckets = 64)
    assert(naivePos.exceptAll(scaledPos.select(naivePos.columns.map(col): _*)).isEmpty
      && scaledPos.select(naivePos.columns.map(col): _*).exceptAll(naivePos).isEmpty,
      "densePosScaled diverged from the naive window")

    val naiveSum = docs.withColumn("cum",
      sum(col("n")).over(Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val scaledSum = Windows.prefixSumScaled(docs, Seq("lang"), col("doc_id"),
      Seq(col("doc_id")), col("n"), "cum", nBuckets = 64)
    assert(naiveSum.exceptAll(scaledSum.select(naiveSum.columns.map(col): _*)).isEmpty
      && scaledSum.select(naiveSum.columns.map(col): _*).exceptAll(naiveSum).isEmpty,
      "prefixSumScaled diverged from the naive window")

    // bucket-count bound: the derived bucket lands in [0, nBuckets)
    val b = Windows.prefixSumScaled(docs, Seq("lang"), col("doc_id"),
      Seq(col("doc_id")), col("n"), "cum", nBuckets = 64)
    assert(b.count() == docs.count())
  }

  test("ntileScaled / ntileScaledMulti reproduce global ntile exactly, " +
       "including N % n remainders, DESC orders and N < n") {
    // r15: the q164/q132/q291 global ntile windows were replaced by the
    // positional arithmetic — the tile assignment must be cell-identical
    // for every remainder class of N mod n and for descending orders
    // with negated bucket keys (the RFM shape)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n"))
      .localCheckpoint()
    for (take <- Seq(3, 97, 100, 101, 102, 103)) {
      val df = docs.orderBy(col("doc_id")).limit(take).localCheckpoint()
      val naive = df.withColumn("t",
        ntile(4).over(Window.orderBy(col("n"), col("doc_id"))).cast("long"))
      val scaled = Windows.ntileScaled(df, col("n"),
        Seq(col("n"), col("doc_id")), 4, "t", nBuckets = 16)
      assert(naive.exceptAll(scaled.select(naive.columns.map(col): _*)).isEmpty
        && scaled.select(naive.columns.map(col): _*).exceptAll(naive).isEmpty,
        s"ntileScaled diverged from ntile at N=$take")
    }
    // multi-axis with a DESC order and a negated key (the q164 shape)
    val naive2 = docs
      .withColumn("a", ntile(4).over(
        Window.orderBy(col("n").desc, col("doc_id"))).cast("long"))
      .withColumn("b", ntile(4).over(
        Window.orderBy(col("doc_id"))).cast("long"))
    val scaled2 = Windows.ntileScaledMulti(docs, Seq(
      (-col("n"), Seq(col("n").desc, col("doc_id")), "a"),
      (col("doc_id"), Seq(col("doc_id")), "b")), 4, nBuckets = 32)
    assert(naive2.exceptAll(scaled2.select(naive2.columns.map(col): _*)).isEmpty
      && scaled2.select(naive2.columns.map(col): _*).exceptAll(naive2).isEmpty,
      "ntileScaledMulti diverged from the ntile windows")
  }

  test("a NULL bucket key fails the scaled helpers by name") {
    // the helpers bucket every row by its key's place in the (min, max)
    // range, so a NULL key has no bucket; it must fail the query, not
    // lose its row. For ntileScaledMulti the NULL sits in the SECOND axis.
    val df = spark.range(0, 50).select(col("id"), (col("id") % 3).as("g"),
      when(col("id") =!= 17, col("id")).as("k"))
    def failsByName(out: org.apache.spark.sql.DataFrame): Unit = {
      val err = intercept[Throwable](out.collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
          .exists(e => String.valueOf(e.getMessage).contains(Windows.PrefixKeyNull)),
        s"a NULL key must fail by name, got $err")
    }
    failsByName(Windows.prefixSumScaled(df, Seq("g"), col("k"), Seq(col("id")),
      col("id"), "cum", nBuckets = 8))
    failsByName(Windows.densePosScaled(df, Seq("g"), col("k"), Seq(col("id")),
      "pos", nBuckets = 8))
    failsByName(Windows.ntileScaledMulti(df, Seq(
      (col("id"), Seq(col("id")), "a"),
      (col("k"), Seq(col("k"), col("id")), "b")), 4, nBuckets = 8))
  }

  test("hexBucket is range-aligned with lexicographic hash order") {
    val hashed = Tables.documents(spark, sfDir)
      .select(md5(concat(lit("x:"), col("doc_id").cast("string"))).as("h"))
    // bucket of the max h in bucket b must be < bucket of min h in b+1
    val perBucket = hashed.withColumn("b", Windows.hexBucket(col("h")))
      .groupBy("b").agg(min("h").as("lo"), max("h").as("hi"))
      .orderBy("b").collect()
    perBucket.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[String]("hi") < b.getAs[String]("lo"),
          s"bucket ${a.getLong(0)} overlaps ${b.getLong(0)}")
      case _ => ()
    }
  }
}
