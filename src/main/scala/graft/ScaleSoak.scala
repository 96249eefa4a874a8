package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale soak: synthesize sf1 from sf0.1 and measure how the slowest
  * queries actually scale, converting SURVEY §8's 100 TB plan-shape
  * claims into first MEASUREMENTS (per-query scaling exponents).
  *
  * Usage: `runMain graft.ScaleSoak <baseSfDir> <soakDir> [factor]
  * [qCsv]` — synthesis is skipped when `<soakDir>/_SOAK_OK` exists.
  *
  * Synthesis = `factor` key-shifted copies of each base table, fully
  * declarative (no driver loops over data; the only collect is one
  * 1-row max-key aggregate per table):
  *  - fact/dim keys shift by copy × (max+1), so join fan-out, key
  *    cardinality ratios, and group sizes are preserved exactly —
  *    the workload gets `factor`× rows, not `factor`× skew;
  *  - `region`/`nation` stay fixed (TPC-H semantics: dims that do not
  *    scale), so broadcast-side sizes stay broadcast-sized;
  *  - `documents.text` is mapped through a per-copy seeded permutation
  *    alphabet (copy 0 = identity): within a copy every shingle/token/
  *    length statistic and every near-dup relationship is preserved
  *    EXACTLY (the substitution is a bijection applied uniformly), while
  *    across copies no shingle collides — so dedup workloads scale as a
  *    true `factor`× corpus instead of degenerating into `factor`-sized
  *    exact-duplicate clusters whose LSH buckets would blow up
  *    quadratically and measure a pathology the real corpus lacks;
  *  - `embeddings.embedding` is cyclically rotated by the copy index:
  *    a rotation is orthogonal, so within-copy cosine structure is
  *    exact and norms are untouched, while cross-copy similarity decays
  *    to the vectors' autocorrelation (≈ random for these embeddings).
  *
  * Measurement mirrors Bench: noop sink, untimed warm-up, min of
  * `passes` timed pass-major sweeps, session memos cleared at pass
  * boundaries. Output: one JSON line per run plus SOAK.json with
  * per-query base/soak seconds and the scaling exponent
  * log(t_soak/t_base)/log(factor) — 1.0 = linear, ≤~1.1 passes the
  * "no hidden superlinearity" gate (VERDICT r7 next-round item 4).
  */
object ScaleSoak {

  /** Slowest-query prefixes from BENCH_r07 + linear canaries (q01 scan
    * agg, q02 broadcast join, q41 exact dedup). */
  val defaultQueries: Seq[String] = Seq(
    "q01", "q02", "q41", "q45", "q46", "q47", "q64", "q68", "q69", "q70",
    "q71", "q84", "q85", "q90", "q150", "q163", "q167", "q170", "q171",
    "q190", "q195", "q196", "q197", "q198", "q199")

  /** Per-copy letter PERMUTATION, copy 0 = identity. Replaces the r8
    * ROTATION alphabet: rotations compose additively, so compounding
    * two soak decades (10 copies × 10 copies) pigeonholes 100 effective
    * copies into 26 distinct alphabets — copies with equal rotation
    * sums carried IDENTICAL text, the sf10 corpus degenerated into
    * ~6-deep exact-duplicate clusters, and q203's exact similarity join
    * measured that synthesis artifact (candidate pairs 67× at 10× docs)
    * instead of the corpus structure the soak means to preserve — the
    * precise pathology this synthesis documents itself as avoiding.
    * Seeded Fisher–Yates permutations compose into (essentially) unique
    * permutations: collision probability across compounded decades is
    * ~n²/26! ≈ 0. The seed mixes the copy index with a salt derived
    * from the base dir, so each decade draws an independent family.
    */
  private def permAlphabet(i: Int, salt: Int): (String, String) = {
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    if (i == 0) (lower + upper, lower + upper)
    else {
      val rnd = new scala.util.Random((salt.toLong << 32) | (i.toLong & 0xFFFFFFFFL))
      val p = rnd.shuffle(('a' to 'z').toIndexedSeq).mkString
      (lower + upper, p + p.toUpperCase)
    }
  }

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0)

  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
                 factor: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def copies(base: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(base, i)).reduce(_ unionByName _)

    // fixed dims: unscaled, verbatim
    wr(rd("region"), "region"); wr(rd("nation"), "nation")

    val cust = rd("customer"); val supp = rd("supplier")
    val part = rd("part"); val ord = rd("orders"); val li = rd("lineitem")
    val ev = rd("events"); val doc = rd("documents")
    val emb = rd("embeddings")
    val (cMax, sMax, pMax, oMax) = (maxOf(cust, "c_custkey") + 1,
      maxOf(supp, "s_suppkey") + 1, maxOf(part, "p_partkey") + 1,
      maxOf(ord, "o_orderkey") + 1)
    val (eMax, uMax) = (maxOf(ev, "event_id") + 1, maxOf(ev, "user_id") + 1)
    val dMax = maxOf(doc, "doc_id") + 1
    val vMax = maxOf(emb, "vec_id") + 1

    wr(copies(cust)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * cMax))), "customer")
    wr(copies(supp)((d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * sMax))), "supplier")
    wr(copies(part)((d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * pMax))), "part")
    wr(copies(ord)((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * oMax))
      .withColumn("o_custkey", col("o_custkey") + lit(i * cMax))), "orders")
    wr(copies(li)((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * oMax))
      .withColumn("l_partkey", col("l_partkey") + lit(i * pMax))
      .withColumn("l_suppkey", col("l_suppkey") + lit(i * sMax))), "lineitem")
    // events: new users per copy, same per-user density and time window
    wr(copies(ev)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * eMax))
      .withColumn("user_id", col("user_id") + lit(i * uMax))), "events")
    wr(copies(doc)((d, i) => {
      val (from, to) = permAlphabet(i, baseDir.hashCode)
      d.withColumn("doc_id", col("doc_id") + lit(i * dMax))
        .withColumn("text", translate(col("text"), from, to))
    }), "documents")
    wr(copies(emb)((d, i) => {
      val k = i % 8 // embedding dim ≥ 8; rotation 0 = identity for copy 0
      d.withColumn("vec_id", col("vec_id") + lit(i * vMax))
        .withColumn("embedding",
          if (k == 0) col("embedding")
          else concat(slice(col("embedding"), k + 1, 100000),
                      slice(col("embedding"), 1, k)))
    }), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleSoak <baseSfDir> <soakDir> " +
      "[factor] [qCsvPrefixes]")
    val (baseDir, soakDir) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val wanted: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else defaultQueries.toSet
    val passes = sys.env.getOrElse("SPARK_GRAFT_SOAK_PASSES", "2").toInt
    val spark = Session.local()

    val okMarker = java.nio.file.Paths.get(soakDir, "_SOAK_OK")
    if (!java.nio.file.Files.exists(okMarker)) {
      System.err.println(s"[soak] synthesizing ${factor}x of $baseDir -> $soakDir")
      synthesize(spark, baseDir, soakDir, factor)
      java.nio.file.Files.createFile(okMarker)
    } else System.err.println(s"[soak] reusing $soakDir")

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.contains(n.split("_").head) || wanted.contains(n) }
    def sweep(dir: String): Map[String, Double] = {
      def run(fn: (SparkSession, String) => DataFrame): Unit =
        fn(spark, dir).write.format("noop").mode("overwrite").save()
      val times = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
      names.foreach { case (n, fn) => // warm-up
        try run(fn) catch { case e: Throwable =>
          System.err.println(s"[soak] $n FAILED at $dir: ${e.getMessage}") }
        spark.catalog.clearCache()
      }
      Session.clear()
      (1 to passes).foreach { _ =>
        names.foreach { case (n, fn) =>
          val t0 = System.nanoTime()
          try {
            run(fn)
            times(n) = (System.nanoTime() - t0) / 1e9 :: times.getOrElse(n, Nil)
          } catch { case _: Throwable => () }
          spark.catalog.clearCache()
        }
        Session.clear()
      }
      times.view.mapValues(_.min).toMap
    }
    System.err.println(s"[soak] base sweep: $baseDir")
    val base = sweep(baseDir)
    System.err.println(s"[soak] soak sweep: $soakDir")
    val soak = sweep(soakDir)
    val rows = names.map(_._1).flatMap { n =>
      for (b <- base.get(n); s <- soak.get(n)) yield {
        val expo = math.log(s / b) / math.log(factor.toDouble)
        (n, b, s, s / b, expo)
      }
    }
    def fmt(v: Double) = f"$v%.3f"
    val json = rows.map { case (n, b, s, r, e) =>
      s""""${n.split("_").head}":{"base":${fmt(b)},"soak":${fmt(s)},"ratio":${fmt(r)},"exponent":${fmt(e)}}"""
    }.mkString("{", ",", "}")
    val out = s"""{"metric":"scale_soak","factor":$factor,"passes":$passes,"base_dir":"$baseDir","queries":$json}"""
    // write a RUN-KEYED sidecar instead of clobbering SOAK.json —
    // SOAK.json accumulates many named runs across sessions, and one
    // overwrite once cost the whole history (restored from git);
    // the curator merges the sidecar under its chosen section name
    val runKey = sys.env.getOrElse("SPARK_GRAFT_SOAK_KEY",
      s"run_${baseDir.replaceAll("[^A-Za-z0-9]", "_")}_x$factor")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"SOAK_$runKey.json"), out)
    println(out)
    spark.stop()
  }
}
