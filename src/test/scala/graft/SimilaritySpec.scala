package graft

import graft.ops.Similarity
import graft.sources.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Similarity + multimodal semantics beyond what the oracle checks. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("centroid Aggregator matches built-in per-dimension averages") {
    val fromAgg = Similarity.q51LabelCentroids(spark, sfDir)
      .select($"label", $"c0", $"c1").as[(Int, Double, Double)]
      .collect().map { case (l, a, b) => l -> (a, b) }.toMap
    val builtin = Tables.embeddings(spark, sfDir)
      .groupBy($"label")
      .agg(round(avg(element_at($"embedding", 1).cast("double")), 4).as("c0"),
           round(avg(element_at($"embedding", 2).cast("double")), 4).as("c1"))
      .as[(Int, Double, Double)].collect()
      .map { case (l, a, b) => l -> (a, b) }.toMap
    assert(fromAgg.keySet === builtin.keySet)
    fromAgg.foreach { case (l, (a0, a1)) =>
      val (b0, b1) = builtin(l)
      assert(math.abs(a0 - b0) <= 1e-4 && math.abs(a1 - b1) <= 1e-4,
        s"label $l: ($a0,$a1) vs ($b0,$b1)")
    }
  }

  test("brute-force top-k rank 1 is the true nearest neighbor") {
    val topk = Similarity.q49CosineTopk(spark, sfDir)
      .where($"rn" === 1).select($"q_id", $"c_id", $"cos")
      .as[(Long, Long, Double)].collect()
    // recompute densely on the driver at sf0.001 (500 vectors)
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap.view.mapValues(_.map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    topk.foreach { case (q, c, got) =>
      val best = vecs.collect { case (id, v) if id >= 5 => id -> cos(vecs(q), v) }
        .maxBy { case (id, s) => (s, -id) }
      assert(best._1 === c, s"query $q: expected NN ${best._1}, got $c")
      assert(math.abs(best._2 - got) < 1e-3)
    }
  }

  private def bucketOf(v: Seq[Double], nPlanes: Int): String =
    (0 until nPlanes).map { j =>
      val w = Similarity.planeWeights(j)
      if (v.zip(w).map { case (a, b) => a * b }.sum >= 0) "1" else "0"
    }.mkString

  test("plane family has no duplicate hyperplanes across 2 tables x 8 planes") {
    // regression guard for the period-11 affine family bug: 16 planes
    // (both q65 tables' worth) must be pairwise distinct.
    val planes = (0 until 16).map(Similarity.planeWeights(_))
    assert(planes.distinct.size === 16,
      "duplicate hyperplanes — multi-table LSH independence is broken")
  }

  test("LSH bucketing: every candidate pair shares the query's bucket (4 and 8 planes)") {
    val buckets = Tables.embeddings(spark, sfDir)
      .withColumn("e", $"embedding".cast("array<double>"))
      .select($"vec_id", $"e").as[(Long, Seq[Double])].collect().toMap
    Seq(4, 8).foreach { p =>
      val rows = Similarity.annLshBuckets(spark, sfDir, p)
        .select($"q_id", $"c_id", $"bucket").as[(Long, Long, String)].collect()
      assert(rows.nonEmpty, s"$p planes: no ANN results")
      rows.foreach { case (q, c, b) =>
        assert(bucketOf(buckets(q), p) === b && bucketOf(buckets(c), p) === b,
          s"$p planes: pair ($q,$c) bucket mismatch")
      }
    }
  }

  test("multi-table LSH (OR-construction) recovers recall lost to 8-plane buckets") {
    // table 0 of q65 uses planes 0..7 == q62's buckets, so q65's
    // candidate set is a superset of q62's: every (q, c) pair q62
    // returned must reappear, and each query's best hit can only improve.
    val single = Similarity.annLshBuckets(spark, sfDir, 8)
      .select($"q_id", $"c_id", $"cos").as[(Long, Long, Double)].collect()
    val multi = Similarity.annLshMultiTable(spark, sfDir, nPlanes = 8, nTables = 2)
      .select($"q_id", $"c_id", $"cos", $"rn").as[(Long, Long, Double, Long)].collect()
    val multiPairs = multi.map(r => (r._1, r._2)).toSet
    val singleTop = single.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    val multiTop = multi.filter(_._4 == 1L).map(r => r._1 -> r._3).toMap
    assert(multi.nonEmpty)
    // every single-table query answers again, at least as well
    singleTop.foreach { case (q, best) =>
      assert(multiTop.contains(q), s"query $q lost by multi-table")
      assert(multiTop(q) >= best - 1e-9, s"query $q: ${multiTop(q)} < $best")
    }
    // pairs can only be ADDED by extra tables (modulo q65's top-5 cut:
    // a q62 pair may drop out of the top-5 only if 5 better pairs exist)
    val dropped = single.filter { case (q, c, _) => !multiPairs.contains((q, c)) }
    dropped.foreach { case (q, c, cos) =>
      val better = multi.count(r => r._1 == q && r._3 >= cos)
      assert(better >= 5, s"pair ($q,$c) vanished without 5 better hits")
    }
  }

  test("IVF nprobe=2 searches a superset of nprobe=1's lists (recall lever)") {
    // corpus assignment is identical; queries add their 2nd-nearest list,
    // so candidates (and thus each query's best hit) can only improve.
    val p1 = Similarity.annIvf(spark, sfDir, 1)
      .select($"q_id", $"c_id", $"cos", $"rn").as[(Long, Long, Double, Long)].collect()
    val p2 = Similarity.annIvf(spark, sfDir, 2)
      .select($"q_id", $"c_id", $"cos", $"rn").as[(Long, Long, Double, Long)].collect()
    assert(p1.nonEmpty && p2.nonEmpty)
    val top1 = p1.filter(_._4 == 1L).map(r => r._1 -> r._3).toMap
    val top2 = p2.filter(_._4 == 1L).map(r => r._1 -> r._3).toMap
    top1.foreach { case (q, best) =>
      assert(top2.contains(q) && top2(q) >= best - 1e-9,
        s"query $q: nprobe=2 best ${top2.get(q)} worse than nprobe=1 $best")
    }
  }

  test("IVF centroid assignment is map-side: no window, no corpus shuffle") {
    // the r4 formulation fanned the corpus 10x against the centroids and
    // ranked with row_number() over Window.partitionBy(vec_id) — a full
    // hash shuffle of the (fanned) corpus just to pick an argmax over 10
    // rows. The map-side form must plan as a projection: every exchange
    // in the assignment subplan belongs to the 10-row centroid side.
    val assigned = Similarity.ivfAssigned(spark, sfDir)
    assigned.collect() // execute THIS queryExecution (AQE finalizes then)
    val plan = assigned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("WindowExec"), s"assignment still windows:\n$plan")
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"corpus shuffled for assignment:\n$plan")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.forall(l =>
        l.contains("hashpartitioning(label") || l.contains("SinglePartition") ||
        l.contains("BroadcastExchange")),
      s"non-centroid exchange in assignment plan:\n${exchanges.mkString("\n")}")
    // and the full q59 plan shuffles the corpus only for the probe join:
    // nothing anywhere partitions by vec_id
    val full = Similarity.q59AnnIvf(spark, sfDir)
    full.collect()
    val fullPlan = full.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fullPlan.contains("hashpartitioning(vec_id"),
      s"q59 still shuffles the corpus by vec_id:\n$fullPlan")
  }

  test("q111 PQ: driver-side recompute agrees bit-for-bit; encoding is map-side") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e", "label")
      .as[(Long, Seq[Double], Int)].collect().toSeq
    def r(v: Double, dp: Int): Double =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (m, sub) = (8, 8)
    val cents: Map[Int, Seq[Double]] = emb.groupBy(_._3).map { case (l, vs) =>
      l -> (0 until 64).map(i => r(vs.map(_._2(i)).sum / vs.size, 6)).toSeq
    }
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      dot(a, a) - 2 * dot(a, b) + dot(b, b)
    def sl(v: Seq[Double], s: Int): Seq[Double] = v.slice(s * sub, s * sub + sub)
    val corpus = emb.filter(_._1 >= 5)
    val codes: Map[Long, Seq[Int]] = corpus.map { case (id, e, _) =>
      id -> (0 until m).map { s =>
        cents.toSeq.map { case (cid, c) =>
          (r(d2(sl(e, s), sl(c, s)), 6), cid)
        }.min._2
      }
    }.toMap
    val expected = emb.filter(_._1 < 5).flatMap { case (qid, qe, _) =>
      corpus.map { case (cid2, _, _) =>
        val adc = (0 until m).foldLeft(0.0) { (acc, s) =>
          acc + d2(sl(qe, s), sl(cents(codes(cid2)(s)), s))
        }
        (r(adc, 4), cid2)
      }.sorted.take(5).zipWithIndex
        .map { case ((adc, cid2), i) => (qid, (i + 1).toLong, cid2, adc) }
    }.toSet
    val df = Similarity.q111PqTopk(spark, sfDir)
    val got = df.select($"q_id", $"rn", $"c_id", $"adc_d2")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
    // encoding stays map-side: the corpus is never hashed on its own id —
    // its only exchange is the per-query top-k window (q_id)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("hashpartitioning(vec_id") &&
           !plan.contains("hashpartitioning(c_id"),
      s"corpus shuffled for PQ encoding:\n$plan")
  }

  test("q117 semantic dedup drops exactly the planted near-copies") {
    val rows = Similarity.q117SemDedup(spark, sfDir)
      .select($"cluster", $"n_total", $"n_dropped", $"n_kept")
      .as[(Int, Long, Long, Long)].collect()
    val nOrig = Tables.embeddings(spark, sfDir).count()
    val nPlanted = Tables.embeddings(spark, sfDir)
      .where($"vec_id" % 25 === 0).count()
    assert(rows.map(_._2).sum === nOrig + nPlanted)
    // τ=0.95 separates cleanly: every planted copy dropped (it shares a
    // cluster with its ~0.999-cosine original), no natural pair caught
    // (0.47 within-label ceiling)
    assert(rows.map(_._3).sum === nPlanted)
    assert(rows.map(_._4).sum === nOrig)
    assert(nPlanted > 0)
  }

  test("embedding near-dup: planted-pair recall holds as plane count scales 4 -> 8") {
    val planted = Tables.embeddings(spark, sfDir)
      .where(pmod($"vec_id", lit(50)) === 0)
      .select($"vec_id").as[Long].collect().toSet
    assert(planted.nonEmpty)
    Seq(4, 8).foreach { p =>
      val found = Similarity.embeddingNearDup(spark, sfDir, p)
        .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
      val hits = planted.count(id => found.contains((id, id + 100000L)))
      val recall = hits.toDouble / planted.size
      // the planted dup is a SCALED copy (same direction) and sign
      // projections are scale-invariant, so recall must be total at
      // EVERY plane count — the LSH invariant, not a tuning accident.
      assert(recall >= 1.0, s"$p planes: recall $recall < 1.0")
    }
  }

  test("fused CosineSimilarity expression matches the HOF formulation") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0))).toDF("a", "b")
    val fused = df.select(
      graft.expr.GraftFunctions.cosine_sim($"a", $"b").as("c"))
      .as[Double].head()
    def d(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val hof = df.select(
      (d($"a", $"b") / (sqrt(d($"a", $"a")) * sqrt(d($"b", $"b")))).as("c"))
      .as[Double].head()
    assert(fused === hof)
    assert(math.abs(fused - 10.0 / 14.0) < 1e-12)
  }

  test("CosineSimilarity: type misuse is an analysis error, zero-norm is NULL") {
    // wrong element type -> analysis-time TypeCheckFailure, not a runtime
    // ClassCastException
    val ints = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    val typeErr = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(graft.expr.GraftFunctions.cosine_sim($"a", $"b")).collect()
    }
    assert(typeErr.getMessage.contains("cosine_sim"))
    // SQL surface: register on the live session, then misuse arity
    graft.expr.GraftFunctions.register(spark)
    val okSql = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .as[Double].head()
    assert(okSql === 1.0)
    val arityErr = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1.0d)) AS c").collect()
    }
    assert(arityErr.getMessage.contains("2 arguments") ||
           arityErr.getMessage.contains("cosine_sim"))
    // zero-norm vector -> NULL (not NaN), through the codegen path
    val zero = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0)), (Seq(1.0, 0.0), Seq(1.0, 0.0)))
      .toDF("a", "b")
      .select(graft.expr.GraftFunctions.cosine_sim($"a", $"b").as("c"))
    val got = zero.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).isEmpty, "zero-norm must be NULL, not NaN")
    assert(got(1).contains(1.0))
    // null propagation
    val withNull = Seq((Option.empty[Seq[Double]], Option(Seq(1.0))))
      .toDF("a", "b")
      .select(graft.expr.GraftFunctions.cosine_sim($"a", $"b").as("c"))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("multimodal feature extraction is deterministic and schema-stable") {
    val ds = Multimodal.mediaCatalog(spark, sfDir)
      .as[Multimodal.MediaRecord]
    val feats = Multimodal.extractFeatures(ds).collect()
      .sortBy(_.media_id)
    assert(feats.length === Tables.documents(spark, sfDir).count())
    val again = Multimodal.extractFeatures(ds).collect().sortBy(_.media_id)
    assert(feats.map(f => (f.media_id, f.fingerprint, f.width, f.height, f.n_frames))
      .sameElements(again.map(f => (f.media_id, f.fingerprint, f.width, f.height, f.n_frames))))
    // fake-codec geometry contract (the stub is deterministic on bytes)
    feats.foreach { f =>
      assert(f.width === (f.n_bytes % 64) * 10 + 32)
      assert(f.height === (f.n_bytes % 48) * 10 + 24)
      if (f.kind != "video") assert(f.n_frames === 1)
    }
  }

  test("q131 JL: shortlist recall dominates direct recall; projection is " +
       "deterministic and angle-preserving on structured pairs") {
    import spark.implicits._
    // monotone by construction (rn_p <= 10 implies rn_p <= 50) — a
    // regression here means the two rankings got crossed
    Similarity.q131JlProjection(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"shortlist recall below direct recall at q_id=${r.get(0)}")
    }
    // JL preserves STRUCTURE when it exists: a planted near-duplicate
    // pair (v, v + small deterministic perturbation) stays near-parallel
    // after projection, while an orthogonal pair stays far. The fixture
    // is exact (no randomness): base = one-hot-ish ramps.
    val dim = 64
    val base = Array.tabulate(dim)(i => 1.0 + (i % 7) * 0.25)
    val near = base.zipWithIndex.map { case (v, i) => v + 0.01 * (i % 3) }
    val ortho = Array.tabulate(dim)(i => if (i % 2 == 0) base(i + 1) else -base(i - 1))
    val df = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, ortho.toSeq))
      .toDF("vec_id", "e")
    // reuse the query's literal projection text via a tiny local rebuild
    val projExpr = (0 until 32).map { j =>
      val terms = (0 until dim).map { i =>
        val sgn = {
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(s"jl:$i:$j".getBytes("UTF-8"))
          if ((h(0) & 1) == 0) " + " else " - "
        }
        sgn + s"element_at(e, ${i + 1})"
      }.mkString
      s"(0.0D$terms)"
    }.mkString("array(", ", ", ")")
    val projected = df.select($"vec_id", expr(projExpr).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // the QUERY's formulation (literal matrix × HOF accumulate) must be
    // bit-for-bit identical to this inline ±-sum: same index order,
    // ±1.0*e ≡ ±e in IEEE — the claim the q131 plan-size optimization
    // rests on
    val matrix = (0 until 32).map { j =>
      (0 until dim).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"jl:$i:$j".getBytes("UTF-8"))
        (if ((h(0) & 1) == 0) "1" else "-1") + ".0D"
      }.mkString("array(", ", ", ")")
    }.mkString("array(", ", ", ")")
    val hofProjected = df.select($"vec_id",
        expr(s"transform($matrix, r -> aggregate(zip_with(r, e, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x))").as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    projected.keys.foreach { k =>
      assert(projected(k).toSeq === hofProjected(k).toSeq,
        s"HOF projection diverged from the inline ±-sum at vec_id=$k")
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // exact-dup direction survives projection nearly unchanged...
    assert(cos(projected(0L), projected(1L)) > 0.99,
      "JL failed to preserve a planted near-duplicate direction")
    // ...and the orthogonal pair stays clearly separated from it
    assert(cos(projected(0L), projected(2L)) < 0.6,
      "JL collapsed an orthogonal pair onto the base direction")
    // determinism: a Scala recompute of the same sign matrix agrees
    // bit-for-bit with the Spark-evaluated projection
    def signOf(i: Int, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl:$i:$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
    val local = Array.tabulate(32)(j =>
      (0 until dim).foldLeft(0.0)((acc, i) => acc + signOf(i, j) * base(i)))
    assert(projected(0L).toSeq === local.toSeq,
      "Spark projection diverged from the driver-side recompute")
  }

  test("q159 MMR: step 1 is the relevance top-1; later steps diversify") {
    val mmr = Similarity.q159MmrDiversify(spark, sfDir)
      .select($"q_id", $"step", $"c_id").as[(Long, Long, Long)].collect()
    val top = Similarity.q49CosineTopk(spark, sfDir)
      .select($"q_id", $"rn", $"c_id").as[(Long, Long, Long)].collect()
    // q49 queries are vec_id < 5, q159's are < 3 — compare on the overlap.
    // Top-1 by relevance must be MMR's first pick (maxsim term is 0).
    // NOTE q49's corpus is vec_id >= 5 vs q159's >= 3: compare only
    // queries whose top-1 is >= 5 in both (avoids the 3/4 edge docs).
    val mmrFirst = mmr.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    val relFirst = top.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    val comparable = mmrFirst.keySet intersect relFirst.keySet
    assert(comparable.nonEmpty)
    comparable.filter(q => mmrFirst(q) >= 5 && relFirst(q) >= 5).foreach { q =>
      assert(mmrFirst(q) === relFirst(q), s"query $q first pick")
    }
    // five DISTINCT picks per query, all steps present
    mmr.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L), s"q$q steps")
      assert(rows.map(_._3).distinct.length === 5, s"q$q picks must be distinct")
    }
  }

  // ─── k-means codebook trainer (q206–q208) ────────────────────────────

  private def embFrame = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding".cast("array<double>").as("e"))

  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Pure-driver Lloyd's recompute with the trainer's exact contract:
    * id-hash seeds, three-dot d², cid tiebreak, round-6 update, empty-
    * cluster carry. */
  private def driverKmeans(vecs: Map[Long, Array[Double]], k: Int,
                           iters: Int): Map[Int, Array[Double]] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def d2(a: Array[Double], b: Array[Double]): Double =
      dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
    val seeds = vecs.keys.toSeq
      .sortBy(id => (md5hex(id.toString), id)).take(k)
    var cents: Map[Int, Array[Double]] =
      seeds.zipWithIndex.map { case (id, i) => i -> vecs(id) }.toMap
    (1 to iters).foreach { _ =>
      val assigned = vecs.toSeq.map { case (id, v) =>
        val cid = cents.toSeq.map { case (c, carr) => (d2(v, carr), c) }
          .min._2
        (cid, v)
      }
      val byC = assigned.groupBy(_._1)
      cents = cents.map { case (c, prev) =>
        byC.get(c) match {
          case Some(members) =>
            val n = members.size
            val mean = Array.tabulate(prev.length) { i =>
              round6(members.map(_._2(i)).sum / n) }
            c -> mean
          case None => c -> prev
        }
      }
    }
    cents
  }

  test("kmeansCodebooks ≡ driver-side Lloyd recompute (2 iterations, " +
       "rounded-6 centroids exact)") {
    val got = Similarity.kmeansCodebooks(embFrame, 1, Similarity.DIM, 8, 2)
      .select($"cid", $"carr").as[(Int, Seq[Double])]
      .collect().map { case (c, a) => c -> a.toArray }.toMap
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, e) => id -> e.map(_.toDouble).toArray }
      .toMap
    val want = driverKmeans(vecs, 8, 2)
    assert(got.keySet === want.keySet)
    got.foreach { case (c, arr) =>
      val w = want(c)
      assert(arr.length == w.length)
      arr.indices.foreach { i =>
        assert(arr(i) == w(i),
          s"cid $c dim $i: spark ${arr(i)} vs driver ${w(i)}")
      }
    }
  }

  test("Lloyd iterations do not increase within-cluster SSE") {
    def sse(cents: org.apache.spark.sql.DataFrame): Double = {
      val folded = broadcast(cents.agg(
        collect_list(struct($"m", $"cid", $"carr")).as("cents")))
      def dotC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
      Similarity.pieces(embFrame, 1, Similarity.DIM).crossJoin(folded)
        .select(element_at(array_sort(transform($"cents",
          c => struct((dotC($"sub", $"sub") - lit(2.0) * dotC($"sub", c("carr"))
                       + dotC(c("carr"), c("carr"))).as("d"),
                      c("cid").as("cid")))), 1)("d").as("d"))
        .agg(sum($"d")).as[Double].head()
    }
    // the trainer is deterministic, so the 1-iteration run IS the
    // 2-iteration run's intermediate state
    val after1 = sse(Similarity.kmeansCodebooks(embFrame, 1, Similarity.DIM, 8, 1))
    val after2 = sse(Similarity.kmeansCodebooks(embFrame, 1, Similarity.DIM, 8, 2))
    assert(after2 <= after1 + 1e-6,
      s"SSE rose across a Lloyd round: $after1 -> $after2")
    assert(after1 > 0.0, "degenerate zero SSE — fixture broken")
  }

  test("q212 document clustering conserves the tokenized corpus") {
    val rows = Similarity.q212DocClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val clustered = rows.map(_._3).sum
    val tokenized = Tables.documents(spark, sfDir)
      .where(length(regexp_replace(lower($"text"), "[^a-z0-9]", "")) > 0)
      .count()
    assert(clustered == tokenized,
      s"clustered $clustered docs vs $tokenized tokenizable")
    val nClusters = rows.map(_._1).distinct.length
    assert(nClusters >= 2 && nClusters <= 5,
      s"expected 2..5 live clusters, got $nClusters")
  }

  test("q217 silhouette census ≡ driver-side exact recompute") {
    val feats = Similarity.docTfFeatures(spark, sfDir)
      .as[(Long, Seq[Double])].collect()
      .map { case (id, e) => id -> e.toArray }
    val cents = Similarity.kmeansCodebooks(
        Similarity.docTfFeatures(spark, sfDir), 1, 16, 5, 2)
      .select($"cid", $"carr").as[(Int, Seq[Double])]
      .collect().map { case (c, a) => c -> a.toArray }.sortBy(_._1)
    // identical arithmetic: left-to-right dot accumulation, the three-dot
    // d² form, (d², cid) argmin, HALF_UP rounding — so equality is EXACT
    def dotLR(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val per = feats.map { case (_, e) =>
      val ds = cents.map { case (c, arr) =>
        (dotLR(e, e) - 2.0 * dotLR(e, arr) + dotLR(arr, arr), c) }
      val (d2own, cid) = ds.minBy(identity)
      val a = math.sqrt(math.max(d2own, 0.0))
      val b = math.sqrt(math.max(
        ds.collect { case (d2, c) if c != cid => d2 }.min, 0.0))
      val sd = if (math.max(a, b) == 0.0) 0.0 else r6((b - a) / math.max(a, b))
      (cid, sd)
    }
    val want = per.groupBy(_._1).map { case (c, xs) =>
      c.toLong -> ((xs.length.toLong, xs.count(_._2 > 0).toLong,
        xs.map(t => BigDecimal(t._2 * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum))
    }
    val got = Similarity.q217ClusterSilhouette(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === want)
    // sanity: silhouettes live in [-1, 1] ⇒ micro sums bounded by 1e6·n
    got.foreach { case (c, (n, npos, micro)) =>
      assert(npos <= n && math.abs(micro) <= n * 1000000L,
        s"cid $c out of bounds: n=$n npos=$npos micro=$micro")
    }
  }

  test("q206 membership census conserves the corpus") {
    val rows = Similarity.q206KmeansCodebook(spark, sfDir).collect()
    assert(rows.length == 8)
    val total = rows.map(_.getLong(1)).sum
    val n = Tables.embeddings(spark, sfDir).count()
    assert(total == n, s"members $total != corpus $n")
    // unsupervised: no label column was consulted anywhere — clusters
    // need not align with the 10 labels, but none may be empty here
    assert(rows.forall(_.getLong(1) > 0), "empty cluster at sf0.001")
  }

  test("q236 residual quantization cuts energy; candidates are cell-bounded") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    // recompute the coarse quantizer with the public trainer (same
    // hyper-parameters as q236) and measure residual vs raw energy:
    // PQ-on-residuals only earns its keep if the coarse step removes
    // variance — the quantity the composition exists to exploit
    val cents = Similarity.kmeansCodebooks(emb, 1, 64, 8, 2)
      .select($"cid", $"carr").as[(Long, Seq[Double])].collect().toMap
    val vecs = emb.where($"vec_id" >= 5).as[(Long, Seq[Double])].collect()
    def sq(v: Seq[Double]) = v.map(x => x * x).sum
    val (rawE, resE) = vecs.foldLeft((0.0, 0.0)) { case ((r, q), (_, v)) =>
      val cell = cents.minBy { case (cid, c) =>
        (sq(v) - 2.0 * v.zip(c).map(p => p._1 * p._2).sum + sq(c), cid) }._2
      (r + sq(v), q + sq(v.zip(cell).map(p => p._1 - p._2)))
    }
    // near-isotropic 64-dim noise is the worst case for an 8-centroid
    // coarse quantizer (measured ~7% here; real corpora cluster and give
    // far more) — the invariant is strict reduction, not a magnitude
    assert(resE < rawE,
      s"coarse quantizer removed no energy (raw=$rawE res=$resE)")
    // the IVF side did its job: every query searched a strict subset
    val corpusN = vecs.length.toLong
    val out = Similarity.q236IvfPqResidual(spark, sfDir)
      .select($"q_id", $"n_cand").as[(Long, Long)].collect()
    assert(out.length === 5)
    out.foreach { case (q, n) =>
      assert(n > 0L && n < corpusN, s"query $q candidates $n of $corpusN") }
  }

  test("q266 farthest-first: selection distances decrease, radius bounded") {
    import spark.implicits._
    val got = Similarity.q266KCenterCoreset(spark, sfDir)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length === 6)
    assert(got.map(_._2).distinct.length === 6, "picks must be distinct")
    // the classic farthest-first monotonicity: each new pick is at most
    // as far from the selected set as the previous one was
    val ds = got.drop(1).map(_._3) // steps 2..6
    assert(ds.zip(ds.tail).forall { case (a, b) => b <= a }, ds.toSeq)
    // the k-center objective after 6 picks cannot exceed the 6th pick's
    // own selection distance (it WAS the farthest point at selection)
    val radius = got.head._4
    assert(radius <= ds.last + 1e-9, s"radius $radius vs ${ds.last}")
    assert(radius > 0.0)
  }

  test("q259 PCA power iteration matches an exact driver-side recompute") {
    import spark.implicits._
    // Spark's Round(DoubleType) semantics: BigDecimal HALF_UP at scale 6
    def r6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val rows = Tables.embeddings(spark, sfDir)
      .select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().map(_.toArray)
    val dim = rows.head.length
    // the operator's exact recurrence, re-run on the driver: round-6 at
    // every cross-row aggregate, left-to-right within-row folds
    val mu = Array.tabulate(dim)(j => r6(rows.map(_(j)).sum / rows.length))
    val xs = rows.map(r => Array.tabulate(dim)(j => r(j) - mu(j)))
    def dotLR(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { acc += a(i) * b(i); i += 1 }; acc
    }
    var v = Array.fill(dim)(0.125)
    for (_ <- 1 to 3) {
      val ts = xs.map(x => dotLR(v, x))
      val sArr = Array.tabulate(dim) { j =>
        r6(xs.zip(ts).map { case (x, t) => t * x(j) }.sum / xs.length) }
      val n = math.sqrt(dotLR(sArr, sArr))
      v = sArr.map(c => r6(c / n))
    }
    val lambda = r6(xs.map(x => { val t = dotLR(v, x); t * t }).sum / xs.length)
    val totvar = r6(xs.map(x => dotLR(x, x)).sum / xs.length)
    val got = Similarity.q259PcaPower(spark, sfDir)
      .as[(Long, Double, Double, Double)].collect()
    assert(got.length === dim)
    got.foreach { case (j, loading, l, share) =>
      // cross-row driver sums can differ from Spark's partial-agg order
      // by ~1e-15 pre-round; the 6-dp boundary absorbs it, so equality
      // here is exact — the same argument the DuckDB oracle rides on
      assert(loading === v(j.toInt - 1), s"dim $j")
      assert(l === lambda)
      assert(share === BigDecimal.valueOf(lambda / totvar)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the learned axis is a unit vector (post-rounding, to 1e-4) and
    // explains a sane share of total variance
    val norm = math.sqrt(dotLR(v, v))
    assert(math.abs(norm - 1.0) < 1e-4)
    assert(got.head._4 > 0.0 && got.head._4 <= 1.0)
  }

  test("sign_bands kernel ≡ the when-chain formulation, bit for bit") {
    import org.apache.spark.sql.functions._
    // the expression q302's native kernel replaced — kept here as the
    // reference formulation
    def word(w: Int) =
      (0 until 8).map(i =>
        when(element_at(col("e"), 8 * w + i + 1) > 0.0,
          lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val emb = Tables.embeddings(spark, sfDir)
      .withColumn("e", col("embedding").cast("array<double>"))
    val both = emb
      .withColumn("bs", graft.expr.SignFunctions.sign_bands(col("e"), 8))
      .select((0 until 8).flatMap(w => Seq(
        element_at(col("bs"), w + 1).as(s"n$w"), word(w).as(s"r$w"))): _*)
    val bad = both.where((0 until 8)
      .map(w => col(s"n$w") =!= col(s"r$w")).reduce(_ || _)).count()
    assert(bad === 0L, "native and when-chain sign bands must agree")

    // hand-pinned edge cases: zeros are NOT set (strict > 0), negatives
    // are not set, band boundaries land where they should
    val one = Seq((1L,
      Array.fill(8)(0.0) ++ Array.fill(8)(1.0) ++
        Array.fill(8)(-1.0) ++ Array(1.0, 0.0, -2.0, 3.0, 0.0, 5.0, -6.0,
          7.0) ++ Array.fill(32)(2.0)))
      .toDF("id", "e")
      .select(graft.expr.SignFunctions.sign_bands(col("e"), 8).as("bs"))
      .head().getSeq[Long](0)
    assert(one === Seq(0L, 255L, 0L,
      1L + 8L + 32L + 128L, 255L, 255L, 255L, 255L))
  }

  test("q317 NN-descent rounds ≡ exact driver recompute from the seed " +
       "graph (reverse cap, candidate join, integer-bp top-K)") {
    val vecs = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap.view.mapValues(_.map(_.toDouble).toArray).toMap
    def bp(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      // Spark round(x, 0) = HALF_UP (away from zero on ties)
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    def topK(edges: Set[(Long, Long, Long)]): Set[(Long, Long, Long)] =
      edges.groupBy(_._1).values.flatMap(g =>
        g.toSeq.sortBy(e => (-e._3, e._2)).take(4)).toSet
    var g: Set[(Long, Long, Long)] = Similarity.nnSeedGraph(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    for (_ <- 1 to 2) {
      val rev = g.map(e => (e._2, e._1, e._3)).groupBy(_._1).values
        .flatMap(r => r.toSeq.sortBy(e => (-e._3, e._2)).take(8)).toSet
      val b = g.map(e => (e._1, e._2)) ++ rev.map(e => (e._1, e._2))
      val byMid = b.groupBy(_._1)
      val cand = b.flatMap { case (u, v) =>
        byMid.getOrElse(v, Set.empty).collect {
          case (_, w) if w != u => (u, w) } }
      val scored = cand.map { case (u, w) => (u, w, bp(vecs(u), vecs(w))) }
      g = topK(scored ++ g)
    }
    val fromSpark = Similarity.nnDescentGraph(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    assert(fromSpark === g,
      s"graph mismatch: spark-only ${(fromSpark -- g).take(5)}, " +
        s"driver-only ${(g -- fromSpark).take(5)}")
    // graph sanity: no self-edges, ≤ 4 neighbors per vertex
    assert(fromSpark.forall(e => e._1 != e._2))
    assert(fromSpark.groupBy(_._1).values.forall(_.size <= 4))
  }

  test("q322 beam serve: answers are graph-reachable from the entries " +
       "within the hop budget; visited set contains the answer") {
    val g = Tables.embeddings(spark, sfDir).sparkSession // session handle
    val graph = Similarity.nnDescentGraph(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val und = (graph.map(e => (e._1, e._2)) ++
      graph.map(e => (e._2, e._1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val entries = Tables.embeddings(spark, sfDir)
      .select($"vec_id").as[Long].collect()
      .sortBy(v => (md5Hex(s"entry:$v"), v)).take(4).toSet
    // BFS reachability within 3 hops of the entry set
    var reach = entries
    for (_ <- 1 to 3)
      reach = reach ++ reach.flatMap(v => und.getOrElse(v, Set.empty))
    val served = Similarity.q322NnBeamServe(spark, sfDir)
      .select($"q_id", $"n_visited").as[(Long, Long)].collect()
    assert(served.length === 10)
    // the visited budget can never exceed the 3-hop reachable set + self
    served.foreach { case (q, n) =>
      assert(n <= reach.size.toLong,
        s"probe $q visited $n > ${reach.size} reachable") }
  }

  test("q325 IVF-seeded serving: panel totals are internally consistent " +
       "and the 2-hop IVF walk spends no more visits than the 3-hop " +
       "fixed walk in aggregate") {
    val rows = Similarity.q325NnIvfEntryServe(spark, sfDir)
      .select($"n_hits_ivf", $"n_visited_ivf", $"n_hits_fixed",
        $"n_visited_fixed", $"tot_hits_ivf", $"tot_vis_ivf",
        $"tot_hits_fixed", $"tot_vis_fixed")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 40, "40-probe panel")
    // the pinned totals are exactly the per-probe sums
    assert(rows.map(_._1).sum === rows.head._5)
    assert(rows.map(_._2).sum === rows.head._6)
    assert(rows.map(_._3).sum === rows.head._7)
    assert(rows.map(_._4).sum === rows.head._8)
    // hop budget: the shorter IVF walk must not out-visit the fixed one
    assert(rows.head._6 <= rows.head._8,
      s"ivf visits ${rows.head._6} > fixed ${rows.head._8}")
    rows.foreach { r => assert(r._1 <= 4 && r._3 <= 4, "hits bounded by K") }
  }

  test("walk kernel ≡ the naive union-then-distinct walk on generated " +
       "graphs (mutual/duplicate edges, self-loops, isolated vertices, bp " +
       "ties, empty entries, hops 0–3, widths 1–3); duplicate entries " +
       "fail by name") {
    // few distinct vectors over up to 8 vertices ⇒ bp ties are common
    val palette = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0),
      Seq(2.0, 1.0))
    case class Case(n: Int, vecs: Seq[Int], edges: Seq[(Long, Long)],
                    ents: Seq[Long], panel: Boolean, hops: Int, width: Int)
    val gen = for {
      n <- Gen.choose(1, 8)
      vecs <- Gen.listOfN(n + 2, Gen.choose(0, palette.size - 1))
      vid = Gen.choose(0L, n - 1L)
      edges <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.zip(vid, vid)))
      mutual <- Gen.someOf(edges)
      ents <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, vid))
      panel <- Gen.oneOf(true, false)
      hops <- Gen.choose(0, 3)
      width <- Gen.choose(1, 3)
    } yield Case(n, vecs, edges ++ mutual.map(_.swap), ents, panel, hops,
      width)
    val cases = (0 until 40).flatMap(i =>
      gen(Gen.Parameters.default, Seed(i.toLong)))
    // the seeds reach every shape the walk's contract distinguishes
    assert(cases.exists(_.ents.isEmpty))
    assert(cases.exists(c => c.hops > 0 && c.ents.distinct.size < c.ents.size))
    assert(cases.exists(c => c.edges.exists(e => e._1 == e._2)))
    assert(cases.exists(c => c.edges.distinct.size < c.edges.size))
    assert(cases.exists(c => c.n > c.edges.flatMap(e => Seq(e._1, e._2))
      .distinct.size))
    assert(Set(0, 3).subsetOf(cases.map(_.hops).toSet))
    assert(Set(1, 3).subsetOf(cases.map(_.width).toSet))
    def naiveWalk(score: Similarity.Scorer, adj: DataFrame,
                  entries: DataFrame, hops: Int, width: Int): DataFrame = {
      var visited = score(entries)
      for (_ <- 1 to hops) {
        val nbrs = Similarity.beam(visited, width)
          .select($"q_id", $"v".as("u")).join(adj, "u")
          .select($"q_id", $"v").distinct()
        visited = visited.unionAll(score(nbrs)).distinct().localCheckpoint()
      }
      visited
    }
    def rows(df: DataFrame) = df.select($"q_id", $"v", $"bp")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    cases.foreach { c =>
      val emb = c.vecs.take(c.n).zipWithIndex
        .map { case (k, i) => (i.toLong, palette(k)) }.toDF("vec_id", "e")
      // panel probes are graph vertices (self-pairs excluded); batch
      // probes are new ids outside the graph
      val probeRows =
        if (c.panel) (0 until math.min(2, c.n)).map(i =>
          (i.toLong, palette(c.vecs(i))))
        else Seq((100L, palette(c.vecs(c.n))), (101L, palette(c.vecs(c.n + 1))))
      val probes = probeRows.toDF("q_id", "qe")
      val score =
        if (c.panel) Similarity.panelScorer(emb, probes)
        else Similarity.batchScorer(emb, probes)
      val adj = Similarity.undirected(c.edges.toDF("u", "v"))
      def entries = Similarity.fixedEntries(probes, c.ents.toDF("v"))
      val pairs = for ((q, _) <- probeRows; v <- c.ents if q != v) yield (q, v)
      lazy val kernel = Similarity.walk(score, adj, entries, c.hops, c.width)
      if (c.hops > 0 && pairs.distinct.size < pairs.size) {
        val err = intercept[Exception](rows(kernel))
        assert(Iterator.iterate[Throwable](err)(_.getCause)
            .takeWhile(_ != null)
            .exists(e => String.valueOf(e.getMessage)
              .contains(Similarity.WalkEntriesNotASet)),
          s"$c: duplicate entries must fail by name, got $err")
      } else
        assert(rows(kernel) === rows(naiveWalk(score, adj, entries, c.hops,
          c.width)), s"kernel and naive walk disagree on $c")
    }
  }

  test("q324 incremental insert: base graph excludes the batch, every " +
       "new vector serves K edges, untouched lists carry, quality is " +
       "monotone under the re-cuts") {
    val (bgDf, g2Df) = Similarity.nnMaintainedGraph(spark, sfDir)
    val base = bgDf.as[(Long, Long, Long)].collect().toSet
    val maint = g2Df.as[(Long, Long, Long)].collect().toSet
    def isNew(v: Long) = v % 10 == 9
    assert(base.forall(e => !isNew(e._1) && !isNew(e._2)),
      "base graph must not touch the held-out batch")
    assert(maint.forall(e => e._1 != e._2), "no self-edges")
    assert(maint.groupBy(_._1).values.forall(_.size <= 4), "degree bound")
    // K-coverage: every inserted vector has exactly K forward edges
    val newIds = Tables.embeddings(spark, sfDir).select($"vec_id")
      .as[Long].collect().filter(isNew).toSet
    val newLists = maint.filter(e => isNew(e._1)).groupBy(_._1)
    assert(newLists.keySet === newIds,
      "every inserted vector must be servable from the maintained graph")
    assert(newLists.values.forall(_.size === 4))
    // carry discipline: a base vertex's maintained list may differ from
    // its base list ONLY by adopting new vertices — base-targeted edges
    // must come verbatim from the base graph (re-cuts never invent or
    // rescore a base pair)
    val baseByU = base.groupBy(_._1)
    maint.filter(e => !isNew(e._1) && !isNew(e._2)).foreach { e =>
      assert(baseByU.getOrElse(e._1, Set.empty).contains(e),
        s"base-pair edge $e not in the base graph") }
    // monotone quality: each re-cut selects top-K over a SUPERSET of
    // the previous list, so per-vertex sorted bp can only improve
    val maintByU = maint.groupBy(_._1)
    baseByU.foreach { case (u, bl) =>
      val ml = maintByU.getOrElse(u, Set.empty)
      val bs = bl.toSeq.map(_._3).sorted.reverse
      val ms = ml.toSeq.map(_._3).sorted.reverse
      assert(ms.size >= bs.size, s"vertex $u lost edges")
      bs.zip(ms).foreach { case (bbp, mbp) =>
        assert(mbp >= bbp, s"vertex $u quality regressed: $bbp -> $mbp") }
    }
  }

  test("q334 incremental delete: no tombstoned id survives in any list, " +
       "undamaged lists carry verbatim, damaged re-cuts stay degree-" +
       "bounded and only improve") {
    val full = Similarity.nnGraphFor(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    val maint = Similarity.nnDeletedGraph(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    def isDel(v: Long) = v % 10 == 7
    // the invariant the verdict asked for: NO deleted id anywhere
    assert(maint.forall(e => !isDel(e._1) && !isDel(e._2)),
      "a tombstoned id survived in the maintained graph")
    assert(maint.forall(e => e._1 != e._2), "no self-edges")
    assert(maint.groupBy(_._1).values.forall(_.size <= 4), "degree bound")
    // carry discipline: a survivor that never pointed at a tombstone
    // and gained no damage-round candidates keeps its full-graph list
    // minus nothing — its surviving edges are a subset of its full list
    val fullByU = full.groupBy(_._1)
    maint.groupBy(_._1).foreach { case (u, ml) =>
      val fl = fullByU.getOrElse(u, Set.empty)
      // monotone quality per slot vs the PRUNED full list: the re-cut
      // selects top-K over a superset of the pruned survivors
      val pruned = fl.filter(e => !isDel(e._2)).toSeq.map(_._3)
        .sorted.reverse
      val ms = ml.toSeq.map(_._3).sorted.reverse
      pruned.zip(ms).foreach { case (pbp, mbp) =>
        assert(mbp >= pbp, s"vertex $u quality regressed: $pbp -> $mbp") }
    }
    // damaged vertices (lost an edge to a tombstone) must not end up
    // with FEWER edges than their pruned list — repair only adds
    val damaged = full.filter(e => !isDel(e._1) && isDel(e._2))
      .map(_._1).toSet
    val maintByU = maint.groupBy(_._1)
    damaged.foreach { u =>
      val prunedN = fullByU(u).count(e => !isDel(e._2))
      val maintN = maintByU.get(u).map(_.size).getOrElse(0)
      assert(maintN >= prunedN,
        s"damaged vertex $u shrank: $prunedN -> $maintN")
    }
  }

  test("q340 health policy: a long delete chain crosses the threshold, " +
       "the decision flips exactly there, and the fired wave's after-" +
       "census is the retrained graph's") {
    case class W(wave: Long, live: Long, delBp: Long, fired: Long,
                 edges: Long, ghost: Long, edgesAfter: Long)
    val rows = Similarity.q340NnHealthPolicy(spark, sfDir)
      .collect().map(r => W(r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(8), r.getLong(9)))
    assert(rows.map(_.wave).toSeq === Seq(0L, 1L, 2L))
    val Seq(w0, w1, w2) = rows.toSeq
    // the deleted-since-retrain fraction accumulates across the chain
    assert(w0.delBp === 0L && w1.delBp > 0L && w2.delBp > w1.delBp,
      s"del_bp must accumulate, got ${rows.map(_.delBp).toSeq}")
    // one 10%-class wave sits under the 1500 bp threshold; two cross it
    assert(w1.fired === 0L, s"wave 1 (~1111 bp) must hold, got $w1")
    assert(w2.fired === 1L, s"wave 2 (~2500 bp) must fire, got $w2")
    // ghost-free at every step (the q334 invariant, policy input #1)
    assert(rows.forall(_.ghost === 0L),
      s"ghost edges: ${rows.map(_.ghost).toSeq}")
    // live census shrinks with the corpus; the fired wave's after-
    // census is the survivors' full retrain (non-empty, re-linked)
    assert(w2.live < w1.live && w1.live < w0.live,
      "live counts must shrink")
    assert(w2.edgesAfter > 0L, "retrained graph must be non-empty")
    // not-fired waves carry their maintained census into the after-cols
    assert(w1.edges === w1.edgesAfter,
      "wave 1 after-census must equal maintained")
  }

  test("q342 feed-driven maintenance: the frame-based delete wave is " +
       "bit-identical to the predicate form — subscription equals " +
       "omniscience") {
    import org.apache.spark.sql.functions.pmod
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val g = Similarity.nnGraphFor(spark, sfDir)
    val (gPred, rPred) = Similarity.nnDeleteWave(emb, g,
      c => pmod(c, lit(10)) === 7)
    val tombs = emb.where(pmod($"vec_id", lit(10)) === 7)
      .select($"vec_id".as("t"))
    val (gKeys, rKeys) = Similarity.nnDeleteWaveKeys(emb, g, tombs)
    assert(gKeys.as[(Long, Long, Long)].collect().toSet
      === gPred.as[(Long, Long, Long)].collect().toSet,
      "frame-based wave must equal the predicate wave edge-for-edge")
    assert(rKeys.as[Long].collect().toSet
      === rPred.as[Long].collect().toSet,
      "re-cut sets must agree")
  }

  test("member-graph memo keys on the predicate's CANONICAL SQL — the " +
       "same predicate shares one training; different predicates can " +
       "never alias, whatever the caller calls them") {
    import org.apache.spark.sql.functions.pmod
    // same predicate from two independently built Column trees → ONE
    // memo entry (reference-equal frames: the second call is a hit)
    val g1 = Similarity.nnMemberGraphFor(spark, sfDir,
      pmod($"vec_id", lit(10)) =!= 7)
    val g2 = Similarity.nnMemberGraphFor(spark, sfDir,
      pmod(col("vec_id"), lit(10)) =!= 7)
    assert(g1 eq g2, "identical predicates must share one training")
    // a DIFFERENT predicate — even if a careless caller would have
    // labeled it with the same string key pre-r14 — gets its own graph
    val g3 = Similarity.nnMemberGraphFor(spark, sfDir,
      pmod($"vec_id", lit(10)) =!= 9)
    assert(!(g1 eq g3), "different predicates must never share a memo")
    val m1 = g1.select("u").distinct().as[Long].collect().toSet
    val m3 = g3.select("u").distinct().as[Long].collect().toSet
    assert(m1.forall(_ % 10 != 7) && m3.forall(_ % 10 != 9))
    assert(m1.exists(_ % 10 == 9) && m3.exists(_ % 10 == 7),
      "each restricted graph keeps the other's excluded class")
  }

  test("q347 filtered graph serve: the filtered POOL arm is row-wise " +
       "never worse than cut-then-filter at the identical visit " +
       "budget, and the pool is a subset of the visited set") {
    case class R(filt: String, qId: Long, nVis: Long, nPool: Long,
                 post: Long, pool: Long)
    val rows = Similarity.q347FilteredGraphServe(spark, sfDir)
      .collect().map(r => R(r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(6)))
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.pool >= r.post,
        s"$r: the pool arm dominates cut-then-filter by construction")
      assert(r.nPool <= r.nVis, s"$r: pool ⊆ visited")
    }
    // the narrow tier's pool is genuinely selective
    val dec = rows.filter(_.filt == "decile")
    assert(dec.forall(r => r.nPool < r.nVis / 2),
      "decile pools must be far smaller than the visited set")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
