package etlbench

import graft.SparkEntry
import graft.ingest.{ActivityPipeline, CatalogPipeline}
import graft.sources.{Pagination, SnapshotStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One timed op's record. `speed` and `cpuSpeed` scale its wall and CPU
  * time to the reference machine speed (see [[SparkProbe]]).
  */
final case class OpStat(name: String, wallNs: Long, cpuNs: Long,
                        gcMs: Long, ok: Boolean, records: Long,
                        speed: Double, cpuSpeed: Double) {
  def wallS: Double = wallNs / 1e9 * speed
  def cpuS: Double = cpuNs / 1e9 * cpuSpeed
}

/** Runs ops inside their timed brackets, with a probe of the machine's
  * speed between every two ops, and keeps their records.
  */
final class OpRunner(spark: SparkSession, tr: Tracer) {
  val stats = mutable.ArrayBuffer[OpStat]()
  private var lastProbe = SparkProbe.measure(spark)

  def op(name: String, records: Long)(body: => Unit): Unit = {
    val before = lastProbe
    tr.openOp(name)
    val c0 = Counters.now()
    val ok =
      try { tr.span(name)(body); true }
      catch { case e: Exception =>
        System.err.println(s"[etlbench] op $name failed: ${e.getClass.getName}: ${e.getMessage}")
        false
      }
    val c = c0.until(Counters.now())
    tr.closeOp(c0.wallNs, c0.wallNs + c.wallNs)
    val after = SparkProbe.measure(spark)
    lastProbe = after
    stats += OpStat(name, c.wallNs, c.cpuNs, c.gcMs, ok, records,
      SparkProbe.WallRef * 2 / (before._1 + after._1),
      SparkProbe.CpuRef * 2 / (before._2 + after._2))
  }
}

/** A workload: set-up, one pass of fixed work, and a correctness check
  * that runs after the timed part.
  */
trait Workload {
  def setup(): Unit
  def pass(run: OpRunner): Unit
  /** Problems found in the outputs; empty when they are correct. */
  def check(): Seq[String]
  /** Per-layer figures of this workload (traced runs only). */
  def layerMetrics(): Map[String, Double] = Map.empty
}

/** One registered query of a mix, run over the tables of one scale. */
final case class Query(module: String, name: String, scale: String) {
  def op: String = s"$module.$name"
}

/** Registered queries over the engine's test tables, copied under
  * `data/<scale>/`. Each op is one query whose result is written as
  * parquet: like the `noop` sink `graft.Bench` uses, the write
  * materializes every output column (a `count()` would let Catalyst drop
  * operators), and the files it leaves are what the DuckDB oracle checks
  * after the timed part. There is no warm-up: the pass pays class loading
  * and code generation, as a fresh analyst session does.
  */
final class QueryMix(spark: SparkSession, data: String, out: String,
                     queries: Seq[Query]) extends Workload {
  private val fns = SparkEntry.queries
  private val oracleSql = SparkEntry.oracleSql

  /** Rows of each table of a scale, from the parquet footers. */
  private lazy val tableRows: Map[String, Map[String, Long]] =
    queries.map(_.scale).distinct.map { sc =>
      val dir = new java.io.File(s"$data/$sc")
      sc -> dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(f.getPath), spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try f.getName.stripSuffix(".parquet") -> r.getRecordCount finally r.close()
      }.toMap
    }.toMap

  /** Rows of the tables the query's oracle SQL names: a fixed count. */
  def rowsRead(q: Query): Long = {
    val sql = oracleSql(q.name)
    tableRows(q.scale).collect { case (t, n) if s"\\b$t\\b".r.findFirstIn(sql).isDefined => n }.sum
  }

  override def setup(): Unit = queries.foreach { q =>
    require(fns.contains(q.name) && oracleSql.contains(q.name), s"unknown query ${q.name}")
    require(rowsRead(q) > 0, s"no input rows for ${q.name}")
  }

  override def pass(run: OpRunner): Unit =
    queries.foreach { q =>
      run.op(q.op, rowsRead(q)) {
        fns(q.name)(spark, s"$data/${q.scale}").write.mode("overwrite").parquet(s"$out/${q.scale}/${q.name}")
      }
      spark.catalog.clearCache()
    }

  /** Writes each scale's oracle SQL next to its outputs; `run.py` then
    * compares them with `tools/check.py`.
    */
  override def check(): Seq[String] = {
    queries.groupBy(_.scale).foreach { case (sc, qs) =>
      val oracle = qs.map(q =>
        "\"" + q.name + "\":\"" + graft.JsonUtil.escape(oracleSql(q.name)) + "\"")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out, sc, "oracle_sql.json"),
        oracle.mkString("{", ",", "}"))
    }
    Nil
  }
}

/** The reference's scheduled refresh: page through the catalog and the
  * activity report, fan the catalog out into its 13 relations, publish
  * them as snapshots, merge the activity latest-wins into the fact table
  * and read one join-and-aggregate report back. One op is one round; the
  * pass is `rounds` rounds from empty tables.
  */
final class Refresh(spark: SparkSession, tr: Tracer, work: String, seed: Long,
                    rounds: Int, selftest: Boolean) extends Workload {
  import spark.implicits._
  private val sim = new CatalogSim(seed, rounds)
  private var reports = Map.empty[Int, Seq[String]]
  private val stats = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  private val root = s"$work/tables"

  /** Renders every page and the truth up front. There is no warm-up: a
    * scheduled refresh starts a fresh process and pays it every time.
    */
  override def setup(): Unit = sim.plan

  override def pass(run: OpRunner): Unit = {
    val api = new sim.Api
    (1 to rounds).foreach { r =>
      run.op("refresh.round", sim.records(r)) { round(api, root, r) }
    }
    if (tr.enabled) storageStats(root)
  }

  private def round(api: sim.Api, t: String, r: Int): Unit = {
    val (catalogBodies, cs) = tr.span("Pagination.fetch") {
      Pagination.fetchAll(CatalogSim.catalogUrl(r, 0), api.fetch, Pagination.catalogPolicy)
    }
    require(!cs.aborted, s"catalog walk aborted in round $r")
    tr.span("CatalogPipeline.fanout") {
      val m = CatalogPipeline.fanoutManaged(spark, catalogBodies.toDF("body"))
      m.relations.toSeq.sortBy(_._1).foreach { case (name, df) =>
        tr.span("SnapshotStore.publish")(SnapshotStore.publish(df, s"$t/$name"))
      }
      m.release()
    }
    val (activityBodies, as) = tr.span("Pagination.fetch") {
      Pagination.fetchAll(CatalogSim.activityUrl(r, 0), api.fetch, Pagination.activityPolicy)
    }
    // typed once and materialized: mergeUpsert reads its source three times
    val typed = tr.span("ActivityPipeline.typed") {
      ActivityPipeline.typed(Pagination.toDF(spark, activityBodies, ActivityPipeline.rawSchema))
        .localCheckpoint()
    }
    if (r == 1) tr.span("SnapshotStore.publish")(SnapshotStore.publish(typed, s"$t/fact"))
    else tr.span("SnapshotStore.merge") {
      SnapshotStore.mergeUpsert(spark, s"$t/fact", typed, Seq("user_id", "course_id"))
    }
    val report = tr.span("SnapshotStore.read")(Refresh.report(spark, t))
    reports += r -> report
    stats("Pagination.pages") += cs.pages + as.pages
    stats("Pagination.retries") += cs.retries + as.retries
  }

  /** Files and bytes the pass's commits wrote, and the bytes on disk,
    * against the bytes of the live (latest) versions; and the rows the
    * fan-out published, from the `count=` line of every catalog relation's
    * version manifests.
    */
  private def storageStats(t: String): Unit = {
    val fs = new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def size(f: String): Long = {
      val p = new Path(f)
      if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
    }
    var written, files, live, rowsOut = 0L
    fs.listStatus(new Path(t)).map(_.getPath).foreach { tablePath =>
      val table = tablePath.toString
      val vs = SnapshotStore.versions(spark, table)
      def manifest(v: Int): Vector[String] = {
        val m = new Path(new Path(table, "_snapshots"), f"v$v%05d.manifest")
        val in = fs.open(m)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      }
      var before = Set.empty[String]
      vs.foreach { v =>
        val lines = manifest(v)
        if (Refresh.Relations.contains(tablePath.getName))
          rowsOut += lines.find(_.startsWith("count=")).get.stripPrefix("count=").toLong
        val now = lines.drop(3).filter(_.nonEmpty).map(_.split('\t')(0))
        val fresh = now.filterNot(before)
        files += fresh.size
        written += fresh.map(f => size(qualify(table, f))).sum
        before = now.toSet
      }
      live += before.toSeq.map(f => size(qualify(table, f))).sum
    }
    val onDisk = fs.getContentSummary(new Path(t)).getLength
    stats("SnapshotStore.files_written") += files
    stats("SnapshotStore.mb_written") += written / 1e6
    stats("SnapshotStore.write_amp") += written.toDouble / live
    stats("SnapshotStore.space_amp") += onDisk.toDouble / live
    stats("CatalogPipeline.rows_out") += rowsOut
  }

  private def qualify(table: String, f: String): String =
    if (f.contains(":") || f.startsWith("/")) f else s"$table/$f"

  override def layerMetrics(): Map[String, Double] = stats.toMap

  override def check(): Seq[String] = {
    val got = Refresh.Collected.read(spark, root, reports)
    val truth = sim.plan.last
    val problems = Refresh.problems(got, sim, truth)
    if (!selftest) problems
    else {
      // the check must fail on each deliberately altered output
      val missed = Refresh.Mutations.collect {
        case (name, f) if Refresh.problems(f(got), sim, truth).isEmpty => s"mutation '$name' went unnoticed"
      }
      Refresh.Mutations.keys.foreach(n => System.err.println(s"[etlbench] selftest mutation $n: " +
        Refresh.problems(Refresh.Mutations(n)(got), sim, truth).headOption.getOrElse("NOT CAUGHT")))
      problems ++ missed
    }
  }
}

object Refresh {
  val Relations: Seq[String] = Seq("courses", "categories", "subcategories", "course_categories",
    "course_subcategories", "topics", "promo_videos", "instructors", "requirements",
    "what_you_will_learn", "images", "caption_languages", "caption_locales")

  /** Enrolments, distinct users and video minutes per category title. */
  def report(spark: SparkSession, t: String): Seq[String] = {
    val fact = SnapshotStore.read(spark, s"$t/fact")
    val cc = SnapshotStore.read(spark, s"$t/course_categories")
    val cats = SnapshotStore.read(spark, s"$t/categories")
    fact.join(cc, "course_id").join(cats.withColumnRenamed("id", "category_id"), "category_id")
      .groupBy("title")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("users"),
        sum("num_video_consumed_minutes").cast("long").as("minutes"))
      .collect().map(r => s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getLong(3)}")
      .toSeq.sorted
  }

  /** The refresh's outputs as read back after the timed part. */
  final case class Collected(fact: Seq[((Long, Long), Seq[String])],
                             relations: Map[String, Seq[Seq[String]]],
                             reports: Map[Int, Seq[String]])

  object Collected {
    def read(spark: SparkSession, t: String, reports: Map[Int, Seq[String]]): Collected = {
      val cols = CatalogSim.FactCols
      val fact = SnapshotStore.read(spark, s"$t/fact").select(cols.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getLong(6)) ->
          cols.indices.map(i => CatalogSim.canonical(cols(i), Option(r.get(i))))).toSeq
      def rows(df: DataFrame): Seq[Seq[String]] = {
        val c = df.columns.sorted
        df.select(c.map(col): _*).collect().map(r => c.indices.map(i => String.valueOf(r.get(i))).toSeq).toSeq
      }
      // the relations are read four at a time: each read is a few small
      // Spark jobs, bound by driver latency
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val reads = Relations.map(n => n -> pool.submit(() => rows(SnapshotStore.read(spark, s"$t/$n"))))
        Collected(fact, reads.map { case (n, f) => n -> f.get() }.toMap, reports)
      } finally pool.shutdown()
    }
  }

  /** Every way the outputs differ from the generator's ground truth. */
  def problems(got: Collected, sim: CatalogSim, truth: CatalogSim#Round): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    // 1. latest-wins fact rows, and no key twice
    val keys = got.fact.map(_._1)
    if (keys.distinct.size != keys.size) out += s"fact: ${keys.size - keys.distinct.size} duplicate keys"
    val gotFact = got.fact.toMap
    if (gotFact.keySet != truth.fact.keySet)
      out += s"fact: ${gotFact.keySet.diff(truth.fact.keySet).size} extra, " +
        s"${truth.fact.keySet.diff(gotFact.keySet).size} missing keys"
    val stale = truth.fact.count { case (k, v) => gotFact.get(k).exists(_ != v) }
    if (stale > 0) out += s"fact: $stale rows differ from the latest record"
    // 2. relation row counts from the nested arrays and maps
    val cat = truth.catalog
    val expected = Relations.map {
      case "categories" => "categories" -> cat.map(_.category).distinct.size
      case "subcategories" => "subcategories" -> cat.map(_.subcategory).distinct.size
      case n => n -> cat.map(_.counts(n)).sum
    }
    expected.foreach { case (n, e) =>
      val g = got.relations(n).size
      if (g != e) out += s"$n: $g rows, expected $e"
      // 4. no duplicate rows after retried pages
      val d = got.relations(n).size - got.relations(n).distinct.size
      if (d > 0) out += s"$n: $d duplicate rows"
    }
    // 3. dense dimension ids 1..n in (title, url) order
    Seq("categories" -> cat.map(_.category), "subcategories" -> cat.map(_.subcategory))
      .foreach { case (n, pairs) =>
        // columns are read back sorted by name: id, title, url
        val ids = got.relations(n).map(r => (r(1), r(2)) -> r(0).toLong).toMap
        val want = pairs.distinct.sorted.zipWithIndex.map { case (p, i) => p -> (i + 1L) }.toMap
        if (ids != want) out += s"$n: ids are not dense 1..n in (title, url) order"
      }
    // 5. the report of every round
    sim.plan.foreach { rd =>
      val want = truthReport(rd)
      if (got.reports.get(rd.r).forall(_ != want)) out += s"report of round ${rd.r} differs"
    }
    out.toSeq
  }

  private def truthReport(rd: CatalogSim#Round): Seq[String] = {
    val catOf = rd.catalog.map(c => c.id -> c.category._1).toMap
    val ui = CatalogSim.FactCols.indexOf("user_id")
    val mi = CatalogSim.FactCols.indexOf("num_video_consumed_minutes")
    rd.fact.toSeq.groupBy { case ((_, cid), _) => catOf(cid) }.toSeq.map { case (t, rows) =>
      s"$t|${rows.size}|${rows.map(_._2(ui)).distinct.size}|${rows.map(_._2(mi).toDouble.toLong).sum}"
    }.sorted
  }

  /** Deliberate alterations of the outputs; each must fail the check. */
  val Mutations: Map[String, Collected => Collected] = Map(
    "stale fact row" -> { c =>
      val ((k, v) +: rest) = c.fact
      c.copy(fact = (k, v.updated(10, "-1.0")) +: rest) },
    "duplicate fact row" -> { c => c.copy(fact = c.fact.head +: c.fact) },
    "lost topic row" -> { c => c.copy(relations = c.relations.updated("topics", c.relations("topics").tail)) },
    "duplicate image row" -> { c =>
      val im = c.relations("images")
      c.copy(relations = c.relations.updated("images", im.updated(1, im.head))) },
    "category id gap" -> { c =>
      c.copy(relations = c.relations.updated("categories",
        c.relations("categories").map(r => r.updated(0, (r(0).toLong + 1).toString)))) },
    "report off by one" -> { c =>
      val r = c.reports(1)
      c.copy(reports = c.reports.updated(1, r.updated(0, r(0) + "1"))) })
}
