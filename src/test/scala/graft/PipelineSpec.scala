package graft

import graft.ingest.{ActivityPipeline, CatalogPipeline, CourseFixture}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** End-to-end composite pipelines: the catalog 1-record→13-relation
  * fan-out and the activity parse→cast→upsert line (SURVEY §2.1 composite
  * pipeline shapes; §5.2 golden end-to-end).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("catalog fan-out emits all 13 relations with golden cardinalities") {
    val out = CatalogPipeline.fanout(spark, CourseFixture.raw(spark))
    val counts = out.view.mapValues(_.count()).toMap
    assert(counts === Map(
      "courses" -> 4, "categories" -> 2, "subcategories" -> 3,
      "course_categories" -> 4, "course_subcategories" -> 4,
      "topics" -> 6, "promo_videos" -> 3, "instructors" -> 6,
      "requirements" -> 2, "what_you_will_learn" -> 7, "images" -> 5,
      "caption_languages" -> 6, "caption_locales" -> 4))
    // surrogate keys: dense from 1, FK join closes (every bridge row
    // resolves to a dim row)
    val cats = out("categories").select($"id").as[Long].collect().sorted
    assert(cats.toSeq === (1L to cats.length))
    assert(out("course_categories").join(out("categories"),
      out("course_categories")("category_id") === out("categories")("id"))
      .count() === 4)
    // wide projection keeps the struct path (locale.locale)
    val locales = out("courses").select($"locale").as[String].collect().toSet
    assert(locales === Set("en_US", "en_GB", "fr_FR"))
  }

  test("fanoutManaged release() unpersists every cache it created") {
    spark.catalog.clearCache()
    // DIFF-based leak check: other suites' localCheckpoint RDDs (CC
    // rounds, released to the ContextCleaner asynchronously by design)
    // may still be registered — only RDDs this fan-out CREATED count
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val managed = CatalogPipeline.fanoutManaged(spark, CourseFixture.raw(spark))
    // materialize all relations (what a caller does before releasing)
    managed.relations.values.foreach(_.count())
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "fan-out should be cache-backed while in use")
    managed.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"release() left pinned cached frames behind (the long-session leak): $leaked")
    // released relations still compute (recompute path, not an error)
    assert(managed.relations("courses").count() === 4)
  }

  test("reference parity end-to-end: dotenv config -> paged stream -> typed " +
       "cast -> transactional composite-key upsert") {
    import graft.config.GraftConfig
    import graft.sources.{JdbcSink, PagedApiSource, Pagination}
    // 1. config exactly as the reference loads it (.env -> start URL)
    val envDir = java.nio.file.Files.createTempDirectory("e2e")
    val envFile = envDir.resolve(".env")
    java.nio.file.Files.write(envFile,
      ("DB_NAME=graft\nDB_USER=u\nDB_PASSWORD=p\nDB_HOST=h\nDB_PORT=5432\n" +
       "CLIENT_KEY=ck\nCLIENT_SECRET=cs\nACCOUNT_NAME=acme\nACCOUNT_ID=42\n").getBytes)
    val cfg = GraftConfig.fromFile(envFile, env = Map.empty)
      .fold(e => fail(e.message), identity)
    val startUrl = cfg.account.activityStartUrl
    assert(startUrl.contains("acme") && startUrl.contains("42"))
    // 2. two-page activity cursor chain from that URL; page 2 revises
    //    (user 1, course 10) — the reference's ON CONFLICT DO UPDATE case
    val pages = Map(
      startUrl -> Pagination.Page(Seq(
        """{"user_id": 1, "course_id": 10, "user_name": "ann", "completion_ratio": 0.5, "course_enroll_date": "2024-01-05T10:00:00Z"}""",
        """{"user_id": 2, "course_id": 10, "user_name": "bob", "completion_ratio": 0.1}"""),
        Some(startUrl + "?page=2")),
      startUrl + "?page=2" -> Pagination.Page(Seq(
        """{"user_id": 1, "course_id": 10, "user_name": "ann2", "completion_ratio": 0.9}"""),
        None))
    PagedApiSource.register("activity-e2e", PagedApiSource.FetchSpec(
      startUrl = startUrl,
      fetch = url => Right(pages(url)),
      policy = Pagination.activityPolicy))
    // 3. sink table with the reference's composite primary key
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = { Class.forName(driver); java.sql.DriverManager.getConnection(url) }
    try conn.createStatement().execute(
      "CREATE TABLE T_ACTIVITY (user_id BIGINT, course_id BIGINT, " +
      "user_name VARCHAR(50), completion_ratio DOUBLE, " +
      "course_enroll_date TIMESTAMP, PRIMARY KEY (user_id, course_id))")
    finally conn.close()
    // 4. stream: page = micro-batch = one transaction into the fact
    val ckpt = java.nio.file.Files.createTempDirectory("e2eckpt").toString
    val q = spark.readStream
      .format("graft.sources.PagedApiSource")
      .option("fetcher", "activity-e2e")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val typed = ActivityPipeline.typed(
          df.select(from_json($"body", ActivityPipeline.rawSchema).as("r"))
            .select($"r.*"))
          .select($"user_id", $"course_id", $"user_name",
                  $"completion_ratio", $"course_enroll_date")
          .where($"user_id".isNotNull)
        JdbcSink.upsertTx(typed.coalesce(1), url, "T_ACTIVITY", driver,
          Seq("user_id", "course_id"))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    PagedApiSource.unregister("activity-e2e")
    // 5. page 2's revision won; page 1's untouched row survived
    val got = JdbcSink.readTable(spark, url, "T_ACTIVITY", driver)
      .select($"user_id", $"user_name", $"completion_ratio")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "ann2", 0.9), (2L, "bob", 0.1)))
  }

  test("activity pipeline parses Z timestamps, keeps nulls, upserts latest-wins") {
    val bodies = Seq(
      """{"user_id": 1, "course_id": 10, "user_name": "ann",
        |"completion_ratio": 0.5,
        |"course_enroll_date": "2024-01-05T10:00:00Z",
        |"course_completion_date": null,
        |"last_activity_date": "2024-02-01"}""".stripMargin.replace("\n", " "),
      """{"user_id": 2, "course_id": 10, "user_name": "bob",
        |"course_enroll_date": "2024-01-06T09:30:00Z"}""".stripMargin.replace("\n", " "))
    val df = ActivityPipeline.fromJson(spark, bodies)
    val r1 = df.where($"user_id" === 1).head()
    assert(r1.getAs[Timestamp]("course_enroll_date") ===
      Timestamp.valueOf("2024-01-05 10:00:00"))
    assert(r1.getAs[Timestamp]("course_completion_date") === null)
    assert(r1.getAs[java.sql.Date]("last_activity_date") ===
      java.sql.Date.valueOf("2024-02-01"))
    // all 22 columns present and typed
    assert(df.columns.length === 22)

    // duplicate (user, course) across pages: the later batch wins
    val page2 = ActivityPipeline.fromJson(spark, Seq(
      """{"user_id": 1, "course_id": 10, "user_name": "ann2", "completion_ratio": 0.9}"""))
    val merged = ActivityPipeline.upsert(df, page2)
    assert(merged.count() === 2)
    val updated = merged.where($"user_id" === 1).head()
    assert(updated.getAs[String]("user_name") === "ann2")
    assert(updated.getAs[Double]("completion_ratio") === 0.9)
  }

  /** `key` set to `value` for `body` only, restored after. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** 40 fixture courses with distinct ids, over six categories. */
  private val catalogPage: Seq[String] =
    (0 until 10).flatMap { i =>
      CourseFixture.records.zipWithIndex.map { case (r, k) =>
        r.replaceFirst("""\{"id": 10\d""", s"""{"id": ${1000 + 10 * i + k}""")
          .replace(""""title": "Development", "url": "/dev/"""",
            s""""title": "Development ${i % 3}", "url": "/dev/${i % 3}/"""")
          .replace(""""title": "IT Operations", "url": "/it/"""",
            s""""title": "IT Operations ${i % 3}", "url": "/it/${i % 3}/"""")
      }
    }

  test("Pagination.toDF sizes its frame by the bodies' bytes") {
    import graft.sources.Pagination
    // a small page set is one partition, not one per core
    val small = Pagination.toDF(spark, CourseFixture.records, CourseFixture.schema)
    assert(small.rdd.getNumPartitions === 1)
    assert(small.count() === 4)
    // a lowered target: ceil(bytes / target) partitions, rows intact
    val bytes = catalogPage.map(_.getBytes("UTF-8").length.toLong).sum
    val target = bytes / 6
    val want = ((bytes + target - 1) / target).toInt
    assert(want > spark.sparkContext.defaultParallelism && want < catalogPage.size)
    withConf("spark.sql.files.maxPartitionBytes", target.toString) {
      val df = Pagination.toDF(spark, catalogPage, CourseFixture.schema)
      assert(df.rdd.getNumPartitions === want)
      assert(df.select($"id").as[Long].collect().sorted.toSeq ===
        (0 until 10).flatMap(i => (0 until 4).map(k => 1000L + 10 * i + k)))
    }
  }

  test("fan-out sized by the measured parse cache: one partition, and " +
       "the 13 relations and dimension ids equal the unsized fan-out's") {
    def fanout(): (Map[String, Seq[String]], Map[String, Int]) = {
      val raw = spark.createDataset(catalogPage).toDF("body")
      assert(raw.rdd.getNumPartitions > 1)
      val m = CatalogPipeline.fanoutManaged(spark, raw)
      try (m.relations.view.mapValues(
            _.collect().map(_.toString).toSeq.sorted).toMap,
          Seq("courses", "topics", "images").map(n =>
            n -> m.relations(n).rdd.getNumPartitions).toMap)
      finally m.release()
    }
    val (sized, sizedParts) = fanout()
    // a 1-byte target asks for more partitions than the cache has, and
    // coalesce never adds any: the relations keep the input's split
    val (unsized, unsizedParts) =
      withConf("spark.sql.files.maxPartitionBytes", "1")(fanout())
    assert(sizedParts.values.toSet === Set(1), s"sized: $sizedParts")
    assert(unsizedParts.values.forall(_ > 1), s"unsized: $unsizedParts")
    assert(sized.keySet.size === 13 && sized.keySet === unsized.keySet)
    sized.keys.foreach(n => assert(sized(n) === unsized(n), s"relation $n"))
    assert(sized("categories").size === 6 && sized("courses").size === 40)
  }
}
