package graft.ingest

import graft.sources.Pagination
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** The reference's full catalog fan-out as ONE declarative multi-output
  * DAG: parse a page of course JSON once, derive all 12 sink relations
  * (course_catalog.py:90–167 — 1 parent + 2 surrogate-key dims + 2
  * bridges + 7 child relations) by projection/explode/anti-join.
  *
  * The parsed batch is cached: 12 consumers, one parse. Each output is a
  * plain DataFrame — callers append them through `sources.JdbcSink` (per
  * micro-batch = per page, the reference's atomicity unit) or any other
  * writer. Cache lifecycle: the outputs are lazy, so the CALLER releases
  * the parse cache (`spark.catalog.clearCache()` or `unpersist` on the
  * parsed view) after writing all 12 relations — Bench/Verify do exactly
  * that per query. Dimension ids are `row_number` over the natural key
  * (deterministic, SURVEY §7.3); bridge tables carry (course_id, dim_id)
  * exactly like course_catalog_database.sql:90–106.
  *
  * Partition sizing: the dimension probes' counts build the parse cache,
  * and its MEASURED in-memory bytes (the cache's own size accumulator,
  * never an optimizer estimate — an explode's estimate does not grow
  * with its fan-out) set the partition count every other relation is
  * derived at: ceil(cached bytes / `spark.sql.files.maxPartitionBytes`).
  * A catalog round of a few hundred KB is then one partition, so each
  * relation a caller writes is one part file instead of one per core.
  * The dimensions themselves come out of a global `row_number` window,
  * already one partition.
  */
object CatalogPipeline {

  /** All 12 relations from a frame of raw JSON bodies (column `body`).
    * Cache lifecycle is session-owned (`clearCache`) in this form; use
    * [[fanoutManaged]] to release the parse + dimension caches
    * explicitly once every relation is written.
    */
  def fanout(spark: SparkSession, raw: DataFrame): Map[String, DataFrame] =
    fanoutManaged(spark, raw).relations

  final case class ManagedFanout(relations: Map[String, DataFrame],
                                 release: () => Unit)

  /** As [[fanout]], plus the handle that unpersists the parsed batch and
    * both dimension probe caches. Call `release()` only after all 12
    * relations are materialized (e.g. each written through JdbcSink) —
    * they read the caches lazily.
    */
  def fanoutManaged(spark: SparkSession, raw: DataFrame): ManagedFanout = {
    val parsed = raw
      .select(from_json(col("body"), CourseFixture.schema).as("c"))
      .select(col("c.*"))
      .cache()

    def dim(titleCol: String): graft.ops.Merge.ManagedFrame =
      // keyed on BOTH distinct columns: ordering by title alone would
      // tie-break duplicate titles (different urls) by partition layout,
      // making the surrogate ids nondeterministic across runs.
      graft.ops.Merge.denseIdsManaged(
        parsed.select(col(s"$titleCol.title").as("title"),
                      col(s"$titleCol.url").as("url"))
          .where(col("title").isNotNull).distinct(),
        Seq("title", "url"))

    // the probes' counts materialize the parse cache; only then is its
    // size measured, and the rest of the fan-out reads it at that size
    val categoriesM = dim("primary_category")
    val subcategoriesM = dim("primary_subcategory")
    val categories = categoriesM.df
    val subcategories = subcategoriesM.df
    val src = bridge.cachedBytes(parsed)
      .fold(parsed)(b => parsed.coalesce(Pagination.partitionsFor(spark, b)))

    val courses = src.select(
      col("id"), col("title"), col("description"), col("url"),
      col("estimated_content_length"), col("num_lectures"), col("num_videos"),
      col("mobile_native_deeplink"), col("is_practice_test_course"),
      col("num_quizzes"), col("num_practice_tests"), col("has_closed_caption"),
      col("last_update_date"), col("xapi_activity_id"), col("is_custom"),
      col("is_imported"), col("headline"), col("level"),
      col("locale.locale").as("locale"))

    def bridgeOf(d: DataFrame, titleCol: String, fk: String): DataFrame =
      src.select(col("id").as("course_id"),
                 col(s"$titleCol.title").as("title"))
        .join(d.select(col("title"), col("id").as(fk)), Seq("title"))
        .select(col("course_id"), col(fk))

    val explodeStruct = (c: String, fields: Seq[String]) =>
      src.select(col("id").as("course_id"), explode(col(c)).as("x"))
        .select(col("course_id") +: fields.map(f => col(s"x.$f")): _*)

    val relations = Map(
      "courses" -> courses,
      "categories" -> categories,
      "subcategories" -> subcategories,
      "course_categories" -> bridgeOf(categories, "primary_category", "category_id"),
      "course_subcategories" -> bridgeOf(subcategories, "primary_subcategory", "subcategory_id"),
      "topics" -> explodeStruct("topics", Seq("id", "title", "url")),
      "promo_videos" -> explodeStruct("promo_video_url", Seq("type", "label", "file")),
      "instructors" -> src.select(col("id").as("course_id"),
        explode(col("instructors")).as("instructor")),
      "requirements" -> src.where(col("requirements.list").isNotNull)
        .select(col("id").as("course_id"),
                explode(col("requirements.list")).as("requirement")),
      "what_you_will_learn" -> src.select(col("id").as("course_id"),
        explode(col("what_you_will_learn.list")).as("outcome")),
      "images" -> src.select(col("id").as("course_id"), explode(col("images")))
        .withColumnRenamed("key", "size").withColumnRenamed("value", "url"),
      "caption_languages" -> src.select(col("id").as("course_id"),
        explode(col("caption_languages")).as("language")),
      "caption_locales" -> explodeStruct("caption_locales",
        Seq("locale", "title", "english_title")),
    )
    ManagedFanout(relations, () => {
      categoriesM.release(); subcategoriesM.release(); parsed.unpersist(); ()
    })
  }
}
