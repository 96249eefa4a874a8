package etlbench

import graft.sources.Pagination.{Failure, Page}
import java.time.Instant
import scala.collection.mutable
import scala.util.Random

/** A seeded stand-in for the reference's two paginated REST sources: the
  * course catalog and the user-course activity report. Everything is
  * plain Scala, so it doubles as the ground truth the refresh workload is
  * checked against.
  *
  * Round r serves the whole catalog as it stands in that round (it grows
  * and some courses move category or change title) and one page set of
  * activity records, unique on (user_id, course_id) within the round; half
  * of them update pairs seen in earlier rounds.
  */
final class CatalogSim(seed: Long, val rounds: Int) {
  import CatalogSim._

  val baseCourses = 160
  val growth = 20
  val activityPerRound = 1600
  val coursesPerPage = 40
  val activityPerPage = 200
  val users = 600

  private val categories = (1 to 16).map(i => (s"Category ${Names(i % Names.size)} $i", s"/courses/cat-$i/"))
  private val subcategories = (1 to 48).map(i => (s"Subcategory $i", s"/courses/sub-$i/"))

  /** One course as the API returns it in round `r`, and its nested counts. */
  final case class Course(id: Long, json: String, category: (String, String),
                          subcategory: (String, String), title: String,
                          counts: Map[String, Int])

  private def rng(parts: Long*): Random =
    new Random(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L))

  def courseCount(r: Int): Int = baseCourses + growth * (r - 1)

  /** The last round (≤ r) in which course i was edited; edits change its
    * title and move it to another category and subcategory.
    */
  private def editRound(i: Int, r: Int): Int =
    (r to 2 by -1).find(k => rng(7, i, k).nextDouble() < 0.15).getOrElse(0)

  def course(i: Int, r: Int): Course = {
    val e = editRound(i, r)
    val g = rng(11, i)            // fields that never change
    val ge = rng(13, i, e)        // fields that change on an edit
    // new courses from round 2 on may open the last four categories
    val catPool = if (i < baseCourses) 12 else categories.size
    val cat = categories(ge.nextInt(catPool))
    val sub = subcategories(ge.nextInt(subcategories.size))
    val title = s"Course $i ${Names(ge.nextInt(Names.size))}" + (if (e > 0) s" (rev $e)" else "")
    val id = 1000L + i
    val b = new JsonObj
    b.num("id", id).str("title", title).str("description", s"About course $i")
      .str("url", s"/course/c$i/").num("estimated_content_length", 30 + g.nextInt(900))
      .num("num_lectures", 1 + g.nextInt(90)).num("num_videos", g.nextInt(80))
    g.nextInt(10) match {
      case 0 | 1 => ()
      case 2 => b.raw("mobile_native_deeplink", "null")
      case _ => b.str("mobile_native_deeplink", s"app://course/$id")
    }
    b.bool("is_practice_test_course", g.nextInt(8) == 0).num("num_quizzes", g.nextInt(12))
      .num("num_practice_tests", g.nextInt(3)).bool("has_closed_caption", g.nextBoolean())
    if (g.nextInt(7) != 0)
      b.str("last_update_date", f"2024-${1 + g.nextInt(12)}%02d-${1 + g.nextInt(28)}%02d")
    b.str("xapi_activity_id", s"xapi-$id").bool("is_custom", g.nextInt(5) == 0)
      .bool("is_imported", g.nextInt(6) == 0).str("headline", s"Headline $i")
      .str("level", Levels(g.nextInt(Levels.size)))
      .raw("locale", new JsonObj().str("locale", Locales(g.nextInt(Locales.size))).render)
      .raw("primary_category", new JsonObj().str("title", cat._1).str("url", cat._2).render)
      .raw("primary_subcategory", new JsonObj().str("title", sub._1).str("url", sub._2).render)
    val topics = pick(ge, 60, 4).map(_ + 1).map(t =>
      new JsonObj().num("id", t).str("title", s"Topic $t").str("url", s"/topic/$t/").render)
    val promos = (0 until g.nextInt(3)).map(k =>
      new JsonObj().str("type", "video/mp4").str("label", s"${360 * (k + 1)}")
        .str("file", s"p$id-$k.mp4").render)
    val instructors = pick(g, 40, 4).map(n => quote(s"instructor $n"))
    b.raw("topics", arr(topics)).raw("promo_video_url", arr(promos))
      .raw("instructors", arr(instructors))
    val reqs = g.nextInt(10) match {
      case 0 | 1 => None                              // key absent
      case 2 => b.raw("requirements", """{"list": null}"""); None
      case 3 => b.raw("requirements", """{"list": []}"""); Some(0)
      case _ =>
        val n = 1 + g.nextInt(3)
        b.raw("requirements", s"""{"list": ${arr((1 to n).map(k => quote(s"requirement $k")))}}""")
        Some(n)
    }
    val learn = if (g.nextInt(10) == 0) 0 else {
      val n = 1 + g.nextInt(3)
      b.raw("what_you_will_learn", s"""{"list": ${arr((1 to n).map(k => quote(s"outcome $k of $i")))}}""")
      n
    }
    val images = pick(g, ImageSizes.size, 3).map(k => ImageSizes(k.toInt))
    b.raw("images", images.map(s => s"${quote(s)}: ${quote(s"$id-$s.jpg")}").mkString("{", ", ", "}"))
    val langs = pick(g, Languages.size, 3).map(k => Languages(k.toInt))
    b.raw("caption_languages", arr(langs.map(quote)))
    val locs = pick(g, Locales.size, 2).map(k => Locales(k.toInt))
    b.raw("caption_locales", arr(locs.map(l =>
      new JsonObj().str("locale", l).str("title", s"title $l").str("english_title", s"english $l").render)))
    Course(id, b.render, cat, sub, title, Map(
      "courses" -> 1, "course_categories" -> 1, "course_subcategories" -> 1,
      "topics" -> topics.size, "promo_videos" -> promos.size,
      "instructors" -> instructors.size, "requirements" -> reqs.getOrElse(0),
      "what_you_will_learn" -> learn, "images" -> images.size,
      "caption_languages" -> langs.size, "caption_locales" -> locs.size))
  }

  def catalog(r: Int): IndexedSeq[Course] = (0 until courseCount(r)).map(course(_, r))

  /** Activity records of round r: (user_id, course_id) -> canonical values
    * in [[graft.ingest.ActivityPipeline.rawSchema]] order, plus the JSON bodies.
    */
  def activity(r: Int, catalogNow: IndexedSeq[Course],
               seen: IndexedSeq[(Long, Long)]): IndexedSeq[((Long, Long), Seq[String], String)] = {
    val g = rng(17, r)
    val keys = mutable.LinkedHashSet[(Long, Long)]()
    val updates = if (seen.isEmpty) 0 else activityPerRound / 2
    while (keys.size < updates) keys += seen(g.nextInt(seen.size))
    while (keys.size < activityPerRound)
      keys += ((1L + g.nextInt(users), catalogNow(g.nextInt(catalogNow.size)).id))
    val byId = catalogNow.map(c => c.id -> c).toMap
    keys.toIndexedSeq.map { case k @ (u, cid) =>
      val c = byId(cid)
      val rr = rng(19, r, u, cid)
      val done = rr.nextInt(4) == 0
      val ratio = if (done) 100.0 else rr.nextInt(100).toDouble
      def ts(day: Int) = f"2024-${1 + (day / 28) % 12}%02d-${1 + day % 28}%02d" +
        f"T${rr.nextInt(24)}%02d:${rr.nextInt(60)}%02d:${rr.nextInt(60)}%02dZ"
      val enroll = rr.nextInt(200)
      val assigned = rr.nextInt(3) == 0
      val values: Seq[Option[Any]] = Seq(
        Some(u), Some(s"Name$u"), Some(s"Surname$u"), Some(s"user$u@example.com"),
        Some(Roles(u.toInt % Roles.size)), if (u % 5 == 0) None else Some(s"ext-$u"),
        Some(cid), Some(c.title), Some(c.category._1),
        Some((30 + rr.nextInt(600)) / 2.0), Some(ratio), Some(rr.nextInt(600).toDouble),
        Some(ts(enroll)), if (rr.nextInt(5) == 0) None else Some(ts(enroll + 1)),
        if (done) Some(ts(enroll + 20)) else None, if (done) Some(ts(enroll + 15)) else None,
        Some(ts(enroll + 30)), Some(f"2024-${1 + rr.nextInt(12)}%02d-${1 + rr.nextInt(28)}%02d"),
        Some(assigned), if (assigned) Some(s"admin${rr.nextInt(5)}") else None,
        Some(rr.nextInt(20) == 0), if (rr.nextInt(4) == 0) None else Some(s"lms-$u"))
      val b = new JsonObj
      FactCols.zip(values).foreach {
        case (n, None) => if (rr.nextBoolean()) b.raw(n, "null")   // else: key absent
        case (n, Some(v: String)) => b.str(n, v)
        case (n, Some(v: Boolean)) => b.bool(n, v)
        case (n, Some(v: Double)) => b.raw(n, v.toString)
        case (n, Some(v)) => b.raw(n, v.toString)
      }
      (k, FactCols.zip(values).map { case (n, v) => canonical(n, v) }, b.render)
    }
  }

  /** Everything a pass needs, rendered once in set-up: per round the
    * catalog and activity pages, and the truth after that round.
    */
  final case class Round(r: Int, catalog: IndexedSeq[Course],
                         catalogPages: IndexedSeq[Seq[String]],
                         activityPages: IndexedSeq[Seq[String]],
                         fact: Map[(Long, Long), Seq[String]])

  lazy val plan: IndexedSeq[Round] = {
    var fact = Map.empty[(Long, Long), Seq[String]]
    (1 to rounds).map { r =>
      val cat = catalog(r)
      val act = activity(r, cat, fact.keys.toIndexedSeq.sorted)
      fact = fact ++ act.map { case (k, v, _) => k -> v }
      Round(r, cat, cat.map(_.json).grouped(coursesPerPage).toIndexedSeq,
        act.map(_._3).grouped(activityPerPage).toIndexedSeq, fact)
    }
  }

  /** Records the API serves in round r. */
  def records(r: Int): Long = plan(r - 1).catalog.size.toLong + activityPerRound

  /** A fresh API for one pass. Each round's catalog walk meets one 524 and
    * one malformed page; each activity walk meets a 429, a 503, a 524 and
    * a malformed page. Every fault is retryable and clears on retry.
    */
  final class Api {
    private val faults = mutable.HashMap[String, List[Failure]]()
    plan.foreach { rd =>
      val g = rng(23, rd.r)
      def inject(url: String, f: Failure): Unit = faults(url) = f :: faults.getOrElse(url, Nil)
      inject(catalogUrl(rd.r, g.nextInt(rd.catalogPages.size)), Failure.Http(524))
      inject(catalogUrl(rd.r, g.nextInt(rd.catalogPages.size)), Failure.MalformedBody)
      Seq(Failure.Http(429), Failure.Http(503), Failure.Http(524), Failure.MalformedBody)
        .foreach(f => inject(activityUrl(rd.r, g.nextInt(rd.activityPages.size)), f))
    }
    def fetch(url: String): Either[Failure, Page] = faults.get(url) match {
      case Some(f :: rest) => faults(url) = rest; Left(f)
      case _ =>
        val Array(kind, r, p) = url.split(':')
        val rd = plan(r.toInt - 1)
        val pages = if (kind == "catalog") rd.catalogPages else rd.activityPages
        val next = p.toInt + 1
        val nextUrl = if (next < pages.size) Some(s"$kind:$r:$next") else None
        Right(Page(pages(p.toInt), nextUrl))
    }
  }
}

object CatalogSim {
  val Names = Vector("Data", "Design", "Finance", "Cloud", "Language", "Music", "Health", "Security")
  val Levels = Vector("Beginner", "Intermediate", "Expert", "All Levels")
  val Locales = Vector("en_US", "en_GB", "fr_FR", "de_DE", "es_ES", "ja_JP")
  val Languages = Vector("English", "French", "German", "Spanish", "Japanese", "Italian")
  val ImageSizes = Vector("125_H", "240x135", "480x270", "750x422")
  val Roles = Vector("User", "Admin", "Group Admin")

  val FactCols: Seq[String] = graft.ingest.ActivityPipeline.rawSchema.fieldNames.toSeq
  val TsCols = Set("course_enroll_date", "course_start_date", "course_completion_date",
    "course_first_completion_date", "course_last_accessed_date")

  def catalogUrl(r: Int, page: Int) = s"catalog:$r:$page"
  def activityUrl(r: Int, page: Int) = s"activity:$r:$page"

  /** The canonical text of one fact value, shared by the truth and the
    * read-back: timestamps as epoch seconds, everything else as text.
    */
  def canonical(col: String, v: Option[Any]): String = v match {
    case None | Some(null) => "null"
    case Some(s: String) if TsCols(col) => Instant.parse(s).getEpochSecond.toString
    case Some(t: java.sql.Timestamp) => (t.getTime / 1000).toString
    case Some(t: Instant) => t.getEpochSecond.toString
    case Some(x) => x.toString
  }

  /** Up to max-1 distinct indices in [0, n). */
  private def pick(g: Random, n: Int, max: Int): Seq[Long] =
    g.shuffle((0 until n).toVector).take(g.nextInt(max)).map(_.toLong)

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  private def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  /** A tiny ordered JSON object writer for the generator's records. */
  final class JsonObj {
    private val b = mutable.ArrayBuffer[String]()
    def raw(k: String, v: String): JsonObj = { b += s"${quote(k)}: $v"; this }
    def str(k: String, v: String): JsonObj = raw(k, quote(v))
    def num(k: String, v: Long): JsonObj = raw(k, v.toString)
    def bool(k: String, v: Boolean): JsonObj = raw(k, v.toString)
    def render: String = b.mkString("{", ", ", "}")
  }
}
