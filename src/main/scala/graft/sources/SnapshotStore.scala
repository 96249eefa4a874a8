package graft.sources

import graft.{Session, Tables}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType
import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Snapshot-committed parquet table: ATOMIC publish + time travel.
  *
  * The reference's refresh contract is replace-on-refresh over a live
  * database (README.md:156–163 — consumers query mid-refresh state).
  * This is the table-format answer to that problem (the Iceberg/Delta
  * publish pattern, on plain parquet + one manifest file per version):
  *
  *  - `publish(df, table)` writes data files under `snap-vNNNNN/`, then
  *    commits by creating `_snapshots/vNNNNN.manifest` with
  *    overwrite=false — on HDFS/local an ATOMIC exclusive create. The
  *    manifest is the only commit point: a crash after the data write
  *    but before the manifest leaves an orphan directory readers never
  *    see (old snapshot stays live); two concurrent publishers race on
  *    the exclusive create, the loser re-stages under the next version
  *    (optimistic concurrency, like Delta's transaction-log protocol).
  *  - `read(spark, table)` lists `_snapshots/`, takes the max committed
  *    version, and reads EXACTLY the files that manifest names —
  *    snapshot isolation: a reader never observes a half-published
  *    version, no matter when it runs.
  *  - `read(spark, table, Some(v))` is time travel: old manifests (and
  *    their data dirs) are immutable once committed.
  *
  * File metadata is a first-class cost here, and the store keeps it to
  * what the protocol needs:
  *  - reads take their schema from the MANIFEST (mapped to physical
  *    names through the colmap, hive partition columns left to the dir
  *    names), so building a snapshot's DataFrame launches no Spark job —
  *    a parquet read without a schema runs a schema-inference job per
  *    snap dir;
  *  - staged dirs carry no `_SUCCESS` marker: the manifest is the only
  *    commit point, and nothing reads the marker;
  *  - staged files are listed by a `listStatus` walk ([[walkFiles]]),
  *    never `listFiles`, whose `LocatedFileStatus` per file makes
  *    Hadoop's local filesystem fork `ls -ld` when it runs without its
  *    native library; footers are opened from those statuses.
  *
  * Manifest format: line 1 `version=N`, line 2 `count=M`, line 3
  * `schema=DDL`, remaining lines one data file each:
  * `path<TAB>col=min..max,col=min..max` — the stats suffix carries
  * per-file min/max for every integral column (the Delta/Iceberg
  * file-skipping stats), and is optional per file (all-null columns
  * contribute no entry; readers MUST keep a file whose predicate
  * column has no stats). Deliberately transparent — no JSON parser
  * needed on the read path.
  *
  * 100 TB notes: the manifest lists FILES, so reads plan from a
  * driver-side listing of one small file instead of a recursive
  * directory scan (the S3-listing bottleneck table formats exist to
  * kill). Data files are whatever the upstream writer's partitioning
  * produced — publish adds zero data movement (no repartition, no
  * rewrite; the parquet write is the same one an unversioned sink would
  * do). The exclusive-create commit is atomic on HDFS and POSIX; on
  * S3-style stores it maps to a conditional PUT (documented caveat, as
  * with every manifest-based format).
  */
object SnapshotStore {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(table: String) = new Path(table, "_snapshots")

  /** The LOST-RACE signal of an exclusive-create commit: the manifest
    * (or ref/DV) file already exists because another writer committed
    * that version first. ONLY FileAlreadyExists means race — any other
    * IOException (permissions, disk full, a transient FS fault) is a
    * genuine I/O failure and must surface AS ITSELF on the first
    * attempt, never be retried into a misleading "lost N commit races"
    * diagnosis.
    */
  private def isCommitRace(e: java.io.IOException): Boolean = e match {
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case _: java.nio.file.FileAlreadyExistsException => true
    case _ => false
  }

  /** TEST-ONLY interleaving hook, invoked immediately before every
    * manifest exclusive-create: a spec injects a COMPETING committer
    * here to drive a DETERMINISTIC commit race (the conflict-matrix
    * cases in SnapshotStoreSpec). Production never sets it.
    */
  @volatile private[graft] var commitTestHook: () => Unit = () => ()

  /** Path of `p` relative to the version's data dir (e.g.
    * `om=199601/part-...parquet` for a hive-partitioned layout, plain
    * `part-...parquet` otherwise). Rel paths — not bare names — key the
    * per-file stats and bloom side files, because a partitioned write
    * reuses one task's file name in EVERY partition dir it touches.
    * Applied to both listing paths and `_metadata.file_path` URIs, so
    * URI-form differences cancel out.
    */
  private def relPath(p: String, dataDirName: String): String =
    p.substring(p.indexOf(dataDirName) + dataDirName.length + 1)

  // `-w<hex>` / `-ac<hex>` / `-cl<hex>` are WRITER-UNIQUE staging
  // suffixes ([[uniqueDir]]: the data writers, [[autoCompactDv]],
  // [[autoCluster]]): each incremental write stages into its own sibling
  // snap dir, so a lost commit race never clobbers (at stage time) nor
  // deletes (at cleanup time) a winner's files. A suffixed dir is a
  // first-class snap dir: it is its own basePath (hive partition
  // discovery stays clean), its own stats/bloom root, and vacuum/GC
  // treat it like any other.
  private val SnapSegRe = "snap-v\\d{5}(?:-(?:ac|cl|w)[0-9a-f]{8})?".r

  /** Canonical file key starting at the file's OWN snap dir —
    * `snap-v00003/om=199601/part-...parquet`. Scheme/URI-form agnostic
    * (manifest lines say `file:/…`, `_metadata.file_path` says
    * `file:///…`; both collapse to the same key), and stable for files
    * a later version carries over BY REFERENCE from an earlier dir.
    */
  private def snapKey(p: String): String = {
    val m = SnapSegRe.findAllMatchIn(p).toSeq.last
    p.substring(m.start)
  }

  private def snapDirNameOf(p: String): String =
    SnapSegRe.findAllMatchIn(p).toSeq.last.matched

  /** (absolute prefix up to and including the file's snap dir, rel path
    * beneath it). The prefix is each file's basePath for hive partition
    * discovery and the root its `_bloom` side files live under —
    * correct even when the file is referenced from an older version.
    */
  private def splitAtSnapDir(p: String): (String, String) = {
    val m = SnapSegRe.findAllMatchIn(p).toSeq.last
    (p.substring(0, m.end), p.substring(m.end + 1))
  }

  /** Partition columns of a committed layout, recovered from the hive
    * `k=v` dir segments of its file rel paths (the manifest stores
    * paths, not a partition spec — the paths ARE the spec).
    */
  private def partitionColsOf(fileLines: Seq[String]): Seq[String] =
    fileLines.headOption.toSeq.flatMap { line =>
      val rel = splitAtSnapDir(line.split('\t')(0))._2
      rel.split('/').dropRight(1).toSeq.map(_.split("=", 2)(0))
    }

  /** Every FILE under `dir`, recursively, sorted by path: a walk of
    * plain `listStatus` calls. It never builds a `LocatedFileStatus`,
    * which `listFiles` does for every file it returns: the constructor
    * copies the permission, owner and group, and Hadoop's local
    * filesystem, without its native library, loads those by forking
    * `ls -ld` once per entry. Shared with `SummaryRewrite`'s staleness
    * fingerprint.
    */
  private[graft] def walkFiles(f: org.apache.hadoop.fs.FileSystem,
                               dir: Path): Seq[FileStatus] = {
    val buf = Seq.newBuilder[FileStatus]
    def walk(d: Path): Unit = f.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath) else buf += st
    }
    walk(dir)
    buf.result().sortBy(_.getPath.toString)
  }

  /** All part files under `dir`, recursively (hive partition dirs). */
  private[graft] def listParquet(f: org.apache.hadoop.fs.FileSystem,
                                 dir: Path): Seq[FileStatus] =
    walkFiles(f, dir).filter { st =>
      val p = st.getPath
      // underscore-prefixed subdirs (_bloom, _dv) hold side files, not
      // data — a deletion-vector parquet must never list as a data file
      p.getName.startsWith("part-") && p.getName.endsWith(".parquet") &&
        !p.getParent.getName.startsWith("_")
    }

  /** Stage `df` as version `v` of `table` (its shared `snap-vNNNNN` dir)
    * and build that version's manifest: count plus per-file
    * integral-column min/max stats, from one column-pruned scan over the
    * freshly written files (or their footers, see [[stageFiles]]): only
    * the stat columns' chunks are read (parquet projection), so at 100 TB
    * the stats pass touches a few percent of the written bytes — the
    * price of making every later predicate read skip-capable. `_metadata
    * .file_path` keys the per-file aggregation; stats are keyed by the
    * path RELATIVE to the version's data dir (see [[relPath]]),
    * sidestepping URI-form mismatches between the scan and the listing
    * while staying collision-free under hive partition dirs.
    */
  private def stageVersion(df: DataFrame, table: String, v: Int,
                           bloomCols: Seq[String] = Nil,
                           bloomBits: Long = 1L << 20,
                           partitionBy: Seq[String] = Nil): Manifest = {
    val (count0, fileLines) = stageFiles(df, new Path(table, f"snap-v$v%05d"),
      bloomCols, bloomBits, partitionBy)
    Manifest(v, count0, s"schema=${df.schema.toDDL}", fileLines)
  }

  /** Per-file (row count, integral min/max) recovered from the parquet
    * FOOTER the write just produced — the metadata-only twin of the
    * read-back stats scan (r15, guide §1.2/§5/§6). Footer statistics
    * for fixed-width types are exact (no binary truncation), so for the
    * manifest's integral stat columns the footer answers are the SAME
    * longs the column scan computes, at ~KB of metadata per file
    * instead of a Spark job over the freshly written bytes. `ok=false`
    * marks a file whose footer lacks statistics for a wanted column
    * that holds values (parquet-mr always writes int stats, so this is
    * a defensive escape hatch, not an expected path) — the caller falls
    * back to the scan.
    */
  private case class FooterStats(rows: Long,
                                 mm: Map[String, (Long, Long)], ok: Boolean)

  private def footerStatsOf(file: org.apache.parquet.io.InputFile,
                            want: Set[String]): FooterStats = {
    import scala.jdk.CollectionConverters._
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(file)
    try {
      val blocks = rdr.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      var ok = true
      val mm = scala.collection.mutable.Map.empty[String, (Long, Long)]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (want.contains(name)) {
            val st = c.getStatistics
            if (st == null || st.isEmpty) {
              if (c.getValueCount > 0) ok = false
            } else if (st.hasNonNullValue) {
              val mn = st.genericGetMin.asInstanceOf[Number].longValue
              val mx = st.genericGetMax.asInstanceOf[Number].longValue
              val merged = mm.get(name) match {
                case Some((a, b2)) => (math.min(a, mn), math.max(b2, mx))
                case None => (mn, mx)
              }
              mm(name) = merged
            } // hasNonNullValue=false: all-null chunk — contributes no stats,
              // exactly like min()/max() ignoring nulls in the scan twin
          }
        }
      }
      FooterStats(rows, mm.toMap, ok)
    } finally rdr.close()
  }

  /** Manifest file lines + total count from footers alone (no Spark
    * job). Partition columns are not stored in the data files; their
    * min = max = the hive dir value parsed from the file's rel path —
    * the same number the read-back scan derives from partition
    * discovery (an unparseable/NULL partition value contributes no
    * stats, like an all-null column). Returns None when any footer
    * lacks stats for a wanted column (caller falls back to the scan).
    * Footers are read one after another: a small thread pool measured
    * more CPU for no less wall time at refresh sizes.
    */
  private def footerStatLines(spark: SparkSession, files: Seq[FileStatus],
                              dirName: String, statCols: Seq[String])
      : Option[(Long, Seq[String])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val per = files.map { fst =>
      // opened from the listing's own status: no second stat per file
      val st = footerStatsOf(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(fst, conf),
        statCols.toSet)
      if (!st.ok) return None
      fst.getPath.toString -> st
    }
    val count0 = per.map(_._2.rows).sum
    // zero-row part files are dropped outright, mirroring the scan path
    // (no rows ⇒ no stats ⇒ never prunable)
    val lines = per.collect { case (p, st) if st.rows > 0 =>
      val partVals = relPath(p, dirName).split('/').dropRight(1).toSeq
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      val parts = statCols.flatMap { c =>
        st.mm.get(c).map { case (mn, mx) => s"$c=$mn..$mx" }
          .orElse(partVals.get(c)
            .flatMap(v => scala.util.Try(v.toLong).toOption)
            .map(v => s"$c=$v..$v"))
      }
      if (parts.isEmpty) p else p + "\t" + parts.mkString(",")
    }
    Some((count0, lines))
  }

  /** The write every staged dir goes through (data files and DVs):
    * overwrite, without Hadoop's `_SUCCESS` marker. A staged dir is
    * visible only through the manifest that names its files, so the
    * manifest is the sole commit point and the marker would be one more
    * created file that no reader consults.
    */
  private def stagingWriter(df: DataFrame) =
    df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** [[stageVersion]]'s engine, returning (row count, manifest file
    * lines) so a MERGE can splice freshly staged lines together with
    * lines carried over from the previous version.
    */
  private def stageFiles(df: DataFrame, dataDir: Path,
                         bloomCols: Seq[String] = Nil,
                         bloomBits: Long = 1L << 20,
                         partitionBy: Seq[String] = Nil): (Long, Seq[String]) = {
    val spark = df.sparkSession
    val f = fs(spark, dataDir)
    val writer = stagingWriter(df)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
     else writer).parquet(dataDir.toString)
    val listed = listParquet(f, dataDir)
    val files = listed.map(_.getPath.toString)
    // a write whose every task produced zero rows (e.g. a delete that
    // emptied all touched files) leaves no part files at all — nothing
    // to stat, nothing to list
    if (files.isEmpty) return (0L, Seq.empty)
    val statCols = df.schema.fields.collect {
      case fld if Seq("tinyint", "smallint", "int", "bigint")
        .contains(fld.dataType.simpleString) => fld.name
    }.toSeq
    // Bloom-free publishes take the footer fast path: counts + integral
    // min/max from the write's own metadata, zero read-back jobs. Bloom
    // side files genuinely need the column BYTES, so those publishes
    // keep the one combined stats+bloom scan below.
    if (bloomCols.isEmpty) {
      footerStatLines(spark, listed, dataDir.getName, statCols) match {
        case Some(res) => return res
        case None => // fall through to the scan twin
      }
    }
    // reading the dir root auto-discovers hive partition dirs, so a
    // PARTITION column contributes per-file stats like any other — with
    // min = max = the dir's value. Partition pruning thereby IS min/max
    // pruning: readBetween/readPoint compose it with data-column stats
    // and blooms with zero extra machinery.
    // The written frame's schema spares a schema-inference job; the
    // partition columns stay out of it, discovered from the dir names.
    val partCols = partitionBy.map(_.toLowerCase).toSet
    val written = spark.read.schema(org.apache.spark.sql.types.StructType(
        df.schema.fields.filterNot(fl => partCols(fl.name.toLowerCase))))
      .parquet(dataDir.toString)
    val aggs = (count(lit(1)).as("n") +: statCols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"min_$c"),
      max(col(c)).cast("long").as(s"max_$c")))) ++
      bloomCols.map(c => bridge.bloomFilterAgg(xxhash64(col(c)),
        estimatedItems = 100000L, numBits = bloomBits).as(s"bloom_$c"))
    val perFile = written
      .groupBy(col("_metadata.file_path").as("fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val dirName = dataDir.getName
    // bloom side files land INSIDE the staged data dir, so they are
    // covered by the same atomic commit (no manifest ⇒ invisible) and
    // the same vacuum delete; partition subdirs are mirrored under
    // _bloom so rel paths stay collision-free
    if (bloomCols.nonEmpty) {
      val bloomDir = new Path(dataDir, "_bloom")
      f.mkdirs(bloomDir)
      perFile.foreach { r =>
        val rel = relPath(r.getAs[String]("fp"), dirName)
        bloomCols.foreach { c =>
          val bytes = r.getAs[Array[Byte]](s"bloom_$c")
          val bp = new Path(bloomDir, s"$rel.$c.bloom")
          f.mkdirs(bp.getParent)
          val out = f.create(bp, true)
          out.write(bytes); out.close()
        }
      }
    }
    val count0 = perFile.map(_.getAs[Long]("n")).sum
    val statsByRel = perFile.map { r =>
      val rel = relPath(r.getAs[String]("fp"), dirName)
      val parts = statCols.flatMap { c =>
        val (mn, mx) = (r.getAs[Any](s"min_$c"), r.getAs[Any](s"max_$c"))
        if (mn == null || mx == null) None
        else Some(s"$c=$mn..$mx")
      }
      rel -> parts.mkString(",")
    }.toMap
    // zero-row part files (empty write tasks) are dropped from the
    // manifest outright: they can serve no read, and listing them would
    // defeat skipping (no rows ⇒ no stats ⇒ never prunable)
    val fileLines = files.collect {
      case p if statsByRel.contains(relPath(p, dirName)) =>
        val stats = statsByRel(relPath(p, dirName))
        if (stats.isEmpty) p else s"$p\t$stats"
    }
    (count0, fileLines)
  }

  private val ManifestRe = "v(\\d{5})\\.manifest".r

  /** Committed versions, ascending (empty for a fresh table). */
  def versions(spark: SparkSession, table: String): Seq[Int] = {
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case ManifestRe(n) => n.toInt
    }.sorted
  }

  // ─── the write core: one manifest type, one commit, one retry loop ────

  /** One version's manifest, parsed once. On disk: line 1 `version=N`,
    * line 2 `count=M`, line 3 the schema line (`schema=DDL`, optionally
    * `\tcolmap=…`, see [[colmapOfLine]]), then one line per data file
    * (`path`, an optional stats field, an optional `dv:<dir>` ref). A
    * writer derives the next version's manifest from the latest one by
    * `copy` and hands it to [[commit]]; [[render]] is the one place the
    * format is written.
    */
  private case class Manifest(version: Int, count: Long, schemaLine: String,
                              fileLines: Seq[String]) {
    lazy val schema: StructType = StructType.fromDDL(ddlOfLine(schemaLine))
    lazy val colmap: Map[String, String] = colmapOfLine(schemaLine)
    lazy val files: Seq[String] = fileLines.map(pathOf)
    lazy val partitionCols: Seq[String] = partitionColsOf(fileLines)

    /** Physical name of logical column `name`. */
    def phys(name: String): String = physOf(colmap, name)

    /** Per-file stats: file path → column → (min, max). Fields after the
      * path hold at most one stats field (col=lo..hi,…) and at most one
      * deletion-vector ref (dv:<dir>), in any order; a file without a
      * stats field maps to empty.
      */
    lazy val stats: Seq[(String, Map[String, (Long, Long)])] =
      fileLines.map { line =>
        val parts = line.split('\t')
        val st = parts.drop(1)
          .filterNot(p => p.isEmpty || p.startsWith("dv:")).headOption match {
          case None => Map.empty[String, (Long, Long)]
          case Some(field) => field.split(',').map { kv =>
            val Array(c, range) = kv.split("=", 2)
            val Array(lo, hi) = range.split("\\.\\.", 2)
            c -> (lo.toLong, hi.toLong)
          }.toMap
        }
        parts(0) -> st
      }

    /** Deletion-vector refs: canonical file key → absolute DV parquet dir
      * holding that file's suppressed (k, pos) rows.
      */
    lazy val dvRefs: Map[String, String] = fileLines.flatMap { l =>
      val parts = l.split('\t')
      parts.drop(1).find(_.startsWith("dv:"))
        .map(ref => snapKey(parts(0)) -> ref.stripPrefix("dv:"))
    }.toMap

    /** Snap dirs this manifest pins: each data file's dir and each DV
      * ref's enclosing dir — a line saying `dv:…/snap-v00002/_dv-…` keeps
      * snap-v00002 alive after version 2's own manifest expires.
      */
    def referencedDirs: Seq[String] = fileLines.flatMap { l =>
      val parts = l.split('\t')
      snapDirNameOf(parts(0)) +: parts.drop(1).filter(_.startsWith("dv:"))
        .map(r => snapDirNameOf(r.stripPrefix("dv:"))).toSeq
    }

    def render: String = s"version=$version\ncount=$count\n$schemaLine\n" +
      fileLines.mkString("\n")
  }

  private object Manifest {
    def parse(version: Int, lines: Seq[String]): Manifest =
      Manifest(version, lines(1).stripPrefix("count=").toLong, lines(2),
        lines.drop(3).filter(_.nonEmpty))
  }

  /** A manifest file line's data-file path. */
  private def pathOf(fileLine: String): String = fileLine.split('\t')(0)

  /** The manifest of `version` (default: the latest committed). The one
    * place a missing version is named: an empty table fails with "no
    * committed snapshots", an expired or never-committed version with
    * the list of versions that survive.
    */
  private def manifestOf(spark: SparkSession, table: String,
                         version: Option[Int]): Manifest = {
    def committed: Seq[Int] = {
      val vs = versions(spark, table)
      require(vs.nonEmpty, s"no committed snapshots under $table")
      vs
    }
    val v = version.getOrElse(committed.last)
    val p = new Path(manifestDir(table), f"v$v%05d.manifest")
    val lines = try {
      val in = fs(spark, p).open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    } catch {
      case e: java.io.FileNotFoundException =>
        val have = committed
        require(have.contains(v),
          s"version $v not committed (have: ${have.mkString(",")})")
        throw e
    }
    Manifest.parse(v, lines)
  }

  /** THE commit point of every writer: `m` exclusive-created as
    * `_snapshots/vNNNNN.manifest` (overwrite=false — atomic on HDFS and
    * POSIX). False means another writer committed that version first;
    * any other I/O failure propagates as itself.
    */
  private def commit(spark: SparkSession, table: String,
                     m: Manifest): Boolean = {
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    try {
      commitTestHook()
      val out = f.create(new Path(dir, f"v${m.version}%05d.manifest"), false)
      out.write(m.render.getBytes(UTF_8))
      out.close()
      true
    } catch {
      case e: java.io.IOException if isCommitRace(e) => false
    }
  }

  /** One attempt of an [[optimistic]] writer, against the latest
    * manifest: [[NoOp]] commits nothing; [[Commit]] carries the next
    * manifest, the writer-unique dirs staged for it and the result.
    */
  private sealed trait Step[+R]
  private final case class NoOp[R](result: R) extends Step[R]
  private final case class Commit[R](next: Manifest, staged: Seq[Path],
                                     result: R) extends Step[R]

  /** Optimistic concurrency for every incremental writer: run `step`
    * against the latest manifest and commit what it returns. On a lost
    * race the base advanced, so the staged dirs are dropped (they are
    * writer-unique — no winner's file can live under them) and the step
    * reruns against the new latest; the 8th lost race fails as
    * "`what` lost 8 commit races".
    */
  private def optimistic[R](spark: SparkSession, table: String, what: String)(
      step: Manifest => Step[R]): R = {
    @annotation.tailrec
    def attempt(lost: Int): R = step(manifestOf(spark, table, None)) match {
      case NoOp(r) => r
      case Commit(next, staged, r) =>
        if (commit(spark, table, next)) r
        else {
          val f = fs(spark, new Path(table))
          staged.foreach(d => f.delete(d, true))
          require(lost + 1 < 8, s"$what lost ${lost + 1} commit races")
          attempt(lost + 1)
        }
    }
    attempt(0)
  }

  /** A writer-unique dir under `parent`: `stem` plus 8 hex digits —
    * `snap-vNNNNN-w…`/`-ac…`/`-cl…` data dirs and `_dv-…` DV dirs.
    */
  private def uniqueDir(parent: Path, stem: String): Path =
    new Path(parent, stem + java.util.UUID.randomUUID.toString.take(8))

  // ─── CONCURRENT-WRITER CONFLICT MATRIX ───────────────────────────────
  // Every writer commits by exclusive-create of the version manifest
  // and, on a lost race, RECOMPUTES against the new latest (optimistic
  // concurrency, serializable outcome = some sequential order). Two
  // further properties decide which pairs COMPOSE:
  //  (1) staging isolation — the loser's staged bytes can never mix
  //      with or destroy the winner's: every incremental writer stages
  //      into a writer-unique dir (`-w`/`-ac`/`-cl` suffixed snap dirs;
  //      dvDelete's `_dv-<uuid>`), and its lost-race cleanup
  //      ([[optimistic]]) deletes only that dir;
  //  (2) contract stability under re-base — the writer's semantics are
  //      defined relative to "the table now", so recomputing from the
  //      winner's result is still the operator's contract.
  //
  // COMPOSABLE (any pairing, either order): mergeUpsert, mergeMoR,
  // deleteBetween, dvDelete, applyCdcVersion, autoCompactDv,
  // autoCluster, renameColumn/dropColumn (metadata-only — nothing
  // staged), setRef (own exclusive-create chain). E.g. a dvDelete that
  // loses to an autoCompactDv re-derives its tombstones against the
  // compacted files; a deleteBetween that loses to a mergeMoR deletes
  // from the merged table — exactly the sequential outcome. The
  // deterministic-race cases in SnapshotStoreSpec pin no-lost-rows /
  // no-resurrection / schema-and-colmap-intact for the representative
  // pairs via [[commitTestHook]].
  //
  // NOT COMPOSABLE — single-writer by contract:
  //  - replace-[[publish]] (and [[compact]], which is a publish):
  //    "replace the table with this frame" racing anything is a
  //    semantic conflict (last committer wins wholesale), and publish
  //    stages into the SHARED `snap-vNNNNN` dir — a same-version
  //    publish pair can interleave stages destructively. Its lost-race
  //    handler therefore deletes NOTHING (the dir may hold the
  //    winner's files); orphaned loser files are gcOrphans' job.
  //  - concurrent [[publishVersion]] replays of the SAME batch: the
  //    engine serializes foreachBatch replays; a truly concurrent
  //    replay is best-effort (identical content, so the winner's
  //    listing is correct unless stages interleave mid-listing).

  /** Atomically publish `df` as the next version; returns the version
    * committed. Loops on commit conflict (another writer claimed the
    * version): the loser re-stages its data under the next number —
    * rare-path cost, the win is that NO lock is ever held.
    */
  def publish(df: DataFrame, table: String, bloomCols: Seq[String] = Nil,
              bloomBits: Long = 1L << 20,
              partitionBy: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    var v = versions(spark, table).lastOption.getOrElse(0) + 1
    // lost the race: re-publish as the next version. The staged dir is
    // left in place — a same-version publish WINNER may have interleaved
    // its own stage into this shared dir, so deleting it here could
    // destroy committed files; orphaned loser files are gcOrphans'
    // age-fenced job. (Replace-publish is single-writer by contract —
    // see the conflict matrix.)
    while (!commit(spark, table,
        stageVersion(df, table, v, bloomCols, bloomBits, partitionBy)))
      v = versions(spark, table).lastOption.getOrElse(v) + 1
    v
  }

  /** Idempotent publish at a FIXED version — the exactly-once building
    * block for streaming. Returns true iff THIS call committed; false
    * means the version already exists (a replayed micro-batch after a
    * crash between sink commit and checkpoint advance — the standard
    * foreachBatch dup window) and nothing was written. A lost concurrent
    * replay race also returns false and leaves the staged dir: the
    * winner staged the identical content into it, and foreachBatch
    * replays are engine-serialized anyway.
    */
  def publishVersion(df: DataFrame, table: String, version: Int): Boolean =
    !versions(df.sparkSession, table).contains(version) &&
      commit(df.sparkSession, table, stageVersion(df, table, version))

  /** EXACTLY-ONCE streaming sink: each micro-batch publishes as version
    * batchId+1 via [[publishVersion]]. Structured Streaming's foreachBatch
    * is at-least-once (a batch replays if the job dies after the sink
    * ran but before the checkpoint advanced); pinning version = batchId
    * makes the replay a no-op, upgrading the sink to exactly-once — the
    * same idempotent-by-batchId discipline Delta's streaming sink uses.
    * Readers see each micro-batch atomically (manifest commit) and can
    * time-travel the stream's history.
    */
  def streamSink(stream: DataFrame, table: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publishVersion(batch, table, batchId.toInt + 1); ()
      }
      .start()

  // ─── named refs (branches/tags) ───────────────────────────────────────
  // A ref decouples "committed" from "visible": versions commit freely
  // (staging, audits, experiments) while readers following a ref see
  // only what the ref points at — the Iceberg branch/tag model, and the
  // gate that makes write-audit-publish possible. Updates follow the
  // manifest discipline exactly: each update is its own exclusive-create
  // file `ref-<name>-u<seq>.ref`, current value = highest committed seq
  // — atomic and lock-free, racing writers loop to the next seq and
  // last-committed wins deterministically.
  private val RefUpdateRe = "ref-([A-Za-z0-9_-]+)-u(\\d{5})\\.ref".r

  /** Atomically point `name` at `version`; returns the update seq. */
  def setRef(spark: SparkSession, table: String, name: String,
             version: Int): Int = {
    require(name.matches("[A-Za-z0-9_-]+"), s"bad ref name: $name")
    require(versions(spark, table).contains(version),
      s"ref $name -> $version: version not committed")
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    var seq = refSeqs(spark, table, name).lastOption.getOrElse(0) + 1
    while (true) {
      try {
        val out = f.create(new Path(dir, f"ref-$name-u$seq%05d.ref"), false)
        out.write(s"version=$version\n".getBytes(UTF_8)); out.close()
        return seq
      } catch {
        case e: java.io.IOException if isCommitRace(e) =>
          seq = refSeqs(spark, table, name).lastOption.getOrElse(seq) + 1
      }
    }
    -1 // unreachable
  }

  private def refSeqs(spark: SparkSession, table: String,
                      name: String): Seq[Int] = {
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case RefUpdateRe(n, s) if n == name => s.toInt
    }.sorted
  }

  /** Current target of every ref on the table. */
  def refs(spark: SparkSession, table: String): Map[String, Int] = {
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Map.empty
    val updates = f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case RefUpdateRe(n, s) => (n, s.toInt)
    }
    updates.groupBy(_._1).map { case (n, us) =>
      val top = us.map(_._2).max
      val in = f.open(new Path(dir, f"ref-$n-u$top%05d.ref"))
      val line = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .next()
      in.close()
      n -> line.stripPrefix("version=").toInt
    }
  }

  def refOf(spark: SparkSession, table: String, name: String): Option[Int] =
    refs(spark, table).get(name)

  /** Read what a ref points at (the branch-follower's read path). */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame = {
    val v = refOf(spark, table, name)
      .getOrElse(sys.error(s"no ref '$name' on $table"))
    read(spark, table, Some(v))
  }

  /** WRITE-AUDIT-PUBLISH: commit `df` as a new version (invisible to
    * `ref` followers), run `audit` against the COMMITTED snapshot (what
    * readers would actually see, not the input frame), and advance the
    * ref only on pass. A crash anywhere leaves the ref untouched — the
    * staged version is time-travelable for debugging and reclaimable by
    * vacuum. Returns (staged version, promoted?).
    */
  def wapPublish(spark: SparkSession, table: String, df: DataFrame,
                 ref: String, audit: DataFrame => Boolean): (Int, Boolean) = {
    val v = publish(df, table)
    val ok = audit(read(spark, table, Some(v)))
    if (ok) setRef(spark, table, ref, v)
    (v, ok)
  }

  /** Retention: drop all but the newest `keepLast` snapshots — data
    * dirs AND manifests (Delta VACUUM + log cleanup in one). Kept
    * versions stay time-travelable; expired reads fail loudly with the
    * surviving version list. Safe order: manifest first (the version
    * disappears from readers atomically), then the data dir.
    */
  def vacuum(spark: SparkSession, table: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val all = versions(spark, table)
    // refs are retention ROOTS: a version a branch/tag still points at
    // is live regardless of age (Iceberg's ref-aware expiry), and its
    // manifest must survive so the ref stays readable
    val refRoots = refs(spark, table).values.toSet
    val expire = all.dropRight(keepLast).filterNot(refRoots.contains)
    // REACHABILITY fence: a merge-produced manifest references earlier
    // versions' data dirs, so an expired version's dir is deletable only
    // if no RETAINED manifest still points into it (Delta VACUUM's
    // reasoning — the manifest set, not the version number, defines
    // liveness). Its manifest always goes: the version itself stops
    // being time-travelable either way.
    val kept = (all.takeRight(keepLast) ++ all.filter(refRoots.contains))
      .distinct
    // both data files AND deletion-vector refs pin their snap dir
    val referenced = kept
      .flatMap(v => manifestOf(spark, table, Some(v)).referencedDirs).toSet
    val f = fs(spark, new Path(table))
    // a version's data can live in `snap-vNNNNN` or in a writer-unique
    // `snap-vNNNNN-w<hex>`/`-ac<hex>`/`-cl<hex>` staging dir — expire
    // every dir of the version that no retained manifest references
    val onDisk = f.listStatus(new Path(table)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => SnapSegRe.pattern.matcher(n).matches())
    expire.foreach { v =>
      f.delete(new Path(manifestDir(table), f"v$v%05d.manifest"), false)
      f.delete(new Path(manifestDir(table), f"v$v%05d.ts"), false)
      onDisk.filter(n => n == f"snap-v$v%05d" ||
          n.startsWith(f"snap-v$v%05d-"))
        .filterNot(referenced.contains)
        .foreach(n => f.delete(new Path(table, n), true))
    }
    expire
  }

  // ─── AS-OF-timestamp time travel ───────────────────────────────────────
  // Version numbers are an ENGINE handle; consumers reason in event time
  // ("the table as of last midnight" — the Iceberg/Delta TIMESTAMP AS OF
  // read). The commit time is a CALLER-SUPPLIED logical timestamp (a
  // wall clock would make reads non-reproducible — the engine's
  // determinism rule), recorded as a `vNNNNN.ts` sidecar next to the
  // manifest. The sidecar lands AFTER the manifest commit: `read(v)`
  // visibility is unchanged, AS-OF visibility trails the commit by one
  // metadata write, and a crash between the two leaves a version that is
  // version-addressable but not time-addressable — safe (never the
  // reverse). Vacuum expires sidecars with their manifests.

  /** [[publish]] stamped with a logical commit timestamp. */
  def publishAt(df: DataFrame, table: String, commitTs: Long,
                partitionBy: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    val v = publish(df, table, partitionBy = partitionBy)
    val f = fs(spark, new Path(table))
    val out = f.create(new Path(manifestDir(table), f"v$v%05d.ts"), false)
    out.write(commitTs.toString.getBytes(UTF_8))
    out.close()
    v
  }

  /** Commit timestamps of all time-addressable versions. */
  def commitTimes(spark: SparkSession, table: String): Seq[(Int, Long)] = {
    val dir = manifestDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else {
      val TsRe = "v(\\d{5})\\.ts".r
      f.listStatus(dir).toSeq.map(_.getPath).collect {
        case p if TsRe.pattern.matcher(p.getName).matches() =>
          val TsRe(n) = p.getName: @unchecked
          val in = f.open(p)
          val bytes = new Array[Byte](64)
          val len = in.read(bytes); in.close()
          (n.toInt, new String(bytes, 0, len, UTF_8).trim.toLong)
      }.sortBy(_._1)
    }
  }

  /** Snapshot-isolated read of the newest version whose commit time is
    * ≤ `asOf` — fails loudly when nothing was committed that early.
    */
  def readAsOf(spark: SparkSession, table: String, asOf: Long): DataFrame = {
    val eligible = commitTimes(spark, table).filter(_._2 <= asOf)
    require(eligible.nonEmpty,
      s"no version committed at or before ts=$asOf in $table")
    read(spark, table, Some(eligible.maxBy(t => (t._2, t._1))._1))
  }

  /** GC: delete `snap-v*` data dirs with NO committed manifest — crash
    * leftovers (stage finished, commit never happened) and lost-race
    * stages whose cleanup delete failed. `minAgeMs` is the safety fence
    * every manifest-format GC needs: a CONCURRENT publisher's
    * in-progress stage is also manifest-less, so only dirs whose last
    * modification is older than the fence are eligible (Delta VACUUM's
    * retention-window reasoning — set it well above the longest
    * plausible stage time in production; 0 only in tests).
    */
  def gcOrphans(spark: SparkSession, table: String,
                minAgeMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val tableP = new Path(table)
    val f = fs(spark, tableP)
    if (!f.exists(tableP)) return Seq.empty
    // live = dirs of committed versions PLUS dirs any committed manifest
    // references (a vacuumed version's dir can outlive its manifest when
    // a later merge carried its files forward)
    val vs = versions(spark, table)
    val committed = vs.map(v => f"snap-v$v%05d").toSet ++
      vs.flatMap(v => manifestOf(spark, table, Some(v)).referencedDirs)
    val cutoff = System.currentTimeMillis() - minAgeMs
    f.listStatus(tableP).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap-v")
        && !committed.contains(st.getPath.getName)
        && st.getModificationTime <= cutoff)
      .map { st => f.delete(st.getPath, true); st.getPath.getName }
      .sorted
  }

  /** Per-(fixture, dataset dir) table path: the on-disk fixture must
    * honor the query's dataset input — a session touching two SF dirs
    * (or concurrent JVMs sharing /tmp) must not clobber each other's
    * staged tables, the collision two parallel sweeps measured on q148.
    */
  private[graft] def fixturePath(name: String, d: String): String =
    sys.props("java.io.tmpdir") + s"/graft-snapshots/$name-" +
      d.replaceAll("[^A-Za-z0-9._-]", "_")

  /** A committed version's schema (driver-side manifest parse). */
  def schemaOf(spark: SparkSession, table: String, version: Int): StructType =
    manifestOf(spark, table, Some(version)).schema

  /** Read a committed snapshot (default: latest). Reads exactly the
    * manifest's file list — never a directory scan of the table root.
    */
  def read(spark: SparkSession, table: String,
           version: Option[Int] = None): DataFrame =
    readWith(spark, table, version, inferSchema = false)

  /** [[read]] with each snap dir's schema INFERRED from its parquet
    * footers — one schema-inference Spark job per dir — instead of taken
    * from the manifest. The read as it was before manifest-schema reads,
    * kept as the differential twin SnapshotStoreSpec checks [[read]]
    * against.
    */
  private[graft] def readInferred(spark: SparkSession, table: String,
                                  version: Option[Int] = None): DataFrame =
    readWith(spark, table, version, inferSchema = true)

  private def readWith(spark: SparkSession, table: String,
                       version: Option[Int], inferSchema: Boolean): DataFrame = {
    val m = manifestOf(spark, table, version)
    loadFiles(spark, m.files, m, inferSchema)
  }

  /** Load a version's (possibly pruned) file list. Files are grouped by
    * the snap dir they LIVE in (a post-merge manifest references
    * earlier versions' dirs by design), each group read with its own
    * dir as basePath so hive partition dirs rebuild their column, then
    * cast/ordered to the MANIFEST schema — partition discovery infers
    * `om=199601` as int whatever the writer's type was, and a reader
    * must not see that drift. The union width = number of distinct
    * source versions, bounded in practice by [[compact]] (which
    * rewrites everything into one dir, collapsing the references).
    */
  private def loadFiles(spark: SparkSession, files: Seq[String], m: Manifest,
                        inferSchema: Boolean = false): DataFrame =
    if (files.isEmpty) // empty snapshot / all files pruned
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else loadFilesWithPos(spark, files, m, inferSchema).drop("_k", "_pos")

  /** Scan of one snap dir's `files` under the manifest's schema: the
    * LOGICAL fields mapped to their PHYSICAL names through the colmap,
    * minus the hive partition columns, which stay discovered from the
    * dir names (the layout is their spec; [[loadFilesWithPos]] casts
    * them to the manifest type). A given schema spares Spark the
    * one-task schema-inference job it runs for every parquet read
    * without one; a column the files predate reads as NULL, as the
    * add-column contract wants. `inferSchema` restores inference, for
    * [[readInferred]] only.
    */
  private def readSnapDir(spark: SparkSession, dir: String, files: Seq[String],
                          m: Manifest,
                          inferSchema: Boolean = false): DataFrame = {
    val partCols = partitionColsOf(files).map(_.toLowerCase).toSet
    val phys = StructType(m.schema.fields
      .map(fl => fl.copy(name = m.phys(fl.name)))
      .filterNot(fl => partCols.contains(fl.name.toLowerCase)))
    val reader = spark.read.option("basePath", dir)
    (if (inferSchema) reader else reader.schema(phys))
      .parquet(files: _*)
  }

  /** The union of deletion-vector dirs, read under the DV's fixed
    * (k, pos) schema — no inference job per dir. The reader gets each
    * dir's part files, not the dir: a `_dv-<hex>` root is a hidden path
    * to Spark's file listing, which warns "All paths were ignored" on
    * every such read.
    */
  private def readDv(spark: SparkSession, dirs: Seq[String]): DataFrame =
    dirs.map { dir =>
      val p = new Path(dir)
      val parts = walkFiles(fs(spark, p), p).map(_.getPath).collect {
        case f if f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet") => f.toString
      }
      spark.read.schema(DvSchema).parquet(parts: _*)
    }.reduce(_.unionAll(_))

  /** [[loadFiles]] with the row's canonical file key and in-file row
    * position retained as `_k`/`_pos` — the handle [[dvDelete]] needs to
    * address rows without rewriting files. Applies any deletion vectors
    * the manifest references: suppressed (k, pos) rows are removed by a
    * LEFT ANTI join against the DV parquet(s) — distributed, so a DV of
    * any size never lands on the driver. When no referenced file carries
    * a DV, the plan is identical to the plain read (no metadata columns,
    * no join).
    */
  private def loadFilesWithPos(spark: SparkSession, files: Seq[String],
                               m: Manifest,
                               inferSchema: Boolean = false): DataFrame = {
    // a column the file group predates (schema evolution: mergeUpsert
    // widens the manifest schema while CARRYING old files verbatim)
    // reads as NULL — the Delta/Iceberg add-column contract; files
    // never rewrite for a metadata change. Files store PHYSICAL names;
    // the colmap resolves each LOGICAL schema field to the file column
    // (identity when the table never renamed/dropped).
    def conform(df: DataFrame) = df.select(m.schema.fields.toIndexedSeq
      .map { fl =>
        val phys = m.phys(fl.name)
        (if (df.columns.contains(phys)) col(phys) else lit(null))
          .cast(fl.dataType).as(fl.name) } ++
      Seq(col("_k"), col("_pos")): _*)
    val base = files.groupBy(p => splitAtSnapDir(p)._1).toSeq.sortBy(_._1)
      .map { case (dir, grp) =>
        // every file in a group lives under the same snap dir, so its
        // canonical key is that dir's name + the path tail after it —
        // the Column twin of [[snapKey]], per-group constant dir name
        val dirName = new Path(dir).getName
        val keyCol = concat(lit(dirName + "/"), regexp_extract(
          col("_metadata.file_path"),
          java.util.regex.Pattern.quote(dirName) + "/(.*)", 1))
        conform(readSnapDir(spark, dir, grp, m, inferSchema)
          .withColumn("_k", keyCol)
          .withColumn("_pos", col("_metadata.row_index"))) }
      .reduce(_.unionAll(_))
    val dvDirs = files.flatMap(p => m.dvRefs.get(snapKey(p))).distinct.sorted
    if (dvDirs.isEmpty) base
    else {
      // DV dirs start with '_' so no directory-level DATA listing ever
      // sees their files (the convention of _bloom and Delta's
      // _delta_log); [[readDv]] hands the reader their part files
      val dv = readDv(spark, dvDirs)
        .select(col("k").as("_dvk"), col("pos").as("_dvpos"))
      base.join(dv, base("_k") === col("_dvk") &&
        base("_pos") === col("_dvpos"), "left_anti")
    }
  }

  /** Per-file stats of a committed version: file path → column →
    * (min, max). Files whose line has no stats suffix map to empty.
    */
  def statsOf(spark: SparkSession, table: String,
              version: Int): Seq[(String, Map[String, (Long, Long)])] =
    manifestOf(spark, table, Some(version)).stats

  /** A stat-pruned read: `df` contains exactly the rows of the snapshot
    * with `column` BETWEEN lo AND hi, but only `filesKept` of
    * `filesTotal` data files were ever opened — the manifest's min/max
    * ranges prove the rest can hold no matching row. Files with no
    * stats for `column` are always kept (stats are an optimization,
    * never a correctness gate), and the residual filter still runs over
    * what's read, so pruning can only skip work, not change answers.
    * This is the file-skipping half of every table format's read path;
    * it rewards writers that cluster the predicate column (contiguous
    * buckets, z-order — q132's lever) with near-perfect skip rates.
    */
  case class PrunedRead(df: DataFrame, filesTotal: Int, filesKept: Int)

  def readBetween(spark: SparkSession, table: String, version: Option[Int],
                  column: String, lo: Long, hi: Long): PrunedRead = {
    val m = manifestOf(spark, table, version)
    val phys = m.phys(column) // stats key physically
    val kept = m.stats.collect {
      case (p, st) if st.get(phys).forall { case (mn, mx) => mx >= lo && mn <= hi } => p
    }
    val base = loadFiles(spark, kept, m)
    PrunedRead(base.where(col(column).between(lo, hi)), m.stats.size, kept.size)
  }

  /** Point-lookup read through the per-file BLOOM index (+ min/max
    * stats): keep a file only if its range could contain a probed value
    * AND, when a bloom side file exists for `column`, at least one
    * probed value might be a member. Blooms are the complement of range
    * stats: ranges prune CLUSTERED layouts, blooms prune SCATTERED ones
    * (a hash-partitioned write leaves every file spanning the full key
    * range — ranges keep everything, the bloom still rules out all but
    * ~1 file per key). False positives only cost an extra file read;
    * false negatives are impossible, and the residual IN filter runs
    * regardless. The probe hashes ride through the same xxhash64 the
    * build used (Spark's runtime-filter contract).
    */
  def readPoint(spark: SparkSession, table: String, version: Option[Int],
                column: String, values: Seq[Long]): PrunedRead = {
    require(values.nonEmpty, "readPoint needs at least one probe value")
    val m = manifestOf(spark, table, version)
    import spark.implicits._
    val hashes = values.toDF("v").select(xxhash64(col("v")))
      .as[Long].collect()
    val f = fs(spark, new Path(table))
    val phys = m.phys(column) // stats/bloom keys
    // bloom side files live under the _bloom dir of the snap dir each
    // file LIVES in — for carried-over references that is the ORIGINAL
    // version's dir, where publish wrote them
    def bloomKeeps(path: String): Boolean = {
      val (prefix, rel) = splitAtSnapDir(path)
      val bp = new Path(new Path(prefix, "_bloom"), s"$rel.$phys.bloom")
      if (!f.exists(bp)) true // no index for this file/column: must keep
      else {
        val in = f.open(bp)
        val bytes = try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](64 * 1024)
          var n = in.read(tmp)
          while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          buf.toByteArray
        } finally in.close()
        val bloom = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new ByteArrayInputStream(bytes))
        hashes.exists(bloom.mightContainLong)
      }
    }
    val kept = m.stats.collect {
      case (p, st) if st.get(phys).forall { case (mn, mx) =>
            values.exists(x => x >= mn && x <= mx) } &&
          bloomKeeps(p) => p
    }
    val base = loadFiles(spark, kept, m)
    PrunedRead(base.where(col(column).isin(values: _*)), m.stats.size, kept.size)
  }

  /** OPTIMIZE: republish the latest snapshot's data as `numFiles` files
    * (small-file compaction — the bin-packing half of Delta OPTIMIZE;
    * q132 covers the clustering half). The rewrite is a new VERSION:
    * readers mid-flight keep their snapshot, time travel still serves
    * the old layout, and a crash mid-compaction is invisible (no
    * manifest, no version). Data is byte-identical by construction —
    * the spec pins diff(vOld, vNew) = all-unchanged.
    */
  def compact(spark: SparkSession, table: String, numFiles: Int): Int = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    publish(read(spark, table).coalesce(numFiles), table)
  }

  /** One file's read-amplification census row: physical rows in the
    * file (parquet footer — no data read) and positions its DV
    * suppresses. Read cost of the file is rows; useful output is
    * rows − suppressed.
    */
  case class DvAmp(fileKey: String, path: String, rows: Long,
                   suppressed: Long)

  /** Per-file DV read-amplification of a committed version —
    * METADATA-ONLY: file row counts come from parquet footers (driver,
    * one footer per DV'd file), suppressed counts from one DV-sized
    * aggregate per distinct DV dir (≤ one output row per file). Files
    * without a dv ref are omitted (amplification zero).
    */
  def dvAmplification(spark: SparkSession, table: String,
                      version: Option[Int] = None): Seq[DvAmp] =
    dvAmplificationOf(spark, manifestOf(spark, table, version))

  private def dvAmplificationOf(spark: SparkSession, m: Manifest): Seq[DvAmp] = {
    val refs = m.dvRefs
    if (refs.isEmpty) return Seq.empty
    val conf = spark.sparkContext.hadoopConfiguration
    def footerRows(p: String): Long = {
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(p), conf))
      try rdr.getRecordCount finally rdr.close()
    }
    // Count each file's positions from the ONE dir its manifest line
    // references. dvDelete/applyCdcVersion carry a touched file's
    // CUMULATIVE positions into the new dir, so an older dir still
    // referenced by OTHER files retains stale copies of the touched
    // file's rows — a bare union would double-count them (the read
    // path's anti-join is idempotent and immune; a census is not).
    val suppressed = refs.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (dir, kvs) =>
        readDv(spark, Seq(dir)).where(col("k").isin(kvs.map(_._1): _*)) }
      .reduce(_.unionAll(_))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    m.files.filter(p => refs.contains(snapKey(p)))
      .map { p =>
        val k = snapKey(p)
        DvAmp(k, p, footerRows(p), suppressed.getOrElse(k, 0L))
      }
  }

  case class AutoCompactStats(version: Int, filesTotal: Int,
                              filesMaterialized: Int, rowsRewritten: Long)

  /** The DV read-amplification POLICY the feed needs (a long CDC chain
    * silently accretes read-time anti-join cost): materialize exactly
    * the files whose suppressed fraction crosses `thresholdBp` (basis
    * points of the file's physical rows). The decision is the
    * metadata-only [[dvAmplification]] census; the mechanism is the
    * OPTIMIZE rewrite scoped to the offending files — their LIVE rows
    * re-stage (DV applied, ref shed), every other file line carries by
    * reference, dv refs intact. Live rows are preserved exactly
    * (count unchanged), old versions still time-travel to the
    * amplified layout, and a chain whose files all sit under the
    * threshold commits NOTHING (no-op, no version). Same optimistic
    * commit/retry as [[deleteBetween]].
    */
  def autoCompactDv(spark: SparkSession, table: String,
                    thresholdBp: Long): AutoCompactStats =
    optimistic(spark, table, "autoCompactDv") { m =>
      val over = dvAmplificationOf(spark, m).filter(a =>
        a.rows > 0 && a.suppressed * 10000L >= thresholdBp * a.rows)
      if (over.isEmpty)
        NoOp(AutoCompactStats(m.version, m.fileLines.size, 0, 0L))
      else {
        val overKeys = over.map(_.fileKey).toSet
        val (rewriteLines, carryLines) = m.fileLines.partition(l =>
          overKeys.contains(snapKey(pathOf(l))))
        // live rows of the offending files — DVs applied by loadFiles,
        // so the rewrite IS the materialization
        val live = loadFiles(spark, rewriteLines.map(pathOf), m)
        val newV = m.version + 1
        val dataDir = uniqueDir(new Path(table), f"snap-v$newV%05d-ac")
        val (stagedCount, stagedLines) = stageFiles(
          toPhysical(live, m.colmap), dataDir, partitionBy = m.partitionCols)
        Commit(m.copy(version = newV, fileLines = carryLines ++ stagedLines),
          Seq(dataDir), AutoCompactStats(newV, m.fileLines.size,
            rewriteLines.size, stagedCount))
      }
    }

  /** Manifest-declared row count (metadata read, no data scan). */
  def countOf(spark: SparkSession, table: String, version: Int): Long =
    manifestOf(spark, table, Some(version)).count

  // ─── incremental layout maintenance (autoCluster) ─────────────────────
  // Z-order/sort layout jobs (q132's lever) are full-table rewrites; a
  // long-lived table's layout decays as appends land BETWEEN rewrites.
  // autoCluster is the autoCompactDv policy shape applied to
  // CLUSTERING: the manifest already knows each file's lineage (the
  // snap dir a line references IS the commit that wrote it), so the
  // job rewrites ONLY files appended since the last layout EPOCH and
  // carries every already-clustered file by reference. The epoch is a
  // named ref (`layout-epoch`, the branch/tag machinery) pointing at
  // the last layout commit — metadata-only, atomic, crash-safe: a
  // crash between commit and ref update merely re-clusters the fresh
  // files next run (wasteful, never wrong).
  //
  // Clustering model: files are key-range bins — `buckets` equal-width
  // bins over the new files' [min, max] of `keyCol`, one staged file
  // per non-empty bin, so every staged file's min/max footer stats are
  // TIGHT in the cluster key and a range predicate prunes to
  // O(range/width) files. Equal-width binning is chosen over sampled
  // range boundaries deliberately: the bin of a row is pure integer
  // arithmetic over (min, max, buckets), so the layout is
  // deterministic and the q346 oracle recomputes every file's bbox
  // from the data alone. (Production-at-100 TB would swap in
  // repartitionByRange sampling for skew robustness — the policy,
  // carry discipline and census are unchanged by that swap.)
  //
  // 100 TB shape: the decision (which files are new) is one manifest
  // parse; the rewrite reads only the new files' live rows (DV-applied)
  // and shuffles them once into ≤ `buckets` files; carried files cost
  // zero bytes. Each epoch's bins overlap other epochs' bins — a range
  // read touches ~1 file per epoch, and epochs collapse whenever a
  // full compact/re-baseline runs.
  case class ClusterStats(version: Int, epochBefore: Int,
                          filesCarried: Int, filesRewritten: Int,
                          filesStaged: Int, rowsClustered: Long)

  private val LayoutEpochRef = "layout-epoch"

  /** Cluster the files appended since the last layout epoch into
    * `buckets` equal-width key-range files; carry everything else by
    * reference; advance the epoch. No-op (no commit) when nothing
    * appended since the epoch. Hive-partitioned layouts are rejected
    * (cluster-within-partition is a later composition).
    */
  def autoCluster(spark: SparkSession, table: String, keyCol: String,
                  buckets: Int): ClusterStats = {
    require(buckets >= 1 && buckets <= 1024,
      s"buckets must be in [1, 1024], got $buckets")
    val st = optimistic(spark, table, "autoCluster") { m =>
      val epoch = refOf(spark, table, LayoutEpochRef).getOrElse(0)
      require(m.partitionCols.isEmpty,
        "autoCluster does not compose with hive-partitioned layouts yet")
      def dirVer(l: String): Int =
        "snap-v(\\d{5})".r.findFirstMatchIn(snapDirNameOf(pathOf(l)))
          .get.group(1).toInt
      val (carryLines, newLines) = m.fileLines.partition(l => dirVer(l) <= epoch)
      if (newLines.isEmpty)
        NoOp(ClusterStats(m.version, epoch, m.fileLines.size, 0, 0, 0L))
      else {
        val live = loadFiles(spark, newLines.map(pathOf), m).localCheckpoint()
        val keyL = col(keyCol).cast("long")
        val mm = live.agg(min(keyL), max(keyL)).head()
        require(!mm.isNullAt(0),
          s"cluster key $keyCol has no non-null values in the new files")
        val (mn, mx) = (mm.getLong(0), mm.getLong(1))
        // ceil(span / buckets): bin = (key - mn) div width ∈ [0, buckets)
        val width = math.max(1L, (mx - mn + buckets.toLong) / buckets)
        val binCol = expr(
          s"(CAST($keyCol AS BIGINT) - $mn) DIV $width")
        val newV = m.version + 1
        // one staged file per non-empty bin (≤ buckets driver-side
        // values): deterministic layout, tight per-file key stats.
        // Every bin gets its OWN writer-unique `-cl` snap dir — a
        // first-class data dir (its own basePath), so reads never see
        // foreign subdir segments.
        val bins = live.select(binCol.as("b")).distinct()
          .collect().map(_.getLong(0)).sorted.toSeq
        val binDirs =
          bins.map(_ => uniqueDir(new Path(table), f"snap-v$newV%05d-cl"))
        val staged = bins.zip(binDirs).map { case (b, dirB) =>
          stageFiles(toPhysical(live.where(binCol === b), m.colmap).coalesce(1),
            dirB)
        }
        val stagedLines = staged.flatMap(_._2)
        Commit(m.copy(version = newV, fileLines = carryLines ++ stagedLines),
          binDirs, ClusterStats(newV, epoch, carryLines.size, newLines.size,
            stagedLines.size, staged.map(_._1).sum))
      }
    }
    // the epoch advances AFTER the commit; a crash in between leaves the
    // old epoch — the next run re-clusters this version's files
    // (wasteful, never wrong)
    if (st.filesRewritten > 0) setRef(spark, table, LayoutEpochRef, st.version)
    st
  }

  // ─── column mapping (Delta 'name' mode): rename/drop without rewrite ──
  // The manifest schema line optionally carries a LOGICAL→PHYSICAL map
  // as a tab-separated suffix: `schema=<DDL>\tcolmap=log:phys,…`. Data
  // files always store PHYSICAL names; the DDL is LOGICAL. Absent map =
  // identity (every pre-existing table, and every fresh publish). The
  // suffix rides the schema line, so the many writers that carry
  // `Manifest.schemaLine` verbatim (dvDelete, applyCdcVersion,
  // autoCompactDv, …) propagate the mapping for free; writers that
  // REBUILD the schema line (mergeUpsert/mergeMoR widening) extend it
  // explicitly. A full
  // rewrite (compact / replace-publish) re-baselines to identity —
  // every file is fresh, so no old physical name can resurrect.
  //
  // INVARIANT: renameColumn/dropColumn MATERIALIZE the full map (every
  // remaining logical → its physical). A table with a non-empty map is
  // "mapping-active": widening merges then assign FRESH physical names
  // (`<name>_p<hex>`) to new columns, so re-adding a dropped column
  // never resurrects old files' data, and adding a column with a
  // renamed-away logical name never aliases the old bytes — the
  // Delta/Iceberg column-mapping contract.

  /** Logical→physical map of a manifest's schema line (empty = identity). */
  private def colmapOfLine(schemaLine: String): Map[String, String] =
    schemaLine.split("\tcolmap=", 2) match {
      case Array(_, m) => m.split(',').filter(_.nonEmpty).map { kv =>
        val Array(l, p) = kv.split(":", 2); l -> p }.toMap
      case _ => Map.empty
    }

  /** Logical DDL of a manifest's schema line (colmap suffix stripped). */
  private def ddlOfLine(schemaLine: String): String =
    schemaLine.split("\tcolmap=", 2)(0).stripPrefix("schema=")

  private def schemaLineOf(ddl: String, colmap: Map[String, String]): String = {
    // the colmap suffix is tab/comma/colon-delimited; a mapped name
    // containing a delimiter would commit a manifest whose suffix later
    // fails to parse (or silently mis-maps) — reject BEFORE the write,
    // so no corrupt manifest is ever committed
    colmap.foreach { case (l, p) =>
      require(!(l + p).exists(c => c == '\t' || c == ',' || c == ':'),
        s"column-mapping name '$l' -> '$p' contains a manifest " +
          "delimiter (tab, comma or colon) — rename/add it under a " +
          "delimiter-free name")
    }
    "schema=" + ddl + (if (colmap.isEmpty) "" else
      "\tcolmap=" + colmap.toSeq.sorted
        .map { case (l, p) => s"$l:$p" }.mkString(","))
  }

  /** Physical name of logical `name` (case-insensitive, analyzer-style). */
  private def physOf(colmap: Map[String, String], name: String): String =
    colmap.collectFirst { case (l, p) if l.equalsIgnoreCase(name) => p }
      .getOrElse(name)

  /** Rename a LOGICAL frame to PHYSICAL names for staging (no-op on
    * identity tables — zero plan change anywhere mapping is unused).
    */
  private def toPhysical(df: DataFrame,
                         colmap: Map[String, String]): DataFrame =
    if (colmap.isEmpty) df
    else df.select(df.columns.toIndexedSeq
      .map(c => col(c).as(physOf(colmap, c))): _*)

  /** Fresh physical name for a column added to a mapping-active table. */
  private def freshPhys(name: String): String =
    name + "_p" + java.util.UUID.randomUUID.toString.take(8)

  case class SchemaEvoStats(version: Int, filesCarried: Int)

  /** RENAME COLUMN — a METADATA-ONLY commit: every file line carries by
    * reference, the logical DDL renames the field, and the colmap pins
    * the new logical name to the column's existing PHYSICAL name, so
    * old files' data keeps reading under the new name with zero bytes
    * rewritten. Time travel to pre-rename versions still reads the old
    * name (manifests are immutable). Activation materializes the FULL
    * map, so later widenings mint fresh physical names (see invariant
    * above). Case-insensitive collision with a remaining column is
    * rejected — the analyzer could not resolve the twin.
    */
  def renameColumn(spark: SparkSession, table: String, oldName: String,
                   newName: String): SchemaEvoStats =
    evolveSchema(spark, table, s"rename $oldName -> $newName", oldName) {
      (schema, colmap) =>
        val fld = schema.fields.find(_.name.equalsIgnoreCase(oldName))
          .getOrElse(throw new IllegalArgumentException(
            s"no column $oldName in ${schema.fieldNames.mkString(",")}"))
        require(!schema.fields.exists(f =>
            !f.name.equalsIgnoreCase(oldName) &&
            f.name.equalsIgnoreCase(newName)),
          s"rename target $newName collides with an existing column")
        val full = schema.fields.map(f => f.name -> physOf(colmap, f.name))
        val newSchema = org.apache.spark.sql.types.StructType(
          schema.fields.map(f =>
            if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName)
            else f))
        val newMap = full.map { case (l, p) =>
          (if (l.equalsIgnoreCase(oldName)) newName else l) -> p }.toMap
        (newSchema, newMap)
    }

  /** DROP COLUMN — a METADATA-ONLY commit: the field leaves the logical
    * DDL and the map; old files keep the physical bytes (time travel
    * still serves them) but no current read selects them. Dropping a
    * PARTITION column is rejected (the hive layout carries it; later
    * partitioned restagings would need it). Activation materializes the
    * full map, so a later re-add of the same name mints a FRESH
    * physical — drop + add ≠ rename, old data never resurrects.
    */
  def dropColumn(spark: SparkSession, table: String,
                 name: String): SchemaEvoStats =
    evolveSchema(spark, table, s"drop $name", name) { (schema, colmap) =>
      require(schema.fields.exists(_.name.equalsIgnoreCase(name)),
        s"no column $name in ${schema.fieldNames.mkString(",")}")
      require(schema.fields.length > 1, "cannot drop the only column")
      (org.apache.spark.sql.types.StructType(
         schema.fields.filterNot(_.name.equalsIgnoreCase(name))),
       schema.fields.filterNot(_.name.equalsIgnoreCase(name))
         .map(f => f.name -> physOf(colmap, f.name)).toMap)
    }

  /** Shared metadata-only schema-evolution commit: same count, same
    * file lines, new schema line; optimistic create/retry like every
    * other writer. The evolved column must not be a partition column.
    */
  private def evolveSchema(spark: SparkSession, table: String, what: String,
                           touched: String)(
      evolve: (StructType, Map[String, String]) =>
        (StructType, Map[String, String]))
      : SchemaEvoStats =
    optimistic(spark, table, what) { m =>
      val partCols = m.partitionCols.map(_.toLowerCase).toSet
      require(!partCols.contains(m.phys(touched).toLowerCase),
        s"cannot $what: $touched is a hive partition column")
      val (newSchema, newMap) = evolve(m.schema, m.colmap)
      val newV = m.version + 1
      // metadata-only: nothing staged
      Commit(m.copy(version = newV,
          schemaLine = schemaLineOf(newSchema.toDDL, newMap)),
        Nil, SchemaEvoStats(newV, m.fileLines.size))
    }

  /** CHANGE DATA CAPTURE between two committed versions: full-outer join
    * on the key, classify each row insert/delete/update/unchanged. Non-key
    * comparison is null-safe struct equality (`<=>`), so NULL↔value
    * flips count as updates and NULL↔NULL as unchanged. At 100 TB this
    * is one co-partitioned join keyed by the table key — the same cost
    * as any merge — and it needs NO change log: any two retained
    * versions diff after the fact (the snapshot store's immutability is
    * what makes that sound).
    */
  def diff(spark: SparkSession, table: String, vOld: Int, vNew: Int,
           keyCols: Seq[String]): DataFrame = {
    val old = read(spark, table, Some(vOld))
    val neu = read(spark, table, Some(vNew))
    require(old.columns.sameElements(neu.columns),
      s"schema drift between v$vOld and v$vNew: " +
        s"${old.columns.mkString(",")} vs ${neu.columns.mkString(",")}")
    val payload = old.columns.filterNot(keyCols.contains)
    def pack(df: DataFrame, side: String) = df.select(
      keyCols.map(col) :+
        struct(payload.map(col): _*).as(s"${side}_payload") :+
        lit(1).as(s"${side}_present"): _*)
    pack(old, "o").join(pack(neu, "n"), keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("o_present").isNull, lit("insert"))
          .when(col("n_present").isNull, lit("delete"))
          .when(col("o_payload") <=> col("n_payload"), lit("unchanged"))
          .otherwise(lit("update")).as("change_type"): _*)
  }

  /** Full-row CDC: [[diff]]'s classification plus the NEW row payload
    * for insert/update (what a downstream MERGE needs). Same one
    * co-partitioned full-outer join.
    */
  def diffRows(spark: SparkSession, table: String, vOld: Int, vNew: Int,
               keyCols: Seq[String]): DataFrame = {
    val old = read(spark, table, Some(vOld))
    val neu = read(spark, table, Some(vNew))
    require(old.columns.sameElements(neu.columns),
      s"schema drift between v$vOld and v$vNew")
    val payload = old.columns.filterNot(keyCols.contains)
    def pack(df: DataFrame, side: String) = df.select(
      keyCols.map(col) :+
        struct(payload.map(col): _*).as(s"${side}_payload"): _*)
    pack(old, "o").join(pack(neu, "n"), keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        when(col("o_payload").isNull && col("n_payload").isNotNull,
          lit("insert"))
          .when(col("n_payload").isNull, lit("delete"))
          .when(col("o_payload") <=> col("n_payload"), lit("unchanged"))
          .otherwise(lit("update")).as("change_type")) ++
        payload.map(c => col(s"n_payload.$c").as(c)): _*)
  }

  /** Full-row CDC with BOTH images: [[diffRows]]' classification plus
    * the old payload as `pre_<col>` and the new as `post_<col>` — the
    * Delta CDF preimage/postimage shape, what RETRACTING consumers need
    * (an incremental aggregate must subtract the pre-image of an update
    * before adding its post-image; see q238). Same one co-partitioned
    * full-outer join; unchanged rows are filtered out — a CDC feed
    * carries changes, not the table.
    */
  def diffRowsPrePost(spark: SparkSession, table: String, vOld: Int,
                      vNew: Int, keyCols: Seq[String]): DataFrame = {
    val old = read(spark, table, Some(vOld))
    val neu = read(spark, table, Some(vNew))
    require(old.columns.sameElements(neu.columns),
      s"schema drift between v$vOld and v$vNew")
    val payload = old.columns.filterNot(keyCols.contains)
    def pack(df: DataFrame, side: String) = df.select(
      keyCols.map(col) :+
        struct(payload.map(col): _*).as(s"${side}_payload"): _*)
    pack(old, "o").join(pack(neu, "n"), keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        when(col("o_payload").isNull && col("n_payload").isNotNull,
          lit("insert"))
          .when(col("n_payload").isNull, lit("delete"))
          .when(col("o_payload") <=> col("n_payload"), lit("unchanged"))
          .otherwise(lit("update")).as("change_type")) ++
        payload.map(c => col(s"o_payload.$c").as(s"pre_$c")) ++
        payload.map(c => col(s"n_payload.$c").as(s"post_$c")): _*)
      .where(col("change_type") =!= "unchanged")
  }

  /** MERGE: apply a [[diffRows]] changeset to a base frame — deletes
    * drop, updates/inserts take the changeset's payload, unchanged keys
    * keep the base row. One co-partitioned outer join, same key; the
    * inverse of diff, and the spec pins the round-trip theorem
    * `apply(v1, diffRows(v1→v2)) ≡ v2`.
    */
  def applyChanges(base: DataFrame, changes: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    val payload = base.columns.filterNot(keyCols.contains)
    val packedBase = base.select(
      keyCols.map(col) :+ struct(payload.map(col): _*).as("b_payload"): _*)
    val packedChg = changes.select(
      keyCols.map(col) :+ col("change_type") :+
        struct(payload.map(col): _*).as("c_payload"): _*)
    packedBase.join(packedChg, keyCols, "full_outer")
      .where(coalesce(col("change_type"), lit("")) =!= "delete")
      .select(keyCols.map(col) :+
        when(col("change_type").isin("insert", "update"), col("c_payload"))
          .otherwise(col("b_payload")).as("m"): _*)
      .select(keyCols.map(col) ++ payload.map(c => col(s"m.$c").as(c)): _*)
  }

  /** Outcome of a file-granular write ([[mergeUpsert]] /
    * [[deleteBetween]]): the committed version plus the carried-vs-
    * rewritten file split — the number that makes the 100 TB cost
    * visible (a merge touching 3 of 80 000 files costs 3 rewrites).
    */
  case class MergeStats(version: Int, filesTotal: Int,
                        filesRewritten: Int, filesCarried: Int)

  /** MERGE INTO (upsert form): matched keys take the source row,
    * unmatched source rows insert, everything else is untouched — and
    * "untouched" is FILE-granular, not row-granular: files proven to
    * contain no matched key are carried into the new version's manifest
    * BY REFERENCE (zero bytes moved); only files that hold at least one
    * matched key are read, anti-joined, and re-staged together with the
    * source rows. Touched files are found the way Delta's MERGE does
    * it: a column-pruned scan of (key, `_metadata.file_path`)
    * semi-joined against the source's keys — one distributed join whose
    * result is ≤ one row per FILE, never a driver-side key set. At
    * 100 TB with a clustered key layout this rewrites only the files
    * the source actually lands in; the worst case (source scattered
    * across every file) degrades to [[publish]], never beyond.
    *
    * The staged rewrite reuses the base version's hive partitioning
    * (recovered from its file paths) so partition pruning keeps
    * composing, and writes fresh stats/blooms for the new files while
    * carried lines keep theirs verbatim. Commit is the same exclusive-
    * create manifest as [[publish]]; on a lost race the merge RECOMPUTES
    * from the new latest (the base changed — restaging alone would be
    * wrong). The source must be key-unique (checked; Delta errors on
    * multi-match too). Readers of merge-produced versions union one
    * scan per referenced dir ([[loadFiles]]); [[compact]] collapses the
    * references when chains grow. [[vacuum]]/[[gcOrphans]] are
    * reference-aware so carried files survive their origin version's
    * expiry.
    */
  def mergeUpsert(spark: SparkSession, table: String, source: DataFrame,
                  keyCols: Seq[String],
                  bloomCols: Seq[String] = Nil): MergeStats = {
    require(keyCols.nonEmpty, "mergeUpsert needs at least one key column")
    optimistic(spark, table, "mergeUpsert") { m =>
      val (src, widened, newColmap) =
        conformSource("mergeUpsert", m, source, keyCols)
      // touched-file discovery: key+path scan (parquet reads ONLY the
      // key columns) semi-joined with the source's keys; the distinct
      // file list is ≤ |files| rows — driver-bounded by construction
      val touchedKeys: Set[String] =
        if (m.files.isEmpty) Set.empty
        else {
          val keyScan = m.files.groupBy(p => splitAtSnapDir(p)._1)
            .toSeq.sortBy(_._1).map { case (dir, grp) =>
              readSnapDir(spark, dir, grp, m)
                .select(keyCols.map(k => col(m.phys(k)).as(k)) :+
                  col("_metadata.file_path").as("_fp"): _*) }
            .reduce(_.unionAll(_))
          keyScan
            .join(src.select(keyCols.map(col): _*), keyCols, "left_semi")
            .select(col("_fp")).distinct()
            .collect().map(r => snapKey(r.getString(0))).toSet
        }
      val (rewriteLines, carryLines) = m.fileLines.partition(l =>
        touchedKeys.contains(snapKey(pathOf(l))))
      val rewriteFiles = rewriteLines.map(pathOf)
      val touchedDf = loadFiles(spark, rewriteFiles, m)
      val touchedRows =
        if (rewriteFiles.isEmpty) 0L else touchedDf.count()
      val merged = touchedDf
        .join(src.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(src, allowMissingColumns = true)
        .select(widened.fields.toIndexedSeq
          .map(fl => col(fl.name).cast(fl.dataType).as(fl.name)): _*)
      val newV = m.version + 1
      val dataDir = uniqueDir(new Path(table), f"snap-v$newV%05d-w")
      // staged files store PHYSICAL names (no-op on identity tables);
      // partition cols from hive rel paths are already physical
      val (stagedCount, stagedLines) = stageFiles(
        toPhysical(merged, newColmap), dataDir,
        bloomCols.map(physOf(newColmap, _)), partitionBy = m.partitionCols)
      Commit(Manifest(newV, m.count - touchedRows + stagedCount,
          schemaLineOf(widened.toDDL, newColmap), carryLines ++ stagedLines),
        Seq(dataDir), MergeStats(newV, m.fileLines.size,
          rewriteLines.size, carryLines.size))
    }
  }

  /** [[mergeUpsert]]'s and [[mergeMoR]]'s source, conformed to the table
    * manifest `m`: returns the source cast to the widened schema, that
    * schema, and its colmap.
    *
    * SCHEMA EVOLUTION: the source must cover every existing column (a
    * missing one is almost always a typo — fail loudly, the Delta
    * default) but may ADD new ones; the new manifest schema appends them
    * in source order, rewritten files carry the full width, and CARRIED
    * files stay narrow — loadFiles null-fills on read, so an add-column
    * evolution rewrites exactly the files the merge touched anyway, zero
    * extra bytes. Name matching is CASE-INSENSITIVE, matching Spark's
    * default analyzer resolution (spark.sql.caseSensitive=false): a
    * source column differing only in case is the SAME column (else it
    * would widen the manifest with a case-variant twin that later reads
    * resolve ambiguously), and a source carrying two case-variants of
    * one name is rejected outright. The source must be key-unique
    * (checked with one action; Delta errors on multi-match too).
    */
  private def conformSource(what: String, m: Manifest, source: DataFrame,
                            keyCols: Seq[String])
      : (DataFrame, StructType, Map[String, String]) = {
    val srcLower = source.columns.map(_.toLowerCase)
    require(srcLower.distinct.length == srcLower.length,
      s"source has case-only column collisions: ${source.columns
        .groupBy(_.toLowerCase).filter(_._2.length > 1)
        .values.map(_.mkString("/")).mkString(",")}")
    require(m.schema.fieldNames.forall(n => srcLower.contains(n.toLowerCase)),
      s"source is missing table columns ${m.schema.fieldNames
        .filterNot(n => srcLower.contains(n.toLowerCase))
        .mkString(",")}")
    val existingLower = m.schema.fieldNames.map(_.toLowerCase).toSet
    val newFields = source.schema.fields
      .filterNot(f => existingLower.contains(f.name.toLowerCase))
    val widened = StructType(m.schema.fields ++ newFields)
    // mapping-active tables mint FRESH physical names for widened
    // columns: a re-added dropped column (or an add reusing a
    // renamed-away name) must never alias old files' bytes
    val newColmap =
      if (m.colmap.isEmpty) m.colmap
      else m.colmap ++ newFields.map(f => f.name -> freshPhys(f.name))
    val src = source.select(widened.fields.toIndexedSeq
      .map(fl => col(fl.name).cast(fl.dataType).as(fl.name)): _*)
    val dup = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).where(col("n") > 1).limit(1).count()
    require(dup == 0,
      s"$what source has duplicate keys — multi-match is ambiguous")
    (src, widened, newColmap)
  }

  /** Targeted DELETE (`DELETE WHERE column BETWEEN lo AND hi`) with
    * stats-granular file pruning: manifest min/max ranges prove most
    * files hold no in-range row — those carry over by reference; only
    * intersecting files (and files with no stats for the column —
    * stats are an optimization, never a correctness gate) are read and
    * re-staged minus the deleted rows. A file falling ENTIRELY inside
    * the range rewrites to zero rows and simply drops from the
    * manifest. NULLs survive (BETWEEN never matches them). Same
    * optimistic commit/retry and reference discipline as
    * [[mergeUpsert]] — this is the GDPR-delete shape: cost ∝ files the
    * predicate actually lands in, which a range-clustered layout makes
    * a tiny fraction of the table.
    */
  def deleteBetween(spark: SparkSession, table: String, column: String,
                    lo: Long, hi: Long,
                    bloomCols: Seq[String] = Nil): MergeStats =
    optimistic(spark, table, "deleteBetween") { m =>
      val phys = m.phys(column) // stats are keyed physically
      val stats = m.stats.toMap
      val (rewriteLines, carryLines) = m.fileLines.partition { l =>
        stats(pathOf(l)).get(phys)
          .forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
      val rewriteFiles = rewriteLines.map(pathOf)
      val touchedDf = loadFiles(spark, rewriteFiles, m)
      val touchedRows =
        if (rewriteFiles.isEmpty) 0L else touchedDf.count()
      val survivors = touchedDf
        .where(!col(column).between(lo, hi) || col(column).isNull)
      val newV = m.version + 1
      val dataDir = uniqueDir(new Path(table), f"snap-v$newV%05d-w")
      val (stagedCount, stagedLines) = stageFiles(
        toPhysical(survivors, m.colmap), dataDir, bloomCols.map(m.phys),
        partitionBy = m.partitionCols)
      Commit(m.copy(version = newV, count = m.count - touchedRows + stagedCount,
          fileLines = carryLines ++ stagedLines),
        Seq(dataDir), MergeStats(newV, m.fileLines.size,
          rewriteLines.size, carryLines.size))
    }

  // ─── deletion vectors: DELETE without rewriting data files ───────────
  // deleteBetween/mergeUpsert are correct but rewrite every touched
  // file — a 1-row GDPR delete in a 1 GB file costs a 1 GB rewrite. The
  // modern Delta/Iceberg answer is a DELETION VECTOR: a side file of
  // suppressed row positions, consulted at read time, materialized
  // lazily by compaction. Here a DV is a PARQUET dataset (k = canonical
  // file key, pos = in-file row position from `_metadata.row_index` —
  // stable for an immutable committed file), staged under the new
  // version's `snap-vNNNNN/_dv` dir and referenced per file line as a
  // `dv:<dir>` manifest field — the same no-manifest-⇒-invisible atomic
  // commit, vacuum and GC reachability as data files. Reads apply DVs
  // as a distributed LEFT ANTI join on (k, pos) (loadFilesWithPos), so
  // a DV of any size never lands on the driver.
  //
  // Semantics downstream, all for free through loadFiles: time travel
  // to the pre-delete version never sees the DV (the old manifest has
  // no ref); CDC diff classifies DV-suppressed rows as deletes;
  // mergeUpsert/deleteBetween read DV-applied rows, so a rewrite
  // MATERIALIZES any DV on the files it touches (rewritten lines carry
  // no dv field); compact materializes every DV. A second dvDelete on
  // an already-vectorized file writes the UNION of old + new positions
  // to the new version's dir (one ref per file, cumulative), leaving
  // the old dir to serve time travel until vacuum expires it. File
  // min/max stats and blooms are not tightened by a DV — pruning may
  // keep a file whose matches are all suppressed (the anti join still
  // removes them), never the reverse, so skipping stays sound.

  case class DvStats(version: Int, filesTotal: Int, filesWithDv: Int,
                     filesRewritten: Int, rowsDeleted: Long)

  /** Every DV parquet's schema: canonical file key, in-file row position. */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "k STRING, pos BIGINT")

  /** DV parquet files above this row count stop funneling through one
    * task (overridable for specs via `graft.dv.singleFileCap`).
    */
  private[graft] def dvSingleFileCap: Long =
    sys.props.get("graft.dv.singleFileCap").map(_.toLong).getOrElse(100000L)

  /** Stage a DV frame. A micro-batch-sized DV (the common case) writes
    * as ONE file — a 50-row DV must not open 32 writers. Once the
    * cumulative DV crosses [[dvSingleFileCap]] rows (a long CDC feed, or
    * compaction-scale position sets), it hash-partitions by file key `k`
    * so the write parallelizes and each task's positions cluster by the
    * file they suppress — the read side's anti-join build is per-file
    * anyway, so co-clustering costs nothing and caps task memory.
    */
  private def stageDv(dv: DataFrame, dvDir: Path): Unit = {
    // the explicit partition count sizes each writer at ~cap rows and
    // keeps AQE from coalescing the keyed shuffle back into one task
    val rows = dv.count()
    val shaped =
      if (rows <= dvSingleFileCap) dv.coalesce(1)
      else dv.repartition(
        math.min(200L, rows / dvSingleFileCap + 1).toInt, col("k"))
    stagingWriter(shaped).parquet(dvDir.toString)
  }

  /** A DV write's plan against manifest `m`: the files it touches (by
    * canonical key), the rows it newly suppresses, and the cumulative
    * DV to stage — new positions UNION each touched file's positions
    * from its current DV dir (one ref per file, cumulative).
    */
  private case class DvBuild(touched: Set[String], rows: Long,
                             full: Option[DataFrame]) {
    /** Stage the cumulative DV into `dvDir`; nothing when no file is touched. */
    def stage(dvDir: Path): Unit = full.foreach(stageDv(_, dvDir))

    /** `fileLines` with every touched file's dv ref replaced by `dvDir`. */
    def withDvRef(fileLines: Seq[String], dvDir: Path): Seq[String] =
      fileLines.map { l =>
        val parts = l.split('\t')
        if (touched.contains(snapKey(parts(0))))
          (parts.filterNot(_.startsWith("dv:")) :+ s"dv:$dvDir").mkString("\t")
        else l
      }
  }

  /** The one DV builder ([[dvDelete]], [[mergeMoR]], [[applyCdcVersion]]):
    * `matching` narrows the live rows of `files` (existing DVs applied,
    * so re-suppressing a row is idempotent) to the rows to suppress.
    * Their (k, pos) are checkpointed, and ONE collect of the per-file
    * position counts (≤ |touched files| rows) yields both the touched
    * set and the suppressed total.
    */
  private def buildDv(spark: SparkSession, m: Manifest, files: Seq[String])(
      matching: DataFrame => DataFrame): DvBuild =
    if (files.isEmpty) DvBuild(Set.empty, 0L, None)
    else {
      val newDv = matching(loadFilesWithPos(spark, files, m))
        .select(col("_k").as("k"), col("_pos").as("pos"))
        .localCheckpoint()
      val perFile = newDv.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .collect()
      val touched = perFile.map(_.getString(0)).toSet
      if (touched.isEmpty) DvBuild(touched, 0L, None)
      else {
        val oldDirs = touched.flatMap(m.dvRefs.get).toSeq.distinct.sorted
        val full = (if (oldDirs.isEmpty) newDv
                    else newDv.unionAll(readDv(spark, oldDirs)
                      .where(col("k").isin(touched.toSeq: _*))))
          .distinct().localCheckpoint()
        DvBuild(touched, perFile.map(_.getLong(1)).sum, Some(full))
      }
    }

  /** Point DELETE (`column IN values`) via deletion vectors: ZERO data
    * files rewrite. Stats/bloom pruning narrows the scan to candidate
    * files; one column-pruned pass over their LIVE rows (existing DVs
    * applied — idempotent by construction) yields the new suppressed
    * positions. Optimistic commit/retry like [[mergeUpsert]].
    */
  def dvDelete(spark: SparkSession, table: String, column: String,
               values: Seq[Long]): DvStats = {
    require(values.nonEmpty, "dvDelete needs at least one value")
    optimistic(spark, table, "dvDelete") { m =>
      val physC = m.phys(column) // stats key
      val stats = m.stats.toMap
      // candidate files by min/max (files without stats always kept —
      // stats are an optimization, never a correctness gate)
      val candidates = m.files.filter { p =>
        stats(p).get(physC).forall { case (mn, mx) =>
          values.exists(x => x >= mn && x <= mx) }
      }
      val newV = m.version + 1
      // Writer-unique DV dir inside the SHARED snap-v<newV> dir: a lost
      // race deletes ONLY this dir — never snap-v<newV>, which a
      // concurrent winner of version newV may already own. The
      // underscore prefix keeps it out of data-file listings;
      // snapDirNameOf still resolves the ref to snap-v<newV> so vacuum
      // reachability pins the enclosing dir.
      val dvDir = uniqueDir(new Path(table, f"snap-v$newV%05d"), "_dv-")
      val dv = buildDv(spark, m, candidates)(
        _.where(col(column).isin(values: _*)))
      if (dv.touched.isEmpty) // nothing matched: no new version
        NoOp(DvStats(m.version, m.fileLines.size, 0, 0, 0L))
      else {
        dv.stage(dvDir)
        Commit(m.copy(version = newV, count = m.count - dv.rows,
            fileLines = dv.withDvRef(m.fileLines, dvDir)),
          Seq(dvDir), DvStats(newV, m.fileLines.size, dv.touched.size, 0,
            dv.rows))
      }
    }
  }

  /** Outcome of a merge-on-read MERGE: version plus the DV/append split
    * — `filesRewritten` is structurally absent because MoR never
    * rewrites a data file.
    */
  case class MoRStats(version: Int, filesTotal: Int, filesWithDv: Int,
                      filesAppended: Int, rowsSuppressed: Long,
                      rowsAppended: Long)

  /** MERGE INTO, merge-on-read form: ZERO data files rewrite. Where
    * [[mergeUpsert]] (copy-on-write) re-stages every file holding a
    * matched key — a 1-row update in a 1 GB file costs a 1 GB rewrite —
    * MoR composes the two primitives the store already has: matched
    * LIVE rows are suppressed by a deletion vector (the [[dvDelete]]
    * machinery: (file key, `_metadata.row_index`) parquet staged under
    * the new version, `dv:` manifest refs, read-time anti-join) and the
    * FULL source (updates and inserts alike) appends as fresh data
    * files. Every pre-existing file line carries into the new manifest
    * by reference — touched ones gain/replace a dv ref, the rest verbatim
    * — so the write cost is O(matched-row positions + source bytes),
    * never O(touched file bytes). This is Delta's DV-backed MERGE /
    * Iceberg v2 merge-on-read; [[compact]] is the materialize path that
    * folds DVs back into plain files when read amplification grows.
    *
    * Touched-row discovery is one column-pruned key scan with positions
    * ([[loadFilesWithPos]] — existing DVs applied, so re-merging a key
    * is idempotent) semi-joined against the source's keys; the per-file
    * touched set is ≤ one row per file, driver-bounded. Schema
    * evolution follows [[mergeUpsert]]: the source must cover every
    * existing column (case-insensitively) and may append new ones —
    * carried files stay narrow and null-fill on read. Commit is the
    * same exclusive-create manifest; on a lost race the merge drops its
    * writer-unique staged dir and recomputes against the new latest.
    */
  def mergeMoR(spark: SparkSession, table: String, source: DataFrame,
               keyCols: Seq[String],
               bloomCols: Seq[String] = Nil): MoRStats = {
    require(keyCols.nonEmpty, "mergeMoR needs at least one key column")
    optimistic(spark, table, "mergeMoR") { m =>
      val (src, widened, newColmap) =
        conformSource("mergeMoR", m, source, keyCols)
      val newV = m.version + 1
      val dataDir = uniqueDir(new Path(table), f"snap-v$newV%05d-w")
      val dvDir = uniqueDir(dataDir, "_dv-")
      // matched LIVE rows → suppressed positions. The key-only select
      // lets Catalyst prune the parquet scan to keyCols + metadata.
      val dv = buildDv(spark, m, m.files)(
        _.select(keyCols.map(col) :+ col("_k") :+ col("_pos"): _*)
          .join(src.select(keyCols.map(col): _*), keyCols, "left_semi"))
      // stage the appended data FIRST (stageFiles overwrites dataDir),
      // then the DV parquet beside it — both under the same atomic
      // commit and vacuum reachability as any version's files
      val (stagedCount, stagedLines) = stageFiles(
        toPhysical(src, newColmap), dataDir,
        bloomCols.map(physOf(newColmap, _)), partitionBy = m.partitionCols)
      dv.stage(dvDir)
      Commit(Manifest(newV, m.count - dv.rows + stagedCount,
          schemaLineOf(widened.toDDL, newColmap),
          dv.withDvRef(m.fileLines, dvDir) ++ stagedLines),
        Seq(dataDir), MoRStats(newV, m.fileLines.size, dv.touched.size,
          stagedLines.size, dv.rows, stagedCount))
    }
  }

  /** Outcome of one CDC micro-batch apply. `committed=false` means the
    * version already existed — a replayed micro-batch (the foreachBatch
    * at-least-once window) observed as a no-op.
    */
  case class CdcApplyStats(version: Int, committed: Boolean,
                           filesWithDv: Int, filesAppended: Int,
                           rowsSuppressed: Long, rowsAppended: Long)

  /** Apply ONE CDC micro-batch at a FIXED version — the exactly-once
    * building block for STREAMING INGESTION into the store. The batch
    * carries an op column (`I`nsert / `U`pdate / `D`elete, post-image
    * rows for I/U) and applies merge-on-read: live pre-images of every
    * batch key are suppressed by a deletion vector (the [[dvDelete]]
    * machinery — zero data files rewrite) and the I/U post-images append
    * as fresh data files under the version's dir, following the carried
    * layout's hive partitioning. Cost is O(matched positions + batch
    * bytes) — a 3-row micro-batch against a 100 TB table touches the
    * key-column chunks of candidate files plus 3 rows of writes, never
    * a data-file rewrite (the q318/q323 contract, now per micro-batch).
    *
    * Exactly-once: the version is PINNED by the caller (batchId-derived
    * — see [[streamCdcSink]]); if it is already committed the call
    * returns immediately with `committed=false` and writes nothing, so
    * Structured Streaming's replay window upgrades to a no-op. Versions
    * must chain densely (`version == latest+1`) — a gap means the feed
    * and the table disagree about history, and the CDC semantics (each
    * batch applies to its predecessor) would silently skew. The pinned
    * version is never re-based: a lost commit race (a concurrent replay
    * of the same batch committed first) drops this call's writer-unique
    * staged dir and returns `committed=false`.
    */
  def applyCdcVersion(spark: SparkSession, table: String, batch: DataFrame,
                      keyCols: Seq[String], opCol: String,
                      version: Int): CdcApplyStats = {
    require(keyCols.nonEmpty, "applyCdcVersion needs at least one key column")
    val m = manifestOf(spark, table, None)
    val notCommitted = CdcApplyStats(version, committed = false, 0, 0, 0L, 0L)
    if (version <= m.version && versions(spark, table).contains(version))
      return notCommitted
    require(m.version == version - 1,
      s"CDC version gap: table at v${m.version}, batch pinned to v$version")
    val schema = m.schema
    val batchLower = batch.columns.map(_.toLowerCase)
    require(batchLower.contains(opCol.toLowerCase),
      s"batch is missing op column $opCol")
    require(schema.fieldNames.forall(n => batchLower.contains(n.toLowerCase)),
      s"batch is missing table columns ${schema.fieldNames
        .filterNot(n => batchLower.contains(n.toLowerCase)).mkString(",")}")
    val ops = upper(col(opCol))
    // ONE grouped probe (r15, guide §5): bad-op detection, duplicate-key
    // detection, upsert presence and the distinct-key count all fold
    // into a single two-level aggregate action (was: two limit-probes +
    // an isEmpty + a capped key collect — four driver actions per
    // batch). NULL op must still be caught here: `!isin` is NULL for
    // NULL input, and a null-op row downstream would silently act as a
    // delete — the when() below counts NULL explicitly. Guard ORDER and
    // messages are unchanged (bad ops first, then duplicates).
    val keyed = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"),
           sum(when(ops.isNull || !ops.isin("I", "U", "D"), 1L)
             .otherwise(0L)).as("_bad"),
           sum(when(ops.isin("I", "U"), 1L).otherwise(0L)).as("_ups"))
    val probeRow = keyed.agg(
        coalesce(sum(col("_bad")), lit(0L)),
        coalesce(max(col("_n")), lit(0L)),
        coalesce(sum(col("_ups")), lit(0L)),
        count(lit(1))).head()
    val (badOps, maxPerKey, nUpserts, nKeys) = (probeRow.getLong(0),
      probeRow.getLong(1), probeRow.getLong(2), probeRow.getLong(3))
    require(badOps == 0, s"op column $opCol has values outside I/U/D")
    require(maxPerKey <= 1,
      "CDC batch has duplicate keys — per-batch apply order is ambiguous")
    val conformed = batch.select(schema.fields.toIndexedSeq
      .map(fl => col(fl.name).cast(fl.dataType).as(fl.name)) :+
      ops.as("_op"): _*)
    val upserts = conformed.where(col("_op").isin("I", "U")).drop("_op")
    // A micro-batch is SMALL by nature — when its (single, integral)
    // key set fits a driver-side cap, min/max file stats prune the
    // pre-image discovery to candidate files exactly like [[dvDelete]],
    // so one batch against a 100 TB table opens only the files whose
    // range can hold a batch key. Multi-column / non-integral keys or
    // an oversized batch fall back to the full key-column scan (the
    // mergeMoR path — correct at any size, just not file-pruned).
    val CdcPruneCap = 10000
    val allFiles: Seq[String] =
      if (keyCols.size != 1 || m.files.isEmpty) m.files
      else {
        val kc = keyCols.head
        val integral = schema.fields.exists(f =>
          f.name.equalsIgnoreCase(kc) && (f.dataType.simpleString match {
            case "tinyint" | "smallint" | "int" | "bigint" => true
            case _ => false
          }))
        if (!integral) m.files
        // nKeys is known from the fused probe, so an oversized batch
        // skips the key collect outright (it used to collect cap+1 rows
        // only to discard them)
        else if (nKeys > CdcPruneCap) m.files
        else {
          // null keys equi-join-match nothing — they can't suppress,
          // so they don't constrain pruning either. The collect reads
          // the per-key probe frame (≤ CdcPruneCap rows), cast through
          // the TABLE key type exactly as `conformed` casts rows.
          val tblType = schema.fields
            .find(_.name.equalsIgnoreCase(kc)).get.dataType
          val ks = keyed.select(col(kc).cast(tblType).cast("long").as("_k"))
            .where(col("_k").isNotNull)
            .collect().map(_.getLong(0)).distinct
          val sorted = ks.sorted
          val physKc = m.phys(kc) // stats are keyed physically
          val stats = m.stats.toMap
          m.files.filter { p =>
            stats(p).get(physKc).forall { case (mn, mx) =>
              // any batch key in [mn, mx]? binary search the sorted keys
              val i = java.util.Arrays.binarySearch(sorted, mn)
              val at = if (i >= 0) i else -i - 1
              at < sorted.length && sorted(at) <= mx
            }
          }
        }
      }
    // writer-unique staging dir (appends + nested DV): a concurrent
    // replay race can neither clobber nor delete the winner's files
    val dataDir = uniqueDir(new Path(table), f"snap-v$version%05d-w")
    val dvDir = uniqueDir(dataDir, "_dv-")
    // ALL batch keys suppress their live pre-image (an I on a key that
    // already exists therefore behaves as an upsert — idempotent feeds)
    val dv = buildDv(spark, m, allFiles)(
      _.select(keyCols.map(col) :+ col("_k") :+ col("_pos"): _*)
        .join(conformed.select(keyCols.map(col): _*), keyCols, "left_semi"))
    // delete-only batches stage no data files; the dir still hosts the
    // DV. Upsert presence comes from the fused probe (no isEmpty action).
    val (stagedCount, stagedLines) =
      if (nUpserts > 0L)
        stageFiles(toPhysical(upserts, m.colmap), dataDir,
          partitionBy = m.partitionCols)
      else { fs(spark, dataDir).mkdirs(dataDir); (0L, Seq.empty[String]) }
    dv.stage(dvDir)
    val next = m.copy(version = version,
      count = m.count - dv.rows + stagedCount,
      fileLines = dv.withDvRef(m.fileLines, dvDir) ++ stagedLines)
    if (commit(spark, table, next))
      CdcApplyStats(version, committed = true, dv.touched.size,
        stagedLines.size, dv.rows, stagedCount)
    else {
      fs(spark, dataDir).delete(dataDir, true)
      notCommitted
    }
  }

  /** EXACTLY-ONCE streaming CDC INGESTION: each micro-batch of
    * I/U/D change rows applies to the snapshot table as version
    * `baseVersion + batchId + 1` via [[applyCdcVersion]] — merge-on-read
    * per batch (DV-suppress pre-images + append post-images), version
    * chain == micro-batch chain, every batch boundary time-travelable.
    * `baseVersion` is the table's version when the FEED begins (1 for a
    * freshly seeded table) — a constant of the pipeline, so the mapping
    * survives restarts: batchId comes from the checkpoint, and a
    * replayed batch finds its version committed and no-ops. This is the
    * Delta streaming-sink idempotence discipline (txnVersion=batchId)
    * applied to CDC upserts rather than blind appends.
    */
  def streamCdcSink(stream: DataFrame, table: String, checkpoint: String,
                    keyCols: Seq[String], opCol: String, baseVersion: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcVersion(batch.sparkSession, table, batch, keyCols, opCol,
          baseVersion + batchId.toInt + 1); ()
      }
      .start()

  // ─── q328: streaming CDC ingestion into the store (batch twin) ───────
  // The composition of the store's two oldest guarantees: an exactly-once
  // micro-batch feed (q189's sink discipline) whose every batch applies
  // as a MERGE-ON-READ version (q318's deletion vectors + q323's append
  // path), leaving the full micro-batch history time-travelable. Two
  // deterministic CDC waves over a seeded documents table:
  //   v1 seed: all docs, hive-bucketed by b = doc_id/100 (one file/dir).
  //   batch 1 → v2: D every 37th id; U every 41st-not-37th (n_chars →
  //     2n+5); I every 43rd id shifted +1e6 (n_chars+11, bucket+10000).
  //   replay of batch 1 at v2: must be a committed=false NO-OP — the
  //     exactly-once proof, recorded as data.
  //   batch 2 → v3: D every 86th INSERTED id (+1e6 — suppresses rows in
  //     v2-APPENDED files, proving DVs compose over appended data);
  //     U every 53rd-not-37th live id (+3 on its CURRENT value, which
  //     for 41-multiples lives in a v2-appended file — an update of an
  //     update).
  // files_v1_on_disk must equal files_total after both waves (the
  // filesystem zero-rewrite proof), the DV/append counters per wave are
  // derived relationally by the twin from the bucket layout, and
  // n_rows_v1/v2/v3 pin time travel across micro-batch versions.
  /** The q328/q329 two-wave CDC fixture, staged ONCE per (session, SF
    * dir) through [[graft.Session]]: q328 censuses the counters and q329
    * consumes the change feed of the SAME immutable 3-version table, so
    * the suite prices the publish + waves once.
    */
  private def cdcFixtureFor(s: SparkSession, d: String)
      : (String, Int, CdcApplyStats, CdcApplyStats, CdcApplyStats) =
    Session.memo(s, ("cdcFixture", d)) {
      // the on-disk path must honor the memo key's dataset dir: a
      // session touching two SF dirs between cache clears would
      // otherwise leave the first dir's memo entry pointing at a table
      // rebuilt from the second (and concurrent JVMs sharing /tmp
      // would clobber each other's fixture)
      val table = fixturePath("cdcfix", d)
      val tableP = new Path(table)
      fs(s, tableP).delete(tableP, true)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("b", floor(col("doc_id") / 100).cast("long"))
        .repartition(8, col("b"))
      // the insert waves shift keys by +1e6 (buckets by +10000); at a
      // corpus where doc_ids reach 1e6 the "inserts" would collide with
      // live originals and upsert them while the oracle models pure
      // inserts — fail loudly instead of silently skewing counters
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      require(maxId < 1000000L,
        s"cdc fixture insert-key offset collides: max(doc_id)=$maxId >= 1e6")
      publish(docs, table, partitionBy = Seq("b"))
      // v1's data-file count BEFORE any wave — the zero-rewrite proof
      // compares the post-wave filesystem against this
      val v1Files = listParquet(fs(s, tableP),
        new Path(table, "snap-v00001")).size
      def feed(rows: DataFrame) = rows.repartition(8, col("b"))
      val b1 = feed(
        docs.where(pmod(col("doc_id"), lit(37)) === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("b"),
                  lit("D").as("op"))
        .unionByName(docs
          .where(pmod(col("doc_id"), lit(41)) === 0 &&
                 pmod(col("doc_id"), lit(37)) =!= 0)
          .select(col("doc_id"), col("lang"),
                  (col("n_chars") * 2 + 5).as("n_chars"), col("b"),
                  lit("U").as("op")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(43)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
                  (col("n_chars") + 11).as("n_chars"),
                  (col("b") + 10000L).as("b"), lit("I").as("op"))))
      val st1 = applyCdcVersion(s, table, b1, Seq("doc_id"), "op", 2)
      val replay = applyCdcVersion(s, table, b1, Seq("doc_id"), "op", 2)
      val b2 = feed(
        docs.where(pmod(col("doc_id"), lit(86)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
                  col("n_chars"), (col("b") + 10000L).as("b"),
                  lit("D").as("op"))
        .unionByName(docs
          .where(pmod(col("doc_id"), lit(53)) === 0 &&
                 pmod(col("doc_id"), lit(37)) =!= 0)
          .select(col("doc_id"), col("lang"),
                  (when(pmod(col("doc_id"), lit(41)) === 0,
                        col("n_chars") * 2 + 5).otherwise(col("n_chars")) + 3)
                    .as("n_chars"),
                  col("b"), lit("U").as("op"))))
      val st2 = applyCdcVersion(s, table, b2, Seq("doc_id"), "op", 3)
      (table, v1Files, st1, st2, replay)
    }

  def q328StreamingCdcIngest(s: SparkSession, d: String): DataFrame = {
    val (table, v1Files, st1, st2, replay) = cdcFixtureFor(s, d)
    val tableP = new Path(table)
    val v1Dir = new Path(table, "snap-v00001")
    val v1OnDisk = listParquet(fs(s, tableP), v1Dir).size
    read(s, table)
      .where(col("b") <= 5 || col("b").between(10000, 10005))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("chars"),
           min(col("doc_id")).as("first_id"),
           max(col("doc_id")).as("last_id"))
      .select(col("b"), col("n_docs"), col("chars"),
              col("first_id"), col("last_id"),
              lit(versions(s, table).size.toLong).as("n_versions"),
              lit(if (replay.committed) 1L else 0L).as("replay_committed"),
              lit(v1Files.toLong).as("files_total"),
              lit(v1OnDisk.toLong).as("files_v1_on_disk"),
              lit(st1.filesWithDv.toLong).as("dv_files_b1"),
              lit(st1.filesAppended.toLong).as("app_files_b1"),
              lit(st2.filesWithDv.toLong).as("dv_files_b2"),
              lit(st1.rowsSuppressed).as("rows_supp_b1"),
              lit(st1.rowsAppended).as("rows_app_b1"),
              lit(st2.rowsSuppressed).as("rows_supp_b2"),
              lit(st2.rowsAppended).as("rows_app_b2"),
              lit(countOf(s, table, 1)).as("n_rows_v1"),
              lit(countOf(s, table, 2)).as("n_rows_v2"),
              lit(countOf(s, table, 3)).as("n_rows_v3"))
      .orderBy(col("b"))
  }

  val q328Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(floor(doc_id / 100) AS BIGINT) AS b
      |  FROM documents),
      |fin AS (
      |  SELECT doc_id, b,
      |    CASE WHEN doc_id % 41 = 0 THEN n_chars * 2 + 5 ELSE n_chars END
      |      + CASE WHEN doc_id % 53 = 0 THEN 3 ELSE 0 END AS n_chars
      |  FROM d WHERE doc_id % 37 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, b + 10000, n_chars + 11
      |  FROM d WHERE doc_id % 43 = 0 AND doc_id % 86 <> 0),
      |cnt AS (
      |  SELECT
      |    (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d) AS files_total,
      |    (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d
      |       WHERE doc_id % 37 = 0 OR doc_id % 41 = 0) AS dv_files_b1,
      |    (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d
      |       WHERE doc_id % 41 = 0 AND doc_id % 37 <> 0)
      |     + (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d
      |        WHERE doc_id % 43 = 0) AS app_files_b1,
      |    (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d
      |       WHERE doc_id % 53 = 0 AND doc_id % 37 <> 0 AND doc_id % 41 <> 0)
      |     + (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d
      |        WHERE doc_id % 53 = 0 AND doc_id % 37 <> 0 AND doc_id % 41 = 0)
      |     + (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d
      |        WHERE doc_id % 86 = 0) AS dv_files_b2,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d
      |       WHERE doc_id % 37 = 0 OR doc_id % 41 = 0) AS rows_supp_b1,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d
      |       WHERE doc_id % 41 = 0 AND doc_id % 37 <> 0)
      |     + (SELECT CAST(count(*) AS BIGINT) FROM d
      |        WHERE doc_id % 43 = 0) AS rows_app_b1,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d
      |       WHERE doc_id % 53 = 0 AND doc_id % 37 <> 0)
      |     + (SELECT CAST(count(*) AS BIGINT) FROM d
      |        WHERE doc_id % 86 = 0) AS rows_supp_b2,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d
      |       WHERE doc_id % 53 = 0 AND doc_id % 37 <> 0) AS rows_app_b2,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_rows_v1,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d) -
      |      (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id % 37 = 0) +
      |      (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id % 43 = 0)
      |      AS n_rows_v2,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id % 86 = 0)
      |      AS del_b2)
      |SELECT b, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id,
      |  CAST(3 AS BIGINT) AS n_versions,
      |  CAST(0 AS BIGINT) AS replay_committed,
      |  (SELECT files_total FROM cnt) AS files_total,
      |  (SELECT files_total FROM cnt) AS files_v1_on_disk,
      |  (SELECT dv_files_b1 FROM cnt) AS dv_files_b1,
      |  (SELECT app_files_b1 FROM cnt) AS app_files_b1,
      |  (SELECT dv_files_b2 FROM cnt) AS dv_files_b2,
      |  (SELECT rows_supp_b1 FROM cnt) AS rows_supp_b1,
      |  (SELECT rows_app_b1 FROM cnt) AS rows_app_b1,
      |  (SELECT rows_supp_b2 FROM cnt) AS rows_supp_b2,
      |  (SELECT rows_app_b2 FROM cnt) AS rows_app_b2,
      |  (SELECT n_rows_v1 FROM cnt) AS n_rows_v1,
      |  (SELECT n_rows_v2 FROM cnt) AS n_rows_v2,
      |  (SELECT n_rows_v2 - del_b2 FROM cnt) AS n_rows_v3
      |FROM fin
      |WHERE b <= 5 OR b BETWEEN 10000 AND 10005
      |GROUP BY b
      |ORDER BY b""".stripMargin

  /** O(delta) CHANGE DATA FEED between committed versions — the Delta
    * CDF / Iceberg changelog-scan answer, derived ENTIRELY from what the
    * store already persists (manifest diffs + deletion vectors), no
    * change log written on the hot path. Where [[diffRowsPrePost]]
    * recomputes a full-outer join over BOTH versions (O(table) — correct
    * for any two versions, blind to how they relate), the feed walks
    * each commit step v→v+1 and reads only what that commit touched:
    *
    *  - files APPENDED by the step (in v+1's manifest, not in v's) —
    *    their live rows are insert post-images;
    *  - per-file DV GROWTH (the step's dv ref differs from v's) — the
    *    newly suppressed (file, pos) pairs, read back as pre-images by a
    *    position join against the file's v-live rows, are deletes;
    *  - files REMOVED by the step (copy-on-write rewrites, compaction,
    *    replace-publish) — their v-live rows are deletes.
    *
    * A key appearing on both sides of one step pairs into
    * `update_preimage`/`update_postimage` (Delta CDF's vocabulary);
    * unpaired rows stay `delete`/`insert`. MERGE-ON-READ steps
    * ([[applyCdcVersion]], [[mergeMoR]], [[dvDelete]]) therefore yield
    * the MINIMAL feed — O(changed rows + touched file reads). Copy-on-
    * write steps ([[mergeUpsert]], [[compact]], replace-[[publish]])
    * remain correct but amplified: every row of a rewritten file
    * surfaces as a self-paired update — the read-side cost of rewriting
    * files, and the reason the MoR path exists. Either way the feed is
    * COMPLETE: replaying it over read(v) reproduces read(v') exactly
    * (the round-trip theorem, spec-pinned).
    *
    * 100 TB shape: per step, appended/removed/touched file lists come
    * from two driver-side manifest parses; data reads are column-pruned
    * scans of exactly those files; the pair-classification joins are
    * delta-sized on both sides. Nothing scans the table.
    */
  def changeFeed(spark: SparkSession, table: String, vFrom: Int, vTo: Int,
                 keyCols: Seq[String]): DataFrame = {
    val committed = versions(spark, table)
    require(vFrom < vTo, s"vFrom=$vFrom must precede vTo=$vTo")
    // EVERY step in (vFrom, vTo] must still be committed — vacuum (or a
    // ref-pinned retention hole) expiring a version inside a
    // subscriber's checkpoint lag must fail LOUDLY here, naming the
    // gap, never as a downstream missing-file stack trace (the Delta
    // CDF retention caveat, enforced)
    val missing = (vFrom to vTo).filterNot(committed.contains)
    require(missing.isEmpty,
      s"change feed $vFrom->$vTo needs versions ${missing.mkString(",")} " +
        s"which are expired or never committed (have " +
        s"${committed.mkString(",")}) — do not vacuum versions inside a " +
        "subscriber's checkpoint lag")
    val toSchema = manifestOf(spark, table, Some(vTo)).schema
    def conform(df: DataFrame) = df.select(toSchema.fields.toIndexedSeq
      .map(fl =>
        (if (df.columns.contains(fl.name)) col(fl.name) else lit(null))
          .cast(fl.dataType).as(fl.name)) ++
      Seq(col("_change_type"), col("_commit_version")): _*)
    (vFrom until vTo).map(v => conform(stepChanges(spark, table, v, keyCols)))
      .reduce(_.unionAll(_))
  }

  /** One commit step's changes (v → v+1); see [[changeFeed]]. */
  private def stepChanges(spark: SparkSession, table: String, v: Int,
                          keyCols: Seq[String]): DataFrame = {
    val w = v + 1
    val mV = manifestOf(spark, table, Some(v))
    val mW = manifestOf(spark, table, Some(w))
    val keysV = mV.files.map(snapKey).toSet
    val keysW = mW.files.map(snapKey).toSet
    val (refsV, refsW) = (mV.dvRefs, mW.dvRefs)
    val (filesV, filesW) = (mV.files, mW.files)
    val appended = filesW.filterNot(p => keysV.contains(snapKey(p)))
    val removed = filesV.filterNot(p => keysW.contains(snapKey(p)))
    val touched = filesW.filter { p =>
      val k = snapKey(p)
      keysV.contains(k) && refsW.get(k) != refsV.get(k)
    }
    val wSchema = mW.schema
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], wSchema)
    def conformW(df: DataFrame) = df.select(wSchema.fields.toIndexedSeq
      .map(fl =>
        (if (df.columns.contains(fl.name)) col(fl.name) else lit(null))
          .cast(fl.dataType).as(fl.name)): _*)
    // insert post-images: the appended files' live rows
    val ins =
      if (appended.isEmpty) empty
      else conformW(loadFiles(spark, appended, mW))
    // delete pre-images, two sources: DV growth on carried files
    // (positions in the step's DV not in v's) + removed files' v-live rows
    val dvPre =
      if (touched.isEmpty) empty
      else {
        val tKeys = touched.map(snapKey)
        def dvOf(refs: Map[String, String]): Option[DataFrame] = {
          val dirs = tKeys.flatMap(refs.get).distinct.sorted
          if (dirs.isEmpty) None
          else Some(readDv(spark, dirs).where(col("k").isin(tKeys: _*)))
        }
        val dvW = dvOf(refsW).get // touched ⇒ ref present in w
        val delta = dvOf(refsV).fold(dvW)(old =>
          dvW.join(old, Seq("k", "pos"), "left_anti"))
        conformW(loadFilesWithPos(spark, touched, mV)
          .join(delta, col("_k") === col("k") && col("_pos") === col("pos"),
                "left_semi"))
      }
    val removedPre =
      if (removed.isEmpty) empty
      else conformW(loadFiles(spark, removed, mV))
    val del = dvPre.unionAll(removedPre)
    // pair by key WITHIN the step: both sides → update pre/post images
    val delKeys = del.select(keyCols.map(col): _*).distinct()
    val insKeys = ins.select(keyCols.map(col): _*).distinct()
    def tag(df: DataFrame, t: String) =
      df.withColumn("_change_type", lit(t))
        .withColumn("_commit_version", lit(w.toLong))
    tag(del.join(insKeys, keyCols, "left_anti"), "delete")
      .unionAll(tag(del.join(insKeys, keyCols, "left_semi"),
                    "update_preimage"))
      .unionAll(tag(ins.join(delKeys, keyCols, "left_anti"), "insert"))
      .unionAll(tag(ins.join(delKeys, keyCols, "left_semi"),
                    "update_postimage"))
  }

  // ─── q329: O(delta) change feed over the streaming-CDC history ───────
  // The consumption side of q328: over the SAME two-wave fixture table
  // (shared session memo — staged once, both queries consume it),
  // read the CHANGE FEED for each commit step and census it by (version,
  // change_type) with payload checksums. The twin derives every class
  // from the wave predicates — insert/delete/update_pre/update_post
  // memberships AND their n_chars sums — so the hash only matches if the
  // feed reads exactly the delta (a missed DV position, a spurious
  // carried-file read, or a mis-paired update flips a class); the
  // round-trip law (replaying the feed over v1 reproduces v3) is
  // spec-pinned in SnapshotStoreSpec, including a copy-on-write step.
  def q329ChangeFeed(s: SparkSession, d: String): DataFrame = {
    val (table, _, _, _, _) = cdcFixtureFor(s, d)
    changeFeed(s, table, 1, 3, Seq("doc_id"))
      .groupBy(col("_commit_version").as("version"),
               col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("n_chars")).cast("long").as("chars"),
           min(col("doc_id")).as("first_id"),
           max(col("doc_id")).as("last_id"))
      .orderBy(col("version"), col("change_type"))
  }

  val q329Sql: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars FROM documents),
      |cls AS (
      |  SELECT 2 AS version, 'delete' AS change_type, doc_id, n_chars
      |  FROM d WHERE doc_id % 37 = 0
      |  UNION ALL
      |  SELECT 2, 'update_preimage', doc_id, n_chars
      |  FROM d WHERE doc_id % 41 = 0 AND doc_id % 37 <> 0
      |  UNION ALL
      |  SELECT 2, 'update_postimage', doc_id, n_chars * 2 + 5
      |  FROM d WHERE doc_id % 41 = 0 AND doc_id % 37 <> 0
      |  UNION ALL
      |  SELECT 2, 'insert', doc_id + 1000000, n_chars + 11
      |  FROM d WHERE doc_id % 43 = 0
      |  UNION ALL
      |  SELECT 3, 'delete', doc_id + 1000000, n_chars + 11
      |  FROM d WHERE doc_id % 86 = 0
      |  UNION ALL
      |  SELECT 3, 'update_preimage', doc_id,
      |    CASE WHEN doc_id % 41 = 0 THEN n_chars * 2 + 5 ELSE n_chars END
      |  FROM d WHERE doc_id % 53 = 0 AND doc_id % 37 <> 0
      |  UNION ALL
      |  SELECT 3, 'update_postimage', doc_id,
      |    CASE WHEN doc_id % 41 = 0 THEN n_chars * 2 + 5 ELSE n_chars END + 3
      |  FROM d WHERE doc_id % 53 = 0 AND doc_id % 37 <> 0)
      |SELECT CAST(version AS BIGINT) AS version, change_type,
      |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id
      |FROM cls
      |GROUP BY version, change_type
      |ORDER BY version, change_type""".stripMargin

  // ─── q130: snapshot round-trip + time travel, oracle-checked ─────────
  // Publish v1 (even doc_ids) then v2 (all docs) into a fresh table,
  // then read v1 by TIME TRAVEL and v2 as latest — the census of each
  // must equal the census of the frames that were published. The DuckDB
  // twin computes both censuses directly from `documents`, so the hash
  // only matches if publish→read is lossless AND time travel serves the
  // v1 bytes untouched after v2 landed. (The table dir is rebuilt each
  // run — version numbers restart at 1, keeping the output
  // deterministic under bench's repeated passes.)
  // ─── q239: TIMESTAMP AS OF time travel ────────────────────────────────
  // Three epochs of the table commit at logical times 100/200/300; three
  // AS-OF reads (mid-epoch, exact-boundary — inclusive, the Iceberg
  // contract — and far-future) each census the snapshot they resolve to.
  // The oracle recomputes every census from the epoch predicates, so the
  // hash only matches if timestamp resolution picks exactly the right
  // version each time.
  def q239AsofTimestamp(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("asof", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
    publishAt(docs.where(col("doc_id") % 4 === 0), table, 100L)
    publishAt(docs.where(col("doc_id") % 4 <= 1), table, 200L)
    publishAt(docs.where(col("doc_id") % 4 <= 2), table, 300L)
    Seq(150L, 200L, 999L).map { ts =>
      readAsOf(s, table, ts)
        .agg(lit(ts).as("as_of"), count(lit(1)).as("n_docs"),
             sum(col("n_chars").cast("long")).as("char_sum"))
        .select(col("as_of"), col("n_docs"), col("char_sum"))
    }.reduce(_.unionAll(_)).orderBy(col("as_of"))
  }

  val q239Sql: String =
    """SELECT CAST(150 AS BIGINT) AS as_of,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS char_sum
      |FROM documents WHERE doc_id % 4 = 0
      |UNION ALL
      |SELECT CAST(200 AS BIGINT), CAST(count(*) AS BIGINT),
      |  CAST(sum(n_chars) AS BIGINT)
      |FROM documents WHERE doc_id % 4 <= 1
      |UNION ALL
      |SELECT CAST(999 AS BIGINT), CAST(count(*) AS BIGINT),
      |  CAST(sum(n_chars) AS BIGINT)
      |FROM documents WHERE doc_id % 4 <= 2
      |ORDER BY as_of""".stripMargin

  def q130SnapshotRoundtrip(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("docs", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    publish(docs.where(col("doc_id") % 2 === 0), table)
    publish(docs, table)
    def census(df: DataFrame, v: Int) =
      df.agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("total_chars"))
        .select(lit(v).as("version"), col("n_docs"), col("total_chars"))
    census(read(s, table, Some(1)), 1)
      .unionAll(census(read(s, table), 2))
      .orderBy(col("version"))
  }

  val q130Sql: String =
    """SELECT 1 AS version, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT) FROM documents
      |ORDER BY version""".stripMargin

  // ─── q133: CDC census between two published versions ─────────────────
  // v1 = even doc_ids, untouched; v2 = doc_ids not divisible by 3, with
  // n_chars bumped by 7 where doc_id % 5 = 0. The diff therefore has all
  // four change classes with closed-form membership, which the DuckDB
  // twin derives directly from `documents` — the hash matches only if
  // the store's versions are faithful AND the CDC classification
  // (including null-safe payload equality) is right.
  def q133SnapshotCdc(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("cdc", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    publish(docs.where(col("doc_id") % 2 === 0), table)
    publish(docs.where(col("doc_id") % 3 =!= 0)
      .withColumn("n_chars",
        when(col("doc_id") % 5 === 0, col("n_chars") + 7)
          .otherwise(col("n_chars"))), table)
    diff(s, table, 1, 2, Seq("doc_id"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("change_type"))
  }

  // ─── q238: CDC-fed incremental summary maintenance (with retraction) ──
  // The composition the snapshot store + summary machinery exist for:
  // keep an aggregate CURRENT as the table moves v1 → v2, doing O(delta)
  // work — WITHOUT rescanning the fact. The changeset comes from
  // [[diffRowsPrePost]] (time-travel CDC — both images, no change log
  // needed); maintenance applies the textbook retraction algebra:
  //   delete → subtract the pre-image's partials; insert → add the
  //   post-image's; update → both (which also handles group-moving
  //   updates for free).
  // SUM/COUNT retract exactly. MIN/MAX famously do NOT (dropping the
  // minimum says nothing about the runner-up), so the maintained form
  // recomputes min/max ONLY for the groups the changeset touched — the
  // group-local recompute every production IVM engine (Materialize,
  // DBSP) falls back to for non-invertible aggregates. Groups whose
  // count retracts to zero vanish.
  // The output packs change-class counters, the touched/total group
  // counts (the O(delta)-work evidence), and full-summary checksums; the
  // oracle recomputes the summary FROM SCRATCH on v2 — checksum equality
  // IS the maintenance theorem, and the counters prove how little of the
  // table the engine had to look at.
  // Scale: one co-partitioned CDC join, one |delta|-sized aggregate, one
  // |summary|-sized outer merge, one key-filtered rescan bounded by the
  // touched groups. Nothing scans v2 whole except the published bytes
  // already on disk.
  def q238CdcSummaryMaintain(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("cdcmv", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    // orders is the keyed table (o_orderkey IS unique — lineitem's
    // synthetic (orderkey, linenumber) is not, and keyed CDC without a
    // key is meaningless); dims = priority x status x order month
    val dims = Seq("prio", "status", "omonth")
    val keys = Seq("o_orderkey")
    def slice(df: DataFrame, bump: Boolean) = df.select(
      col("o_orderkey"),
      col("o_orderpriority").as("prio"), col("o_orderstatus").as("status"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("omonth"),
      (round(col("o_totalprice") * 100).cast("long") +
        (if (bump) when(col("o_orderkey") % 7 === 0, 100L).otherwise(0L)
         else lit(0L))).as("price_c"))
    val od = Tables.orders(s, d)
    publish(slice(od.where(col("o_orderkey") % 10 =!= 0), bump = false), table)
    publish(slice(od.where(col("o_orderkey") % 13 =!= 0), bump = true), table)
    val ch = diffRowsPrePost(s, table, 1, 2, keys)
    // v1's summary — the state being maintained
    def summarize(df: DataFrame) = df.groupBy(dims.map(col): _*)
      .agg(sum(col("price_c")).as("sum_price"), count(lit(1)).as("cnt"),
           min(col("price_c")).as("min_price"),
           max(col("price_c")).as("max_price"))
    val base = summarize(read(s, table, Some(1)))
    // retraction deltas: −pre for delete/update, +post for insert/update
    val neg = ch.where(col("change_type").isin("delete", "update"))
      .select(dims.map(c => col(s"pre_$c").as(c)) ++ Seq(
        (-col("pre_price_c")).as("d_price"), lit(-1L).as("d_cnt")): _*)
    val pos = ch.where(col("change_type").isin("insert", "update"))
      .select(dims.map(c => col(s"post_$c").as(c)) ++ Seq(
        col("post_price_c").as("d_price"), lit(1L).as("d_cnt")): _*)
    val delta = neg.unionAll(pos).groupBy(dims.map(col): _*)
      .agg(sum(col("d_price")).as("d_price"), sum(col("d_cnt")).as("d_cnt"))
    val merged = base.join(delta, dims, "full_outer")
      .select(dims.map(col) ++ Seq(
        (coalesce(col("sum_price"), lit(0L)) + coalesce(col("d_price"), lit(0L)))
          .as("sum_price"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L)))
          .as("cnt"),
        col("min_price"), col("max_price"),
        col("d_cnt").isNotNull.as("touched")): _*)
      .where(col("cnt") > 0L)
    // min/max don't retract: recompute them for TOUCHED groups only
    val touchedMm = summarize(
        read(s, table, Some(2)).join(
          broadcast(delta.select(dims.map(col): _*)), dims, "left_semi"))
      .select(dims.map(col) ++ Seq(
        col("min_price").as("r_min"), col("max_price").as("r_max")): _*)
    val fin = merged.join(broadcast(touchedMm), dims, "left")
      .select(dims.map(col) ++ Seq(
        col("sum_price"), col("cnt"), col("touched"),
        when(col("touched"), col("r_min")).otherwise(col("min_price"))
          .as("min_price"),
        when(col("touched"), col("r_max")).otherwise(col("max_price"))
          .as("max_price")): _*)
    val sums = fin.agg(
      count(lit(1)).as("n_groups"),
      sum(when(col("touched"), 1L).otherwise(0L)).as("n_touched"),
      sum(col("sum_price")).as("tot_price"), sum(col("cnt")).as("tot_cnt"),
      sum(col("min_price")).as("min_price_sum"),
      sum(col("max_price")).as("max_price_sum"))
    val chCnt = ch.agg(
      sum(when(col("change_type") === "insert", 1L).otherwise(0L)).as("n_ins"),
      sum(when(col("change_type") === "delete", 1L).otherwise(0L)).as("n_del"),
      sum(when(col("change_type") === "update", 1L).otherwise(0L)).as("n_upd"))
    chCnt.crossJoin(broadcast(sums))
  }

  val q238Sql: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_orderpriority AS prio, o_orderstatus AS status,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS omonth,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      |  FROM orders WHERE o_orderkey % 10 <> 0),
      |v2 AS (
      |  SELECT o_orderkey, o_orderpriority AS prio, o_orderstatus AS status,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS omonth,
      |    CAST(round(o_totalprice * 100) AS BIGINT)
      |      + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END AS price_c
      |  FROM orders WHERE o_orderkey % 13 <> 0),
      |chf AS (
      |  SELECT * FROM (
      |    SELECT
      |      CASE WHEN o.o_orderkey IS NULL THEN 'insert'
      |           WHEN n.o_orderkey IS NULL THEN 'delete'
      |           WHEN o.price_c = n.price_c THEN 'unchanged'
      |           ELSE 'update' END AS change_type,
      |      o.prio AS pre_prio, o.status AS pre_status,
      |      o.omonth AS pre_omonth,
      |      n.prio AS post_prio, n.status AS post_status,
      |      n.omonth AS post_omonth
      |    FROM v1 o FULL OUTER JOIN v2 n ON o.o_orderkey = n.o_orderkey)
      |  WHERE change_type <> 'unchanged'),
      |touched AS (
      |  SELECT DISTINCT prio, status, omonth FROM (
      |    SELECT pre_prio AS prio, pre_status AS status,
      |      pre_omonth AS omonth FROM chf
      |    WHERE change_type IN ('delete', 'update')
      |    UNION
      |    SELECT post_prio, post_status, post_omonth FROM chf
      |    WHERE change_type IN ('insert', 'update'))),
      |scratch AS (
      |  SELECT prio, status, omonth,
      |    sum(price_c) AS sum_price, count(*) AS cnt,
      |    min(price_c) AS min_price, max(price_c) AS max_price
      |  FROM v2 GROUP BY 1, 2, 3),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |    CAST(sum(CASE WHEN t.prio IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_touched,
      |    CAST(sum(sum_price) AS BIGINT) AS tot_price,
      |    CAST(sum(cnt) AS BIGINT) AS tot_cnt,
      |    CAST(sum(min_price) AS BIGINT) AS min_price_sum,
      |    CAST(sum(max_price) AS BIGINT) AS max_price_sum
      |  FROM scratch s LEFT JOIN touched t
      |    ON s.prio = t.prio AND s.status = t.status AND s.omonth = t.omonth),
      |cc AS (
      |  SELECT
      |    CAST(sum(CASE WHEN change_type = 'insert' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_ins,
      |    CAST(sum(CASE WHEN change_type = 'delete' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_del,
      |    CAST(sum(CASE WHEN change_type = 'update' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_upd
      |  FROM chf)
      |SELECT n_ins, n_del, n_upd, n_groups, n_touched, tot_price, tot_cnt,
      |  min_price_sum, max_price_sum
      |FROM cc, sums""".stripMargin

  /** Apply ONE micro-batch of change-feed rows to a maintained summary
    * `(dims…, sum_val, cnt)` — the q238 retraction algebra factored out
    * for [[graft.sources.ChangeFeedSource]] consumers: pre-images
    * (`delete`/`update_preimage`) subtract their partials, post-images
    * (`insert`/`update_postimage`) add theirs, and a group whose count
    * retracts to zero vanishes. SUM/COUNT retract exactly; a MIN/MAX
    * consumer recomputes those for the touched groups only (q238's
    * group-local fallback — the non-invertible-aggregate discipline).
    * Cost per batch: one delta-sized aggregate + one |summary|-sized
    * outer merge; the fact table is never read.
    *
    * `dims` values must be NON-NULL (the q238 contract): the merge is
    * an equi-join, and a NULL group key would never pair its delta
    * with its summary row — derive a sentinel dimension upstream if
    * the data can carry nulls.
    *
    * MULTI-STEP batches (a catch-up subscription draining several
    * commit versions per trigger) fold in ONE call: the algebra is
    * order-independent, because each row contributes a signed
    * (sum, count) delta and addition commutes — Σ over all steps
    * applied at once ≡ the steps applied in version order. The one
    * seeming hazard, a group retracting to zero in step k and
    * re-inserting in step k+1, is benign: sequential application drops
    * the group then full-outer-merges it back; combined application
    * sums both deltas BEFORE the `cnt > 0` filter. Spec-pinned by the
    * backlog-drain case in StreamingSpec.
    */
  def retractApply(summary: DataFrame, changes: DataFrame,
                   dims: Seq[String], valCol: String): DataFrame = {
    val sgn = when(
      col("_change_type").isin("delete", "update_preimage"), -1L)
      .otherwise(1L)
    val delta = changes
      .select(dims.map(col) :+ (sgn * col(valCol)).as("d_val") :+
        sgn.as("d_cnt"): _*)
      .groupBy(dims.map(col): _*)
      .agg(sum(col("d_val")).as("d_val"), sum(col("d_cnt")).as("d_cnt"))
    summary.join(delta, dims, "full_outer")
      .select(dims.map(col) ++ Seq(
        (coalesce(col("sum_val"), lit(0L)) +
          coalesce(col("d_val"), lit(0L))).as("sum_val"),
        (coalesce(col("cnt"), lit(0L)) +
          coalesce(col("d_cnt"), lit(0L))).as("cnt")): _*)
      .where(col("cnt") > 0L)
  }

  // ─── q333: summary FOLLOWS the table through the change-feed source ──
  // The last link of the CDC story: q328 ingests a stream INTO the
  // table, q329 derives the per-commit feed back OUT, and here a
  // maintained aggregate CONSUMES that feed step by step — the batch
  // twin of subscribing via ChangeFeedSource (the subscription itself —
  // a DSv1 Source whose getBatch IS the distributed feed plan, offsets
  // = versions, one commit step per micro-batch, catch-up admission,
  // restart replay — is spec-pinned in StreamingSpec over a
  // streamCdcSink-fed table). Over the SAME two-wave fixture as
  // q328/q329 (session memo — the publish is priced once), the per-lang
  // (sum(n_chars), count) summary is maintained v1→v2→v3 by
  // [[retractApply]] alone; each step emits the MAINTAINED totals next
  // to the FROM-SCRATCH recompute of that version. The oracle derives
  // both from the wave predicates, so the hash only matches if
  // maintained ≡ scratch at every step — the incremental-view
  // maintenance theorem as oracle data — alongside the step's feed
  // class counters (the O(delta)-work evidence).
  // Scale: per step, one delta-sized feed read + delta-sized aggregate +
  // |summary|-sized merge; the scratch arm is the CONTROL, priced
  // per-version only to make the theorem data. MEASURED in isolation:
  // DvSoak's feed_consume section times changeFeed + retractApply alone
  // over a constant-delta chain — ~1.7–1.9 s at sf0.1, sf1 AND sf10
  // (exponents −0.04/−0.02, SOAK_r13_dv_operator.json), so this query's
  // decade rows price the shared fixture publish, not the operator.
  def q333CdfSummaryFollow(s: SparkSession, d: String): DataFrame = {
    val (table, _, _, _, _) = cdcFixtureFor(s, d)
    val dims = Seq("lang")
    def summarize(df: DataFrame) = df.groupBy(col("lang"))
      .agg(sum(col("n_chars")).cast("long").as("sum_val"),
           count(lit(1)).as("cnt"))
    var maintained = summarize(read(s, table, Some(1))).localCheckpoint()
    val out = (2 to 3).map { v =>
      val feed = changeFeed(s, table, v - 1, v, Seq("doc_id"))
        .localCheckpoint()
      maintained = retractApply(maintained, feed, dims, "n_chars")
        .localCheckpoint()
      // ONE tagged-union aggregate per step (r15, guide §5): the feed
      // class counters, the maintained totals and the from-scratch
      // control totals were three separate driver actions — they now
      // ride one grouped collect over three tiny tagged projections
      def totals(df: DataFrame, side: String) = df.select(
        lit(side).as("side"), lit("").as("k"),
        lit(1L).as("c"), col("sum_val").cast("long").as("sv"), col("cnt"))
      val rows = feed.select(lit("f").as("side"),
          col("_change_type").as("k"), lit(1L).as("c"),
          lit(0L).as("sv"), lit(0L).as("cnt"))
        .unionAll(totals(maintained, "m"))
        .unionAll(totals(summarize(read(s, table, Some(v))), "s"))
        .groupBy(col("side"), col("k"))
        .agg(sum(col("c")).as("c"), sum(col("sv")).as("sv"),
             sum(col("cnt")).as("cnt"))
        .collect()
      val cls = rows.collect {
        case r if r.getString(0) == "f" => r.getString(1) -> r.getLong(2)
      }.toMap
      def side(sd: String) = rows.find(_.getString(0) == sd).get
      val (m, sc) = (side("m"), side("s"))
      (v.toLong, cls.getOrElse("delete", 0L), cls.getOrElse("insert", 0L),
        cls.getOrElse("update_preimage", 0L),
        m.getLong(2), m.getLong(3), m.getLong(4),
        sc.getLong(2), sc.getLong(3), sc.getLong(4))
    }
    val spark = s; import spark.implicits._
    out.toDF("version", "n_del", "n_ins", "n_upd",
        "m_groups", "m_chars", "m_cnt", "s_groups", "s_chars", "s_cnt")
      .orderBy(col("version"))
  }

  // ─── q337: DV read-amplification policy → selective materialization ──
  // The missing WHEN of the DV story (q318 writes them, q328's feed
  // accretes them, compact folds them): a policy that measures each
  // file's suppressed fraction from metadata alone and materializes
  // EXACTLY the files over threshold. Fixture: documents hive-bucketed
  // by doc_id % 4 (one file per bucket), then a delete-only CDC chain
  // with engineered per-bucket skew — bucket 0 loses every 3rd row
  // (33% ≥ threshold), bucket 1 every 5th (20% ≥), bucket 2 every
  // 25th-in-class (4% — under), bucket 3 untouched. autoCompactDv at
  // 15% must rewrite exactly buckets 0 and 1: the census emits each
  // bucket's rows, suppressed count, amplification (bp), the rewrite
  // decision, the post-compaction residual DV, and the live count —
  // all derived by the oracle from the wave predicates, so the hash
  // only matches if the POLICY fired on exactly the right files and
  // the materialization preserved every live row. Time travel to the
  // amplified layout is asserted engine-side (v4 live == v5 live) and
  // spec-pinned.
  // Scale: the decision is footers + DV-sized aggregates; the rewrite
  // reads only the offending files' live rows. Nothing scans the table.
  def q337DvAutoCompact(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("dvamp", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("b", pmod(col("doc_id"), lit(4)).cast("long"))
      .repartition(4, col("b"))
    publish(docs, table, partitionBy = Seq("b"))
    def dels(pred: org.apache.spark.sql.Column) = docs.where(pred)
      .select(col("doc_id"), col("n_chars"), col("b"), lit("D").as("op"))
      .repartition(4, col("b"))
    applyCdcVersion(s, table,
      dels(pmod(col("doc_id"), lit(4)) === 0 &&
           pmod(col("doc_id"), lit(3)) === 0), Seq("doc_id"), "op", 2)
    applyCdcVersion(s, table,
      dels(pmod(col("doc_id"), lit(4)) === 1 &&
           pmod(col("doc_id"), lit(5)) === 0), Seq("doc_id"), "op", 3)
    applyCdcVersion(s, table,
      dels(pmod(col("doc_id"), lit(4)) === 2 &&
           pmod(col("doc_id"), lit(50)) === 0), Seq("doc_id"), "op", 4)
    val before = dvAmplification(s, table)
    val st = autoCompactDv(s, table, thresholdBp = 1500L)
    require(st.version == 5, s"expected materialization commit, got $st")
    val after = dvAmplification(s, table)
    // time travel intact: the amplified layout still serves, and the
    // materialization preserved every live row
    val livePre = read(s, table, Some(4)).count()
    val livePost = read(s, table, Some(5)).count()
    require(livePre == livePost,
      s"materialization changed live rows: $livePre -> $livePost")
    // census per BUCKET: file → bucket via the manifest's partition
    // stats (metadata), before/after amp joined in
    def bucketOf(stats: Map[String, (Long, Long)]): Long = stats("b")._1
    val v4Files = statsOf(s, table, 4).toMap
    val beforeByB = before.map(a => bucketOf(v4Files(a.path)) ->
      (a.rows, a.suppressed)).toMap
    val v5Files = statsOf(s, table, 5).toMap
    val afterByB = after.map(a => bucketOf(v5Files(a.path)) ->
      a.suppressed).toMap
    val perBucket = (0L to 3L).map { b =>
      val (rows, supp) = beforeByB.getOrElse(b, {
        // never-DV'd bucket: physical rows == live rows
        val n = read(s, table, Some(4))
          .where(col("b") === b).count()
        (n, 0L)
      })
      val ampBp = if (rows == 0) 0L else supp * 10000L / rows
      val rewritten = if (ampBp >= 1500L) 1L else 0L
      (b, rows, supp, ampBp, rewritten, afterByB.getOrElse(b, 0L),
        rows - supp)
    }
    val spark = s; import spark.implicits._
    perBucket.toDF("b", "n_rows", "n_supp", "amp_bp", "rewritten",
        "n_supp_after", "n_live")
      .withColumn("files_materialized", lit(st.filesMaterialized.toLong))
      .withColumn("live_total", lit(livePost))
      .orderBy(col("b"))
  }

  /** Every column derived from the wave predicates: per bucket the
    * class size, the engineered delete density, the amplification in
    * bp, the ≥15% policy decision, and the residual DV (zero where the
    * policy fired). */
  val q337Sql: String =
    """WITH d AS (SELECT doc_id FROM documents),
      |per AS (
      |  SELECT CAST(doc_id % 4 AS BIGINT) AS b,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE
      |      WHEN doc_id % 4 = 0 AND doc_id % 3 = 0 THEN 1
      |      WHEN doc_id % 4 = 1 AND doc_id % 5 = 0 THEN 1
      |      WHEN doc_id % 4 = 2 AND doc_id % 50 = 0 THEN 1
      |      ELSE 0 END) AS BIGINT) AS n_supp
      |  FROM d GROUP BY 1),
      |amp AS (
      |  SELECT b, n_rows, n_supp,
      |    CASE WHEN n_rows = 0 THEN 0
      |         ELSE n_supp * 10000 // n_rows END AS amp_bp
      |  FROM per),
      |fin AS (
      |  SELECT b, n_rows, n_supp, amp_bp,
      |    CASE WHEN amp_bp >= 1500 THEN 1 ELSE 0 END AS rewritten,
      |    CASE WHEN amp_bp >= 1500 THEN 0 ELSE n_supp END AS n_supp_after,
      |    n_rows - n_supp AS n_live
      |  FROM amp)
      |SELECT CAST(b AS BIGINT) AS b, n_rows, n_supp,
      |  CAST(amp_bp AS BIGINT) AS amp_bp,
      |  CAST(rewritten AS BIGINT) AS rewritten,
      |  CAST(n_supp_after AS BIGINT) AS n_supp_after, n_live,
      |  (SELECT CAST(sum(rewritten) AS BIGINT) FROM fin)
      |    AS files_materialized,
      |  (SELECT CAST(sum(n_live) AS BIGINT) FROM fin) AS live_total
      |FROM fin
      |ORDER BY b""".stripMargin

  // ─── q339: column-mapping schema evolution (rename/drop, no rewrite) ──
  // The long-lived-table contract the widen-only evolution (q304)
  // lacks: RENAME is a metadata-only commit that keeps reading old
  // files' bytes under the new logical name, and DROP hides a column
  // without touching a file — then a MERGE that re-adds the dropped
  // name mints a FRESH physical name, so the old bytes never
  // resurrect (rename ≠ drop+add, the Delta/Iceberg column-mapping
  // contract). Chain over documents: publish(doc_id, lang, n_chars)
  // → rename n_chars→chars → merge (doubles chars for doc_id%10=0,
  // widens qscore) → drop lang → merge re-adding lang='xx' for
  // doc_id%100=0. The census emits each version's LOGICAL schema and
  // value aggregates; the oracle derives all five rows from the
  // fixture predicates, so the hash only matches if the rename
  // preserved every value, the drop hid the column, and the re-add
  // resurrected NOTHING (lang_nonnull at v5 = the %100 class alone —
  // a mapping bug that aliases the old physical reads ~every row).
  // Scale: rename/drop are one manifest write each (zero data I/O at
  // any SF); the merges pay exactly the q304 touched-file contract.
  def q339ColumnMapping(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("colmap", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    publish(docs.repartition(4), table)                            // v1
    renameColumn(s, table, "n_chars", "chars")                     // v2
    val upd = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") * 2).cast("long").as("chars"),
        pmod(col("doc_id"), lit(5)).cast("long").as("qscore"))
    mergeUpsert(s, table, upd, Seq("doc_id"))                      // v3
    dropColumn(s, table, "lang")                                   // v4
    val readd = docs.where(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id"),
        (col("n_chars") * 2).cast("long").as("chars"),
        pmod(col("doc_id"), lit(5)).cast("long").as("qscore"),
        lit("xx").as("lang"))
    mergeUpsert(s, table, readd, Seq("doc_id"))                    // v5
    val rows = (1 to 5).map { v =>
      val df = read(s, table, Some(v))
      val cols = df.columns.toSeq
      def cnt(c: String) =
        if (cols.contains(c)) count(col(c)) else lit(0L)
      val charsCol = if (cols.contains("chars")) "chars" else "n_chars"
      val a = df.agg(count(lit(1)).as("n"),
        sum(col(charsCol)).cast("long").as("cs"),
        cnt("lang").as("ln"), cnt("qscore").as("qn")).head()
      (v.toLong, cols.mkString(","), a.getLong(0), a.getLong(1),
        a.getLong(2), a.getLong(3))
    }
    val spark = s; import spark.implicits._
    rows.toDF("version", "cols", "n_rows", "chars_sum", "lang_nonnull",
        "qscore_nonnull")
      .orderBy(col("version"))
  }

  /** Every row derived from the fixture predicates: the rename keeps
    * v1's sums under the new name, the merge shifts exactly the %10
    * class, the drop zeroes lang, and the re-add surfaces ONLY the
    * %100 class (resurrected old values would explode lang_nonnull).
    */
  val q339Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
      |base AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(n_chars) AS BIGINT) AS cs0,
      |    CAST(count(lang) AS BIGINT) AS ln0 FROM d),
      |m AS (
      |  SELECT CAST(sum(CASE WHEN doc_id % 10 = 0 THEN n_chars * 2
      |                       ELSE n_chars END) AS BIGINT) AS cs1,
      |    CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS qn,
      |    CAST(sum(CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ln5
      |  FROM d)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS version, 'doc_id,lang,n_chars' AS cols,
      |    n AS n_rows, cs0 AS chars_sum, ln0 AS lang_nonnull,
      |    CAST(0 AS BIGINT) AS qscore_nonnull FROM base
      |  UNION ALL SELECT 2, 'doc_id,lang,chars', n, cs0, ln0, 0 FROM base
      |  UNION ALL SELECT 3, 'doc_id,lang,chars,qscore', n, cs1, ln0, qn
      |    FROM base, m
      |  UNION ALL SELECT 4, 'doc_id,chars,qscore', n, cs1, 0, qn
      |    FROM base, m
      |  UNION ALL SELECT 5, 'doc_id,chars,qscore,lang', n, cs1, ln5, qn
      |    FROM base, m)
      |ORDER BY version""".stripMargin

  /** The fixture's v2/v3 states and per-step feed classes, all derived
    * from the wave predicates (q328/q329's vocabulary); maintained and
    * scratch columns are the SAME expression — equality is the theorem.
    */
  val q333Sql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
      |s2 AS (
      |  SELECT lang, CASE WHEN doc_id % 41 = 0 THEN n_chars * 2 + 5
      |                    ELSE n_chars END AS n_chars
      |  FROM d WHERE doc_id % 37 <> 0
      |  UNION ALL
      |  SELECT lang, n_chars + 11 FROM d WHERE doc_id % 43 = 0),
      |s3 AS (
      |  SELECT lang,
      |    CASE WHEN doc_id % 41 = 0 THEN n_chars * 2 + 5
      |         ELSE n_chars END +
      |    CASE WHEN doc_id % 53 = 0 THEN 3 ELSE 0 END AS n_chars
      |  FROM d WHERE doc_id % 37 <> 0
      |  UNION ALL
      |  SELECT lang, n_chars + 11
      |  FROM d WHERE doc_id % 43 = 0 AND doc_id % 86 <> 0),
      |g2 AS (
      |  SELECT CAST(count(DISTINCT lang) AS BIGINT) AS groups,
      |    CAST(sum(n_chars) AS BIGINT) AS chars,
      |    CAST(count(*) AS BIGINT) AS cnt FROM s2),
      |g3 AS (
      |  SELECT CAST(count(DISTINCT lang) AS BIGINT) AS groups,
      |    CAST(sum(n_chars) AS BIGINT) AS chars,
      |    CAST(count(*) AS BIGINT) AS cnt FROM s3)
      |SELECT * FROM (
      |  SELECT CAST(2 AS BIGINT) AS version,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id % 37 = 0)
      |      AS n_del,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id % 43 = 0)
      |      AS n_ins,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d
      |     WHERE doc_id % 41 = 0 AND doc_id % 37 <> 0) AS n_upd,
      |    groups AS m_groups, chars AS m_chars, cnt AS m_cnt,
      |    groups AS s_groups, chars AS s_chars, cnt AS s_cnt
      |  FROM g2
      |  UNION ALL
      |  SELECT 3,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id % 86 = 0),
      |    0,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d
      |     WHERE doc_id % 53 = 0 AND doc_id % 37 <> 0),
      |    groups, chars, cnt, groups, chars, cnt
      |  FROM g3)
      |ORDER BY version""".stripMargin

  val q133Sql: String =
    """WITH v1 AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0),
      |v2 AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 5 = 0 THEN n_chars + 7 ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 3 <> 0),
      |d AS (
      |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
      |    CASE WHEN v1.doc_id IS NULL THEN 'insert'
      |         WHEN v2.doc_id IS NULL THEN 'delete'
      |         WHEN v1.lang IS NOT DISTINCT FROM v2.lang
      |          AND v1.n_chars IS NOT DISTINCT FROM v2.n_chars
      |           THEN 'unchanged'
      |         ELSE 'update' END AS change_type
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT change_type, count(*) AS n
      |FROM d
      |GROUP BY change_type
      |ORDER BY change_type""".stripMargin

  // ─── q148: stat-pruned (file-skipping) snapshot read ─────────────────
  // Publish `documents` clustered into contiguous doc_id buckets (100
  // ids per bucket, hash-routed to 32 write tasks — deterministic
  // layout), then read doc_id BETWEEN 100 AND 299 through the manifest's
  // min/max stats. The per-lang census must equal DuckDB's direct filter
  // of `documents` — pruning may only skip files, never rows. The
  // skip-rate itself (filesKept < filesTotal) is layout-dependent and is
  // asserted in SnapshotStoreSpec on a controlled layout instead.
  def q148SkippingRead(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("skip", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("b", floor(col("doc_id") / 100))
      .repartition(32, col("b")).drop("b")
    publish(docs, table)
    readBetween(s, table, None, "doc_id", 100L, 299L).df
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        min(col("doc_id")).as("first_id"), max(col("doc_id")).as("last_id"))
      .orderBy(col("lang"))
  }

  val q148Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id
      |FROM documents WHERE doc_id BETWEEN 100 AND 299
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ─── q151: bloom-indexed point lookup ────────────────────────────────
  // The layout is deliberately HOSTILE to range stats: hash-partitioned
  // on n_chars, so every file spans ~the full doc_id range and min/max
  // pruning keeps everything. The per-file bloom index still routes each
  // probed key to the file(s) that might hold it. The census through the
  // pruned read must equal DuckDB's direct IN-filter — blooms may only
  // skip files, never rows (false negatives impossible by construction).
  def q151BloomLookup(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("bloomidx", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .repartition(24, col("n_chars"))
    publish(docs, table, bloomCols = Seq("doc_id"))
    readPoint(s, table, None, "doc_id", Seq(7L, 97L, 211L, 350L, 444L)).df
      .orderBy(col("doc_id"))
  }

  val q151Sql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id IN (7, 97, 211, 350, 444)
      |ORDER BY doc_id""".stripMargin

  // ─── q210: hive-PARTITIONED snapshot + partition-pruned read ─────────
  // The standard warehouse layout lever the flat store lacked (SURVEY §8
  // assumes date-partitioned facts): publish orders partitioned by
  // month (`om=199601/` hive dirs), one file per month by construction
  // (repartition on the partition column first), then read one year
  // through readBetween — the partition column's dir value becomes a
  // min=max per-file stat at publish, so PARTITION PRUNING falls out of
  // the existing stats machinery and composes with data-column
  // stats/blooms for free. The files-opened counters ride in the output
  // AS DATA: the oracle derives them from the month population itself
  // (files_total = |distinct months|, files_kept = |months in range|),
  // so a pruning regression — opening more than the 12 in-range files —
  // is a hash mismatch, not just a slow read. Census ≡ DuckDB's direct
  // filter of the raw table: pruning may skip files, never rows.
  def q210PartitionedRead(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("parts", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("int").as("om"))
      .repartition(8, col("om"))
    publish(orders, table, partitionBy = Seq("om"))
    val pr = readBetween(s, table, None, "om", 199601L, 199612L)
    pr.df.groupBy(col("om"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("total"),
           min(col("o_orderkey")).as("first_key"))
      .select(col("om").cast("long").as("om"), col("n_orders"),
              col("total"), col("first_key"),
              lit(pr.filesTotal.toLong).as("files_total"),
              lit(pr.filesKept.toLong).as("files_kept"))
      .orderBy(col("om"))
  }

  val q210Sql: String =
    """WITH m AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS om
      |  FROM orders),
      |cnt AS (
      |  SELECT CAST(count(DISTINCT om) AS BIGINT) AS files_total,
      |    CAST(count(DISTINCT CASE WHEN om BETWEEN 199601 AND 199612
      |                             THEN om END) AS BIGINT) AS files_kept
      |  FROM m)
      |SELECT om, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total,
      |  min(o_orderkey) AS first_key,
      |  (SELECT files_total FROM cnt) AS files_total,
      |  (SELECT files_kept FROM cnt) AS files_kept
      |FROM m WHERE om BETWEEN 199601 AND 199612
      |GROUP BY om
      |ORDER BY om""".stripMargin

  // ─── q214: MERGE INTO with file-granular rewrite, oracle-checked ─────
  // v1 = orders hive-partitioned by month (one file per `om` dir, the
  // q210 layout). The source upserts HALF the keys of 1996Q1 (even
  // orderkeys, price +10 — so touched files keep survivors and the
  // anti-join half matters) and inserts brand-new keys under a brand-new
  // month 210001. Exactly the 3 month files of 1996Q1 hold matched keys;
  // every other file must carry over BY REFERENCE. The carried/rewritten
  // counters ride in the output AS DATA and the oracle derives them from
  // the month population itself — a merge that rewrites more files than
  // the keys demand is a hash MISMATCH, not just a slow write. The
  // census reads months through the POST-merge manifest: updated months
  // prove the upsert, 199604–06 prove carried files serve unchanged
  // bytes, 210001 proves the insert path.
  def q214SnapshotMerge(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("merge", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("int").as("om"))
      .repartition(8, col("om"))
    publish(orders, table, partitionBy = Seq("om"))
    val updates = orders
      .where(col("om").between(199601, 199603) && col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10)
    // insert keys shift past the ACTUAL max key (a fixed offset would
    // collide with real keys once the corpus outgrows it — caught by the
    // sf10 soak; the 1-row max is a metadata-cheap aggregate)
    val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    val inserts = orders.where(col("om") === 199601)
      .withColumn("o_orderkey", col("o_orderkey") + lit(maxK))
      .withColumn("om", lit(210001).cast("int"))
    val st = mergeUpsert(s, table, updates.unionAll(inserts),
      Seq("o_orderkey"))
    read(s, table)
      .where(col("om").between(199601, 199606) || col("om") === 210001)
      .groupBy(col("om"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("total"),
           min(col("o_orderkey")).as("first_key"))
      .select(col("om").cast("long").as("om"), col("n_orders"),
              col("total"), col("first_key"),
              lit(st.filesTotal.toLong).as("files_total"),
              lit(st.filesRewritten.toLong).as("files_rewritten"),
              lit(st.filesCarried.toLong).as("files_carried"))
      .orderBy(col("om"))
  }

  val q214Sql: String =
    """WITH m AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS om
      |  FROM orders),
      |merged AS (
      |  SELECT o_orderkey, om,
      |    CASE WHEN om BETWEEN 199601 AND 199603 AND o_orderkey % 2 = 0
      |         THEN o_totalprice + 10 ELSE o_totalprice END AS o_totalprice
      |  FROM m
      |  UNION ALL
      |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM m), 210001,
      |    o_totalprice
      |  FROM m WHERE om = 199601),
      |cnt AS (
      |  SELECT CAST(count(DISTINCT om) AS BIGINT) AS files_total,
      |    CAST(count(DISTINCT CASE WHEN om BETWEEN 199601 AND 199603
      |           AND o_orderkey % 2 = 0 THEN om END) AS BIGINT)
      |      AS files_rewritten
      |  FROM m)
      |SELECT om, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total,
      |  min(o_orderkey) AS first_key,
      |  (SELECT files_total FROM cnt) AS files_total,
      |  (SELECT files_rewritten FROM cnt) AS files_rewritten,
      |  (SELECT files_total - files_rewritten FROM cnt) AS files_carried
      |FROM merged
      |WHERE om BETWEEN 199601 AND 199606 OR om = 210001
      |GROUP BY om
      |ORDER BY om""".stripMargin

  // ─── q304: schema evolution — add-column merge, zero-rewrite reads ───
  // The lakehouse metadata-change contract (Delta/Iceberg ADD COLUMN):
  // a merge whose source carries a NEW column widens the manifest
  // schema; only the files the merge touched anyway rewrite at the
  // full width, every carried file stays narrow ON DISK and reads as
  // NULL through [[loadFiles]]'s conform — an add-column evolution
  // moves ZERO extra bytes. Here: orders published month-partitioned,
  // then ONE month re-lands with a `priority` column (and a price
  // bump, so the merge is a real upsert, not a metadata no-op). The
  // census reads the evolved LATEST and groups by the new column —
  // carried months must surface as priority = 'none' with their
  // original totals, the evolved month with its bumped totals under
  // its real priorities; file counters ride as oracle-derived data
  // (files_total = |months|, rewritten = 1). Time travel to v1 still
  // serves the narrow schema (SnapshotStoreSpec pins that half).
  def q304SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("evolve", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("int").as("om"))
      .repartition(8, col("om"))
    publish(orders, table, partitionBy = Seq("om"))
    val evolved = Tables.orders(s, d)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 5).as("o_totalprice"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("int").as("om"),
        col("o_orderpriority").as("priority"))
      .where(col("om") === 199601)
    val st = mergeUpsert(s, table, evolved, Seq("o_orderkey"))
    read(s, table)
      .groupBy(coalesce(col("priority"), lit("none")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("total"),
           countDistinct(col("om")).as("n_months"))
      .select(col("priority"), col("n_orders"), col("total"),
        col("n_months"),
        lit(st.filesTotal.toLong).as("files_total"),
        lit(st.filesRewritten.toLong).as("files_rewritten"),
        lit(st.filesCarried.toLong).as("files_carried"))
      .orderBy(col("priority"))
  }

  val q304Sql: String =
    """WITH m AS (
      |  SELECT o_orderkey, o_totalprice, o_orderpriority,
      |    CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS om
      |  FROM orders),
      |evolved AS (
      |  SELECT om,
      |    CASE WHEN om = 199601 THEN o_totalprice + 5
      |         ELSE o_totalprice END AS o_totalprice,
      |    CASE WHEN om = 199601 THEN o_orderpriority
      |         ELSE 'none' END AS priority
      |  FROM m),
      |cnt AS (SELECT CAST(count(DISTINCT om) AS BIGINT) AS files_total
      |        FROM m)
      |SELECT priority, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total,
      |  CAST(count(DISTINCT om) AS BIGINT) AS n_months,
      |  (SELECT files_total FROM cnt) AS files_total,
      |  CAST(1 AS BIGINT) AS files_rewritten,
      |  (SELECT files_total - 1 FROM cnt) AS files_carried
      |FROM evolved
      |GROUP BY priority
      |ORDER BY priority""".stripMargin

  // ─── q215: stats-pruned DELETE (GDPR shape), oracle-checked ──────────
  // documents hive-partitioned into 100-id buckets (one file per `b`
  // dir), then DELETE doc_id BETWEEN 150 AND 449: bucket 1 and 4
  // rewrite partially, buckets 2 and 3 fall ENTIRELY inside the range
  // and must VANISH from the manifest (zero-row rewrite), every other
  // bucket carries by reference. Counters as data, oracle-derived from
  // the bucket population; census of the survivors ≡ DuckDB's direct
  // NOT-BETWEEN filter — pruning may skip files, never change rows.
  def q215SnapshotDelete(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("del", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("b", floor(col("doc_id") / 100))
      .repartition(8, col("b"))
    publish(docs, table, partitionBy = Seq("b"))
    val st = deleteBetween(s, table, "doc_id", 150L, 449L)
    read(s, table)
      .where(col("b") <= 5)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("chars"),
           min(col("doc_id")).as("first_id"),
           max(col("doc_id")).as("last_id"))
      .select(col("b").cast("long").as("b"), col("n_docs"), col("chars"),
              col("first_id"), col("last_id"),
              lit(st.filesTotal.toLong).as("files_total"),
              lit(st.filesRewritten.toLong).as("files_rewritten"),
              lit(st.filesCarried.toLong).as("files_carried"))
      .orderBy(col("b"))
  }

  val q215Sql: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars, CAST(floor(doc_id / 100) AS BIGINT) AS b
      |  FROM documents),
      |cnt AS (
      |  SELECT CAST(count(DISTINCT b) AS BIGINT) AS files_total,
      |    CAST(count(DISTINCT CASE WHEN b BETWEEN 1 AND 4 THEN b END)
      |      AS BIGINT) AS files_rewritten
      |  FROM d)
      |SELECT b, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id,
      |  (SELECT files_total FROM cnt) AS files_total,
      |  (SELECT files_rewritten FROM cnt) AS files_rewritten,
      |  (SELECT files_total - files_rewritten FROM cnt) AS files_carried
      |FROM d
      |WHERE doc_id NOT BETWEEN 150 AND 449 AND b <= 5
      |GROUP BY b
      |ORDER BY b""".stripMargin

  // ─── q318: deletion-vector DELETE — zero data files rewritten ────────
  // The DV contract end to end, counters as oracle-derived data: publish
  // documents hive-partitioned into 100-id buckets (one file per dir),
  // then two point-delete waves through [[dvDelete]] — ids {0,37,…,407}
  // (touches buckets 0–4) then {1,2,38} (bucket 0 AGAIN, proving the
  // cumulative per-file DV union). files_on_disk counts the data part
  // files physically present after both deletes and must equal
  // files_total — the zero-rewrite proof is the filesystem itself, not
  // a stats struct. The survivor census reads through the DV anti-join
  // and must equal DuckDB's direct NOT-IN filter; n_rows_v1 (time
  // travel, pre-delete manifest count) and n_rows_live pin the
  // manifest-count bookkeeping of both waves.
  private val Dv1Ids: Seq[Long] = (0 to 11).map(_ * 37L)
  private val Dv2Ids: Seq[Long] = Seq(1L, 2L, 38L)

  def q318DeletionVectors(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("dv", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("b", floor(col("doc_id") / 100))
      .repartition(8, col("b"))
    publish(docs, table, partitionBy = Seq("b"))
    val st1 = dvDelete(s, table, "doc_id", Dv1Ids)
    val st2 = dvDelete(s, table, "doc_id", Dv2Ids)
    val onDisk = listParquet(fs(s, tableP), tableP).size
    read(s, table)
      .where(col("b") <= 5)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("chars"),
           min(col("doc_id")).as("first_id"),
           max(col("doc_id")).as("last_id"))
      .select(col("b").cast("long").as("b"), col("n_docs"), col("chars"),
              col("first_id"), col("last_id"),
              lit(st1.filesTotal.toLong).as("files_total"),
              lit(onDisk.toLong).as("files_on_disk"),
              lit((st1.filesRewritten + st2.filesRewritten).toLong)
                .as("files_rewritten"),
              lit(st1.filesWithDv.toLong).as("files_dv_w1"),
              lit(st2.filesWithDv.toLong).as("files_dv_w2"),
              lit(st1.rowsDeleted + st2.rowsDeleted).as("rows_deleted"),
              lit(countOf(s, table, 1)).as("n_rows_v1"),
              lit(countOf(s, table, st2.version)).as("n_rows_live"))
      .orderBy(col("b"))
  }

  val q318Sql: String = {
    val all = (Dv1Ids ++ Dv2Ids).mkString(", ")
    val w1 = Dv1Ids.mkString(", ")
    val w2 = Dv2Ids.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, n_chars, CAST(floor(doc_id / 100) AS BIGINT) AS b
       |  FROM documents),
       |cnt AS (
       |  SELECT CAST(count(DISTINCT b) AS BIGINT) AS files_total,
       |    CAST(count(DISTINCT CASE WHEN doc_id IN ($w1) THEN b END)
       |      AS BIGINT) AS files_dv_w1,
       |    CAST(count(DISTINCT CASE WHEN doc_id IN ($w2) THEN b END)
       |      AS BIGINT) AS files_dv_w2,
       |    CAST(count(CASE WHEN doc_id IN ($all) THEN 1 END) AS BIGINT)
       |      AS rows_deleted,
       |    CAST(count(*) AS BIGINT) AS n_rows_v1
       |  FROM d)
       |SELECT b, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS chars,
       |  min(doc_id) AS first_id, max(doc_id) AS last_id,
       |  (SELECT files_total FROM cnt) AS files_total,
       |  (SELECT files_total FROM cnt) AS files_on_disk,
       |  CAST(0 AS BIGINT) AS files_rewritten,
       |  (SELECT files_dv_w1 FROM cnt) AS files_dv_w1,
       |  (SELECT files_dv_w2 FROM cnt) AS files_dv_w2,
       |  (SELECT rows_deleted FROM cnt) AS rows_deleted,
       |  (SELECT n_rows_v1 FROM cnt) AS n_rows_v1,
       |  (SELECT n_rows_v1 - rows_deleted FROM cnt) AS n_rows_live
       |FROM d
       |WHERE doc_id NOT IN ($all) AND b <= 5
       |GROUP BY b
       |ORDER BY b""".stripMargin
  }

  // ─── q323: merge-on-read MERGE INTO — zero data files rewritten ──────
  // The MoR contract end to end, counters as oracle-derived data:
  // publish documents hive-partitioned into 100-id buckets (one file per
  // dir), then ONE mergeMoR whose source mixes updates (every 37th id,
  // payload doubled+7) and inserts (every 41st id shifted +1e6, payload
  // +13). files_v1_on_disk counts the data part files physically present
  // under the ORIGINAL version's dir after the merge and must equal
  // files_total — the zero-rewrite proof is the filesystem, q318's
  // contract. The census reads THROUGH the DV anti-join + appended
  // files: a matched id must appear exactly once with the UPDATED
  // payload (a DV miss doubles the row count; a lost append loses the
  // update — either flips the hash), and the inserted buckets
  // (10000..) census alongside the updated ones. The DuckDB twin is the
  // full-outer merge it should equal, with the file counters derived
  // relationally from the bucket layout.
  def q323MergeOnRead(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("mor", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("b", floor(col("doc_id") / 100).cast("long"))
      .repartition(8, col("b"))
    publish(docs, table, partitionBy = Seq("b"))
    val v1Dir = new Path(table, "snap-v00001")
    val v1Files = listParquet(fs(s, tableP), v1Dir).size
    val src = docs.where(pmod(col("doc_id"), lit(37)) === 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") * 2 + 7).as("n_chars"), col("b"))
      .unionByName(docs.where(pmod(col("doc_id"), lit(41)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          (col("n_chars") + 13).as("n_chars"),
          (col("b") + 10000L).as("b")))
      .repartition(8, col("b"))
    val st = mergeMoR(s, table, src, Seq("doc_id"))
    val v1OnDisk = listParquet(fs(s, tableP), v1Dir).size
    read(s, table)
      .where(col("b") <= 5 || col("b").between(10000, 10005))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("chars"),
           min(col("doc_id")).as("first_id"),
           max(col("doc_id")).as("last_id"))
      .select(col("b"), col("n_docs"), col("chars"),
              col("first_id"), col("last_id"),
              lit(v1Files.toLong).as("files_total"),
              lit(v1OnDisk.toLong).as("files_v1_on_disk"),
              lit(st.filesWithDv.toLong).as("files_dv"),
              lit(st.filesAppended.toLong).as("files_appended"),
              lit(st.rowsSuppressed).as("rows_suppressed"),
              lit(st.rowsAppended).as("rows_appended"),
              lit(countOf(s, table, 1)).as("n_rows_v1"),
              lit(countOf(s, table, st.version)).as("n_rows_live"))
      .orderBy(col("b"))
  }

  val q323Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars,
      |    CAST(floor(doc_id / 100) AS BIGINT) AS b
      |  FROM documents),
      |src AS (
      |  SELECT doc_id, n_chars * 2 + 7 AS n_chars, b
      |  FROM d WHERE doc_id % 37 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, n_chars + 13, b + 10000
      |  FROM d WHERE doc_id % 41 = 0),
      |m AS (
      |  SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
      |         coalesce(s.b, d.b) AS b,
      |         coalesce(s.n_chars, d.n_chars) AS n_chars
      |  FROM d FULL OUTER JOIN src s ON d.doc_id = s.doc_id),
      |cnt AS (
      |  SELECT
      |    (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d) AS files_total,
      |    (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM d
      |       WHERE doc_id % 37 = 0) AS files_dv,
      |    (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM src)
      |      AS files_appended,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d WHERE doc_id % 37 = 0)
      |      AS rows_suppressed,
      |    (SELECT CAST(count(*) AS BIGINT) FROM src) AS rows_appended,
      |    (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_rows_v1,
      |    (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_rows_live)
      |SELECT b, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(doc_id) AS first_id, max(doc_id) AS last_id,
      |  (SELECT files_total FROM cnt) AS files_total,
      |  (SELECT files_total FROM cnt) AS files_v1_on_disk,
      |  (SELECT files_dv FROM cnt) AS files_dv,
      |  (SELECT files_appended FROM cnt) AS files_appended,
      |  (SELECT rows_suppressed FROM cnt) AS rows_suppressed,
      |  (SELECT rows_appended FROM cnt) AS rows_appended,
      |  (SELECT n_rows_v1 FROM cnt) AS n_rows_v1,
      |  (SELECT n_rows_live FROM cnt) AS n_rows_live
      |FROM m
      |WHERE b <= 5 OR b BETWEEN 10000 AND 10005
      |GROUP BY b
      |ORDER BY b""".stripMargin

  // ─── q225: branch refs + write-audit-publish (WAP) ────────────────────
  // The Iceberg/Delta "WAP" production pattern end to end: every batch
  // COMMITS as a version (time-travelable, debuggable), but the `main`
  // ref — what downstream readers follow — advances only after an audit
  // of the committed snapshot passes. A poisoned batch (negative prices
  // planted on every 7th odd order) therefore lands, fails its audit,
  // and stays invisible; the clean retry lands and promotes. The census
  // reads THROUGH the ref after each stage, so the result encodes what
  // a ref follower would actually have seen at each point — the oracle
  // derives the same three states straight from `orders` (even keys;
  // even again, bad batch rejected; all keys) with the ref versions as
  // structural constants (1, 1, 3: three commits, second unpromoted).
  //
  // Scale: refs and audits are manifest-level metadata plus one
  // aggregate over the staged snapshot; the data path is publish's
  // (stats/bloom collection bounded per file). Nothing here reads more
  // than the batch being audited.
  def q225WapPublish(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("wap", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val orders = Tables.orders(s, d).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val even = orders.where(col("o_orderkey") % 2 === 0)
    val odd = orders.where(col("o_orderkey") % 2 === 1)
    val poisoned = odd.select(col("o_orderkey"),
      when(col("o_orderkey") % 7 === 0, -col("cents"))
        .otherwise(col("cents")).as("cents"))
    def audit(df: DataFrame): Boolean =
      df.agg(min(col("cents"))).head.getLong(0) >= 0L
    def visible(stage: String): DataFrame =
      readRef(s, table, "main")
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("total_cents"))
        .select(lit(stage).as("stage"),
          lit(refOf(s, table, "main").get).cast("long").as("main_version"),
          col("n_rows"), col("total_cents"))
    val (_, ok1) = wapPublish(s, table, even, "main", audit)
    require(ok1, "baseline batch must pass its own audit")
    val s1 = visible("1_init")
    val (_, ok2) = wapPublish(s, table, poisoned, "main", audit)
    require(!ok2, "poisoned batch must fail the audit")
    val s2 = visible("2_bad_rejected")
    val (_, ok3) = wapPublish(s, table, orders, "main", audit)
    require(ok3, "clean retry must pass")
    val s3 = visible("3_good_promoted")
    s1.unionAll(s2).unionAll(s3).orderBy(col("stage"))
  }

  val q225Sql: String =
    """WITH o AS (SELECT o_orderkey,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders),
      |ev AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS t
      |       FROM o WHERE o_orderkey % 2 = 0),
      |al AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS t
      |       FROM o)
      |SELECT '1_init' AS stage, CAST(1 AS BIGINT) AS main_version,
      |  n AS n_rows, t AS total_cents FROM ev
      |UNION ALL
      |SELECT '2_bad_rejected', 1, n, t FROM ev
      |UNION ALL
      |SELECT '3_good_promoted', 3, n, t FROM al
      |ORDER BY stage""".stripMargin

  // ─── q253: snapshot version drift audit ──────────────────────────────
  // The data-quality read a versioned table makes possible and a plain
  // directory can't: WHAT CHANGED statistically between two published
  // versions — row count, per-column null rate, cardinality, and (for
  // the money column) total — the inputs a drift monitor alarms on
  // before a bad publish poisons a training run. v1/v2 are derived
  // DETERMINISTICALLY from `orders` (v2 drops priority to NULL for
  // key % 7, inflates every key % 5 price by 10 %, and admits the
  // key % 6 rows v1 excluded), so the DuckDB oracle replays the same
  // derivation and must land on identical per-column stats — proving
  // the store's publish→time-travel-read roundtrip loses nothing.
  //
  // Scale: per version, ONE pass over the table — the wide row is
  // unpivoted into (column, value) cells in-row (explode of a 3-entry
  // literal array), then a two-level hash aggregate ((col, value) →
  // col) computes count/nulls/distinct without an Expand (the
  // multi-distinct trap) and without collecting a value list; the
  // distinct count is exact because level 2's input IS one row per
  // distinct value. Output is |columns|-sized.
  def q253SnapshotDrift(s: SparkSession, d: String): DataFrame = {
    val table = fixturePath("drift", d)
    val tableP = new Path(table)
    fs(s, tableP).delete(tableP, true)
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      col("o_custkey"), col("o_orderpriority"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    publish(base.where(col("k") % 3 =!= 0), table)
    publish(base.where(col("k") % 3 =!= 0 || col("k") % 6 === 0)
      .withColumn("o_orderpriority",
        when(col("k") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")))
      .withColumn("cents",
        when(col("k") % 5 === 0, col("cents") + expr("cents div 10"))
          .otherwise(col("cents"))), table)
    def stats(ver: Int): DataFrame =
      read(s, table, Some(ver)).select(explode(array(
          struct(lit("o_custkey").as("c"),
            col("o_custkey").cast("string").as("v"), lit(0L).as("cents")),
          struct(lit("o_orderpriority").as("c"),
            col("o_orderpriority").as("v"), lit(0L).as("cents")),
          struct(lit("o_totalprice").as("c"),
            col("cents").cast("string").as("v"), col("cents").as("cents"))
        )).as("s"))
        .select(col("s.c").as("column_name"), col("s.v").as("v"),
                col("s.cents").as("cents"))
        .groupBy(col("column_name"), col("v"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sc"))
        .groupBy(col("column_name"))
        .agg(sum(col("cnt")).as("n"),
          sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("nulls"),
          count_if(col("v").isNotNull).as("n_distinct"),
          sum(col("sc")).as("cents_sum"))
        .withColumn("ver", lit(ver))
    stats(1).unionByName(stats(2))
      .groupBy(col("column_name"))
      .agg(
        max(when(col("ver") === 1, col("n"))).as("n_v1"),
        max(when(col("ver") === 2, col("n"))).as("n_v2"),
        max(when(col("ver") === 1, col("nulls"))).as("nulls_v1"),
        max(when(col("ver") === 2, col("nulls"))).as("nulls_v2"),
        max(when(col("ver") === 1, col("n_distinct"))).as("distinct_v1"),
        max(when(col("ver") === 2, col("n_distinct"))).as("distinct_v2"),
        max(when(col("ver") === 1, col("cents_sum"))).as("cents_v1"),
        max(when(col("ver") === 2, col("cents_sum"))).as("cents_v2"))
      .orderBy(col("column_name"))
  }

  val q253Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_custkey, o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |v1 AS (SELECT * FROM base WHERE k % 3 <> 0),
      |v2 AS (
      |  SELECT k, o_custkey,
      |    CASE WHEN k % 7 = 0 THEN NULL ELSE o_orderpriority END
      |      AS o_orderpriority,
      |    CASE WHEN k % 5 = 0 THEN cents + cents // 10 ELSE cents END
      |      AS cents
      |  FROM base WHERE k % 3 <> 0 OR k % 6 = 0),
      |cells AS (
      |  SELECT 1 AS ver, 'o_custkey' AS column_name,
      |    CAST(o_custkey AS VARCHAR) AS v, 0 AS cents FROM v1
      |  UNION ALL SELECT 1, 'o_orderpriority', o_orderpriority, 0 FROM v1
      |  UNION ALL SELECT 1, 'o_totalprice', CAST(cents AS VARCHAR), cents
      |    FROM v1
      |  UNION ALL SELECT 2, 'o_custkey', CAST(o_custkey AS VARCHAR), 0
      |    FROM v2
      |  UNION ALL SELECT 2, 'o_orderpriority', o_orderpriority, 0 FROM v2
      |  UNION ALL SELECT 2, 'o_totalprice', CAST(cents AS VARCHAR), cents
      |    FROM v2),
      |l1 AS (
      |  SELECT ver, column_name, v, count(*) AS cnt, sum(cents) AS sc
      |  FROM cells GROUP BY 1, 2, 3),
      |l2 AS (
      |  SELECT ver, column_name, sum(cnt) AS n,
      |    sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS nulls,
      |    count(*) FILTER (WHERE v IS NOT NULL) AS n_distinct,
      |    sum(sc) AS sc
      |  FROM l1 GROUP BY 1, 2)
      |SELECT column_name,
      |  CAST(max(CASE WHEN ver = 1 THEN n END) AS BIGINT) AS n_v1,
      |  CAST(max(CASE WHEN ver = 2 THEN n END) AS BIGINT) AS n_v2,
      |  CAST(max(CASE WHEN ver = 1 THEN nulls END) AS BIGINT) AS nulls_v1,
      |  CAST(max(CASE WHEN ver = 2 THEN nulls END) AS BIGINT) AS nulls_v2,
      |  CAST(max(CASE WHEN ver = 1 THEN n_distinct END) AS BIGINT)
      |    AS distinct_v1,
      |  CAST(max(CASE WHEN ver = 2 THEN n_distinct END) AS BIGINT)
      |    AS distinct_v2,
      |  CAST(max(CASE WHEN ver = 1 THEN sc END) AS BIGINT) AS cents_v1,
      |  CAST(max(CASE WHEN ver = 2 THEN sc END) AS BIGINT) AS cents_v2
      |FROM l2
      |GROUP BY column_name
      |ORDER BY column_name""".stripMargin

  // ─── q346: INCREMENTAL layout maintenance census ─────────────────────
  // Chain: one wide file (v1) → autoCluster (v2: 4 key-range files,
  // epoch set) → two appends land as one wide file each (v3, v4 — the
  // layout DECAYS) → autoCluster again (v5: carries v2's 4 clustered
  // files by reference, rewrites ONLY the 2 appended files into 4 more
  // bins). The census reads each stage's manifest stats: file counts,
  // files touched by a fixed key-range probe (min/max intersection —
  // exactly the skipping decision readBetween makes), rows scanned in
  // the touched files, plus the cluster job's carried/rewritten/staged
  // counters. The oracle recomputes every number from the slice
  // predicates and the equal-width bin arithmetic — the hash only
  // matches if the incremental job rewrote exactly the appended files,
  // carried exactly the clustered ones, and produced the bbox layout
  // the binning promises. Scale: the decision is one manifest parse;
  // the rewrite reads only the appended files' rows.
  // Staged once per (session, SF dir) through graft.Session, like the
  // CDC fixture.
  private def clusterFixtureFor(s: SparkSession, d: String)
      : (String, ClusterStats, ClusterStats) =
    Session.memo(s, ("clusterFixture", d)) {
      val t = fixturePath("layoutfix", d)
      val tableP = new Path(t)
      fs(s, tableP).delete(tableP, true)
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def slice(r: Int) = ord.where(pmod(col("o_orderkey"), lit(4)) === r)
      publish(slice(0).coalesce(1), t)
      val st2 = autoCluster(s, t, "o_orderkey", 4)
      applyCdcVersion(s, t,
        slice(1).coalesce(1).withColumn("op", lit("I")),
        Seq("o_orderkey"), "op", 3)
      applyCdcVersion(s, t,
        slice(2).coalesce(1).withColumn("op", lit("I")),
        Seq("o_orderkey"), "op", 4)
      val st5 = autoCluster(s, t, "o_orderkey", 4)
      (t, st2, st5)
    }

  def q346IncrementalCluster(s: SparkSession, d: String): DataFrame = {
    val (t, st2, st5) = clusterFixtureFor(s, d)
    // fixed probe range: the middle [3/8, 5/8] of the live key span
    val mmRow = read(s, t, Some(4))
      .agg(min(col("o_orderkey").cast("long")),
           max(col("o_orderkey").cast("long"))).head()
    val (mnA, mxA) = (mmRow.getLong(0), mmRow.getLong(1))
    val (lo, hi) = (mnA + (mxA - mnA) * 3 / 8, mnA + (mxA - mnA) * 5 / 8)
    def census(ver: Int, label: String, cs: Option[ClusterStats]) = {
      val stats = statsOf(s, t, ver)
      val touched = stats.collect {
        case (p, m) if m.get("o_orderkey")
          .exists { case (a, b) => b >= lo && a <= hi } => p
      }
      // rows-scanned = raw rows of the touched files — the parquet
      // footers answer that exactly (r15; was a count() scan job per
      // census stage), keeping the whole probe metadata-only
      val conf = s.sparkContext.hadoopConfiguration
      val scanned = touched.map(p =>
        footerStatsOf(org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(p), conf), Set.empty).rows).sum
      (label, stats.size.toLong, touched.size.toLong, scanned,
        countOf(s, t, ver),
        cs.map(_.filesCarried.toLong).getOrElse(0L),
        cs.map(_.filesRewritten.toLong).getOrElse(0L),
        cs.map(_.filesStaged.toLong).getOrElse(0L),
        cs.map(_.rowsClustered).getOrElse(0L))
    }
    val rows = Seq(
      census(2, "a_first_cluster", Some(st2)),
      census(4, "b_appended", None),
      census(5, "c_recluster", Some(st5)))
    val sp = s; import sp.implicits._
    rows.toDF("stage", "n_files", "files_touched", "rows_scanned",
        "rows_live", "files_carried", "files_rewritten", "files_staged",
        "rows_clustered")
      .orderBy(col("stage"))
  }

  val q346Sql: String =
    """WITH s0 AS (SELECT o_orderkey AS k FROM orders
      |            WHERE o_orderkey % 4 = 0),
      |s1 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 = 1),
      |s2 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 = 2),
      |s12 AS (SELECT k FROM s1 UNION ALL SELECT k FROM s2),
      |rng AS (
      |  SELECT min(k) AS mna, max(k) AS mxa FROM (
      |    SELECT k FROM s0 UNION ALL SELECT k FROM s12)),
      |pr AS (SELECT mna + (mxa - mna) * 3 // 8 AS lo,
      |              mna + (mxa - mna) * 5 // 8 AS hi FROM rng),
      |w0 AS (SELECT mn, greatest(1, (mx - mn + 4) // 4) AS w FROM
      |  (SELECT min(k) AS mn, max(k) AS mx FROM s0)),
      |bins0 AS (
      |  SELECT (k - mn) // w AS b, CAST(count(*) AS BIGINT) AS n,
      |    min(k) AS bmn, max(k) AS bmx
      |  FROM s0, w0 GROUP BY 1),
      |t0 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nb,
      |    CAST(coalesce(sum(CASE WHEN bmx >= lo AND bmn <= hi
      |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS tb,
      |    CAST(coalesce(sum(CASE WHEN bmx >= lo AND bmn <= hi
      |      THEN n END), 0) AS BIGINT) AS tr
      |  FROM bins0, pr),
      |w12 AS (SELECT mn, greatest(1, (mx - mn + 4) // 4) AS w FROM
      |  (SELECT min(k) AS mn, max(k) AS mx FROM s12)),
      |bins12 AS (
      |  SELECT (k - mn) // w AS b, CAST(count(*) AS BIGINT) AS n,
      |    min(k) AS bmn, max(k) AS bmx
      |  FROM s12, w12 GROUP BY 1),
      |t12 AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nb,
      |    CAST(coalesce(sum(CASE WHEN bmx >= lo AND bmn <= hi
      |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS tb,
      |    CAST(coalesce(sum(CASE WHEN bmx >= lo AND bmn <= hi
      |      THEN n END), 0) AS BIGINT) AS tr
      |  FROM bins12, pr),
      |a1 AS (SELECT min(k) AS mn, max(k) AS mx,
      |              CAST(count(*) AS BIGINT) AS n FROM s1),
      |a2 AS (SELECT min(k) AS mn, max(k) AS mx,
      |              CAST(count(*) AS BIGINT) AS n FROM s2),
      |tw AS (
      |  SELECT
      |    CASE WHEN a1.mx >= lo AND a1.mn <= hi THEN 1 ELSE 0 END AS t1,
      |    CASE WHEN a2.mx >= lo AND a2.mn <= hi THEN 1 ELSE 0 END AS t2,
      |    a1.n AS n1, a2.n AS n2
      |  FROM a1, a2, pr),
      |n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s0)
      |SELECT * FROM (
      |  SELECT 'a_first_cluster' AS stage, t0.nb AS n_files,
      |    t0.tb AS files_touched, t0.tr AS rows_scanned,
      |    n0.n AS rows_live, CAST(0 AS BIGINT) AS files_carried,
      |    CAST(1 AS BIGINT) AS files_rewritten, t0.nb AS files_staged,
      |    n0.n AS rows_clustered
      |  FROM t0, n0
      |  UNION ALL
      |  SELECT 'b_appended', t0.nb + 2,
      |    t0.tb + tw.t1 + tw.t2,
      |    t0.tr + tw.t1 * tw.n1 + tw.t2 * tw.n2,
      |    n0.n + tw.n1 + tw.n2, 0, 0, 0, 0
      |  FROM t0, tw, n0
      |  UNION ALL
      |  SELECT 'c_recluster', t0.nb + t12.nb, t0.tb + t12.tb,
      |    t0.tr + t12.tr, n0.n + tw.n1 + tw.n2,
      |    t0.nb, 2, t12.nb, tw.n1 + tw.n2
      |  FROM t0, t12, tw, n0)
      |ORDER BY stage""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q346_incremental_cluster" -> (q346IncrementalCluster _),
    "q253_snapshot_drift" -> (q253SnapshotDrift _),
    "q225_wap_publish" -> (q225WapPublish _),
    "q130_snapshot_roundtrip" -> (q130SnapshotRoundtrip _),
    "q133_snapshot_cdc" -> (q133SnapshotCdc _),
    "q238_cdc_summary_maintain" -> (q238CdcSummaryMaintain _),
    "q239_asof_timestamp" -> (q239AsofTimestamp _),
    "q148_skipping_read" -> (q148SkippingRead _),
    "q151_bloom_lookup" -> (q151BloomLookup _),
    "q210_partitioned_read" -> (q210PartitionedRead _),
    "q214_snapshot_merge" -> (q214SnapshotMerge _),
    "q215_snapshot_delete" -> (q215SnapshotDelete _),
    "q304_schema_evolution" -> (q304SchemaEvolution _),
    "q318_deletion_vectors" -> (q318DeletionVectors _),
    "q323_merge_on_read" -> (q323MergeOnRead _),
    "q328_streaming_cdc_ingest" -> (q328StreamingCdcIngest _),
    "q329_change_feed" -> (q329ChangeFeed _),
    "q333_cdf_summary_follow" -> (q333CdfSummaryFollow _),
    "q337_dv_auto_compact" -> (q337DvAutoCompact _),
    "q339_column_mapping" -> (q339ColumnMapping _))

  val oracleSql: Map[String, String] = Map(
    "q346_incremental_cluster" -> q346Sql,
    "q253_snapshot_drift" -> q253Sql,
    "q225_wap_publish" -> q225Sql,
    "q130_snapshot_roundtrip" -> q130Sql,
    "q133_snapshot_cdc" -> q133Sql,
    "q238_cdc_summary_maintain" -> q238Sql,
    "q239_asof_timestamp" -> q239Sql,
    "q148_skipping_read" -> q148Sql,
    "q151_bloom_lookup" -> q151Sql,
    "q210_partitioned_read" -> q210Sql,
    "q214_snapshot_merge" -> q214Sql,
    "q215_snapshot_delete" -> q215Sql,
    "q304_schema_evolution" -> q304Sql,
    "q318_deletion_vectors" -> q318Sql,
    "q323_merge_on_read" -> q323Sql,
    "q328_streaming_cdc_ingest" -> q328Sql,
    "q329_change_feed" -> q329Sql,
    "q333_cdf_summary_follow" -> q333Sql,
    "q337_dv_auto_compact" -> q337Sql,
    "q339_column_mapping" -> q339Sql)
}
