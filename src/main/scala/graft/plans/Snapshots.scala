package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dataset versioning — time travel and rollback for parquet dataset
  * directories, built on what the staged rewrites ALREADY produce.
  *
  * Every in-place maintenance verb here ([[Compaction.compactParquet]],
  * [[Compaction.deleteWhere]], [[Compaction.upsertParquet]],
  * [[ZOrder.reclusterZorder]]) stages a full rewritten copy and, at
  * install time, holds the complete pre-rewrite dataset at
  * `<dir>__<tag>_old` for one rename before deleting it. Versioning
  * simply KEEPS that copy: once [[enableVersioning]] has created the
  * sibling `<dir>__versions/` directory, [[Compaction.stagedParquetSwap]]
  * archives the old copy as `<dir>__versions/v=<n>` instead of deleting
  * it — zero additional I/O at write time (one rename), storage cost
  * one full dataset copy per retained version, bounded by
  * [[vacuumVersions]]. Version `n` is always THE dataset as it was
  * immediately before the (n+1)-th retained rewrite; the live directory
  * is the newest state.
  *
  * Why directory-granularity and not file-granularity (Iceberg/Delta
  * manifests): the maintenance verbs rewrite the whole dataset anyway
  * (delete, upsert and recluster are O(dataset) sweeps by contract), so
  * at rewrite cadence the retained copies ARE the manifest-level
  * snapshots — and the truth stays self-describing on the filesystem
  * (`v=<n>` subdirectories, no manifest file to corrupt or compact).
  * Each archived version carries a `_version_info` sidecar (tag + wall
  * clock) that readers ignore (`_`-prefix) and [[listVersions]] reads.
  *
  * Scope: versioning covers parquet DATASET DIRECTORIES — the corpora
  * that are systems of record. The index families' catalog tables
  * ([[Compaction.stagedTableSwap]] rewrites) deliberately do NOT
  * version: an index is a derived artifact with a rebuild verb, its
  * history is the corpus's history, and retaining N full index copies
  * would buy nothing a rebuild-at-version cannot — time travel the
  * corpus, rebuild the index from the snapshot if an as-of index is
  * ever needed.
  *
  * TAKEDOWN CONTRACT — versioning retains FULL COPIES, including rows
  * later deleted: [[Compaction.deleteWhere]] on a versioned dataset
  * archives the pre-delete copy as a version, so the deleted rows stay
  * readable through [[readVersion]] (and restorable through
  * [[rollbackTo]]) until explicitly swept. A compliance takedown on a
  * versioned dataset is therefore complete ONLY after
  * [[purgeVersions]] with the same predicate (or [[vacuumVersions]]
  * past every version that predates the delete) — and the audit that
  * proves it must include the retained versions as surfaces, which
  * [[versionSurfaces]] feeds straight into
  * [[graft.verify.Comparator.absenceAudit]].
  *
  * Crash contract (extends the one in [[Compaction]]'s doc): with
  * versioning enabled, a death after install but before the archive
  * rename leaves `__<tag>_old` beside the live dataset — on a
  * versioned dataset that state is unambiguous (successful runs never
  * leave it) and the next rewrite archives it as its own version
  * (tag suffixed `-recovered`) instead of refusing. [[rollbackTo]] is
  * idempotent across its own mid-rename death: rerunning completes the
  * restore.
  */
object Snapshots {

  private def hadoop(spark: SparkSession, dir: String) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(path))
  }

  /** Sibling versions root for a dataset directory — OUTSIDE the
    * dataset so `spark.read.parquet(dir)` never sees archived copies
    * and the rewrites' own directory listing stays version-blind.
    */
  private[plans] def versionsRoot(
      qualified: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      qualified.getParent, qualified.getName + "__versions")

  private def versionDir(
      root: org.apache.hadoop.fs.Path, n: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(root, s"v=$n")

  /** Existing version numbers, ascending (empty when none). The match
    * is exact (`v=<digits>`) so a [[purgeVersions]] crash leftover
    * (`v=3__vpurge_old` / `__vpurge_tmp`) never parses as a version —
    * the triage inside the purge sweep owns those names.
    */
  private def versionNumbers(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v=\\d+"))
      .map(_.getPath.getName.drop(2).toLong)
      .sorted

  /** Turn version retention on for the dataset at `dir`: all later
    * staged rewrites archive their pre-rewrite copy as a version.
    * Idempotent; requires the dataset to exist (enabling versioning on
    * nothing is a caller bug, not a state to represent).
    */
  def enableVersioning(spark: SparkSession, dir: String): Unit = {
    val (fs, qualified) = hadoop(spark, dir)
    require(fs.exists(qualified), s"dataset $dir does not exist")
    fs.mkdirs(versionsRoot(qualified))
  }

  def isVersioned(spark: SparkSession, dir: String): Boolean = {
    val (fs, qualified) = hadoop(spark, dir)
    fs.exists(versionsRoot(qualified))
  }

  /** Archive a complete dataset copy sitting at `src` as the next
    * version under `root`: one rename plus a tiny `_version_info`
    * sidecar (readers skip `_`-prefixed paths, so the archived copy
    * stays a readable parquet dataset). Called by
    * [[Compaction.stagedParquetSwap]] at install time and by
    * [[rollbackTo]] when it archives the pre-rollback live state.
    *
    * @return the version number assigned
    */
  private[plans] def archive(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      src: org.apache.hadoop.fs.Path,
      tag: String): Long = {
    val n = versionNumbers(fs, root).lastOption.getOrElse(0L) + 1L
    val dst = versionDir(root, n)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"versioning failed archiving $src as $dst")
    writeInfo(fs, new org.apache.hadoop.fs.Path(dst, "_version_info"),
      n, tag, System.currentTimeMillis())
    n
  }

  /** Write the `_version_info` annotation sidecar DRIVER-side: one
    * ~60-byte JSON file inside the `_`-prefixed sidecar dir, installed
    * via write-tmp + rename so a death mid-write leaves only an
    * ignored temp name (the unannotated-version crash shape readers
    * already tolerate). This replaced a 1-row Spark DataFrame write —
    * a full job (task scheduling, commit protocol, _SUCCESS) per
    * archive, twice per purged version; the sidecar is annotation, a
    * driver byte-write is its honest cost. The archive claim becomes
    * literal: one rename plus one tiny driver-side file.
    */
  private def writeInfo(
      fs: org.apache.hadoop.fs.FileSystem,
      info: org.apache.hadoop.fs.Path,
      version: Long,
      tag: String,
      archivedAtMs: Long): Unit = {
    fs.mkdirs(info)
    val tmp = new org.apache.hadoop.fs.Path(info, ".info.json.tmp")
    val dst = new org.apache.hadoop.fs.Path(info, "info.json")
    val out = fs.create(tmp, true)
    try out.write(infoJson.writeValueAsBytes(infoJson.createObjectNode()
      .put("format", 2).put("version", version).put("tag", tag)
      .put("archived_at_ms", archivedAtMs)))
    finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"failed installing sidecar $dst")
  }

  /** The retained versions of `dir`, one row each:
    * (version, tag, archived_at_ms, data_bytes, data_files), ascending.
    * Versions archived before a crash cleaned their sidecar still list
    * (tag/time null) — the data directory is the truth, the sidecar is
    * annotation. Bytes/files come from one recursive listing per
    * version (data files only, `_`-prefixed bookkeeping excluded) —
    * the numbers a [[vacuumVersions]] retention decision needs.
    */
  def listVersions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (fs, qualified) = hadoop(spark, dir)
    val root = versionsRoot(qualified)
    val nums = versionNumbers(fs, root)
    val infos = nums.map { n =>
      val vd = versionDir(root, n)
      val info = new org.apache.hadoop.fs.Path(vd, "_version_info")
      val (files, bytes) = listData(fs, vd)
      readInfoRow(spark, fs, info) match {
        case Some(r) =>
          (n, Option(r.getString(1)), Option(r.getLong(2)), bytes, files)
        case None => (n, None: Option[String], None: Option[Long], bytes, files)
      }
    }
    infos.toDF("version", "tag", "archived_at_ms", "data_bytes", "data_files")
      .orderBy(col("version"))
  }

  /** Read a `_version_info` annotation sidecar, tolerating every crash
    * shape the archive path can leave: missing entirely, created but
    * EMPTY (a death between the sidecar dir's creation and the file
    * install leaves `fs.exists` true with nothing readable inside), or
    * holding only a write-tmp residue. All of those are "no
    * annotation" — the data directory is the truth, the sidecar is
    * annotation, and the crash contract in the object doc promises the
    * listing still serves.
    *
    * ZERO Spark jobs on the current format: the JSON file is read and
    * parsed driver-side (the parquet read here paid a footer
    * schema-inference job PLUS a collect job per version listed).
    * Sidecars written by pre-r20 builds (a 1-row parquet dataset) fall
    * back to the explicit-schema Spark read — legacy datasets keep
    * their annotations.
    */
  private val infoSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tag",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("archived_at_ms",
      org.apache.spark.sql.types.LongType)))

  /** The sidecar codec. Current sidecars are Jackson-written JSON with
    * a `"format":2` key, so any tag round-trips (quotes, backslashes,
    * newlines, non-ASCII). Sidecars written before that key existed
    * spliced the tag in unescaped; they keep reading through [[infoRe]]
    * exactly as they always did — a Jackson parse would turn their
    * backslashes into escapes.
    */
  private val infoJson = new com.fasterxml.jackson.databind.ObjectMapper()

  private val infoRe =
    """\{"version":(\d+),"tag":"([^"]*)","archived_at_ms":(\d+)\}""".r

  /** A sidecar's (version, tag, archived_at_ms) row; None for a torn
    * or corrupt file (no annotation).
    */
  private[plans] def parseInfo(text: String): Option[org.apache.spark.sql.Row] =
    scala.util.Try(infoJson.readTree(text)).toOption.filter(_.has("format")) match {
      case Some(n) =>
        val (v, tag, ms) = (n.path("version"), n.path("tag"), n.path("archived_at_ms"))
        if (v.isIntegralNumber && tag.isTextual && ms.isIntegralNumber)
          Some(org.apache.spark.sql.Row(v.asLong, tag.textValue, ms.asLong))
        else None
      case None => text match {
        case infoRe(v, tag, ms) =>
          Some(org.apache.spark.sql.Row(v.toLong, tag, ms.toLong))
        case _ => None
      }
    }

  private def readInfoRow(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      info: org.apache.hadoop.fs.Path): Option[org.apache.spark.sql.Row] =
    if (!fs.exists(info)) None
    else {
      val json = new org.apache.hadoop.fs.Path(info, "info.json")
      if (fs.exists(json)) {
        val in = fs.open(json)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        parseInfo(text)
      } else if (fs.listStatus(info).exists(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))) {
        // legacy parquet sidecar (pre-r20 archive): explicit schema —
        // no inference job — one collect
        try spark.read.schema(infoSchema).parquet(info.toString)
          .collect().headOption
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      } else None
    }

  /** One recursive sweep of a version directory: (data files, data
    * bytes), `_`-prefixed bookkeeping (the `_version_info` sidecar,
    * `_SUCCESS`) excluded — [[Compaction]]'s listData, local so the
    * version listing stays self-contained.
    */
  private def listData(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): (Long, Long) = {
    val it = fs.listFiles(path, true)
    var files = 0L
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.toString.contains("/_version_info/")) {
        files += 1; bytes += f.getLen
      }
    }
    (files, bytes)
  }

  /** Retention staleness for the version family — the
    * `isStaleBm25Index`-shaped signal: true when the retained-version
    * count exceeds `maxVersions` or their total data bytes exceed
    * `maxBytes`. Remediation is [[vacuumVersions]]; the thresholds are
    * the caller's storage budget, not a quality property, so there are
    * no defaults to get silently wrong.
    */
  def isStaleVersions(
      spark: SparkSession,
      dir: String,
      maxVersions: Int = Int.MaxValue,
      maxBytes: Long = Long.MaxValue): Boolean = {
    val (fs, qualified) = hadoop(spark, dir)
    val root = versionsRoot(qualified)
    val nums = versionNumbers(fs, root)
    if (nums.size > maxVersions) true
    else {
      var bytes = 0L
      nums.foreach { n => bytes += listData(fs, versionDir(root, n))._2 }
      bytes > maxBytes
    }
  }

  /** Read the dataset as of retained version `n` (fails loudly on an
    * unknown version — silent fallback to live would un-time-travel a
    * compliance query). The archived copy is a plain parquet dataset;
    * filters and pruning push into its scan exactly as on live data.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val (fs, qualified) = hadoop(spark, dir)
    val vd = versionDir(versionsRoot(qualified), version)
    require(fs.exists(vd),
      s"version $version of $dir does not exist (vacuumed or never made)")
    spark.read.parquet(vd.toString)
  }

  /** Restore version `n` as the live dataset. Zero-copy and
    * history-preserving: the CURRENT live state is archived as a new
    * version (tag `rollback`) and the restored snapshot MOVES to live —
    * its old `v=<n>` slot empties, but its bytes live on as the
    * dataset, and the pre-rollback state remains reachable, so a
    * rollback is always itself roll-back-able. Idempotent across a
    * mid-rename death: rerunning completes the restore (the target
    * version is validated before the live state is archived, and the
    * archive half is skipped when a prior attempt already did it).
    *
    * @return the version number the pre-rollback live state was
    *         archived under
    */
  def rollbackTo(spark: SparkSession, dir: String, version: Long): Long = {
    val (fs, qualified) = hadoop(spark, dir)
    val root = versionsRoot(qualified)
    require(fs.exists(root), s"$dir is not versioned — enableVersioning first")
    val vd = versionDir(root, version)
    require(fs.exists(vd),
      s"version $version of $dir does not exist (vacuumed or never made)")
    // archive live first (skipped on a rerun after a mid-death — live
    // is already gone, its copy already a version)
    val archivedAs =
      if (fs.exists(qualified)) archive(spark, fs, root, qualified, "rollback")
      else versionNumbers(fs, root).last
    // the restored copy keeps its _version_info sidecar out of the live
    // dataset: drop it as part of the restore
    val info = new org.apache.hadoop.fs.Path(vd, "_version_info")
    fs.delete(info, true)
    if (!fs.rename(vd, qualified))
      throw new java.io.IOException(
        s"rollback failed installing $vd as $dir — rerun to complete " +
          "(the live state is already archived; this call is idempotent)")
    archivedAs
  }

  /** What a span of rewrites DID, keyed: compare retained version
    * `fromVersion` against `toVersion` (or live when None) and label
    * every differing key `deleted` / `inserted` / `updated` — the
    * audit read behind "what changed between snapshot 3 and today",
    * riding [[graft.verify.Comparator.rowDiff]]'s order-insensitive
    * full-outer compare. One equi-join on the keys; both sides are
    * plain pruned parquet scans.
    */
  def diffVersions(
      spark: SparkSession,
      dir: String,
      fromVersion: Long,
      toVersion: Option[Long],
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val from = readVersion(spark, dir, fromVersion)
    val to = toVersion.map(readVersion(spark, dir, _))
      .getOrElse(spark.read.parquet(dir))
    graft.verify.Comparator.rowDiff(from, to, keyCols)
      .withColumn("diff_status",
        when(col("diff_status") === "missing_in_dest", lit("deleted"))
          .when(col("diff_status") === "missing_in_src", lit("inserted"))
          .otherwise(lit("updated")))
  }

  /** Redaction sweep over the RETAINED VERSIONS — the verb that makes
    * a takedown reach history (see the TAKEDOWN CONTRACT in the object
    * doc). Each retained `v=<n>` containing rows matching `condition`
    * is rewritten WITHOUT them, staged per version through
    * [[Compaction.stagedParquetSwap]] (tag `vpurge`) so a reader never
    * observes a half-purged version and a death mid-rewrite triages
    * exactly like compaction's (leftover `v=<n>__vpurge_old` with the
    * version missing recovers on rerun; both present refuses). The
    * `_version_info` sidecar is carried through the rewrite, so the
    * purged version keeps its tag and timestamp; `name=value`
    * partition layouts are preserved ([[Compaction.deleteWhere]]'s
    * rule — a rolled-back version must keep the directory shape its
    * readers expect), and an archived Z-ORDERED copy routes through
    * [[ZOrder.deleteWhereZorder]] (swap tag `delete`, recovered by the
    * same triage) so its clustering contract survives the sweep
    * instead of being scrambled under a lying `_zorder_meta`. Versions
    * with no matching rows are left byte-identical (one
    * pushdown-pruned probe scan decides — a takedown predicate is
    * id-keyed, so min/max pruning makes the probe cheap).
    *
    * SQL DELETE semantics, matching [[Compaction.deleteWhere]]: a row
    * is purged only when the predicate is TRUE; NULL survives.
    *
    * O(matching versions' bytes) per call — batch takedown requests
    * and run one sweep, the [[Compaction.deleteWhere]] advice. This
    * purges HISTORY only; delete from the live dataset first
    * (`deleteWhere`), then sweep — the sweep also covers the version
    * that delete itself archived.
    *
    * @return one (version, rowsBefore, rowsAfter) per retained
    *         version, ascending; untouched versions report
    *         rowsBefore == rowsAfter == -1 (not scanned — the probe
    *         proves zero matches, a full count would be a wasted pass)
    */
  def purgeVersions(
      spark: SparkSession,
      dir: String,
      condition: org.apache.spark.sql.Column,
      targetFileBytes: Long = 128L << 20): Seq[(Long, Long, Long)] = {
    require(targetFileBytes > 0)
    import org.apache.spark.sql.functions.{coalesce, count, lit}
    val (fs, qualified) = hadoop(spark, dir)
    val root = versionsRoot(qualified)
    require(fs.exists(root), s"$dir is not versioned — nothing to purge")
    // Crash-residue triage BEFORE listing: a previous sweep's death
    // between the install renames leaves v=<n>__vpurge_old holding the
    // ONLY copy and v=<n> missing — versionNumbers skips the residue
    // name, so recover it here (rename back; the rerun then re-purges
    // it). Residue BESIDE a live v=<n> is ambiguous, same refusal as
    // every staged rewrite.
    fs.listStatus(root).foreach { st =>
      // vpurge = the plain staged rewrite below; delete = the
      // z-order-aware sweep (deleteWhereZorder's swap tag)
      val m = "v=(\\d+)__(vpurge|delete)_old".r
      st.getPath.getName match {
        case m(n, _) =>
          val vd = versionDir(root, n.toLong)
          if (!fs.exists(vd)) {
            if (!fs.rename(st.getPath, vd))
              throw new java.io.IOException(
                s"vpurge recovery failed renaming ${st.getPath} back to $vd")
          } else throw new java.io.IOException(
            s"refusing to purge versions of $dir: leftover ${st.getPath} " +
              s"exists alongside $vd — inspect and remove one copy first")
        case _ => ()
      }
    }
    versionNumbers(fs, root).map { n =>
      val vd = versionDir(root, n)
      val pred = coalesce(condition, lit(false))
      // ONE read per version, shared by the probe and the rewrite —
      // each spark.read.parquet of a fresh path pays a footer
      // schema-inference job, and this path used to pay it twice
      val vDf = spark.read.parquet(vd.toString)
      // isEmpty (executeTake(1)) instead of limit(1).count(): count
      // plans a full aggregate whose exchange AQE materializes as two
      // extra stage-jobs per probed version; take(1) short-circuits on
      // the first pushdown-pruned row with no exchange at all
      val hasMatch = !vDf.filter(pred).isEmpty
      if (!hasMatch) (n, -1L, -1L)
      else {
        val (_, bytes) = listData(fs, vd)
        val parts = math.max(1L,
          (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        val infoPath = new org.apache.hadoop.fs.Path(vd, "_version_info")
        if (fs.exists(new org.apache.hadoop.fs.Path(vd, "_zorder_meta"))) {
          // an archived Z-ORDERED copy: sweep through the
          // layout-preserving delete so the purged version keeps its
          // clustering contract (a blind repartition would scramble the
          // rows under a _zorder_meta that then lies). The annotation
          // sidecar is captured first and re-written after the install
          // (a death in between leaves an unannotated version —
          // benign, listVersions tolerates a missing sidecar)
          val info = readInfoRow(spark, fs, infoPath)
          val (b, a) = ZOrder.deleteWhereZorder(spark, vd.toString, condition, parts)
          info.filter(r => !r.isNullAt(1) && !r.isNullAt(2)).foreach { r =>
            writeInfo(fs, new org.apache.hadoop.fs.Path(vd, "_version_info"),
              r.getLong(0), r.getString(1), r.getLong(2))
          }
          (n, b, a)
        } else {
          val obsIn = org.apache.spark.sql.Observation(
            s"graft-vpurge-in-$n-${java.util.UUID.randomUUID()}")
          val obsOut = org.apache.spark.sql.Observation(
            s"graft-vpurge-out-$n-${java.util.UUID.randomUUID()}")
          val cnt = count(lit(1)).as("n")
          Compaction.stagedParquetSwap(spark, vd.toString, "vpurge") { tmp =>
            // name=value partition layout is preserved exactly like
            // deleteWhere's rewrite — a rolled-back version must keep
            // the directory shape its readers and writers expect
            val partCols = Compaction.partitionColumns(fs, vd)
            // coalesce when it preserves sizing, repartition when the
            // caller asked for sub-split files — the deleteWhere rule
            // via [[Compaction.sizeSurvivors]]: a purge rewrite only
            // moves surviving rows, so shuffling the whole version for
            // file sizing is pure overhead
            val writer = Compaction.sizeSurvivors(
              vDf.observe(obsIn, cnt)
                .filter(!pred).observe(obsOut, cnt),
              parts, targetFileBytes)
              .write.mode("overwrite")
            (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
              .parquet(tmp)
            // carry the annotation sidecar: the purged version keeps
            // its tag/timestamp identity (an empty/unreadable crashed
            // sidecar is dropped, not propagated — same tolerance as
            // listVersions). Driver-side write — no Spark job.
            readInfoRow(spark, fs, infoPath)
              .filter(r => !r.isNullAt(1) && !r.isNullAt(2)).foreach { r =>
                writeInfo(fs,
                  new org.apache.hadoop.fs.Path(tmp, "_version_info"),
                  r.getLong(0), r.getString(1), r.getLong(2))
              }
          }
          (n, obsIn.get("n").asInstanceOf[Long], obsOut.get("n").asInstanceOf[Long])
        }
      }
    }
  }

  /** The retained versions as audit surfaces — one
    * (`v<n>`, readVersion frame, idCol) triple per version, ascending,
    * shaped for [[graft.verify.Comparator.absenceAudit]]'s surface
    * list: append these to the live + index surfaces and a takedown
    * audit covers history too (the TAKEDOWN CONTRACT's closing step).
    * Empty when the dataset is unversioned or retains nothing.
    */
  def versionSurfaces(
      spark: SparkSession,
      dir: String,
      idCol: String): Seq[(String, DataFrame, String)] = {
    val (fs, qualified) = hadoop(spark, dir)
    versionNumbers(fs, versionsRoot(qualified)).map { n =>
      (s"v$n", readVersion(spark, dir, n), idCol)
    }
  }

  /** Drop the oldest retained versions beyond `keepLast`. Returns the
    * version numbers deleted. The only destructive verb in the family —
    * and the only place version storage is reclaimed.
    */
  def vacuumVersions(spark: SparkSession, dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val (fs, qualified) = hadoop(spark, dir)
    val root = versionsRoot(qualified)
    val nums = versionNumbers(fs, root)
    val drop = if (nums.size <= keepLast) Seq.empty else nums.dropRight(keepLast)
    drop.foreach(n => fs.delete(versionDir(root, n), true))
    drop
  }
}
