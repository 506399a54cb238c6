package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSpec {

  private def freshCorpus(prefix: String, n: Int = 90): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString + "/corpus"
    (0 until n).map(i => (i.toLong, s"doc $i")).toDF("id", "v")
      .write.parquet(dir)
    dir
  }

  test("versioned rewrites: every maintenance verb archives its pre-state; time travel reads each") {
    import spark.implicits._
    val dir = freshCorpus("graft_snap")
    Snapshots.enableVersioning(spark, dir)
    assert(Snapshots.isVersioned(spark, dir))
    assert(Snapshots.listVersions(spark, dir).count() === 0L)

    // v1 <- original (delete archives it)
    Compaction.deleteWhere(spark, dir, col("id") % 3 === 0)
    // v2 <- post-delete (upsert archives it)
    val updates = Seq((1L, "REV 1"), (5000L, "NEW")).toDF("id", "v")
    Compaction.upsertParquet(spark, dir, updates, Seq("id"))
    // v3 <- post-upsert (compaction archives it, content-identical to live)
    Compaction.compactParquet(spark, dir)

    val versions = Snapshots.listVersions(spark, dir).collect()
    assert(versions.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(versions.map(_.getString(1)).toSeq === Seq("delete", "upsert", "compact"))
    assert(versions.forall(!_.isNullAt(2)))

    assert(Snapshots.readVersion(spark, dir, 1L).count() === 90L)
    val v2 = Snapshots.readVersion(spark, dir, 2L)
    assert(v2.count() === 60L)
    assert(v2.filter(col("v") === "REV 1").count() === 0L)
    val live = spark.read.parquet(dir)
    assert(live.count() === 61L)
    assert(live.filter(col("v") === "REV 1").count() === 1L)
    // v3 is the same rows as live, just pre-compaction files
    assert(Snapshots.readVersion(spark, dir, 3L).orderBy("id").collect().toSeq ===
      live.orderBy("id").collect().toSeq)
    // filters still push into an archived version's scan
    val plan = Snapshots.readVersion(spark, dir, 1L)
      .filter(col("id") === 7L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(id)"), plan)
  }

  test("rollbackTo: restores a snapshot, archives the pre-rollback live, and is itself reversible") {
    import spark.implicits._
    val dir = freshCorpus("graft_rb")
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") < 30) // v1 = original, live = 60 rows
    val archivedAs = Snapshots.rollbackTo(spark, dir, 1L)
    assert(archivedAs === 2L)
    // live is the original again; v1's slot emptied (it moved to live),
    // v2 is the pre-rollback 60-row state
    assert(spark.read.parquet(dir).count() === 90L)
    val nums = Snapshots.listVersions(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(nums === Seq(2L))
    assert(Snapshots.readVersion(spark, dir, 2L).count() === 60L)
    // the restored live carries no _version_info residue
    assert(!spark.read.parquet(dir).columns.contains("version"))
    // roll forward again: rollback is reversible
    Snapshots.rollbackTo(spark, dir, 2L)
    assert(spark.read.parquet(dir).count() === 60L)
    assert(Snapshots.readVersion(spark, dir, 3L).count() === 90L)
    // unknown version fails loudly, live untouched
    val e = intercept[IllegalArgumentException] {
      Snapshots.rollbackTo(spark, dir, 99L)
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
    assert(spark.read.parquet(dir).count() === 60L)
  }

  test("rollbackTo: idempotent across a mid-rename death — rerun completes the restore") {
    import spark.implicits._
    val dir = freshCorpus("graft_rbc")
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") < 30) // v1 = original
    // simulate death AFTER archiving live (as v2) but BEFORE installing
    // v1: live is gone, both versions on disk
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(path)
    val root = Snapshots.versionsRoot(q)
    assert(fs.rename(q, new org.apache.hadoop.fs.Path(root, "v=2")))
    // rerun: archive half skipped (live missing), install half runs
    Snapshots.rollbackTo(spark, dir, 1L)
    assert(spark.read.parquet(dir).count() === 90L)
    assert(Snapshots.listVersions(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("versioned swap crash state: old beside live archives as a -recovered version instead of refusing") {
    import spark.implicits._
    val dir = freshCorpus("graft_rec")
    Snapshots.enableVersioning(spark, dir)
    // simulate a death after install but before archive: a full copy
    // sits at __delete_old beside the live dataset
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(path)
    val old = new org.apache.hadoop.fs.Path(q.getParent, q.getName + "__delete_old")
    spark.read.parquet(dir).filter(col("id") < 10).write.parquet(old.toString)
    // on an UNVERSIONED dataset this state refuses (CompactionSpec) —
    // versioned, the next rewrite adopts the leftover as v1 and runs
    Compaction.deleteWhere(spark, dir, col("id") % 2 === 0)
    val versions = Snapshots.listVersions(spark, dir).collect()
    assert(versions.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(versions.map(_.getString(1)).toSeq === Seq("delete-recovered", "delete"))
    assert(Snapshots.readVersion(spark, dir, 1L).count() === 10L)
    assert(Snapshots.readVersion(spark, dir, 2L).count() === 90L)
    assert(spark.read.parquet(dir).count() === 45L)
  }

  test("diffVersions: deleted/updated/inserted labels across any two readable states") {
    import spark.implicits._
    val dir = freshCorpus("graft_diff")
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") < 10) // v1 = original
    Compaction.upsertParquet(spark, dir,
      Seq((20L, "REVISED"), (500L, "NEW")).toDF("id", "v"), Seq("id")) // v2 = post-delete
    val toLive = Snapshots.diffVersions(spark, dir, 1L, None, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(toLive === ((0L until 10L).map((_, "deleted")).toSet +
      ((20L, "updated")) + ((500L, "inserted"))))
    // between two snapshots: only the delete separates v1 from v2
    val v1v2 = Snapshots.diffVersions(spark, dir, 1L, Some(2L), Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v1v2 === (0L until 10L).map((_, "deleted")).toSet)
    // v2 → live: the upsert alone
    val v2Live = Snapshots.diffVersions(spark, dir, 2L, None, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(v2Live === Set((20L, "updated"), (500L, "inserted")))
  }

  test("vacuumVersions: drops oldest beyond keepLast; vacuumed versions fail loudly on read") {
    import spark.implicits._
    val dir = freshCorpus("graft_vac")
    Snapshots.enableVersioning(spark, dir)
    (1 to 4).foreach(i => Compaction.deleteWhere(spark, dir, col("id") === i.toLong))
    assert(Snapshots.listVersions(spark, dir).count() === 4L)
    val dropped = Snapshots.vacuumVersions(spark, dir, keepLast = 2)
    assert(dropped === Seq(1L, 2L))
    assert(Snapshots.listVersions(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(3L, 4L))
    val e = intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, dir, 1L)
    }
    assert(e.getMessage.contains("vacuumed or never made"), e.getMessage)
    // keepLast larger than retained = no-op
    assert(Snapshots.vacuumVersions(spark, dir, keepLast = 10) === Seq.empty)
  }

  test("crashed _version_info sidecar (exists but empty): listVersions lists unannotated, purgeVersions sweeps past it") {
    import spark.implicits._
    val dir = freshCorpus("graft_crashinfo")
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") < 10) // v1 = original 90 rows
    Compaction.deleteWhere(spark, dir, col("id") < 20) // v2 = 80 rows
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = Snapshots.versionsRoot(fs.makeQualified(path))
    // simulate a death between the sidecar dir's creation and its
    // part-file commit: v1's _version_info exists but holds nothing
    val info1 = new org.apache.hadoop.fs.Path(root, "v=1/_version_info")
    assert(fs.delete(info1, true) && fs.mkdirs(info1))
    val versions = Snapshots.listVersions(spark, dir).orderBy("version").collect()
    assert(versions.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(versions(0).isNullAt(1) && versions(0).isNullAt(2),
      "an unreadable sidecar must list like a missing one (tag/time null)")
    assert(versions(1).getString(1) === "delete")
    // the history purge crosses the crashed sidecar without dying and
    // does not fabricate an annotation for the rewritten version
    val res = Snapshots.purgeVersions(spark, dir, col("id") === 5L)
    assert(res === Seq((1L, 90L, 89L), (2L, -1L, -1L)))
    val after = Snapshots.listVersions(spark, dir).orderBy("version").collect()
    assert(after(0).isNullAt(1) && after(1).getString(1) === "delete")
    assert(Snapshots.readVersion(spark, dir, 1L).count() === 89L)
  }

  test("unversioned datasets keep the original contract: old copy deleted, no versions root appears") {
    import spark.implicits._
    val dir = freshCorpus("graft_unv")
    Compaction.deleteWhere(spark, dir, col("id") < 10)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(path)
    assert(!fs.exists(Snapshots.versionsRoot(q)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(q.getParent, q.getName + "__delete_old")))
    // versioning a missing dataset is a caller bug
    intercept[IllegalArgumentException] {
      Snapshots.enableVersioning(spark, dir + "_nope")
    }
  }

  test("purgeVersions: a takedown reaches history — matching rows leave every retained version, sidecars and clean versions survive") {
    import spark.implicits._
    val dir = freshCorpus("graft_vpurge")
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") % 3 === 0) // v1 = original
    Compaction.deleteWhere(spark, dir, col("id") % 5 === 0) // v2 = minus %3
    // takedown: id 7 — in live, v1 AND v2
    Compaction.deleteWhere(spark, dir, col("id") === 7L)    // v3 = pre-takedown
    // pre-purge: the r14 loophole — readVersion serves the deleted row
    assert(Snapshots.readVersion(spark, dir, 1L).filter(col("id") === 7L).count() === 1L)
    val results = Snapshots.purgeVersions(spark, dir, col("id") === 7L)
    assert(results.map(_._1) === Seq(1L, 2L, 3L))
    // each version had exactly one id=7 row; before − after == 1
    results.foreach { case (_, before, after) => assert(before - after === 1L) }
    // post-purge: no surface serves it — including every version
    (1L to 3L).foreach { v =>
      assert(Snapshots.readVersion(spark, dir, v).filter(col("id") === 7L).count() === 0L)
    }
    assert(spark.read.parquet(dir).filter(col("id") === 7L).count() === 0L)
    // everything else in each version is untouched
    assert(Snapshots.readVersion(spark, dir, 1L).count() === 89L)
    assert(Snapshots.readVersion(spark, dir, 2L).count() === 59L)
    // sidecars carried through the rewrite: tags/timestamps intact
    val versions = Snapshots.listVersions(spark, dir).collect()
    assert(versions.map(_.getString(1)).toSeq === Seq("delete", "delete", "delete"))
    assert(versions.forall(!_.isNullAt(2)))
    // a second sweep with no matches rewrites nothing: (-1, -1) markers
    // and byte-identical version directories
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = Snapshots.versionsRoot(fs.makeQualified(fsPath))
    def snapshotListing(): Seq[(String, Long)] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next(); b += ((f.getPath.toString, f.getModificationTime))
      }
      b.sortBy(_._1).toSeq
    }
    val filesBefore = snapshotListing()
    val noop = Snapshots.purgeVersions(spark, dir, col("id") === 7L)
    assert(noop === Seq((1L, -1L, -1L), (2L, -1L, -1L), (3L, -1L, -1L)))
    assert(snapshotListing() === filesBefore)
    // SQL DELETE semantics: NULL-evaluating rows survive the purge
    val dir2 = java.nio.file.Files.createTempDirectory("graft_vpnull").toString + "/c"
    Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("id", "v").write.parquet(dir2)
    Snapshots.enableVersioning(spark, dir2)
    Compaction.deleteWhere(spark, dir2, col("id") === 2L) // v1 = all three
    Snapshots.purgeVersions(spark, dir2, col("id") === 2L)
    val v1 = Snapshots.readVersion(spark, dir2, 1L).collect()
    assert(v1.length === 2) // null-id row SURVIVED, id=2 purged
    assert(v1.count(_.isNullAt(0)) === 1)
    // unversioned dataset: loud refusal, not a silent no-op
    val dir3 = freshCorpus("graft_vpunv")
    val e = intercept[IllegalArgumentException] {
      Snapshots.purgeVersions(spark, dir3, col("id") === 1L)
    }
    assert(e.getMessage.contains("not versioned"), e.getMessage)
  }

  test("purgeVersions crash states: mid-rewrite death recovers on rerun; residue beside a live version refuses; listVersions ignores residue names") {
    import spark.implicits._
    val dir = freshCorpus("graft_vpcrash")
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") % 2 === 0) // v1 = original (90 rows)
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = Snapshots.versionsRoot(fs.makeQualified(fsPath))
    val v1 = new org.apache.hadoop.fs.Path(root, "v=1")
    val residue = new org.apache.hadoop.fs.Path(root, "v=1__vpurge_old")
    // death between the install renames: v=1 missing, the only copy at
    // the __vpurge_old name
    assert(fs.rename(v1, residue))
    // the residue name never parses as a version
    assert(Snapshots.listVersions(spark, dir).count() === 0L)
    // rerun recovers the copy, then purges it
    val res = Snapshots.purgeVersions(spark, dir, col("id") === 4L)
    assert(res === Seq((1L, 90L, 89L)))
    assert(Snapshots.readVersion(spark, dir, 1L).count() === 89L)
    // residue BESIDE a live version is ambiguous: refuse
    spark.read.parquet(new org.apache.hadoop.fs.Path(root, "v=1").toString)
      .limit(5).write.parquet(residue.toString)
    val e = intercept[java.io.IOException] {
      Snapshots.purgeVersions(spark, dir, col("id") === 5L)
    }
    assert(e.getMessage.contains("refusing"), e.getMessage)
  }

  test("listVersions sizes + isStaleVersions: bytes/files per version feed the retention decision") {
    import spark.implicits._
    val dir = freshCorpus("graft_vsz")
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") < 30) // v1 = 90 rows
    Compaction.deleteWhere(spark, dir, col("id") < 60) // v2 = 60 rows
    val rows = Snapshots.listVersions(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val bytes = rows.map(r => r.getLong(r.fieldIndex("data_bytes")))
    val files = rows.map(r => r.getLong(r.fieldIndex("data_files")))
    assert(bytes.forall(_ > 0L) && files.forall(_ > 0L))
    // v1 holds more rows than v2 — more data bytes
    assert(bytes(0) > bytes(1))
    // retention signals: count threshold and byte threshold
    assert(Snapshots.isStaleVersions(spark, dir, maxVersions = 1))
    assert(!Snapshots.isStaleVersions(spark, dir, maxVersions = 2))
    assert(Snapshots.isStaleVersions(spark, dir, maxBytes = bytes.sum - 1))
    assert(!Snapshots.isStaleVersions(spark, dir, maxBytes = bytes.sum))
    // vacuum reclaims; the listing reflects it
    Snapshots.vacuumVersions(spark, dir, keepLast = 1)
    assert(!Snapshots.isStaleVersions(spark, dir, maxVersions = 1))
  }

  test("versionSurfaces: retained versions plug into absenceAudit as first-class surfaces") {
    import spark.implicits._
    val dir = freshCorpus("graft_vsurf")
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") === 7L) // v1 = original
    val probes = Seq(7L, 8L).toDF("id")
    // BEFORE the version purge: the audit over version surfaces
    // exposes the loophole — id 7 gone from live, still in v1
    val surfaces = Seq(("live", spark.read.parquet(dir), "id")) ++
      Snapshots.versionSurfaces(spark, dir, "id")
    assert(surfaces.map(_._1) === Seq("live", "v1"))
    val audit = graft.verify.Comparator.absenceAudit(probes, "id", surfaces)
      .orderBy("id").collect()
    assert(audit.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((7L, 0L, 1L), (8L, 1L, 1L)))
    // after the sweep the same audit reads zero residue
    Snapshots.purgeVersions(spark, dir, col("id") === 7L)
    val surfaces2 = Seq(("live", spark.read.parquet(dir), "id")) ++
      Snapshots.versionSurfaces(spark, dir, "id")
    val audit2 = graft.verify.Comparator.absenceAudit(probes, "id", surfaces2)
      .orderBy("id").collect()
    assert(audit2.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((7L, 0L, 0L), (8L, 1L, 1L)))
    // unversioned dataset: no surfaces, not an error
    val dir2 = freshCorpus("graft_vsurf2")
    assert(Snapshots.versionSurfaces(spark, dir2, "id").isEmpty)
  }

  test("purgeVersions preserves layout: partitioned versions keep their directory shape, z-ordered versions keep their clustering contract") {
    import spark.implicits._
    // ---- partitioned dataset
    val dir = java.nio.file.Files.createTempDirectory("graft_vpp").toString + "/c"
    (0 until 90).map(i => (i.toLong, s"doc $i", if (i % 2 == 0) "en" else "de"))
      .toDF("id", "v", "lang")
      .write.partitionBy("lang").parquet(dir)
    Snapshots.enableVersioning(spark, dir)
    Compaction.deleteWhere(spark, dir, col("id") % 9 === 0) // v1 = original
    Snapshots.purgeVersions(spark, dir, col("id") === 4L)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = Snapshots.versionsRoot(fs.makeQualified(p))
    val v1 = new org.apache.hadoop.fs.Path(root, "v=1")
    val subdirs = fs.listStatus(v1).filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(subdirs.contains("lang=en") && subdirs.contains("lang=de"),
      s"partition layout must survive the purge, got $subdirs")
    val rv1 = Snapshots.readVersion(spark, dir, 1L)
    assert(rv1.count() === 89L && rv1.columns.contains("lang"))
    assert(rv1.filter(col("id") === 4L).count() === 0L)
    // the tag sidecar survived too
    assert(Snapshots.listVersions(spark, dir).collect().head.getString(1) === "delete")

    // ---- z-ordered dataset: the version keeps _zorder_meta AND the
    // clustered read-back contract (pushdown plan gate, the ZOrder rule)
    val zdir = java.nio.file.Files.createTempDirectory("graft_vpz").toString + "/z"
    ZOrder.zorderWrite(
      (0 until 400).map(i => (i.toLong, (i * 37 % 400).toLong)).toDF("a", "b"),
      Seq("a", "b"), zdir, numFiles = 4)
    Snapshots.enableVersioning(spark, zdir)
    ZOrder.reclusterZorder(spark, zdir, numFiles = 2) // v1 = pre-recluster, z-ordered
    val res = Snapshots.purgeVersions(spark, zdir, col("a") < 10)
    assert(res === Seq((1L, 400L, 390L)))
    val zroot = Snapshots.versionsRoot(fs.makeQualified(
      new org.apache.hadoop.fs.Path(zdir)))
    val zv1 = new org.apache.hadoop.fs.Path(zroot, "v=1")
    assert(fs.exists(new org.apache.hadoop.fs.Path(zv1, "_zorder_meta")),
      "the purged z-ordered version must keep its clustering sidecar")
    assert(Snapshots.readVersion(spark, zdir, 1L).count() === 390L)
    // rollback restores a STILL-CLUSTERED dataset the zorder verbs accept
    Snapshots.rollbackTo(spark, zdir, 1L)
    ZOrder.deleteWhereZorder(spark, zdir, col("a") === 11L, numFiles = 2)
    assert(spark.read.parquet(zdir).count() === 389L)
  }

  test("zorder recluster rides the same contract: a versioned clustered dataset archives pre-recluster state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snapz").toString + "/z"
    ZOrder.zorderWrite(
      (0 until 400).map(i => (i.toLong, (i * 37 % 400).toLong)).toDF("a", "b"),
      Seq("a", "b"), dir, numFiles = 4)
    Snapshots.enableVersioning(spark, dir)
    ZOrder.reclusterZorder(spark, dir, numFiles = 2)
    val versions = Snapshots.listVersions(spark, dir).collect()
    assert(versions.length === 1)
    assert(versions.head.getString(1) === "zorder")
    assert(Snapshots.readVersion(spark, dir, 1L).count() === 400L)
    assert(spark.read.parquet(dir).count() === 400L)
  }

  test("_version_info tags round-trip: quote, backslash, newline, non-ASCII; older sidecars read back as before") {
    import spark.implicits._
    val dir = freshCorpus("graft_infotag", n = 4)
    Snapshots.enableVersioning(spark, dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = Snapshots.versionsRoot(fs.makeQualified(path))
    val tags = Seq("plain", "say \"hi\"", "C:\\tmp\\new", "two\nlines", "réécrit 版本 \u0001")
    tags.zipWithIndex.foreach { case (tag, i) =>
      val copy = new org.apache.hadoop.fs.Path(root.getParent, s"copy_$i")
      Seq((i.toLong, "x")).toDF("id", "v").write.parquet(copy.toString)
      Snapshots.archive(spark, fs, root, copy, tag)
    }
    def listedTags() = Snapshots.listVersions(spark, dir).collect().map(_.getString(1)).toSeq
    assert(listedTags() === tags)
    // a purge rewrites every matching version and carries its sidecar over
    Snapshots.purgeVersions(spark, dir, col("v") === "x")
    assert(listedTags() === tags)

    // sidecars written before the Jackson codec spliced the tag in raw;
    // they must keep reading back exactly as the old reader read them
    val legacy = """{"version":1,"tag":"a\b \n c","archived_at_ms":42}"""
    assert(Snapshots.parseInfo(legacy).map(_.toSeq) ===
      Some(Seq(1L, "a\\b \\n c", 42L)))
    val info = new org.apache.hadoop.fs.Path(root, "v=1/_version_info/info.json")
    val out = fs.create(info, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    assert(listedTags().head === "a\\b \\n c")
    // torn files stay unannotated
    assert(Snapshots.parseInfo("""{"format":2,"version":1,"tag":"x""") === None)
    assert(Snapshots.parseInfo("""{"format":2,"version":1,"archived_at_ms":3}""") === None)
    assert(Snapshots.parseInfo("") === None)
  }
}
