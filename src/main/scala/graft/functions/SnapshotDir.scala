package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MANIFEST-COMMITTED snapshot versioning — the one on-disk format of
  * every persisted index and model table that flows through the
  * [[Dedup.snapshotFiles]] / [[Dedup.appendParquet]] /
  * [[Dedup.overwriteParquet]] / [[Dedup.rewriteParquetDir]]
  * chokepoints. Each table is versioned from its first write: a save
  * commits its files as v1, and every later append, rewrite or model
  * retrain commits v+1.
  *
  *  - Layout: data files live under the dir (a save's files at the
  *    root, each later write in its own `seg-<uuid>/` subdirectory);
  *    `_manifests/v<seq>.list` files each hold one committed snapshot —
  *    the dir-relative paths of exactly the data files that version
  *    reads.
  *  - COMMIT is a temp-write + rename of one manifest file — all-or-
  *    nothing on any rename-atomic filesystem. Data files are invisible
  *    until their manifest lands, so a crash mid-write leaves orphan
  *    files (reclaimed by [[gc]]), never a broken table. Atomicity by
  *    filesystem class: HDFS and local POSIX renames are atomic and
  *    fail on an existing target (the exists-then-rename pair below is
  *    belt-and-braces there); object stores (S3-class) have NO atomic
  *    rename — rename is copy+delete and the exists check races — so a
  *    deployment on one must replace [[commit]]'s rename with the
  *    store's conditional put (if-none-match / precondition on the
  *    manifest key), which is the same one-object commit point. The
  *    manifest design is what makes that swap local: commit touches
  *    exactly one small file, everything else is immutable data.
  *  - READERS pin the newest committed manifest. Appends and rewrites
  *    never delete a file an older manifest references, so an open
  *    DataFrame keeps materializing after any later append or
  *    compaction, and a load never races a writer (there is no swap —
  *    a rewrite is new files plus one manifest rename). Only expiring
  *    old versions can invalidate a reader, and only one pinned to an
  *    expired version: [[gc]], which the delete verbs run with
  *    `keepVersions = 1` so that deleted rows are physically gone.
  *  - WRITERS stay single per index (the maintenance contract): the
  *    version sequence is allocated by listing, so two concurrent
  *    committers could race to the same number — the rename of an
  *    existing target fails loudly on sane filesystems, and the contract
  *    says don't.
  *  - A table dir written by a plain parquet write (no `_manifests/`)
  *    is not readable through the chokepoints; [[enable]] upgrades it
  *    in place, its current files becoming v1.
  */
object SnapshotDir {

  private def manifestDir(dir: String) = new Path(dir, "_manifests")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether `dir` has been [[enable]]d (has a manifest directory). */
  def isVersioned(spark: SparkSession, dir: String): Boolean = {
    val fs = fsOf(spark, dir)
    fs.exists(manifestDir(dir))
  }

  private val ManifestName = "v(\\d{12})\\.list".r

  private def committedManifests(fs: FileSystem,
      dir: String): Seq[(Long, Path)] = {
    val md = manifestDir(dir)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(n) => Some((n.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** The newest committed snapshot: (version, ABSOLUTE data-file paths).
    * None if the dir is not versioned. */
  def latest(spark: SparkSession,
      dir: String): Option[(Long, Seq[String])] = {
    val fs = fsOf(spark, dir)
    committedManifests(fs, dir).lastOption.map { case (v, p) =>
      (v, readManifest(fs, p).map(rel => new Path(dir, rel).toString))
    }
  }

  /** All committed version numbers, oldest first. */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    committedManifests(fsOf(spark, dir), dir).map(_._1)

  /** TIME TRAVEL: the ABSOLUTE data-file paths of a specific committed
    * version (within [[gc]] retention) — re-running yesterday's probe
    * against yesterday's index state is how a training-data pipeline
    * reproduces a decision after the index has moved on. Fails loudly
    * on an unknown/expired version. */
  def filesAt(spark: SparkSession, dir: String,
      version: Long): Seq[String] = {
    val fs = fsOf(spark, dir)
    val p = committedManifests(fs, dir).collectFirst {
      case (v, path) if v == version => path
    }.getOrElse(throw new IllegalArgumentException(
      s"no committed version $version at $dir — expired by gc, or never " +
        s"committed (have: ${versions(spark, dir).mkString(", ")})"))
    val files = readManifest(fs, p).map(rel => new Path(dir, rel).toString)
    // same contract as the latest-version read path (Dedup.snapshotFiles):
    // an empty pinned snapshot (the versioned-from-birth v1) is a legal
    // WRITE state but has no parquet schema source — name it instead of
    // the opaque zero-path schema-inference error downstream
    require(files.nonEmpty,
      s"versioned table at $dir: pinned snapshot v$version is empty — " +
        "append before the first time-travel load (versioned-from-birth " +
        "dirs are append-first)")
    files
  }

  private def readManifest(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Commit `relFiles` (dir-relative) as the next version after
    * `prevVersion`. Temp-write + rename — the atomic commit point. */
  private def commit(fs: FileSystem, dir: String, prevVersion: Long,
      relFiles: Seq[String]): Long = {
    val md = manifestDir(dir)
    fs.mkdirs(md)
    val v = prevVersion + 1
    val tmp = new Path(md, f".tmp-v$v%012d-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(relFiles.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val target = new Path(md, f"v$v%012d.list")
    if (fs.exists(target) || !fs.rename(tmp, target)) {
      // don't leak the staged manifest on a failed commit — [[gc]] also
      // sweeps any .tmp-* a crash BEFORE this point left behind
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"snapshot commit of version $v at $dir failed — a concurrent " +
          "writer? the single-maintenance-writer contract was violated")
    }
    v
  }

  /** Commit the data files currently at the root of `dir` as v1: the
    * second half of every save ([[Dedup.saveParquet]]), the bootstrap
    * of an append onto an absent dir ([[Dedup.appendParquet]] — an
    * absent or empty dir versions as an EMPTY v1, whose first append
    * commits v2), and the in-place upgrade of a table a plain parquet
    * write left without manifests. An empty v1 is writable but not
    * readable — parquet has no schema source until the first append
    * lands, so a load/compact before it fails loudly
    * ([[Dedup.snapshotFiles]] names this state). Calling on an
    * already-versioned dir fails loudly (the manifest history is the
    * source of truth — re-baselining it would orphan pinned readers). */
  def enable(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    require(!isVersioned(spark, dir), s"$dir is already versioned")
    val p = new Path(dir)
    val files =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.getName)
    commit(fs, dir, 0L, files)
  }

  /** Append `df` as a new snapshot version: the batch lands in its own
    * `seg-<uuid>/` subdirectory (invisible until the manifest commits),
    * and vN+1 = vN ∪ the segment's files. */
  def commitAppend(spark: SparkSession, dir: String, df: DataFrame): Unit = {
    val (prevV, prevFiles) = latestOrFail(spark, dir)
    commit(fsOf(spark, dir), dir, prevV,
      prevFiles.map(relativize(dir, _)) ++ writeSegment(dir, df))
  }

  /** Replace the table's content with `df` as a new snapshot version
    * (the compaction/delete/model-retrain path): new segment + a
    * manifest listing ONLY it. `df` is written with the partitioning it
    * has — callers choose the file count. Old versions' files stay on
    * disk for pinned readers until [[gc]]. */
  def commitRewrite(spark: SparkSession, dir: String, df: DataFrame): Unit = {
    val (prevV, _) = latestOrFail(spark, dir)
    commit(fsOf(spark, dir), dir, prevV, writeSegment(dir, df))
  }

  private def latestOrFail(spark: SparkSession,
      dir: String): (Long, Seq[String]) =
    latest(spark, dir).getOrElse(
      throw new IllegalStateException(s"$dir is not versioned"))

  /** Write `df` into a fresh `seg-<uuid>/` subdirectory of `dir`; the
    * segment's dir-relative data-file paths, not yet committed. */
  private def writeSegment(dir: String, df: DataFrame): Seq[String] = {
    val seg = s"seg-${java.util.UUID.randomUUID}"
    val segPath = new Path(dir, seg)
    df.write.mode("overwrite").parquet(segPath.toString)
    fsOf(df.sparkSession, dir).listStatus(segPath).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(p => s"$seg/${p.getName}")
  }

  private def relativize(dir: String, abs: String): String = {
    val base = new Path(dir).toUri.getPath.stripSuffix("/")
    val p = new Path(abs).toUri.getPath
    require(p.startsWith(base + "/"),
      s"manifest file $abs is not under $dir")
    p.stripPrefix(base + "/")
  }

  /** EXPIRE old snapshots: keep the newest `keepVersions` manifests,
    * delete the rest, then delete every data file (and emptied segment
    * dir) no surviving manifest references. The retention window is the
    * one remaining reader hazard: a DataFrame pinned to an expired
    * version loses its files (a deterministic file-not-found at
    * materialization — SnapshotDirSpec pins it) — size `keepVersions`
    * to cover the longest reader. For an index-backed STREAM that is
    * the longest trigger interval: a micro-batch loads the index at
    * trigger start and may materialize it until the batch commits, and
    * every maintenance verb advances one version, so keepVersions must
    * exceed the maximum maintenance commits per trigger interval (+1
    * for the pinned base). [[gc]] is a maintenance verb under the
    * single-writer contract like compaction. */
  def gc(spark: SparkSession, dir: String, keepVersions: Int = 2): Unit = {
    require(keepVersions >= 1)
    val fs = fsOf(spark, dir)
    val manifests = committedManifests(fs, dir)
    require(manifests.nonEmpty, s"$dir is not versioned")
    val (drop, keep) = manifests.splitAt(
      math.max(0, manifests.size - keepVersions))
    val live: Set[String] =
      keep.flatMap { case (_, p) => readManifest(fs, p) }.toSet
    drop.foreach { case (_, p) => fs.delete(p, false) }
    // stale staged manifests: a commit that crashed between temp-write
    // and rename leaves a .tmp-* here that nothing else reclaims
    fs.listStatus(manifestDir(dir)).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(".tmp-"))
        fs.delete(st.getPath, false)
    }
    // root data files
    fs.listStatus(new Path(dir)).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") && !live.contains(name))
        fs.delete(st.getPath, false)
      else if (st.isDirectory && name.startsWith("seg-")) {
        fs.listStatus(st.getPath).foreach { f =>
          val rel = s"$name/${f.getPath.getName}"
          if (!live.contains(rel)) fs.delete(f.getPath, true)
        }
        if (fs.listStatus(st.getPath).isEmpty) fs.delete(st.getPath, false)
      }
    }
  }
}
