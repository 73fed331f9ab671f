package graft.api

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned directory with atomic manifest swaps — the storage mechanic
  * shared by [[ParquetIndexStore]] (document indexes) and the ANN index
  * writes (bucket/cell-partitioned layouts,
  * [[graft.ops.SimilaritySearch.lshIndexWrite]] / `ivfIndexWrite`).
  *
  * Layout under `root`:
  * {{{
  *   root/v00001/…            immutable version directories (any layout,
  *   root/v00002/…            including partitionBy subdirs)
  *   root/_FLIP_v00002        install markers: atomic-created AFTER the
  *                            version's data is complete, never mutated;
  *                            active version = newest marker with a dir
  *   root/v00002.deltas/…     delta sidecars of v00002 (see [[appendDelta]])
  * }}}
  *
  * This is the only layout: a root that holds bare `.parquet` files and no
  * version directory is not a versioned root, and every operation that
  * lists the root fails on it with an `IllegalStateException` instead of
  * reading those files or installing a version beside them.
  *
  * Guarantees:
  *  - readers: a reader that resolved a version keeps reading its files;
  *    `keepVersions` versions are retained (default 2 = current + previous),
  *    so a reader at most one rebuild behind always completes. Longer-lived
  *    readers need a larger `keepVersions` (reader-lease is the caller's
  *    contract).
  *  - writers: the next version NAME is reserved via an atomic marker-file
  *    create, so two racing writers can never write into the same version
  *    directory (no clobber). Installation is one atomic marker create per
  *    version — nothing shared is deleted or renamed, so racing flips
  *    resolve to the numerically NEWEST installed version in every
  *    interleaving. A read-modify-write sequence (e.g. upsert) still needs
  *    single-writer discipline for SEMANTIC atomicity — that is the
  *    documented contract.
  */
final class VersionedDir(spark: SparkSession, val root: String, keepVersions: Int = 2) {
  require(keepVersions >= 1, "keepVersions must be >= 1")

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val rootPath = new Path(root)

  /** One read of the root's state: a single `listStatus(root)` gives the
    * active version and the modification time of its install marker, and a
    * single `listStatus(<v>.deltas)` gives its delta sidecars.
    * [[currentVersion]], [[currentDir]], [[listDeltas]] and [[exists]] are
    * all derived from it, so callers that hold one snapshot see one
    * consistent state.
    *
    * Active version resolution, newest-installed-wins: the highest-numbered
    * `_FLIP_v*` marker whose version dir still exists. Markers are written
    * by ATOMIC CREATE after the version's data is complete and are NEVER
    * overwritten or renamed, so there is no window in which two writers can
    * regress each other (the delete+rename single-manifest scheme this
    * replaces had an unfixable check-then-act race). A root where no
    * version was ever installed resolves to its newest version dir (a crash
    * between the first data write and its marker create — the data is
    * complete at that point); once any version is installed, a dir without
    * a marker never shadows it.
    */
  def snapshot: VersionedDir.Snapshot = {
    val entries = listRoot()
    val byName = entries.map(s => s.getPath.getName -> s).toMap
    val dirs = versionsIn(entries)
    val marked = byName.keys.filter(_.matches("_FLIP_v\\d+")).map(_.drop("_FLIP_".length))
      .filter(dirs.contains).toSeq.sortBy(_.drop(1).toLong).lastOption
    marked.orElse(dirs.lastOption) match {
      case None => VersionedDir.Snapshot(None, 0L, Seq.empty)
      case Some(v) =>
        // the marker's mtime tells a re-created version apart from the one
        // it replaced: clear() + rebuild installs `v00001` again
        val stamp = byName.getOrElse(s"_FLIP_$v", byName(v)).getModificationTime
        val deltas = if (byName.get(s"$v.deltas").exists(_.isDirectory)) deltasOf(v) else Seq.empty
        VersionedDir.Snapshot(Some(new Path(rootPath, v).toString), stamp, deltas)
    }
  }

  def currentVersion: Option[String] = snapshot.version

  /** Absolute path of the active version directory. */
  def currentDir: Option[String] = snapshot.dir

  /** Version names, NUMERICALLY sorted (v\d+ of any width — "v%05d" is only
    * a cosmetic default; past v99999 names grow a digit and lexicographic
    * order would misorder them).
    */
  def listVersions: Seq[String] = versionsIn(listRoot())

  /** The root's entries (none when it does not exist), from one listing.
    * Throws on a root that holds bare parquet files and no version.
    */
  private def listRoot(): Seq[org.apache.hadoop.fs.FileStatus] = {
    val entries =
      try fs.listStatus(rootPath).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    if (versionsIn(entries).isEmpty &&
        entries.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(s"$root holds bare parquet files and no version " +
        "directory; it is not a versioned root")
    entries
  }

  private def versionsIn(entries: Seq[org.apache.hadoop.fs.FileStatus]): Seq[String] =
    entries.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).sortBy(_.drop(1).toLong)

  def exists: Boolean = snapshot.exists

  /** Atomically claim a version or delta name: an atomic create of a marker
    * file fails on collision, so a concurrent writer moves on to the next
    * number instead of writing into the same directory.
    *
    * On HDFS-like filesystems `create(overwrite = false)` is atomic, but the
    * LOCAL filesystem implements it as a non-atomic exists-then-create — two
    * racing writers could both "win" the same marker and clobber one
    * version. Local paths therefore go through NIO `Files.createFile`
    * (O_CREAT|O_EXCL — a true atomic claim).
    */
  private def atomicCreate(f: FileSystem, p: Path): Boolean = f match {
    case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
      try { java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    case other =>
      try other.createNewFile(p)
      catch { case _: java.io.IOException => false }
  }

  /** Claim the first free name `format(n)`, n >= `first`, in `dir` by
    * atomic-creating its `.reserve_<name>` marker — the one claim
    * mechanism for version numbers and delta sequence numbers.
    */
  private def reserve(f: FileSystem, dir: Path, first: Long, format: String): String = {
    var n = first
    var attempts = 0
    while (attempts < 10000) {
      val name = format.format(n)
      if (atomicCreate(f, new Path(dir, s".reserve_$name"))) return name
      n += 1; attempts += 1
    }
    throw new IllegalStateException(s"could not reserve a name under $dir")
  }

  /** Write a new version via `write(versionDirPath)`, install its flip
    * marker, prune versions beyond `keepVersions`. The active data is never
    * deleted mid-swap. A crash between data write and marker create leaves
    * the PREVIOUS installed version active (the written-but-unmarked dir is
    * simply never resolved); only a first, never-installed root falls back
    * to newest-dir resolution.
    */
  def replaceWith(write: String => Unit): Unit = {
    val f = fs
    f.mkdirs(rootPath)
    // the marker is NOT deleted on success — it guards its number until the
    // version is pruned. Deleting it early would let a racing writer that
    // computed a stale next-number re-claim an existing version dir.
    val next = reserve(f, rootPath,
      listVersions.lastOption.map(_.drop(1).toLong).getOrElse(0L) + 1, "v%05d")
    try write(new Path(rootPath, next).toString)
    catch { case e: Throwable =>
      // remove the partial version dir so the no-manifest newest-wins
      // fallback can never resolve to a half-written version; the burned
      // marker just makes the next writer skip this number
      f.delete(new Path(rootPath, next), true)
      throw e
    }
    // install = one ATOMIC CREATE of this version's own marker file. No
    // shared manifest is ever deleted or renamed, so concurrent writers
    // cannot regress each other: resolution ([[currentVersion]]) picks the
    // newest installed marker deterministically, whatever order flips land
    // in. (The previous single-file delete+rename had a check-then-act
    // window in which a slow older writer could overwrite a newer one's
    // manifest — unfixable without filesystem compare-and-swap.)
    require(atomicCreate(f, new Path(rootPath, s"_FLIP_$next")) ||
        f.exists(new Path(rootPath, s"_FLIP_$next")),
      s"could not install flip marker for $root/$next")
    listVersions.dropRight(keepVersions).foreach { v =>
      f.delete(new Path(rootPath, v), true)
      f.delete(new Path(rootPath, s"$v.deltas"), true) // sidecars die with their base
      f.delete(new Path(rootPath, s"_FLIP_$v"), false) // marker dies with its version
      f.delete(new Path(rootPath, s".reserve_$v"), false)
    }
  }

  def deleteAll(): Unit = {
    val f = fs
    if (f.exists(rootPath)) f.delete(rootPath, true)
  }

  // ------- delta sidecars: O(batch) appends beside the ACTIVE version -------
  //
  // Layout: root/<version>.deltas/d00000001/… — immutable, sequence-numbered
  // delta directories belonging to ONE base version ("v\d+\.deltas" does not
  // match the version regex, so they are invisible to listVersions). A new
  // base version starts with zero deltas; pruning a version prunes its
  // sidecars. Writes land in a dot-prefixed temp dir and RENAME into place,
  // so a reader listing deltas never sees a half-written one. How deltas
  // merge with the base (shadowing, tombstones) is the CALLER's semantics —
  // this class only provides the atomic append + listing.

  private def deltaRoot(version: String) = new Path(rootPath, s"$version.deltas")

  /** Sequence-numbered delta dirs of the ACTIVE version, oldest first. A
    * `_kind` suffix on the dir name tags the delta's merge semantics for
    * the caller (unsuffixed dirs read back as kind "put" — the original
    * replace-touched-keys kind, so pre-kind layouts stay readable).
    */
  def listDeltas: Seq[VersionedDir.DeltaRef] = snapshot.deltas

  private def deltasOf(version: String): Seq[VersionedDir.DeltaRef] =
    fs.listStatus(deltaRoot(version)).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.matches("d\\d+(_[a-z]+)?"))
      .map { p =>
        val (num, kind) = p.getName.drop(1).split("_", 2) match {
          case Array(n)    => (n.toLong, "put")
          case Array(n, k) => (n.toLong, k)
        }
        VersionedDir.DeltaRef(num, kind, p.toString)
      }
      .sortBy(_.seq)

  /** Append one delta beside the active version via `write(tmpDir)`; the
    * temp dir renames into its final sequence-numbered name on success.
    * The sequence number is reserved like a version number, so racing
    * appends get distinct numbers and temp dirs and none is lost; a
    * read-modify-write over deltas still needs a single writer (same as
    * replaceWith).
    */
  def appendDelta(write: String => Unit, kind: String = "put"): Unit = {
    require(kind.matches("[a-z]+"), s"delta kind must be lowercase letters: $kind")
    val snap = snapshot
    val v = snap.version.getOrElse(
      throw new IllegalStateException(s"no base version to append a delta to under $root"))
    val f = fs
    val dr = deltaRoot(v)
    f.mkdirs(dr)
    val seqName = reserve(f, dr, snap.deltas.lastOption.map(_.seq).getOrElse(0L) + 1, "d%08d")
    val name = seqName + (if (kind == "put") "" else s"_$kind")
    val tmp = new Path(dr, s".tmp_$seqName")
    f.delete(tmp, true) // a crashed writer's leftover; the number is ours now
    try write(tmp.toString)
    catch { case e: Throwable => f.delete(tmp, true); throw e }
    // a local-FS rename onto an existing dir moves tmp INSIDE it and succeeds
    val dest = new Path(dr, name)
    require(!f.exists(dest), s"delta $root/$v.deltas/$name already exists")
    require(f.rename(tmp, dest), s"delta rename failed for $root/$v.deltas/$name")
  }
}

object VersionedDir {
  /** One delta sidecar of a base version: its sequence number (merge order),
    * its merge-semantics kind ("put" replace-touched-keys / "add" old-wins
    * insert / "del" tombstones — interpreted by the caller), and its path.
    */
  final case class DeltaRef(seq: Long, kind: String, path: String)

  /** What one listing of a versioned root resolved: the active version
    * directory (None when no version exists), the modification time of its
    * install marker, and its delta sidecars. Two snapshots of an unchanged
    * root are equal; every write — a new version, a new delta, or clear()
    * followed by a rebuild that reuses a version name — yields a different
    * one, so a snapshot is a safe key for anything resolved from it.
    */
  final case class Snapshot(dir: Option[String], stamp: Long, deltas: Seq[DeltaRef]) {
    def exists: Boolean = dir.isDefined
    def version: Option[String] = dir.map(d => new Path(d).getName)
  }

  /** Resolve a versioned root to its active version dir; a root with no
    * version resolves to itself, so reading it fails the way reading a
    * missing path does. Readers pin the resolved CONCRETE version dir, so a
    * concurrent `replaceWith` cannot pull files out from under a plan built
    * from the resolved path (within `keepVersions` rebuilds).
    */
  def resolve(spark: SparkSession, root: String): String =
    new VersionedDir(spark, root).currentDir.getOrElse(root)

  /** Read an underscore-prefixed side table (`_centroids`/`_codebooks`/…)
    * by its DATA FILES' exact paths: pointing `spark.read.parquet` at the
    * `_`-prefixed directory itself trips Spark's hidden-path filter and
    * logs "All paths were ignored" on EVERY read — hundreds of WARN lines
    * per bench run across the quantized-index tiers. Listing the part
    * files and handing Spark concrete file paths reads the same data
    * silently (the `_` filter applies to path basenames; plain
    * `part-*.parquet` names pass).
    */
  def readSide(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = if (f.exists(p)) f.listStatus(p) else Array.empty[org.apache.hadoop.fs.FileStatus]
    // FLAT-LAYOUT CONTRACT: side tables are written as a single directory
    // of part files (coalesce(1), no partitionBy) — this helper lists only
    // immediate plain files, so a PARTITIONED side table (subdirectories)
    // would silently fall back to the directory read and reintroduce the
    // hidden-path WARN flood this exists to avoid. Fail loudly instead.
    val subdirs = status.filter(s => s.isDirectory && !s.getPath.getName.startsWith("_")
      && !s.getPath.getName.startsWith("."))
    require(subdirs.isEmpty,
      s"readSide($dir): side tables must be written flat (no partitionBy); " +
      s"found subdirectories: ${subdirs.map(_.getPath.getName).mkString(", ")}")
    val files = status.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
    }.map(_.getPath.toString)
    // empty/missing dir: fall through to the directory read so the caller
    // gets Spark's usual unable-to-infer-schema error, not a new one
    if (files.isEmpty) spark.read.parquet(dir)
    else spark.read.parquet(files.toIndexedSeq: _*)
  }
}
