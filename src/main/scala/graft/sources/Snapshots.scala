package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Version directories with an atomically swapped pointer — the storage
  * primitive under every manifested table ([[PartitionSnapshots]]). Each
  * partition of a manifested table, and the single implicit partition of
  * an unpartitioned one (rel `""`, at the table root), is laid out as:
  *
  * {{{
  *   <dir>/_versions/v00000001/  ← immutable data slot (parquet)
  *   <dir>/_versions/v00000002/
  *   <dir>/_current              ← tiny pointer file, atomically swapped
  * }}}
  *
  * A slot becomes committed when it carries `_SUCCESS`; a crashed write
  * leaves an unsealed dir no reader serves and [[vacuum]] collects. The
  * pointer is a read cache for partition-level readers: the table's
  * commit point is its root manifest ([[PartitionSnapshots]]), which
  * names each partition's slot, so every write — partitioned or not —
  * goes through one commit route ([[graft.operators.Upsert]]). A
  * whole-table `_versions` table written before that route existed is a
  * zero-column manifested table whose marker has not been written yet:
  * it reads as manifested, and its next commit writes the marker, moving
  * no data.
  */
object Snapshots {

  private val VersionsDir = "_versions"
  private val Pointer = "_current"

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vName(v: Long) = f"v$v%08d"

  private[graft] def versionPath(table: String, v: Long) =
    s"$table/$VersionsDir/${vName(v)}"

  private val VersionName = "^v(\\d{8,})$".r

  /** Committed versions, ascending: version dirs with a _SUCCESS marker
    * (a crashed write has none and is invisible; in-flight `.staging-*`
    * dirs don't match the version-name shape at all). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val dir = new Path(s"$table/$VersionsDir")
    val f = fs(spark, dir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => f.exists(new Path(p, "_SUCCESS")))
      .flatMap(p => VersionName.findFirstMatchIn(p.getName).map(_.group(1).toLong))
      .toSeq.sorted
  }

  /** The pointer's version, or (pointer missing/corrupt — e.g. a reader
    * racing the swap) the newest complete snapshot. */
  def currentVersion(spark: SparkSession, table: String): Option[Long] =
    pointedVersion(spark, table).orElse(versions(spark, table).lastOption)

  /** The pointer FILE's version only — None when the pointer is absent
    * or mid-swap, with NO newest-slot fallback. Callers that must never
    * confuse staged slots for the published state (branch-aware layers)
    * use this and choose their own fallback. */
  private[graft] def pointedVersion(spark: SparkSession,
                                    table: String): Option[Long] = {
    val p = new Path(table, Pointer)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else try {
      val in = f.open(p)
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      val v = s.stripPrefix("v").toLong
      if (f.exists(new Path(versionPath(table, v)))) Some(v) else None
    } catch { case _: Exception => None }
  }

  /** Every version directory, committed or not — crashed writes (no
    * _SUCCESS) still occupy their number, so the next commit must skip
    * them rather than collide with ErrorIfExists and wedge the table. */
  private[graft] def allVersionDirs(spark: SparkSession, table: String): Seq[Long] = {
    val dir = new Path(s"$table/$VersionsDir")
    val f = fs(spark, dir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).filter(_.isDirectory)
      .flatMap(s => VersionName.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toLong)).toSeq.sorted
  }

  /** True when `table` has a root-level `_versions` dir — the data slots
    * of an unpartitioned table, marked manifested or not yet. */
  private[sources] def isVersioned(spark: SparkSession, table: String): Boolean = {
    val dir = new Path(s"$table/$VersionsDir")
    fs(spark, dir).exists(dir)
  }

  /** Atomically publish a sealed version: after the pointer swap every
    * new pointer read resolves to `v`; readers mid-scan on the previous
    * version keep their (immutable) files. */
  private[graft] def publish(spark: SparkSession, table: String, v: Long): Unit = {
    val cur = new Path(table, Pointer)
    CommitIo.current.swapPointer(fs(spark, cur), cur,
      vName(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Read the current snapshot (time travel: pass `asOf`). Current reads
    * skip the existence re-check: [[currentVersion]] already validated the
    * pointed dir, and re-listing here would only widen the window in which
    * a racing commit+vacuum could invalidate the answer. A pinned version
    * stays scannable as long as the retention policy keeps it — the same
    * reader-vs-expiration contract as Iceberg's expire_snapshots. */
  def read(spark: SparkSession, table: String, asOf: Long = -1L): DataFrame = {
    val v =
      if (asOf > 0) asOf
      else currentVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(s"no committed snapshot at $table"))
    if (asOf > 0)
      require(versions(spark, table).contains(v),
        s"snapshot v$v does not exist at $table (have ${versions(spark, table)})")
    spark.read.parquet(versionPath(table, v))
  }

  /** Repoint the table at an older snapshot (instant, nothing rewritten —
    * later versions remain until `vacuum`). */
  def rollback(spark: SparkSession, table: String, v: Long): Unit = {
    require(versions(spark, table).contains(v),
      s"cannot roll back to missing snapshot v$v at $table")
    publish(spark, table, v)
  }

  /** Delete all snapshots except the current one and the newest
    * `keep`−1 others (plus any orphan dirs from crashed writes). */
  def vacuum(spark: SparkSession, table: String, keep: Int = 2,
             extraKeep: Set[Long] = Set.empty): Unit = {
    require(keep >= 1, "vacuum must keep at least the current snapshot")
    val cur = currentVersion(spark, table).getOrElse(return)
    val all = versions(spark, table)
    val keepSet = (all.filter(_ != cur).takeRight(keep - 1) :+ cur)
      .toSet ++ extraKeep
    val dir = new Path(s"$table/$VersionsDir")
    val f = fs(spark, dir)
    f.listStatus(dir).filter(_.isDirectory)
      .filter(st => !keepSet.map(vName).contains(st.getPath.getName))
      // a fresh .staging-* dir may belong to a concurrent TTL-expired
      // stager that hasn't aborted yet — deleting it mid-write would turn
      // its clean lease-abort into an IO error; collect only cold ones
      .filter(st => VersionName.findFirstMatchIn(st.getPath.getName).nonEmpty ||
        System.currentTimeMillis() - st.getModificationTime > 15 * 60 * 1000L)
      .foreach(st => f.delete(st.getPath, true))
  }
}
