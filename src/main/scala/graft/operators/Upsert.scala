package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Keyed upsert over Parquet directories — the engine's replacement for the
  * reference's Iceberg `MERGE INTO` (reference:
  * spark_jobs/gcs_bronze_to_silver.py:469-490 and the 12 MERGEs in
  * spark_jobs/gcs_silver_to_gold.py).
  *
  * Plan shape (all declarative — Catalyst chooses broadcast vs shuffle):
  *   merged = dedup(source) ∪ (target ⟕anti source on keys)
  *
  * Scale design:
  *   - `MERGE` semantics are last-write-wins on the key set; both legs are a
  *     single shuffle on the key columns (or a broadcast when the source
  *     micro-batch is small — the common streaming case, which AQE picks up
  *     automatically).
  *   - With `partitionBy`, only partitions present in the source (or
  *     holding a matched key) are rewritten, mirroring Iceberg's
  *     partition-level commit: a daily micro-batch touching 2 dates
  *     rewrites 2 partitions of a 100 TB table, not the table.
  *   - Without `partitionBy`, the table is ONE implicit partition (rel
  *     `""`, its slots at the table root): a keyed merge rewrites it
  *     whole, an insert-only merge fast-appends only the new keys' rows.
  *
  * Every commit — partitioned or not, merge, append or [[replace]] — goes
  * through per-partition manifests ([[graft.sources.PartitionSnapshots]]):
  * each touched partition's new data is sealed into a new immutable
  * version slot and ONE root manifest swap publishes the whole commit, so
  * a reader sees the table before or after it, never a half-rewritten
  * partition — the Iceberg `MERGE INTO` snapshot commit — while untouched
  * partitions are never copied, listed or repointed. Old versions are
  * retained (`retainVersions`) for in-flight readers and time travel,
  * then vacuumed — the same reader-vs-expiration contract as Iceberg's
  * expire_snapshots. A legacy flat table, or a whole-table `_versions`
  * table from before the one route, migrates on its next commit with
  * zero IO (its flat files, or its current slot, become the partition's
  * first state).
  * Read through [[read]], not `spark.read.parquet(path)`: the data lives
  * in hidden `_`-prefixed dirs a plain parquet scan ignores —
  * deliberately: stale flat files would silently serve OLD data, an
  * error is the honest failure.
  */
object Upsert {

  /** A second writer hit a live single-writer lease (see [[upsert]]'s
    * `lockTtlMs`): the table is mid-merge by someone else. Retry after the
    * holder commits, or raise the TTL if the holder is just slow. */
  final class ConcurrentWriteException(msg: String)
    extends IllegalStateException(msg)

  /** An optimistic commit ([[upsertOptimistic]] /
    * [[graft.sources.PartitionSnapshots.fastForwardRoot]] with
    * `rebase = true`) found that another writer changed a partition this
    * commit also touches since its base snapshot — retrying would
    * silently discard the winner's rows (lost update). Re-derive the
    * source from the current table state and re-submit. */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** Default single-writer lease TTL: generous enough for any one merge,
    * short enough that a crashed writer doesn't wedge the table for long. */
  val DefaultLockTtlMs: Long = 15 * 60 * 1000L

  /** Versions kept per partition after each commit (current + 3 prior): a
    * reader that pinned a version stays valid until 3 further commits
    * land — at any realistic merge cadence, orders of magnitude longer
    * than a scan. Raise it for long-running readers; never below 1. */
  val DefaultRetainVersions: Int = 4

  private def lockPath(path: String) = new Path(path + "__lock")

  /** In-process lease registry: (canonical lock path → owning token).
    * Hadoop's local-FS `create(overwrite = false)` is check-then-create,
    * NOT atomic — two THREADS of one JVM racing [[acquireLock]] can both
    * "win" the file and interleave commits (the exact shape of two
    * optimistic appenders in a local[*] session). This map makes the
    * in-JVM half of the acquisition a real CAS; the lease FILE remains
    * the cross-process half (atomic on HDFS/object-store committers,
    * best-effort on a shared local FS — the documented trade). */
  private val jvmLeases =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-lock-key monitors serializing the WHOLE in-JVM acquire (CAS +
    * lease-file ops): the stale-TTL takeover's delete+create region is
    * non-atomic on a local FS, and two same-JVM threads could otherwise
    * both pass the CAS in sequence (B wins the entry, C replaces B's
    * entry while the FILE is still stale) and then race the file
    * takeover — both "winning" create. One monitor per key makes the
    * takeover single-threaded per process; cross-process atomicity
    * remains the lease file's (documented) trade. Bounded: one entry
    * per table path ever locked by this JVM. */
  private val lockMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockKey(spark: SparkSession, path: String): String = {
    val lp = lockPath(path)
    fs(spark, lp).makeQualified(lp).toUri.toString
  }

  /** Acquire the single-writer lease for the table at `path`, or throw
    * [[ConcurrentWriteException]]. The reference runs one Airflow task per
    * table per day — a contract that lived only in documentation; this
    * turns it into a checked invariant so an overlapping second writer
    * fails LOUDLY instead of corrupting the staged swap.
    *
    * Mechanics: atomic create-if-absent of a sibling `path__lock` file
    * (sibling, not child — the table dir itself is renamed during the
    * swap). A lock older than `ttlMs` is presumed crashed and taken over.
    * On HDFS/object-store committers create(overwrite=false) is atomic;
    * on the local FS it is the same check-and-create Hadoop's own commit
    * protocol relies on — adequate for the one-job-at-a-time deployments
    * this guards. */
  private[graft] def acquireLock(spark: SparkSession, path: String,
                                 ttlMs: Long): String = {
    val lp = lockPath(path)
    val f = fs(spark, lp)
    // Unique ownership token stamped INTO the lease file. Release and the
    // pre-swap ownership check compare against it, so a writer whose merge
    // outlived the TTL (and whose lease was legitimately taken over by a
    // successor) can neither delete the successor's lease on its way out
    // nor perform the destructive swap — without the token, the stale
    // writer's finally-release would silently re-open the table to a THIRD
    // writer while the successor is mid-swap.
    val token =
      s"pid=${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID()}"
    def lockAge(): Long =
      try System.currentTimeMillis() - f.getFileStatus(lp).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MaxValue }
    // in-JVM CAS first: among this process's threads exactly one wins
    // (the file create below is NOT atomic on a local FS). The whole
    // acquire — CAS and file ops — runs under the key's monitor, so the
    // stale-TTL takeover's delete+create region is single-threaded per
    // process (see [[lockMonitors]]).
    val key = lockKey(spark, path)
    lockMonitors.computeIfAbsent(key, _ => new Object).synchronized {
      val prev = jvmLeases.putIfAbsent(key, token)
      if (prev != null) {
        // entry WITHOUT a lease file = a holder mid-acquire (the gap
        // between its CAS and its create is live, never stale) — only an
        // entry whose FILE aged past the TTL is a crashed-holder takeover
        val age = lockAge()
        if (age == Long.MaxValue || age < ttlMs)
          throw new ConcurrentWriteException(
            s"upsert: table $path is locked by another writer in this " +
              s"process (lease $lp, TTL ${ttlMs / 1000}s)")
        if (!jvmLeases.replace(key, prev, token))
          throw new ConcurrentWriteException(
            s"upsert: lost in-process takeover race for stale lease $lp")
      }
      def tryCreate(): Boolean =
        graft.sources.CommitIo.current.createExclusive(f, lp,
          s"$token ts=${System.currentTimeMillis()}\n"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try {
        if (!tryCreate()) {
          val ageMs = lockAge()
          if (ageMs < ttlMs)
            throw new ConcurrentWriteException(
              s"upsert: table $path is locked by another writer " +
                s"(lease $lp is ${ageMs / 1000}s old, TTL ${ttlMs / 1000}s)")
          f.delete(lp, false) // stale: holder crashed past TTL; take over
          if (!tryCreate())
            throw new ConcurrentWriteException(
              s"upsert: lost takeover race for stale lease $lp")
        }
      } catch {
        case t: Throwable => jvmLeases.remove(key, token); throw t
      }
    }
    token
  }

  /** The token currently stamped in the lease file, or None if absent. */
  private def currentToken(spark: SparkSession, path: String): Option[String] = {
    val lp = lockPath(path)
    val f = fs(spark, lp)
    try {
      val in = f.open(lp)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      content.split("\\s+").headOption.filter(_.nonEmpty)
    } catch { case _: java.io.IOException => None }
  }

  /** Throw if this writer no longer holds the lease — called immediately
    * before each visible commit (pointer or root-manifest swap), so
    * a TTL takeover during a slow merge aborts the old writer instead of
    * letting two writers interleave renames on the same directory. */
  private[graft] def assertHeld(spark: SparkSession, path: String,
                                token: String): Unit = {
    val held = currentToken(spark, path)
    if (!held.contains(token))
      throw new ConcurrentWriteException(
        s"upsert: lease for $path was taken over mid-merge " +
          s"(held=${held.getOrElse("<gone>")}, mine=$token); aborting before " +
          "the commit — this writer exceeded the lock TTL")
  }

  /** Delete the lease ONLY if `token` still owns it: releasing
    * unconditionally would let a TTL-expired writer's finally-block delete
    * its successor's live lease. */
  private[graft] def releaseLock(spark: SparkSession, path: String,
                                 token: String): Unit = {
    val lp = lockPath(path)
    // entry BEFORE file (inverse of acquire): deleting the file first
    // would leave an entry-present/file-missing window another thread
    // misreads as a holder mid-acquire ("never stale") and refuses on
    // — a spurious conflict on an unheld lock
    jvmLeases.remove(lockKey(spark, path), token)
    if (currentToken(spark, path).contains(token))
      fs(spark, lp).delete(lp, false)
  }

  /** Iceberg's `write.target-file-size-bytes`, for the STAGED hive
    * writes behind every commit flavor. With the session conf
    * `graft.write.targetFileSizeBytes` set (> 0), a staged write is
    * (1) repartitioned BY its partition columns — a dir's rows land in
    * ONE task, so the write produces one file per dir instead of one
    * per (task × dir), the 65k-tiny-file seed shape the round-12 drill
    * measured at ~85% of seed wall time (per-file writer init, not the
    * committer) — and (2) rolled at `maxRecordsPerFile` = target /
    * bytes-per-row, so a single big dir still splits at the byte
    * target: total file count = Σ_dirs ⌈dir bytes / target⌉.
    * Bytes-per-row comes from `graft.write.bytesPerRowHint` when set,
    * else from ONE bounded sampled parquet write measured once per
    * call. The knob UNSET means the write is untouched (no added
    * shuffle): small-commit latency and spec-pinned file layouts keep
    * their exact behavior — the knob is the bulk-ingest/seed switch a
    * 100 TB backfill flips on. */
  private[graft] def packForWrite(spark: SparkSession, df: DataFrame,
                                  partitionCols: Seq[String])
      : (DataFrame, Option[Long]) = {
    val target = spark.conf.getOption("graft.write.targetFileSizeBytes")
      .map(_.toLong).getOrElse(0L)
    if (target <= 0 || partitionCols.isEmpty) (df, None)
    else {
      val bpr = spark.conf.getOption("graft.write.bytesPerRowHint")
        .map(_.toLong).filter(_ > 0)
        .getOrElse(measureBytesPerRow(spark, df))
      val maxRecs = math.max(1L, target / math.max(1L, bpr))
      (df.repartition(partitionCols.map(
        org.apache.spark.sql.functions.col): _*), Some(maxRecs))
    }
  }

  /** Measured (not guessed) bytes-per-row: ONE ≤20k-row sample written
    * as parquet and sized from the files themselves — dictionary and
    * encoding effects included, which a schema-defaultSize estimate
    * misses by multiples on text-heavy corpora. */
  private def measureBytesPerRow(spark: SparkSession, df: DataFrame): Long = {
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_bpr")
    val tmp = new Path(tmpRoot.toString, "sample")
    val f = fs(spark, tmp)
    try {
      df.limit(20000).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      val files = f.listStatus(tmp)
        .filter(_.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val rows = spark.read.parquet(tmp.toString).count()
      if (rows <= 0L) 64L else math.max(1L, bytes / rows)
    } finally f.delete(new Path(tmpRoot.toString), true)
  }

  /** `df.write` with the pack applied — shared by every staging site. */
  private[graft] def packedWriter(spark: SparkSession, df: DataFrame,
                                  partitionCols: Seq[String],
                                  mode: SaveMode)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val (packed, maxRecs) = packForWrite(spark, df, partitionCols)
    val w = packed.write.mode(mode)
    maxRecs.foreach(n => w.option("maxRecordsPerFile", n))
    w
  }

  /** Deterministic per-key winner among duplicate source rows: the row
    * with the greatest xxhash64 of its non-key columns. dropDuplicates
    * keeps an arbitrary partition-order-dependent row, which would make
    * replayed merges (and the driver's hash checks) nondeterministic. */
  private[graft] def dedupSource(source: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number, xxhash64}
    val nonKey = source.columns.filterNot(keys.contains)
    if (nonKey.isEmpty) source.dropDuplicates(keys)
    else {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(xxhash64(nonKey.toIndexedSeq.map(col): _*).desc)
      source.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }
  }

  /** In-memory merge (pure plan; no IO) — the algebra of MERGE as DataFrames.
    * `insertOnly=true` is the reference's WHEN NOT MATCHED INSERT-only
    * variant for link tables (gcs_bronze_to_silver.py:485-490). */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
            insertOnly: Boolean = false): DataFrame = {
    val src = dedupSource(source, keys)
    if (insertOnly) target.unionByName(src.join(target, keys, "left_anti"))
    else src.unionByName(target.join(src, keys, "left_anti"))
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tableExists(spark: SparkSession, path: String): Boolean =
    fs(spark, new Path(path)).exists(new Path(path))

  /** Read an Upsert-maintained table: a manifested table (every table an
    * upsert has committed to, partitioned or not) resolves its root
    * manifest to immutable version dirs (never racing a writer); a legacy
    * flat table no upsert has migrated yet falls through to a plain
    * parquet read. This is THE read path for upsert tables — a raw
    * `spark.read.parquet(path)` on a manifested table sees no current
    * data (it lives under hidden `_versions/`). */
  def read(spark: SparkSession, path: String): DataFrame =
    if (graft.sources.PartitionSnapshots.isManifested(spark, path))
      graft.sources.PartitionSnapshots.read(spark, path)
    else spark.read.parquet(path)

  /** [[read]] that answers None instead of throwing when the table is
    * absent, empty, or has no committed version yet. */
  def readOption(spark: SparkSession, path: String): Option[DataFrame] =
    if (!tableExists(spark, path)) None
    else if (graft.sources.PartitionSnapshots.isManifested(spark, path))
      graft.sources.PartitionSnapshots.readOption(spark, path)
    // a flat dir with no readable footers (an aborted empty write left
    // only _SUCCESS behind) would throw at schema inference
    else try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Additive schema evolution (the Iceberg mergeSchema analogue): align
    * target and source to the union of their columns, NULL-filling the
    * side that lacks one. Column TYPE changes are rejected loudly — a
    * silent cast would corrupt 100 TB before anyone noticed. Because the
    * merge replaces whole rows, a matched key whose source row lacks a
    * target-only column reads NULL afterwards (document-replace semantics,
    * not per-column UPDATE SET). */
  private def align(target: DataFrame, src: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, lit}
    val tf = target.schema.fields.map(f => f.name -> f.dataType).toMap
    val sf = src.schema.fields.map(f => f.name -> f.dataType).toMap
    val conflicts = tf.keySet.intersect(sf.keySet).filter(c => tf(c) != sf(c))
    require(conflicts.isEmpty,
      s"upsert schema evolution: type change not supported for ${conflicts.toSeq.sorted}")
    val outCols = target.schema.fieldNames ++
      src.schema.fieldNames.filterNot(tf.contains)
    def conform(df: DataFrame, have: Map[String, org.apache.spark.sql.types.DataType],
                other: Map[String, org.apache.spark.sql.types.DataType]) =
      df.select(outCols.toIndexedSeq.map(c =>
        if (have.contains(c)) col(c) else lit(null).cast(other(c)).as(c)): _*)
    (conform(target, tf, sf), conform(src, sf, tf))
  }

  /** Upsert `source` into the Parquet table at `path` on `keys`. An empty
    * source is a no-op (a micro-batch of only-invalid rows must not clobber
    * the table with an unreadable empty directory). With `evolveSchema`,
    * new source columns are added to the table (see [[align]]); without it
    * a schema drift fails the merge loudly (the reference's fixed-DDL
    * behavior).
    *
    * `audit` (write-audit-publish, partitioned tables only) runs against
    * the complete would-be post-merge snapshot BEFORE anything is
    * published and must return an [[Expectations.check]]-style report
    * with a `passed` column. Any failed rule aborts the commit with
    * [[graft.sources.PartitionSnapshots.AuditFailedException]] and the
    * table stays byte-for-byte unchanged. */
  def upsert(spark: SparkSession, path: String, source: DataFrame,
             keys: Seq[String], insertOnly: Boolean = false,
             partitionCols: Seq[String] = Nil,
             evolveSchema: Boolean = false,
             lockTtlMs: Long = DefaultLockTtlMs,
             retainVersions: Int = DefaultRetainVersions,
             audit: Option[DataFrame => DataFrame] = None,
             branch: Option[String] = None): Unit = {
    require(audit.isEmpty || partitionCols.nonEmpty,
      "upsert: audit (write-audit-publish) requires partitionCols")
    require(branch.isEmpty || partitionCols.nonEmpty,
      "upsert: branch commits need partitionCols")
    require(branch.isEmpty || audit.isEmpty,
      "upsert: pass audit OR branch — a branch IS the multi-commit " +
        "audit staging (validate with readBranch, then fastForwardRoot)")
    val src0 = dedupSource(source, keys)
    if (src0.isEmpty) return
    val token = acquireLock(spark, path, lockTtlMs)
    try upsertLocked(spark, path, src0, keys, insertOnly, partitionCols,
      evolveSchema, token, retainVersions, audit, branch)
    finally releaseLock(spark, path, token)
  }

  /** OPTIMISTIC multi-writer upsert — Iceberg's commit retry loop for
    * writers touching DISJOINT partitions. [[upsert]] fails fast on a
    * live lease (the reference's one-job-per-table contract); this
    * variant instead (1) WAITS for the lease with bounded backoff, then
    * (2) under the lease, VALIDATES its touched-partition set against
    * everything committed since `baseVersion` (the snapshot this
    * writer's source logically derives from — defaults to the head at
    * call time) and (3) commits rebased onto the new head. Two daily
    * jobs landing different dates of one table both commit, in a
    * linearizable root chain; a writer whose partitions OVERLAP a
    * winning commit throws [[CommitConflictException]] LOUDLY —
    * retrying it blindly would document-replace keys the winner just
    * updated (lost update), so the caller must re-derive its source
    * from the current state first.
    *
    * Conflict granularity is the partition (Iceberg's
    * validation-by-partition for overwrite commits): a changed rel
    * conflicts when its dir segments agree with ANY touched partition
    * tuple on the rel's own columns — covering current-spec rels
    * (exact match) and retired-spec parents (prefix match) alike; a
    * changed rel whose layout is incomparable to this writer's spec is
    * treated as a conflict rather than proven disjoint. Manifested
    * tables only: the root-manifest history is what validation reads
    * (two metadata resolutions, zero data files). */
  def upsertOptimistic(spark: SparkSession, path: String, source: DataFrame,
                       keys: Seq[String],
                       partitionCols: Seq[String],
                       insertOnly: Boolean = false,
                       evolveSchema: Boolean = false,
                       baseVersion: Option[Long] = None,
                       maxWaitMs: Long = 120000L,
                       lockTtlMs: Long = DefaultLockTtlMs,
                       retainVersions: Int = DefaultRetainVersions): Unit = {
    import graft.sources.PartitionSnapshots
    require(partitionCols.nonEmpty,
      "upsertOptimistic: partitionCols required (conflicts validate at " +
        "partition granularity)")
    require(PartitionSnapshots.isManifested(spark, path),
      s"upsertOptimistic: $path is not a manifested table — the root " +
        "manifest history is what commit validation reads")
    val base = baseVersion.orElse(
      PartitionSnapshots.currentRootVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(
        s"upsertOptimistic: no committed root at $path"))
    val src0 = dedupSource(source, keys)
    if (src0.isEmpty) return
    // bounded lease wait: the winner is seconds away from its
    // metadata-speed commit — spin with backoff instead of failing fast
    val token = acquireLockWaiting(spark, path, lockTtlMs, maxWaitMs)
    try {
      val head = PartitionSnapshots.currentRootVersion(spark, path).get
      if (head != base) {
        val changed =
          PartitionSnapshots.changedPartitions(spark, path, base, head)
        import org.apache.spark.sql.functions.col
        // partitions THIS merge rewrites: the source's own target
        // partitions, plus (for keyed merges) the partitions its matched
        // keys currently live in — the same bounded per-touched-partition
        // collect the merge itself performs
        val srcC = PartitionSnapshots.applyTransforms(spark, path, src0)
        // the base-snapshot leg resolves manifests and partition version
        // dirs at the writer's base root; retention racing this writer
        // can expire either between the head check and here. That is a
        // RETRYABLE conflict (re-read, re-derive, re-submit), not
        // corruption — surface it as the conflict contract, never a bare
        // missing-version/missing-file error the caller can't classify.
        def baseExpired(t: Throwable): Boolean = t != null && (
          t.isInstanceOf[java.io.FileNotFoundException] ||
          t.isInstanceOf[IllegalArgumentException] &&
            String.valueOf(t.getMessage).contains("does not exist") ||
          baseExpired(t.getCause))
        def orConflict[A](body: => A): A =
          try body catch {
            case t: Throwable if baseExpired(t) =>
              throw new CommitConflictException(
                s"upsertOptimistic: base snapshot v$base at $path expired " +
                  "mid-validation (retention reaped it); re-read the " +
                  s"current table state and retry — cause: ${t.getMessage}")
          }
        val touchedDf = orConflict {
          val own = srcC.select(partitionCols.map(col): _*).distinct()
          if (insertOnly) own
          else {
            // same stats-pruned matched-key lookup as the merge itself:
            // only partitions whose bounds can contain a source key are
            // constructed and scanned for the conflict validation
            def matchedLeg(asOf: Long): DataFrame = {
              val root = PartitionSnapshots.resolveRoot(spark, path, asOf)
              PartitionSnapshots.scan(spark, root,
                  PartitionSnapshots.keyPredicate(spark, root.schema,
                    keys.filterNot(partitionCols.contains), srcC),
                  hidden = true)
                .map(_.join(srcC.select(keys.map(col): _*).distinct(),
                  keys, "left_semi")
                  .select(partitionCols.map(col): _*).distinct())
                .getOrElse(own.limit(0))
            }
            // lookup at BOTH ends of the validation interval: the head
            // alone would miss a key the winner DELETED (or moved away)
            // from a partition this writer's stale-derived source still
            // updates — no current-state match, commit proceeds, the
            // winner's delete is silently undone. Locating the key at
            // the writer's BASE snapshot puts its old partition in the
            // touched set, where the winner's change to it conflicts —
            // serializable validation (Iceberg's delete-conflict check),
            // not just snapshot isolation.
            own.unionByName(matchedLeg(head)).unionByName(matchedLeg(base))
              .distinct()
          }
        }
        val tupleSegs = PartitionSnapshots.partitionSegments(partitionCols,
          orConflict(touchedDf.collect().toSeq))
        val overlap = changed.filter(rel =>
          !PartitionSnapshots.relCols(rel).forall(partitionCols.contains) ||
            holdsTuple(rel, tupleSegs)) // unprovable → conflict
        if (overlap.nonEmpty)
          throw new CommitConflictException(
            s"upsertOptimistic: another writer changed " +
              s"${overlap.size} partition(s) this merge also touches " +
              s"since base v$base (head v$head): " +
              s"${overlap.sorted.take(8).mkString(", ")} — re-derive the " +
              "source from the current table state and re-submit")
        // disjoint: the ordinary locked merge against the CURRENT head
        // IS the rebase — staged slots land on top of the winner's root
      }
      upsertLocked(spark, path, src0, keys, insertOnly, partitionCols,
        evolveSchema, token, retainVersions)
    } finally releaseLock(spark, path, token)
  }

  private def upsertLocked(spark: SparkSession, path: String, src0: DataFrame,
                           keys: Seq[String], insertOnly: Boolean,
                           partitionCols: Seq[String],
                           evolveSchema: Boolean, token: String,
                           retainVersions: Int,
                           audit: Option[DataFrame => DataFrame] = None,
                           branch: Option[String] = None): Unit = {
    import graft.sources.PartitionSnapshots
    // zero-IO migration (a legacy flat or whole-table `_versions` table
    // gets its marker; nothing moves until each partition's first
    // commit) — and the one layout guard: the marker's partition columns
    // must be the caller's, partitioned or not
    prepareCommit(spark, path, partitionCols)
    // readers of a touched partition keep their pinned immutable version;
    // each touched partition keeps only its file-scoped survivors, and one
    // that lost every row publishes an EMPTY version instead of a
    // reader-visible delete
    def commitMerged(df: DataFrame, touched: Set[String],
                     survivors: Map[String, PartitionSnapshots.Parts] =
                       Map.empty): Unit =
      PartitionSnapshots.stageThen(spark, path, token, df,
          partitionCols) { staging =>
        PartitionSnapshots.commitStaged(spark, path, Some(staging),
          partitionCols, retainVersions,
          touched.map(rel => rel -> survivors.getOrElse(rel, Nil)).toMap,
          schema = Some(df.schema), branch = branch, audit = audit)
      }
    // hidden-partitioning: derive any transform dir columns the caller's
    // frame cannot know about — computed once here at write time, hidden
    // again by every public read (no-op for untransformed tables)
    val srcT = PartitionSnapshots.applyTransforms(spark, path, src0)
    // the target line's root (a branch merge targets the BRANCH head,
    // never main), resolved ONCE for the whole plan (before the table's
    // first root commit: its on-disk states). Its manifest drives the
    // metadata-only existence probe, the stats-pruned key lookup, and the
    // file-scoped planner; `base` is None without a root
    val root = PartitionSnapshots.resolveRoot(spark, path, branch = branch)
    val base: Option[Map[String, String]] = root.version.map(_ => root.entries)
    if (!root.entries.values.exists(PartitionSnapshots.stateHasData)) {
      commitMerged(srcT, Set.empty)
      return
    }
    // LAZY full-table frame: merely CONSTRUCTING a multi-path DataFrame
    // eagerly lists every data file (~2 s at 1k partitions, ~29 s at
    // 65k files — PLANS round-11 drill). Manifested fast paths answer
    // from metadata + pruned partition reads and never force this;
    // schema evolution, unpartitioned rewrites, and non-prunable keys
    // still do.
    lazy val existing = PartitionSnapshots.scan(spark, root, hidden = true)
    // schema evolution must inspect and conform the real frame — it
    // forces the listing; every other path defers
    val aligned = if (evolveSchema) Some(align(existing.get, srcT)) else None
    lazy val target: DataFrame = aligned.map(_._1).getOrElse(existing.get)
    val src = aligned.map(_._2).getOrElse(srcT)
    import org.apache.spark.sql.functions.{broadcast, col}
    // the full ROW schema without constructing the frame: the pinned
    // union schema (data columns) + promoted spec columns + partition
    // columns as the SOURCE types them (the writer's own types — dir
    // values re-render identically). Exactly the shape readEntries
    // serves. Falls back to the real frame when nothing is pinned.
    val targetSchema: org.apache.spark.sql.types.StructType =
      if (evolveSchema || base.isEmpty) target.schema
      else PartitionSnapshots.mergeReadSchema(spark, root, src.schema,
        partitionCols).getOrElse(target.schema)
    def emptyTarget: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], targetSchema)
    // computed ONCE; reused by the stats-pruned lookup here, the
    // insert-only anti-join, and the file-scoped planner below (the
    // shared exclusion builder runs small src aggregates + a bounded
    // ≤100k distinct-key collect — see PartitionSnapshots.keyExclusion).
    // An unpartitioned table rewrites its one partition whole: key
    // pruning would only add the exclusion's key-collect job. None also
    // means all-NULL or non-ASCII keys.
    val keyPred: Option[PartitionSnapshots.PartStats => Boolean] =
      if (partitionCols.isEmpty) None
      else PartitionSnapshots.keyPredicate(spark, Some(targetSchema),
        keys.filterNot(partitionCols.contains), src)
    // STATS-PRUNED matched-key lookup: the semi/anti-join that finds
    // matched keys is the dominant cost of a small MERGE into a big
    // table (measured: ~29 s of a 29 s single-key merge at 65k files —
    // PLANS round-11 drill; construction alone lists every file).
    // Partitions whose manifest key bounds PROVABLY exclude every
    // source key cannot hold a match — construct a frame over only the
    // remainder. Margin-safe by construction: the exclusion predicates
    // are the file-scoped planner's own (ulp margins, ASCII-only
    // strings), a partition with ABSENT stats is always kept, and a
    // pruned-to-nothing lookup just means a pure-insert batch (an
    // EMPTY schema-typed frame — never a full listing).
    lazy val lookupTarget: DataFrame = keyPred.filter(_ => base.nonEmpty)
      .map(p => PartitionSnapshots.scan(spark, root, Some(p), hidden = true)
        .getOrElse(emptyTarget))
      .getOrElse(target)
    if (insertOnly && audit.isEmpty) {
      // WHEN NOT MATCHED INSERT is a fast APPEND: only the genuinely-new
      // keys' rows are staged and sealed as new version parts — no
      // touched partition is rewritten, commit cost is O(new rows)
      // however large the partitions already are. The anti-join runs
      // against the stats-PRUNED frame: a key living in an excluded
      // partition cannot match, so it survives the anti-join exactly as
      // it would against the full table. No emptiness probe: a batch of
      // only known keys stages nothing (or one empty file) and the
      // append commit skips it.
      PartitionSnapshots.stageThen(spark, path, token,
          src.join(lookupTarget, keys, "left_anti"), partitionCols) { staging =>
        PartitionSnapshots.commitStaged(spark, path, Some(staging),
          partitionCols, retainVersions, schema = Some(src.schema),
          branch = branch)
      }
      return
    }
    PartitionSnapshots.requireNoTimestampPartitions("upsert", targetSchema,
      partitionCols)
    def mkMerged(affected: DataFrame): DataFrame =
      if (insertOnly) affected.unionByName(src.join(affected, keys, "left_anti"))
      else src.unionByName(affected.join(src, keys, "left_anti"))
    if (partitionCols.isEmpty) {
      // the one implicit partition is the touched set: no touched-
      // partition collect, no zero-column semi-join
      commitMerged(mkMerged(target), Set(""))
      return
    }
    // Partition-scoped rewrite. Touched partitions = partitions the
    // source writes into ∪ partitions where a matched key currently
    // lives — without the second leg a key whose partition value changes
    // (e.g. an article's corrected publish date) would survive in its
    // old partition as a duplicate. Finding matched keys scans only the
    // key+partition columns of the (stats-pruned) target, the same key
    // lookup an Iceberg MERGE performs.
    val touched = src.select(partitionCols.map(col): _*).distinct()
      .unionByName(lookupTarget
        .join(src.select(keys.map(col): _*).distinct(), keys, "left_semi")
        .select(partitionCols.map(col): _*).distinct())
      .distinct()
    val tupleSegs = PartitionSnapshots.partitionSegments(partitionCols,
      touched.collect().toSeq)
    val touchedDirs = tupleSegs.map(m => partitionCols.map(m).mkString("/")).toSet
    // partitions under RETIRED specs (the table's partition spec was
    // evolved): a manifest rel whose own layout is a proper prefix of
    // the current spec may hold matched keys. Its intersecting files
    // rewrite (re-staged under the NEW spec — Iceberg's lazy
    // migration); the rest survive in place.
    val legacyTouched: Set[String] = base.map(_.collect {
      case (rel, state) if state != "EMPTY" &&
        PartitionSnapshots.relCols(rel) != partitionCols &&
        PartitionSnapshots.relCols(rel).forall(partitionCols.contains) &&
        holdsTuple(rel, tupleSegs) => rel
    }.toSet).getOrElse(Set.empty)
    val allTouched = touchedDirs ++ legacyTouched
    // FILE-SCOPED MERGE (Iceberg file-level rewrite): within each
    // touched partition only the files whose manifest-recorded key
    // bounds can contain a source key are read and rewritten; the
    // rest survive as file-scoped state tokens — their bytes, paths,
    // and mtimes untouched. Engaged when the key predicate exists — a
    // NUMERIC key (interval + point-set tests, ulp-margin-safe) or a
    // STRING one (the reference's sha-256 hex IDs: footer bounds are
    // exact-or-widened and pure-ASCII bounds compare byte-identically
    // on both sides) — and the commit isn't a WAP audit (which
    // validates whole would-be snapshots). Falls back to the
    // whole-partition rewrite otherwise. A table with retired-spec
    // partitions ALWAYS routes through the path-explicit planner (a
    // nothing-excluded predicate without a usable key predicate):
    // old-spec rows are read from their own dirs and re-staged under
    // the current spec, never left behind.
    val fileScoped = base.flatMap { bm =>
      keyPred.filter(_ => audit.isEmpty)
        .orElse(if (legacyTouched.nonEmpty) Some((_: Any) => false) else None)
        .map(pred => PartitionSnapshots.planFileScoped(spark, path, bm,
          allTouched, pred, Some(targetSchema)))
    }
    fileScoped match {
      case Some((survivors, rewriteDf)) =>
        commitMerged(mkMerged(rewriteDf.getOrElse(emptyTarget)), allTouched,
          survivors)
      case None =>
        commitMerged(mkMerged(target.join(broadcast(touched), partitionCols,
          "left_semi")), allTouched)
    }
  }

  /** Whether manifest rel `rel` can hold a row of one of the partition
    * tuples in `tuples` ([[PartitionSnapshots.partitionSegments]]): its
    * dir segments agree with the tuple on the rel's OWN columns — an
    * exact match for a current-spec rel, a prefix match for a retired-spec
    * parent of a partition-spec evolution. */
  private def holdsTuple(rel: String,
                         tuples: Seq[Map[String, String]]): Boolean = {
    val segs = rel.split("/").toSeq.zip(
      graft.sources.PartitionSnapshots.relCols(rel))
    tuples.exists(m => segs.forall { case (seg, c) => m.get(c).contains(seg) })
  }

  /** Migrate the table at `path` to the manifested layout keyed by
    * `partitionCols` (zero IO; refuses a table keyed otherwise) and clear
    * a crashed writer's cold staging roots. Call under the lease. */
  private def prepareCommit(spark: SparkSession, path: String,
                            partitionCols: Seq[String]): Unit = {
    graft.sources.PartitionSnapshots.ensureManifested(spark, path, partitionCols)
    graft.sources.PartitionSnapshots.cleanupStaging(spark, path)
  }

  /** APPEND `df` to the manifested table at `path` — O(new data), the
    * Iceberg fast-append: the staged partitions seal into NEW version
    * slots and each touched partition's manifest state becomes the
    * union of its prior parts and the new one; no existing file is
    * read, rewritten or listed (contrast [[upsert]], which must rewrite
    * touched partitions to honor key semantics). The ingest primitive
    * for log-style facts: a streaming micro-batch's commit cost is its
    * own data + one root delta, however large the partition already is.
    * No key dedup is applied — use `upsert(insertOnly = true)` for
    * MERGE WHEN NOT MATCHED semantics (which routes through this same
    * append commit on manifested tables). With `evolveSchema`, new
    * columns pin the evolved union schema; existing rows read them as
    * NULL. An empty `df` is a no-op.
    *
    * `txn = Some((appId, version))` makes the append IDEMPOTENT per
    * writer (Delta's txnAppId/txnVersion, Iceberg's snapshot summary):
    * the commit stamps `graft.txn.<appId> → version` into the root
    * manifest's props, and — under the same writer lease, so
    * race-free — an append whose version is ≤ the highest already
    * committed for that appId is SKIPPED. The exactly-once handle for
    * streaming redelivery: a foreachBatch retry re-runs with the same
    * batch id and commits nothing twice
    * ([[graft.streaming.Streams.manifestedAppendStream]]). */
  def append(spark: SparkSession, path: String, df: DataFrame,
             partitionCols: Seq[String],
             evolveSchema: Boolean = false,
             lockTtlMs: Long = DefaultLockTtlMs,
             retainVersions: Int = DefaultRetainVersions,
             txn: Option[(String, Long)] = None,
             branch: Option[String] = None): Unit =
    appendImpl(spark, path, df, partitionCols, evolveSchema, lockTtlMs,
      retainVersions, txn, branch, maxWaitMs = 0L)

  /** OPTIMISTIC multi-writer append — [[upsertOptimistic]]'s treatment
    * for the EASIEST concurrency case: fast-append parts COMPOSE (each
    * commit unions its new version part into the partition's state and
    * merges stats monotonically), so two racing appenders both land even
    * on the SAME partition — no conflict validation is needed at all,
    * only a bounded wait for the winner's metadata-speed commit instead
    * of [[append]]'s fail-fast [[ConcurrentWriteException]]. The root
    * chain stays linearizable (each commit folds onto the head it finds
    * under the lease), the changelog nets both appends, and `txn`
    * idempotency holds unchanged — which is what lets a streaming ingest
    * ([[graft.streaming.Streams.manifestedAppendStream]]) run
    * concurrently with batch compaction/MERGE jobs on one table, the
    * standard lakehouse operating mode. Two concurrent ingest jobs on
    * one table both commit where [[append]] would make one fail. */
  def appendOptimistic(spark: SparkSession, path: String, df: DataFrame,
                       partitionCols: Seq[String],
                       evolveSchema: Boolean = false,
                       maxWaitMs: Long = 120000L,
                       lockTtlMs: Long = DefaultLockTtlMs,
                       retainVersions: Int = DefaultRetainVersions,
                       txn: Option[(String, Long)] = None,
                       branch: Option[String] = None): Unit =
    appendImpl(spark, path, df, partitionCols, evolveSchema, lockTtlMs,
      retainVersions, txn, branch, maxWaitMs = maxWaitMs)

  /** Acquire the table lease, waiting up to `maxWaitMs` with bounded
    * backoff. `maxWaitMs <= 0` is LITERALLY fail-fast ([[append]]'s
    * historical contract) — not "one retry if the first failure lands
    * in the deadline's own millisecond". */
  private def acquireLockWaiting(spark: SparkSession, path: String,
                                 ttlMs: Long, maxWaitMs: Long): String = {
    if (maxWaitMs <= 0) return acquireLock(spark, path, ttlMs)
    val deadline = System.currentTimeMillis() + maxWaitMs
    var backoff = 25L
    while (true) {
      try return acquireLock(spark, path, ttlMs)
      catch {
        case e: ConcurrentWriteException =>
          if (System.currentTimeMillis() >= deadline) throw e
          Thread.sleep(backoff); backoff = math.min(backoff * 2, 1000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def appendImpl(spark: SparkSession, path: String, df: DataFrame,
                         partitionCols: Seq[String],
                         evolveSchema: Boolean,
                         lockTtlMs: Long,
                         retainVersions: Int,
                         txn: Option[(String, Long)],
                         branch: Option[String],
                         maxWaitMs: Long): Unit = {
    import graft.sources.PartitionSnapshots
    // later partition-value rendering (deleteKeys, upsert's touched
    // partitions) cannot name a timestamp dir — never let such a table exist
    PartitionSnapshots.requireNoTimestampPartitions("append", df.schema,
      partitionCols)
    if (df.isEmpty) return
    val token = acquireLockWaiting(spark, path, lockTtlMs, maxWaitMs)
    try {
      prepareCommit(spark, path, partitionCols)
      val alreadyCommitted = txn.exists { case (appId, v) =>
        PartitionSnapshots.lastTxnVersion(spark, path,
          s"graft.txn.$appId", branch).exists(_ >= v)
      }
      if (alreadyCommitted) return
      // hidden-partitioning: derive transform dir columns before the
      // drift check — the raw table side carries them, callers never do
      val dfT = PartitionSnapshots.applyTransforms(spark, path, df)
      // The drift check needs only the table's COLUMN SET — derive it
      // from pinned metadata, never by constructing the table frame:
      // construction lists every live data dir, so an append-heavy
      // table (a streaming ingest between compactions) would pay
      // O(accumulated parts) PER micro-batch — measured O(n²) across a
      // commit-chain drill before this. The pinned union schema + spec
      // columns is exactly the shape readEntries serves; only pre-
      // schema-pinning tables fall back to the real frame. A branch
      // append aligns against the BRANCH head's schema, never
      // main's (mirrors upsertLocked's branch-merge read): a branch that
      // evolved its schema beyond main must not have later appends
      // rejected against — or silently re-pinned to — main's columns
      val root = PartitionSnapshots.resolveRoot(spark, path, branch = branch)
      val tableSchema: Option[org.apache.spark.sql.types.StructType] =
        PartitionSnapshots.mergeReadSchema(spark, root, dfT.schema,
            partitionCols)
          .orElse(PartitionSnapshots.scan(spark, root, hidden = true)
            .map(_.schema))
      val out = tableSchema match {
        case Some(ts) if evolveSchema =>
          // align() uses the target side only for its SCHEMA — an empty
          // schema-typed frame serves without listing a single file
          align(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ts),
            dfT)._2
        case Some(ts) =>
          require(ts.fieldNames.sorted.sameElements(dfT.columns.sorted),
            s"append: schema drift at $path (pass evolveSchema = true): " +
              s"table ${ts.fieldNames.sorted.toSeq} vs " +
              s"df ${dfT.columns.sorted.toSeq}")
          dfT
        case None => dfT
      }
      // `out` is already conformed to the union schema when evolving
      PartitionSnapshots.stageThen(spark, path, token, out,
          partitionCols) { staging =>
        PartitionSnapshots.commitStaged(spark, path, Some(staging),
          partitionCols, retainVersions, schema = Some(out.schema),
          branch = branch, props = txn.map { case (appId, v) =>
            Map(s"graft.txn.$appId" -> v.toString)
          }.getOrElse(Map.empty))
      }
    } finally releaseLock(spark, path, token)
  }

  /** Full REPLACE of the unpartitioned table at `path` with `df` (whose
    * plan may read the current table — the new state is staged beside it
    * and published by one root manifest swap), under the same
    * single-writer lease and crash recovery as [[upsert]]. A partitioned
    * table refuses (its marker names partition columns). The primitive a
    * CDC snapshot maintainer needs: merge semantics live in the caller's
    * plan, durability semantics live here. */
  def replace(spark: SparkSession, path: String, df: DataFrame,
              lockTtlMs: Long = DefaultLockTtlMs,
              retainVersions: Int = DefaultRetainVersions): Unit = {
    val token = acquireLock(spark, path, lockTtlMs)
    try {
      prepareCommit(spark, path, Nil)
      graft.sources.PartitionSnapshots.stageThen(spark, path, token, df,
          Nil) { staging =>
        graft.sources.PartitionSnapshots.commitStaged(spark, path,
          Some(staging), Nil, retainVersions, Map("" -> Nil),
          schema = Some(df.schema))
      }
    } finally releaseLock(spark, path, token)
  }

}
