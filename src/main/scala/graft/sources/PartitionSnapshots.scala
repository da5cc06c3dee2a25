package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-partition snapshot manifests — the ONE commit layout of every
  * upsert table, partitioned or not, closing the commit window a flat
  * hive layout leaves open: Spark's dynamic partition overwrite
  * deletes a touched partition's files before the staged replacements
  * land, so a reader scanning that partition mid-commit sees it partial
  * or empty. Here every partition directory holds its own [[Snapshots]]
  * version slots:
  *
  * {{{
  *   <table>/_partition_manifests          ← marker: partition column names
  *   <table>/d=2024-01-01/_versions/v00000001/   ← immutable partition snapshot
  *   <table>/d=2024-01-01/_versions/v00000002/
  *   <table>/d=2024-01-01/_current         ← per-partition pointer, atomic swap
  *   <table>/d=2024-01-02/...
  * }}}
  *
  * An UNPARTITIONED table is the same layout with zero partition columns
  * (Iceberg's empty partition spec): one implicit partition, rel `""`,
  * whose `_versions/` and `_current` sit at the table root — byte for
  * byte the layout a whole-table snapshot table already has, so such a
  * table migrates by writing the (empty) marker and nothing else; until
  * then its root `_versions` alone marks it manifested.
  *
  * A commit touching 2 of 30 000 partitions stages its output ONCE
  * (one Spark job, `partitionBy` write into a hidden `_staging-*` root),
  * then RENAMES each staged partition dir into that partition's next
  * version slot and swaps that partition's pointer — metadata-speed,
  * nothing copied, and a racing reader of the touched partition keeps its
  * pinned (immutable) version exactly as Iceberg readers do. Untouched
  * partitions are never written, listed into staging, or repointed.
  * Partition columns stay recoverable from the `k=v` path segment above
  * `_versions` (Spark's partition parsing skips non-`k=v` segments BELOW
  * a partition segment), so a resolved read types them exactly as a flat
  * hive read would.
  *
  * A reader that walks the partition POINTERS while a multi-partition
  * commit is mid-flight can see partition A at the new version and
  * partition B still at the old one — never a partial partition; the
  * root manifest below is what makes the commit atomic across partitions.
  *
  * Migration from a flat hive layout moves NOTHING: writing the marker
  * file is the whole migration. Until the table's first root commit, its
  * on-disk partition states ([[scanStates]]: each partition's committed
  * slot, else its newest servable slot, else its flat files — the
  * implicit version 0) stand in for the root manifest, and every read
  * serves them through the same scan; the first real
  * commit to a partition supersedes them with a published snapshot (the
  * pointer swap is the only visible transition — no rename window, no
  * per-file move a racing reader could half-see), and the flat files are
  * vacuumed only once that partition has accumulated `retain` real
  * versions — the same reader-vs-expiration contract real versions get.
  * Consequence to document loudly: a legacy `spark.read.parquet(table)`
  * on a MIGRATED table keeps seeing each partition's implicit v0 until it
  * is vacuumed — increasingly stale, then empty. An unpartitioned
  * table's flat files go as soon as no live state names them (its first
  * rewrite supersedes the whole table). Route reads through
  * [[graft.operators.Upsert.read]] / [[read]].
  *
  * On top of the per-partition pointers sits a ROOT MANIFEST — the
  * Iceberg-style table-level snapshot:
  *
  * {{{
  *   <table>/_root/_versions/v00000001/manifest   ← FULL (partition → state) map
  *   <table>/_root/_versions/v00000002/delta      ← touched entries + parent version
  *   <table>/_root/_current                       ← root pointer, atomic swap
  * }}}
  *
  * The root pointer swap is THE commit point: each commit first seals its
  * per-partition version slots (complete data + _SUCCESS, pointers
  * untouched), then publishes ONE new root manifest naming every
  * partition's pinned state (a version slot, the implicit FLAT v0, or
  * EMPTY), and only then swaps the per-partition pointers — which are a
  * read CACHE for partition-level readers, never the source of truth. A
  * crash before the root publish is a clean abort (sealed slots age out,
  * nothing ever names them); a crash after it leaves at worst a lagging
  * partition pointer that serves the previous complete version until the
  * partition's next commit heals it. No crash ordering can leave the
  * root manifest permanently behind a pointer. This buys the two
  * properties per-partition pointers alone cannot give:
  *
  *  1. **Cross-partition atomicity.** A reader resolves ONE manifest and
  *     scans exactly the immutable version dirs it names — a
  *     multi-partition commit becomes visible all-at-once at the root
  *     pointer swap, never partition-by-partition. (Partition-level
  *     readers may still race ahead on a partition pointer; table-level
  *     readers are snapshot-isolated.)
  *  2. **Listing-free reads.** Resolving a read is one pointer + at most
  *     [[RebaseEvery]] small manifest files — no per-partition directory
  *     walk — the O(1) metadata path an object store with 30 000
  *     partitions needs. Every read resolves its [[Root]] once and serves
  *     it through one [[scan]]; only a table with no root yet walks its
  *     directories, for the on-disk states above.
  *
  * Commit METADATA is O(touched), not O(partitions): most commits write
  * a DELTA manifest holding only the touched partitions' entries plus
  * the parent root version it folds onto; a FULL manifest is rebased at
  * least every [[RebaseEvery]] commits (and whenever the chain forks —
  * first commit, post-rollback). A 2-partition commit against a 30 000-
  * partition table writes a 2-line file, not a 30 000-line one —
  * Iceberg's manifest-list amortization, done as a parent chain.
  *
  * Every data commit runs through ONE core, [[commitStaged]], and the
  * writes differ in one thing only — what each touched partition CARRIES
  * of its prior parts: an append all of them, a file-scoped merge its
  * survivors, a rewrite, overwrite or drop nothing, a delete every part
  * stamped with its new delete ref. A touched partition's new state is
  * its carried parts plus the part freshly sealed for it.
  *
  * Root manifests are retained and vacuumed like any snapshot chain
  * (`asOf` time travel across whole-table states), chain-aware: a kept
  * delta always keeps its parents down to a full manifest, and an old
  * manifest stays resolvable as long as per-partition retention keeps
  * the versions it names — the same reader-vs-expiration contract as
  * everywhere else. Single-writer per table is enforced by
  * [[graft.operators.Upsert]]'s lease, as for every other layout.
  */
object PartitionSnapshots {

  private val Marker = "_partition_manifests"
  private val VersionsDir = "_versions"
  private val RootDir = "_root"
  private val ManifestFile = "manifest"
  private val DeltaFile = "delta"
  private val DeletesDir = "_deletes"
  private val SchemaFile = "schema.json"
  private val PropsFile = "props"
  private val ParentFile = "parent"
  private val PublishedMarker = "published"
  private[graft] val LineProp = "graft.line"
  // manifest state tokens (beyond a pinned "v00000001"-style slot name)
  private val Flat = "FLAT"    // implicit v0: the partition's flat hive files
  private val Empty = "EMPTY"  // partition holds zero rows
  // rides inside a write-audit-publish slot from staging through the claim
  // rename: a slot carrying it holds data whose audit never passed, and no
  // read or state-scan path may serve it (deleted when the audit seals)
  private val WapMarker = ".wap-pending"
  /** A FULL root manifest is written at least every this-many commits; the
    * ones between carry only the touched partitions as a DELTA against
    * their recorded parent. Bounds both sides: commit metadata is
    * O(touched) on delta commits, and a read folds at most this many
    * manifest files (Iceberg's manifest-list amortization, done with a
    * parent chain instead of a list). */
  private[graft] val RebaseEvery = 8

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bounded worker pool for PER-PARTITION commit FS ops (Iceberg's
    * worker-pool knob): slot seals, pointer swaps, retention, sidecar
    * harvests are independent per partition and latency-bound — at
    * 30 000 touched partitions the serial loop IS the commit time. The
    * ROOT manifest publish stays the single serial commit point.
    * Sized to the host's cores (floor 16): the footer-harvest waves are
    * CPU+IO mixed and scale past 16 threads on this 32-core box. */
  private[graft] val CommitParallelism =
    math.max(16, Runtime.getRuntime.availableProcessors())

  /** Below this many items the pool's handoff latency exceeds the work
    * saved on local-FS metadata ops — run inline. (Commit paths fire
    * several inParallel waves per commit; at toy partition counts the
    * pool was pure fixed overhead per the round-10 bench.) */
  private val InlineBelow = 8

  private val commitPoolThreadPrefix = "graft-commit-"

  /** ONE shared daemon pool for all commit-path FS fan-out, created
    * lazily on first ≥[[InlineBelow]]-item wave and never shut down —
    * per-call pool construction was measurable fixed overhead on every
    * small commit (round-10 q177/q178 risers). Daemon threads so JVM
    * exit is never held up. */
  private lazy val commitPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      CommitParallelism,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, commitPoolThreadPrefix + n.incrementAndGet())
          t.setDaemon(true)
          t
        }
      })

  /** Map `f` over `items` on the shared bounded pool; exceptions
    * propagate (first failure wins, remaining queued work is cancelled).
    * Order of the RESULT matches `items` — callers can zip. Short inputs
    * run inline, as does any call already ON a pool thread (a nested
    * fan-out on a bounded shared pool would deadlock at saturation). */
  private[graft] def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(InlineBelow) < 0 ||
        Thread.currentThread().getName.startsWith(commitPoolThreadPrefix))
      items.map(f)
    else {
      val futs = items.map(a =>
        commitPool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(a)
        }))
      var err: Throwable = null
      val out = futs.map { fut =>
        if (err != null) { fut.cancel(true); null.asInstanceOf[B] }
        else
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              err = e.getCause; null.asInstanceOf[B]
          }
      }
      if (err != null) throw err
      out
    }

  /** The ONE copy of the deepest-first rule for per-partition ops whose
    * RELS may NEST (a retired-spec dir parenting new-spec dirs after
    * partition-spec evolution): rels grouped by path depth, DEEPEST
    * group first, so a parent's rename can never swallow a child's.
    * Run each wave with [[inParallel]]. */
  private[graft] def depthWaves(rels: Seq[String]): Seq[Seq[String]] =
    rels.groupBy(_.count(_ == '/')).toSeq.sortBy(-_._1).map(_._2)

  /** True when `table` uses per-partition manifests: the marker file
    * exists, or the table is a whole-table `_versions` table from before
    * the marker — a zero-column manifested table whose one partition
    * (rel `""`) already sits at the root in the slot layout. */
  def isManifested(spark: SparkSession, table: String): Boolean =
    fs(spark, new Path(table)).exists(new Path(table, Marker)) ||
      Snapshots.isVersioned(spark, table)

  /** The partition column names recorded at creation/migration time
    * (none for an unpartitioned table, marked or not). */
  def partitionCols(spark: SparkSession, table: String): Seq[String] = {
    val p = new Path(table, Marker)
    val s = try readText(spark, p).trim
      catch { case _: java.io.FileNotFoundException => "" }
    s.split(",").toSeq.filter(_.nonEmpty)
  }

  /** Flip `table` to the manifested layout (or validate its partition
    * columns against `cols`). Writing the marker IS the whole migration —
    * existing flat partitions (or a flat unpartitioned table's root files,
    * or a whole-table `_versions` table's slots) become the partitions'
    * implicit v0 states, nothing moves. A plain dir must already be laid
    * out by `cols`: marked otherwise, its `k=v` dirs (or its root files)
    * would silently stop being read. Call under the table's writer
    * lease. */
  private[graft] def ensureManifested(spark: SparkSession, table: String,
                                      cols: Seq[String]): Unit = {
    val have = layoutCols(spark, table).getOrElse(cols)
    require(have == cols,
      s"partition manifests at $table are keyed by $have, not $cols")
    val root = new Path(table)
    val f = fs(spark, root)
    f.mkdirs(root)
    val p = new Path(table, Marker)
    if (!f.exists(p)) {
      val out = f.create(p, true)
      try out.write(cols.mkString(",")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** The partition columns `table` is keyed by: its marker's, or for a
    * plain parquet dir the ones its hive layout names (Nil for flat
    * files). None for an empty or absent dir, which any key fits. */
  private[graft] def layoutCols(spark: SparkSession,
                                table: String): Option[Seq[String]] = {
    val root = new Path(table)
    val f = fs(spark, root)
    // read down the first `k=v` branch
    def hiveCols(dir: Path): Seq[String] =
      f.listStatus(dir).find(st => st.isDirectory &&
          !hidden(st.getPath.getName) && st.getPath.getName.contains("="))
        .map { st =>
          val n = st.getPath.getName
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(n.substring(0, n.indexOf('='))) +:
            hiveCols(st.getPath)
        }.getOrElse(Nil)
    if (isManifested(spark, table)) Some(partitionCols(spark, table))
    else if (!f.exists(root)) None
    else Some(hiveCols(root)).filter(_.nonEmpty || hasDataFiles(spark, root))
  }

  /** Birth of an empty table: one root commit pinning `schema`, then the
    * marker keying the table by `cols`. The root is published BEFORE the
    * marker names the partition columns, so the pin keeps their declared
    * types, and every later commit carries them forward ([[publishRoot]])
    * — a `region STRING` partition reads as STRING even once its dirs
    * hold `region=7`. A table that has a root gets no new one. Call
    * under the table's writer lease. */
  private[graft] def createRoot(spark: SparkSession, table: String,
                                schema: org.apache.spark.sql.types.StructType,
                                cols: Seq[String]): Unit = {
    val root = resolveRoot(spark, table)
    if (root.version.isEmpty)
      publishRoot(spark, table, root, Map.empty, Map.empty,
        graft.operators.Upsert.DefaultRetainVersions, Some(schema))
    ensureManifested(spark, table, cols)
  }

  /** The directory of partition `rel` — the table root itself for the
    * one partition (rel `""`) of an unpartitioned table. */
  private[graft] def relPath(table: String, rel: String): String =
    if (rel.isEmpty) table else s"$table/$rel"

  private val SpecsFile = "_partition_specs"
  private val TransformsFile = "_partition_transforms"

  /** One HIDDEN-PARTITIONING transform (Iceberg's bucket/days/truncate):
    * a partition DIR column derived from a data column at write time and
    * hidden from readers — the user never supplies or sees it. `name`
    * is the reserved derived dir-column (`<src>__bucketN`, `<src>__day`,
    * `<src>__truncN` — the double underscore marks it engine-owned). */
  private[graft] final case class SpecTransform(name: String, kind: String,
                                                arg: Int, source: String) {
    /** The derived column's value for each row of `df`. Bucketing uses
      * xxhash64 (this engine's stable row-hash convention — NOT
      * Iceberg's murmur3; the dir values are engine-internal, never an
      * interchange format). */
    def column(df: DataFrame): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{col, lit, pmod, substring, to_date, xxhash64}
      kind match {
        case "bucket" => pmod(xxhash64(col(source)), lit(arg)).cast("int")
        case "days" => to_date(col(source))
        case "truncate" => df.schema(source).dataType match {
          case org.apache.spark.sql.types.StringType =>
            substring(col(source), 1, arg)
          case org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.ShortType =>
            (col(source) - pmod(col(source), lit(arg.toLong)))
              .cast(df.schema(source).dataType)
          case dt => throw new IllegalArgumentException(
            s"truncate($arg, $source): unsupported type $dt")
        }
      }
    }
    /** Dir-column type — what the SpecsFile records so mixed-layout
      * reads can conform old files (which lack the derived column). */
    def dirType(srcType: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = kind match {
      case "bucket" => org.apache.spark.sql.types.IntegerType
      case "days" => org.apache.spark.sql.types.DateType
      case "truncate" => srcType
    }
    def render: String = s"$name\t$kind\t$arg\t$source"
  }

  private val BucketRe = """^bucket\(\s*(\d+)\s*,\s*([A-Za-z0-9_]+)\s*\)$""".r
  private val DaysRe = """^days\(\s*([A-Za-z0-9_]+)\s*\)$""".r
  private val TruncRe = """^truncate\(\s*(\d+)\s*,\s*([A-Za-z0-9_]+)\s*\)$""".r

  /** Parse one spec entry: a transform expression or an identity column
    * name. Returns (dir column name, transform if any). */
  private def parseSpecEntry(e: String): (String, Option[SpecTransform]) =
    e.trim match {
      case BucketRe(n, c) =>
        (s"${c}__bucket$n", Some(SpecTransform(s"${c}__bucket$n", "bucket",
          n.toInt, c)))
      case DaysRe(c) =>
        (s"${c}__day", Some(SpecTransform(s"${c}__day", "days", 0, c)))
      case TruncRe(w, c) =>
        (s"${c}__trunc$w", Some(SpecTransform(s"${c}__trunc$w", "truncate",
          w.toInt, c)))
      case ident => (ident, None)
    }

  /** All hidden transforms ever evolved onto `table` (empty for the
    * zero-cost common case of a never-transformed table). */
  private[graft] def specTransforms(spark: SparkSession, table: String)
      : Seq[SpecTransform] = {
    val p = new Path(table, TransformsFile)
    if (!fs(spark, p).exists(p)) Nil
    else readText(spark, p).split("\n").toSeq.filter(_.nonEmpty).map { ln =>
      val f = ln.split("\t")
      SpecTransform(f(0), f(1), f(2).toInt, f(3))
    }
  }

  /** Add every missing hidden dir column to a WRITE-side DataFrame —
    * the single point where transform values are computed. No-op for
    * untransformed tables and for frames already carrying them (a
    * rewrite leg whose rows came off disk with dir values attached).
    * Only transforms whose dir column is IN the current marker's spec
    * apply: [[evolvePartitionSpec]] persists `_partition_transforms`
    * before the spec/marker flip, so a crash between the two writes
    * must not leave a half-evolved table attaching a derived column the
    * spec (and every committed layout) lacks — that would schema-drift
    * every subsequent write until manual cleanup. */
  private[graft] def applyTransforms(spark: SparkSession, table: String,
                                     df: DataFrame): DataFrame = {
    val ts = specTransforms(spark, table)
    if (ts.isEmpty) df // common case: zero extra marker read
    else {
      val spec = partitionCols(spark, table).toSet
      ts.filter(t => spec.contains(t.name) &&
          !df.columns.contains(t.name) && df.columns.contains(t.source))
        .foldLeft(df)((d, t) => d.withColumn(t.name, t.column(d)))
    }
  }

  /** Strip hidden dir columns from a READ-side DataFrame — Iceberg's
    * rule that transform partitions are invisible to queries. Internal
    * readers (merge legs, deleteKeys) keep them via the raw variants. */
  private[graft] def dropHidden(spark: SparkSession, table: String,
                                df: DataFrame): DataFrame = {
    val names = specTransforms(spark, table).map(_.name)
      .filter(df.columns.contains)
    if (names.isEmpty) df else df.drop(names: _*)
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's spec evolution, at hive-dir
    * granularity): change the table's partition columns WITHOUT
    * rewriting any data. The marker flips to `newCols` — every later
    * commit stages under the new layout — while existing partition
    * states stay exactly where they are: a manifest rel-path
    * self-describes its own layout (`date=X` vs `date=X/hour=H`), so
    * reads group entries by their spec and union the layouts, and time
    * travel to pre-evolution roots resolves unchanged.
    *
    * Every column PROMOTED to the spec must already be a data column of
    * the pinned schema: old files carry its values in-file (the dir has
    * no segment for it), new files carry it as a dir segment — the read
    * path fills it from whichever side has it, NULL-free. The promoted
    * columns' types are recorded in the spec history at evolution time,
    * because later pinned schemas strip the (now-partition) column.
    * A post-evolution MERGE whose keys live in old-spec partitions
    * rewrites only the intersecting files there (file-scoped survivors
    * hold the rest in place) and re-stages the rewritten rows under the
    * NEW spec — Iceberg's lazy migration, no big-bang rewrite ever.
    * Takes the table's writer lease, so no commit interleaves with the
    * marker flip (a concurrent writer gets a ConcurrentWriteException). */
  def evolvePartitionSpec(spark: SparkSession, table: String,
                          newCols: Seq[String]): Unit =
    leased(spark, table, "evolvePartitionSpec") { _ =>
      val have = partitionCols(spark, table)
      require(have.nonEmpty,
        s"evolvePartitionSpec: $table is unpartitioned — its root-level " +
          "partition cannot parent partition dirs")
      // each entry is an identity column OR a hidden transform —
      // `bucket(N, col)` / `days(col)` / `truncate(W, col)` (Iceberg's
      // hidden partitioning: the dir column is derived at write, hidden
      // at read). The marker records the DIR column names.
      val parsed = newCols.map(parseSpecEntry)
      val dirCols = parsed.map(_._1)
      val transforms = parsed.flatMap(_._2)
      require(dirCols.nonEmpty && dirCols != have,
        s"evolvePartitionSpec: new spec $dirCols must differ from $have")
      require(dirCols.startsWith(have),
        s"evolvePartitionSpec: supported evolution widens the spec — " +
          s"$dirCols must extend $have (Iceberg-style additive partitioning)")
      val cur = currentRootVersion(spark, table).getOrElse(
        throw new IllegalStateException(
          s"evolvePartitionSpec: $table has no committed root manifest"))
      val pinned = pinnedSchema(spark, table, cur).getOrElse(
        throw new IllegalStateException(
          s"evolvePartitionSpec: $table's root slot pins no schema"))
      val promoted = dirCols.filterNot(have.contains)
      val promotedTransforms = transforms.filter(t => promoted.contains(t.name))
      val fields = promoted.map { c =>
        promotedTransforms.find(_.name == c) match {
          case Some(t) =>
            // a TRANSFORM promotes nothing: its SOURCE stays a data
            // column; the dir column is derived and old files simply
            // lack it (mixed-layout reads conform it as recorded here)
            val src = pinned.find(_.name == t.source).getOrElse(
              throw new IllegalArgumentException(
                s"evolvePartitionSpec: ${t.kind} source '${t.source}' must " +
                  s"be a data column of the pinned schema " +
                  s"(${pinned.fieldNames.toSeq})"))
            if (t.kind == "days")
              require(src.dataType ==
                  org.apache.spark.sql.types.TimestampType ||
                src.dataType == org.apache.spark.sql.types.TimestampNTZType ||
                src.dataType == org.apache.spark.sql.types.DateType ||
                src.dataType == org.apache.spark.sql.types.StringType,
                s"days(${t.source}): source must be date/timestamp-like, " +
                  s"got ${src.dataType}")
            require(!pinned.fieldNames.contains(t.name) &&
              !have.contains(t.name),
              s"evolvePartitionSpec: derived name '${t.name}' collides " +
                "with an existing column")
            org.apache.spark.sql.types.StructField(t.name,
              t.dirType(src.dataType))
          case None => pinned.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"evolvePartitionSpec: promoted column '$c' must be a data " +
                s"column of the pinned schema (${pinned.fieldNames.toSeq})"))
        }
      }
      val f = fs(spark, new Path(table))
      // record transforms FIRST (a crash after this write but before the
      // marker flip leaves transforms no dir column references: harmless),
      // then the evolution record, then flip the marker — the single
      // visibility point for writers
      if (promotedTransforms.nonEmpty) {
        val tp = new Path(table, TransformsFile)
        val priorT = if (f.exists(tp)) readText(spark, tp) else ""
        val to = f.create(tp, true)
        try to.write(
          (priorT + promotedTransforms.map(_.render).mkString("\n") + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally to.close()
      }
      // append the evolution record (crash between the two writes leaves a
      // record matching the still-current marker: harmless), then flip
      val hist = new Path(table, SpecsFile)
      val prior = if (f.exists(hist)) readText(spark, hist) else ""
      val line = s"${dirCols.mkString(",")}\t" +
        org.apache.spark.sql.types.StructType(fields).json
      val out = f.create(hist, true)
      try out.write((prior + line + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val mo = f.create(new Path(table, Marker), true)
      try mo.write(dirCols.mkString(",")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally mo.close()
    }

  /** Columns ever PROMOTED into the partition spec by an evolution, with
    * the data types recorded at evolution time — what a reader needs to
    * type a promoted column when serving old-spec files (which carry it
    * in-file) next to new-spec dirs (which carry it as a path segment).
    * Empty for never-evolved tables (the zero-cost common case). */
  private[graft] def promotedSpecCols(spark: SparkSession, table: String)
      : Seq[org.apache.spark.sql.types.StructField] = {
    val p = new Path(table, SpecsFile)
    if (!fs(spark, p).exists(p)) return Nil
    readText(spark, p).split("\n").toSeq.filter(_.nonEmpty).flatMap { line =>
      val i = line.indexOf('\t')
      org.apache.spark.sql.types.DataType.fromJson(line.substring(i + 1))
        .asInstanceOf[org.apache.spark.sql.types.StructType].fields.toSeq
    }.groupBy(_.name).map(_._2.last).toSeq.sortBy(_.name)
  }

  /** The partition columns a REL-PATH itself encodes ("date=X/hour=H" →
    * date, hour) — each manifest entry self-describes its layout, which
    * is what lets spec evolution leave old states in place. */
  private[graft] def relCols(rel: String): Seq[String] =
    rel.split("/").toSeq.filter(_.nonEmpty).map { seg =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.substring(0, seg.indexOf('=')))
    }

  /** Each partition tuple of `rows` (values in `cols` order) as column →
    * on-disk `col=value` dir segment. Names go through the same escaping
    * Spark's writer uses (ExternalCatalogUtils): NULL →
    * __HIVE_DEFAULT_PARTITION__, and URL-escaped specials (space, ':',
    * '%') match the on-disk name — a raw "$c=$v" would silently miss
    * them and leave stale rows. */
  private[graft] def partitionSegments(cols: Seq[String],
                                       rows: Seq[org.apache.spark.sql.Row])
      : Seq[Map[String, String]] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    rows.map { r =>
      cols.zip(r.toSeq).map { case (c, v) =>
        val dirVal =
          if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          else ExternalCatalogUtils.escapePathName(v.toString)
        c -> s"${ExternalCatalogUtils.escapePathName(c)}=$dirVal"
      }.toMap
    }
  }

  /** Refuse timestamp-typed partition columns among `cols` of `schema`:
    * the writer formats their dir values with a pattern `Row.toString`
    * does not reproduce, so [[partitionSegments]] would name a dir that
    * is not on disk and miss the touched partitions. */
  private[graft] def requireNoTimestampPartitions(what: String,
      schema: org.apache.spark.sql.types.StructType, cols: Seq[String])
      : Unit = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    schema.fields.filter(f => cols.contains(f.name)).foreach { f =>
      require(f.dataType != TimestampType && f.dataType != TimestampNTZType,
        s"$what: timestamp-typed partition column '${f.name}' is not " +
          "supported (partition by the derived DATE instead)")
    }
  }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** Does `dir` directly contain at least one visible (data) file? */
  private def hasDataFiles(spark: SparkSession, dir: Path): Boolean = {
    val f = fs(spark, dir)
    f.exists(dir) && f.listStatus(dir)
      .exists(st => st.isFile && !hidden(st.getPath.getName))
  }

  /** Relative partition paths ("d=2024-01-01", "a=1/b=2"), one per leaf:
    * visible `k=v` dirs walked `depth` levels down. A `k=v` dir holding
    * data FILES but no deeper `k=v` dirs is a leaf even above `depth` —
    * a RETIRED-spec partition of an evolved table (its layout is a
    * prefix of the current spec), which staging walks must not drop. */
  def partitionDirs(spark: SparkSession, table: String,
                    depth: Int): Seq[String] = {
    val root = new Path(table)
    val f = fs(spark, root)
    def walk(dir: Path, d: Int, rel: String): Seq[String] =
      if (d == 0) Seq(rel)
      else if (!f.exists(dir)) Nil
      else {
        val subs = f.listStatus(dir)
          .filter(st => st.isDirectory && !hidden(st.getPath.getName) &&
            st.getPath.getName.contains("="))
        // a k=v dir holding data files above full depth is a retired-spec
        // leaf — and may ALSO parent deeper new-spec dirs in one staging
        val self =
          if (rel.nonEmpty && hasDataFiles(spark, dir)) Seq(rel) else Nil
        self ++ subs.toSeq.flatMap { st =>
          val n = st.getPath.getName
          walk(st.getPath, d - 1, if (rel.isEmpty) n else s"$rel/$n")
        }
      }
    walk(root, depth, "")
  }

  /** True when the version slot still carries the write-audit-publish
    * marker: its data was claimed but its audit never passed (in flight,
    * crashed, or about to be deleted) — never serve or scan-state it. */
  private def isPendingAudit(spark: SparkSession, pt: String,
                             v: Long): Boolean = {
    val p = new Path(Snapshots.versionPath(pt, v), WapMarker)
    fs(spark, p).exists(p)
  }

  /** Newest version slot that is safe for the crash-recovery fallback:
    * unsealed slots from an interrupted ORDINARY commit hold complete,
    * intended data (the whole-dir rename contract), but slots still
    * marked [[WapMarker]] hold UNAUDITED data and are skipped. */
  private def latestServableSlot(spark: SparkSession, pt: String): Option[Long] =
    Snapshots.allVersionDirs(spark, pt).reverse
      .find(v => !isPendingAudit(spark, pt, v))

  /** Read the table as one consistent snapshot: the current root manifest
    * names every partition's pinned state and the scan touches exactly
    * those immutable dirs (time travel: pass `asOf` = a [[rootVersions]]
    * entry). Partition columns are recovered from the `k=v` path segments
    * via `basePath`, exactly as a flat hive read types them. A table with
    * no root yet serves its on-disk partition states. */
  def read(spark: SparkSession, table: String, asOf: Long = -1L): DataFrame =
    readOption(spark, table, asOf).getOrElse(
      throw new IllegalArgumentException(
        s"no committed partition snapshots at $table"))

  /** [[read]] that answers None when no partition holds any rows.
    * Hidden transform dir columns are stripped (Iceberg's rule: derived
    * partitions are invisible to queries). */
  def readOption(spark: SparkSession, table: String,
                 asOf: Long = -1L): Option[DataFrame] =
    scan(spark, resolveRoot(spark, table, asOf))

  /** Publish a BASELINE root manifest of the table's current on-disk
    * partition states without touching any data file — the metadata-only
    * seed a flat-migrated table needs before branch/tag/time-travel
    * operations (later commits fold O(touched) deltas onto it). No-op
    * when a root is already committed; returns the current root version.
    * Single-writer: call while holding exclusive ownership of the table
    * (a pipeline's own scheduling, or Upsert's lease). */
  def ensureRootManifest(spark: SparkSession, table: String,
                         retainVersions: Int =
                           graft.operators.Upsert.DefaultRetainVersions): Long = {
    require(isManifested(spark, table),
      s"ensureRootManifest: $table is not a manifested table")
    val root = resolveRoot(spark, table)
    root.version.getOrElse(publishRoot(spark, table, root, root.entries,
      root.entries, math.max(1, retainVersions)))
  }

  /** Read ONLY the given partitions of a root state — the incremental
    * export mirror's per-partition resolver: same delete-aware,
    * layout-grouped read as [[read]], restricted to `rels`. None when
    * none of them holds rows. */
  def readPartitions(spark: SparkSession, table: String, rels: Set[String],
                     asOf: Long = -1L): Option[DataFrame] =
    scan(spark, resolveRoot(spark, table, asOf).only(rels))

  /** Committed root-manifest versions, ascending — each is a whole-table
    * snapshot [[read]] can pin with `asOf`. Includes branch-staged
    * commits; [[currentRootVersion]] is the MAIN-published head. */
  def rootVersions(spark: SparkSession, table: String): Seq[Long] =
    Snapshots.versions(spark, s"$table/$RootDir")

  /** The root version the MAIN pointer currently serves (None before
    * the first commit). Branch commits create versions above this
    * without moving it — so when the pointer file is absent (crash
    * mid-swap, or a reader landing in the swap window) the fallback is
    * the newest MAIN-LINE slot, never a branch-staged one: offsets,
    * parents, and published reads must not confuse staged data for the
    * published state. */
  def currentRootVersion(spark: SparkSession, table: String): Option[Long] = {
    val rt = s"$table/$RootDir"
    Snapshots.pointedVersion(spark, rt).orElse(
      Snapshots.versions(spark, rt).reverse
        .find(isMainLine(spark, table, _)))
  }

  /** Whether root version `v` belongs to the MAIN (published) line:
    * committed on main, OR a branch-staged slot a [[fastForwardRoot]]
    * later PUBLISHED (its line stamp is immutable, so publication is a
    * separate `published` marker in the slot). Pre-stamp commits count
    * as main. Memoized for answers that can never change (main-stamped,
    * or already-published); an unpublished branch slot is re-checked —
    * a fast-forward may publish it later. */
  private[graft] def isMainLine(spark: SparkSession, table: String,
                                v: Long): Boolean = {
    val key = (table, v)
    val hit = lineCache.get(key)
    if (hit != null) hit.booleanValue()
    else {
      val stampedMain = rootProps(spark, table, v).get(LineProp)
        .forall(!_.startsWith("branch:"))
      val r = stampedMain || {
        val m = new Path(
          s"${Snapshots.versionPath(s"$table/$RootDir", v)}/$PublishedMarker")
        fs(spark, m).exists(m)
      }
      if (r) { // immutable-true only: false can flip at a fast-forward
        if (lineCache.size() > 100000) lineCache.clear()
        lineCache.put(key, java.lang.Boolean.TRUE)
      }
      r
    }
  }
  private val lineCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]

  /** The RECORDED parent of root version `v` — a delta's fold target,
    * or the `parent` file a full rebase records (absent on first
    * commits and pre-upgrade full manifests). The commit LINEAGE walk:
    * versions not on the current head's parent chain (a rolled-back
    * line, a dropped branch) are unreachable from it. */
  private[graft] def parentOfRoot(spark: SparkSession, table: String,
                                  v: Long): Option[Long] = {
    val rt = s"$table/$RootDir"
    val slot = Snapshots.versionPath(rt, v)
    val d = new Path(s"$slot/$DeltaFile")
    val f = fs(spark, d)
    if (f.exists(d))
      Some(readText(spark, d).split("\n").head.stripPrefix("v").toLong)
    else {
      val p = new Path(s"$slot/$ParentFile")
      if (f.exists(p)) Some(readText(spark, p).trim.stripPrefix("v").toLong)
      else None
    }
  }

  /** The (partition rel-path → state) map of the current root manifest
    * (or the one at root version `asOf`); None when the table predates
    * root manifests. A missing requested `asOf` throws — same contract
    * as [[Snapshots.read]]. Delta manifests are folded onto their
    * recorded-PARENT chain (not version order — after a [[rollbackRoot]]
    * the chain forks, and version order would resurrect the rolled-back
    * states); the chain ends at a full manifest within [[RebaseEvery]]
    * hops. */
  def rootManifest(spark: SparkSession, table: String,
                   asOf: Long = -1L): Option[Map[String, String]] = {
    val root = resolveRoot(spark, table, asOf)
    root.version.map(_ => root.entries)
  }

  /** One resolved root — the snapshot a read serves, resolved ONCE: its
    * version (None before the table's first root commit), the folded
    * (partition → state) entries with their footer stats, and the schema
    * pinned in the same slot, so entries, stats and schema always
    * describe one commit. Without a root, a manifested table's entries
    * are its on-disk partition states ([[scanStates]]), with no stats and
    * no pinned schema. Each part is read on first use. */
  private[graft] final class Root(spark: SparkSession, val table: String,
      val version: Option[Long],
      resolve: () => Map[String, (String, Option[String])]) {
    /** rel → (state, encoded stats), as the manifest carries them. */
    private[PartitionSnapshots] lazy val states = resolve()
    lazy val entries: Map[String, String] =
      states.map { case (rel, (st, _)) => rel -> st }
    lazy val stats: Map[String, PartStats] =
      if (version.isEmpty) Map.empty // on-disk states carry none: no walk
      else states.collect { case (rel, (_, Some(s))) => rel -> decodeStats(s) }
    lazy val schema: Option[org.apache.spark.sql.types.StructType] =
      version.flatMap(pinnedSchema(spark, table, _))
    /** This root restricted to the partitions `rels`. */
    def only(rels: Set[String]): Root = new Root(spark, table, version,
      () => states.view.filterKeys(rels).toMap)
  }

  /** The root at version `v`, or the on-disk states for None (nothing,
    * for a table that is not manifested). */
  private def rootAt(spark: SparkSession, table: String,
                     v: Option[Long]): Root =
    new Root(spark, table, v, () => v match {
      case Some(rv) => resolveManifestFull(spark, s"$table/$RootDir", rv)
      case None =>
        if (!isManifested(spark, table)) Map.empty
        else scanStates(spark, table, partitionCols(spark, table))
          .map { case (rel, st) => rel -> (st, None) }
    })

  /** Resolve the root a read or commit works from: `branch`'s head when
    * given, else root version `asOf` (a missing one throws, as
    * [[Snapshots.read]] does), else the version the main pointer serves.
    * Tag reads pass their tagged version as `asOf`. */
  private[graft] def resolveRoot(spark: SparkSession, table: String,
                                 asOf: Long = -1L,
                                 branch: Option[String] = None): Root =
    branch match {
      case Some(n) => rootAt(spark, table, Some(branchRef(spark, table, n)
        .getOrElse(throw new IllegalArgumentException(
          s"no branch '$n' at $table — createBranch first"))._1))
      case None if asOf > 0 =>
        val have = Snapshots.versions(spark, s"$table/$RootDir")
        require(have.contains(asOf),
          s"root manifest v$asOf does not exist at $table (have $have)")
        rootAt(spark, table, Some(asOf))
      case None => rootAt(spark, table, currentRootVersion(spark, table))
    }

  /** THE manifested read: `root`'s entries served through [[readEntries]]
    * under its pinned schema, with its stats as the planner's size hints.
    * `excluded` drops every partition whose recorded stats prove it free
    * of the rows the caller wants, and with `files` narrows the survivors
    * to their candidate files through the `_filestats` sidecars
    * ([[filePruneEntries]]); the caller's own predicate still applies in
    * full, so pruning only skips IO. `rowPos` attaches each row's file and
    * in-file ordinal; `hidden` keeps the hidden transform dir columns the
    * merge legs select; `pinned = false` reads raw (footer-inferred
    * schema, no size hints). None when no kept partition holds rows. */
  private[graft] def scan(spark: SparkSession, root: Root,
                          excluded: Option[PartStats => Boolean] = None,
                          files: Boolean = false, rowPos: Boolean = false,
                          hidden: Boolean = false, pinned: Boolean = true)
      : Option[DataFrame] = {
    val kept = excluded.fold(root.entries) { p =>
      val rels = root.entries.filter { case (rel, _) =>
        root.stats.get(rel).forall(!p(_)) }
      if (files) filePruneEntries(spark, root.table, rels, p) else rels
    }
    readEntries(spark, root.table, kept, if (pinned) root.schema else None,
      rowPos, if (pinned) root.stats else Map.empty)
      .map(df => if (hidden) df else dropHidden(spark, root.table, df))
  }

  /** The positional statements' read: [[scan]] with row positions,
    * partition- and file-pruned by `excluded`; a read that prunes to
    * nothing is an empty frame of the same shape, so the caller's plan
    * stays well-typed. */
  private[graft] def rowPosScan(spark: SparkSession, root: Root,
                                excluded: Option[PartStats => Boolean])
      : DataFrame =
    scan(spark, root, excluded, files = true, rowPos = true).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(rowSchema(spark, root).map(_.fields.toSeq).getOrElse(Nil) ++
          Seq(StructField("_pos_path", StringType),
            StructField("_pos_ordinal", LongType))))
    }

  private def readText(spark: SparkSession, p: Path): String = {
    val in = fs(spark, p).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** "state\trel[\tstats]" lines → (rel → (state, stats)): the state
    * token never contains a tab; rel runs to the next tab or EOL; the
    * optional third field is the partition's encoded footer stats
    * ([[encodeStats]] — URL-escaped, so tab-free by construction).
    * Pre-stats manifests parse with stats = None. */
  private def parseEntries(lines: Seq[String]): Map[String, (String, Option[String])] =
    lines.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      val rest = line.substring(i + 1)
      val j = rest.indexOf('\t')
      if (j < 0) rest -> (line.substring(0, i), None)
      else rest.substring(0, j) ->
        (line.substring(0, i), Some(rest.substring(j + 1)))
    }.toMap

  /** Per-partition footer statistics as carried in the manifest —
    * Iceberg's record_count / lower_bounds / upper_bounds, at partition
    * granularity. Bounds describe the partition's BASE data files;
    * pending equality deletes only shrink the true row set, so `rows`
    * is exact for delete-free states and an upper bound otherwise. */
  final case class PartStats(rows: Long, cols: Map[String, (String, String)],
                             bytes: Long = 0L)

  /** Column keys are NAMESPACED (`c.<url-encoded-name>`) so a data
    * column literally named "rows" can never collide with the row-count
    * key; legacy un-prefixed column keys from older manifests still
    * decode. Decode is defensive end-to-end: an unparseable entry is
    * treated as absent stats (pruning stays conservative), never a
    * throw — a malformed manifest line must not take down reads. */
  private def encodeStats(s: PartStats): String = {
    def e(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
    // `bytes` (on-disk file bytes, 0 = unknown) rides along so the
    // planner's size estimate never falls below the real scan size —
    // old decoders see a comma-less non-column key and skip it
    ((s"rows=${s.rows}" +:
      (if (s.bytes > 0) Seq(s"bytes=${s.bytes}") else Nil)) ++
      s.cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"c.${e(c)}=${e(mn)},${e(mx)}"
      }).mkString(";")
  }

  private def decodeStats(s: String): PartStats = {
    def d(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
    var rows = 0L
    var bytes = 0L
    val cols = Map.newBuilder[String, (String, String)]
    s.split(";").filter(_.nonEmpty).foreach { part =>
      val i = part.indexOf('=')
      if (i > 0) {
        val k = part.substring(0, i)
        val v = part.substring(i + 1)
        def addCol(name: String): Unit = {
          val j = v.indexOf(',')
          if (j >= 0)
            cols += d(name) -> (d(v.substring(0, j)), d(v.substring(j + 1)))
        }
        if (k == "rows") v.toLongOption.foreach(rows = _)
        else if (k == "bytes" && v.toLongOption.isDefined)
          bytes = v.toLong // a legacy COLUMN named "bytes" carries a comma
        else if (k.startsWith("c.")) addCol(k.substring(2))
        else addCol(k) // legacy un-prefixed column key
      }
    }
    PartStats(rows, cols.result(), bytes)
  }

  private val FileStatsFile = "_filestats"

  /** Write the FILE-LEVEL manifest sidecar of a sealed version dir
    * (Iceberg's manifest-file entries, one line per data file:
    * record_count + column bounds, url-escaped name + [[encodeStats]]).
    * Harvested once from the footers the writer just produced; readers
    * of the sidecar (file-scoped MERGE planning, small-file compaction)
    * then get per-file pruning bounds from ONE metadata read instead of
    * O(files) footer opens — at 100 TB that is the difference between
    * metadata-speed planning and re-opening every touched file. */
  private def writeFileStats(spark: SparkSession, dir: String,
      perFile: Seq[(String, PartStats)]): Unit = {
    val p = new Path(dir, FileStatsFile)
    val out = fs(spark, p).create(p, true)
    try out.write(perFile.map { case (name, st) =>
      s"${java.net.URLEncoder.encode(name, "UTF-8")}\t" + encodeStats(st)
    }.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Per-file stats of a version dir: the sidecar when present (one
    * metadata read), else a live footer harvest (dirs sealed before the
    * sidecar upgrade, or FLAT legacy files). */
  private[graft] def fileStats(spark: SparkSession, dir: String)
      : Seq[(String, PartStats)] = {
    val p = new Path(dir, FileStatsFile)
    if (fs(spark, p).exists(p))
      readText(spark, p).split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        java.net.URLDecoder.decode(line.substring(0, i), "UTF-8") ->
          decodeStats(line.substring(i + 1))
      }
    else ParquetStats.listDataFiles(spark, dir).map { st =>
      val (rows, cols) = ParquetStats.harvestFile(spark, st)
      st.getPath.getName -> PartStats(rows, cols, st.getLen)
    }
  }

  /** Bulk footer harvest + sidecar write for freshly sealed version
    * dirs: ONE pooled listing wave, then ONE pooled per-file footer
    * wave — FLAT, because a nested pool call runs inline, so per-dir
    * serial loops inside a per-dir wave would cap parallelism at the
    * dir count's skew (measured: a 65k-file seed commit's harvest is
    * the dominant commit-side term; 6–7 ms per file serial, mostly FS
    * roundtrips the flat wave amortizes). Writes each dir's
    * [[writeFileStats]] sidecar and returns dir → folded stats. */
  private def harvestAndSidecar(spark: SparkSession, dirs: Seq[String])
      : Map[String, PartStats] = {
    val listed: Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      inParallel(dirs)(d => ParquetStats.listDataFiles(spark, d)
        .map(d -> _)).flatten
    val harvested = inParallel(listed) { case (d, st) =>
      val (rows, cols) = ParquetStats.harvestFile(spark, st)
      (d, st.getPath.getName, PartStats(rows, cols, st.getLen))
    }
    val byDir = harvested.groupBy(_._1).map { case (d, fls) =>
      d -> fls.map { case (_, n, ps) => n -> ps }
    }
    inParallel(dirs) { d =>
      writeFileStats(spark, d, byDir.getOrElse(d, Nil))
    }
    dirs.map(d => d -> foldStats(byDir.getOrElse(d, Nil))).toMap
  }

  /** Widen `a` by `b`: rows add; bounds survive only for columns with
    * usable stats on BOTH sides (numeric compare when both parse, else
    * string) — the monotone merge an append union or a survivor set
    * needs. */
  private def mergeStats(a: PartStats, b: PartStats): PartStats = {
    def lo(x: String, y: String) =
      (ParquetStats.numeric(x), ParquetStats.numeric(y)) match {
        case (Some(p), Some(q)) => if (p <= q) x else y
        case _ => if (x <= y) x else y
      }
    def hi(x: String, y: String) =
      (ParquetStats.numeric(x), ParquetStats.numeric(y)) match {
        case (Some(p), Some(q)) => if (p >= q) x else y
        case _ => if (x >= y) x else y
      }
    val cols = (a.cols.keySet intersect b.cols.keySet).map { c =>
      val (pa, pb) = a.cols(c); val (na, nb) = b.cols(c)
      c -> (lo(pa, na), hi(pb, nb))
    }.toMap
    // bytes add only when BOTH sides know theirs — a 0 (unknown) side
    // would turn the sum into an undercount, and the planner floor must
    // never sit below the real scan size
    val bytes = if (a.bytes > 0 && b.bytes > 0) a.bytes + b.bytes else 0L
    PartStats(a.rows + b.rows, cols, bytes)
  }

  /** Dir-level stats from per-file stats — same semantics as a whole-dir
    * [[ParquetStats.harvest]]: rows sum; a column prunes only when every
    * file carries usable bounds for it. Zero files → zero rows. */
  private def foldStats(perFile: Seq[(String, PartStats)]): PartStats =
    perFile.map(_._2).reduceOption(mergeStats)
      .getOrElse(PartStats(0L, Map.empty))

  /** The version-dir number a base token pins: the dir token
    * `v00000003` and the file-scoped token `v00000003/part-….parquet`
    * both reference slot 3; FLAT/EMPTY pin none. */
  private def baseVersion(base: String): Option[Long] =
    if (base == Flat || base == Empty) None
    else Some(base.takeWhile(_ != '/').stripPrefix("v").toLong)

  /** Split a manifest state into its PARTS. A partition's state is one
    * or more `&`-joined parts — each a base token (`v00000001` | FLAT |
    * EMPTY) plus the equality-delete ids pending against THAT part
    * (`v00000001+d00000001,d00000002` — merge-on-read: the part's data
    * is served minus those delete files' keys). Multi-part states are
    * what APPEND commits produce (`v00000001&v00000005`: the partition
    * is the union of both version dirs — Iceberg's file-level append,
    * done at version-dir granularity), and per-PART delete refs encode
    * the sequence rule structurally: a delete commits its ref onto
    * every part that existed BEFORE it, so data appended later is never
    * suppressed by an earlier delete. A base token may also be
    * FILE-SCOPED — `v00000001/part-….parquet` names ONE surviving file
    * of a version dir (a file-scoped MERGE rewrote its siblings); it
    * reads, deletes, compacts, and retains exactly like a dir part. */
  private[graft] def parseParts(state: String): Seq[(String, Seq[String])] =
    state.split("&").toSeq.filter(_.nonEmpty).map { part =>
      val i = part.indexOf('+')
      if (i < 0) (part, Nil)
      else (part.substring(0, i),
        part.substring(i + 1).split(",").toSeq.filter(_.nonEmpty))
    }

  private def fmtParts(parts: Seq[(String, Seq[String])]): String =
    parts.map { case (b, dels) =>
      if (dels.isEmpty) b else s"$b+${dels.mkString(",")}"
    }.mkString("&")

  /** Build the margin-safe partition/file EXCLUSION predicate for one
    * key column of `keysDf` — the shared engine behind the file-scoped
    * planner, the merge's stats-pruned matched-key lookup, and
    * deleteKeys' pruned touched-partition scan. Collects the distinct
    * key values when bounded (≤100k driver-side) so scattered CDC keys
    * prune by point containment, not one global interval. None when the
    * keys are all NULL, the type is not prunable, or (strings) any
    * compared value is non-ASCII — UTF-16 char order diverges from
    * UTF-8 byte order outside ASCII, and a wrong exclusion would lose
    * rows, so pruning disables instead. */
  private[graft] def keyExclusion(spark: SparkSession, keysDf: DataFrame,
                                  kc: String,
                                  dt: org.apache.spark.sql.types.DataType,
                                  aliases: Seq[String] = Nil)
      : Option[PartStats => Boolean] = {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types._
    val PointCap = 100000
    dt match {
      case StringType =>
        // ONE bounded job in the common case: the distinct key set,
        // capped at PointCap+1 — bounds derive driver-side; only a
        // beyond-cap key set falls back to an interval-only aggregate
        def ascii(s: String) = s.forall(c => c >= 0x20 && c < 0x7f)
        val pts = keysDf.select(col(kc)).where(col(kc).isNotNull)
          .distinct().limit(PointCap + 1).collect().map(_.getString(0))
        if (pts.isEmpty) None
        else if (pts.length <= PointCap) {
          if (pts.exists(!ascii(_))) None
          else {
            val sorted = pts.sorted
            Some(stringKeyExcluded(kc, sorted.head, sorted.last,
              Some(sorted), aliases))
          }
        } else {
          val b = keysDf.agg(min(col(kc)), max(col(kc))).head()
          if (b.isNullAt(0) || !ascii(b.getString(0)) ||
              !ascii(b.getString(1))) None
          else Some(stringKeyExcluded(kc, b.getString(0), b.getString(1),
            None, aliases))
        }
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType =>
        val pts = keysDf.select(col(kc).cast("double"))
          .where(col(kc).isNotNull)
          .distinct().limit(PointCap + 1).collect().map(_.getDouble(0))
        if (pts.isEmpty) None
        else if (pts.length <= PointCap) {
          val sorted = pts.sorted
          Some(numericKeyExcluded(kc, sorted.head, sorted.last,
            Some(sorted), aliases))
        } else {
          val b = keysDf.agg(min(col(kc)).cast("double"),
            max(col(kc)).cast("double")).head()
          if (b.isNullAt(0)) None
          else Some(numericKeyExcluded(kc, b.getDouble(0), b.getDouble(1),
            None, aliases))
        }
      case _ => None
    }
  }

  /** THE key predicate of a keyed lookup — the merge's matched-key
    * lookup and file-scoped plan, deleteKeys' touched-partition scan,
    * the positional statements' scans: the first of `keys` that `schema`
    * types as a prunable column, tested through [[keyExclusion]] against
    * `keysDf`'s values under that column's aliases. None without such a
    * column, or when the values cannot prune. Partition columns carry no
    * file bounds, so callers leave them out of `keys`. */
  private[graft] def keyPredicate(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType],
      keys: Seq[String], keysDf: DataFrame): Option[PartStats => Boolean] = {
    import org.apache.spark.sql.types._
    schema.flatMap(st => keys.flatMap(k => st.find(_.name == k)).find(f =>
      f.dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => true
        case _ => false
      })).flatMap(f =>
      keyExclusion(spark, keysDf, f.name, f.dataType, fieldAliases(f)))
  }

  /** Does this state string name ANY live data (a non-EMPTY part)? The
    * metadata-only table-existence probe the merge path uses instead of
    * constructing (and thereby file-listing) the full-table frame. */
  private[graft] def stateHasData(state: String): Boolean =
    parseParts(state).exists(_._1 != Empty)

  /** The full ROW schema a manifested read serves, WITHOUT constructing
    * the frame (construction eagerly lists every data file): pinned
    * union schema (data columns) + promoted spec columns + the partition
    * columns as `srcSchema` types them. None when no schema is pinned
    * (pre-schema-pinning tables fall back to the real frame). */
  private[graft] def mergeReadSchema(spark: SparkSession, root: Root,
                                     srcSchema: org.apache.spark.sql.types.StructType,
                                     partitionCols: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    root.schema.flatMap { pinned =>
      val promoted = promotedSpecCols(spark, root.table)
        .filterNot(f => pinned.fieldNames.contains(f.name))
        .filterNot(f => partitionCols.contains(f.name))
      val pFields = partitionCols.map(c => srcSchema.fields.find(_.name == c))
      // a partition column the source lacks (schema drift) → no cheap
      // schema; the caller falls back to the real frame, whose own
      // alignment/union will fail loudly as ever
      if (pFields.exists(_.isEmpty)) None
      else Some(org.apache.spark.sql.types.StructType(
        // a root pinned BEFORE a spec evolution still carries the
        // promoted column as a data field — the partition-column leg
        // must be its only occurrence
        pinned.fields.filterNot(f => partitionCols.contains(f.name)) ++
          promoted ++ pFields.flatten))
    }

  /** Single-part view of a state (the common case): its FIRST part's
    * base and delete refs. Callers that must handle append unions use
    * [[parseParts]]. */
  private[graft] def parseState(state: String): (String, Seq[String]) = {
    val parts = parseParts(state)
    if (parts.isEmpty) (state, Nil) else parts.head
  }

  private def stateDataPath(table: String, rel: String,
                            base: String): Option[String] =
    base match {
      case Empty => None
      case Flat  => Some(relPath(table, rel))
      case v     => Some(s"${relPath(table, rel)}/$VersionsDir/$v")
    }

  /** Schema of a delete-ref file, memoized per (path, dir mtime): a bare
    * `spark.read.parquet` runs a footer-inference JOB per call, and a
    * stacked-refs read re-applies the same immutable refs once per scan —
    * measured at 9 inference jobs in one MERGE+DELETE statement. Delete
    * dirs are written once under a claimed slot; the mtime key makes a
    * recreated table at a reused path miss rather than serve stale
    * schemas. Bounded: one entry per path — keyed on path alone with the
    * mtime stored in the VALUE, so a path whose dir mtime moves replaces
    * its old entry instead of accumulating one per (path, mtime) forever
    * (a long-lived session touching many delete refs would otherwise
    * leak driver memory one stale schema at a time). */
  private val deleteSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Long, org.apache.spark.sql.types.StructType)]

  /** Apply ONE pending delete ref to a scan-rooted DataFrame — the
    * merge-on-read step shared by every delete-aware read. Equality ids
    * (`dNNNNNNNN`) anti-join on the delete file's key columns (Iceberg
    * v2 equality deletes); positional ids (`pNNNNNNNN`) anti-join on
    * (table-relative data file path, row ordinal) against the scan's
    * `_metadata` columns (Iceberg v2 position deletes).
    * `df` must sit directly on the parquet scan (projections are fine;
    * joins/unions would lose `_metadata`), which every caller satisfies. */
  private def applyDeleteRef(spark: SparkSession, table: String,
                             df: DataFrame, id: String,
                             aliasOf: Map[String, String] = Map.empty)
      : DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
    val delPath = s"$table/$DeletesDir/$id"
    val mtime = fs(spark, new Path(delPath))
      .getFileStatus(new Path(delPath)).getModificationTime
    val delSchema = deleteSchemaCache.compute(delPath, (_, prev) =>
      if (prev != null && prev._1 == mtime) prev
      else (mtime, spark.read.parquet(delPath).schema))._2
    val keys0 = spark.read.schema(delSchema).parquet(delPath)
    // a delete file written before a rename keys on the OLD name —
    // conform it to the serving schema's names before the anti-join
    val keys = keys0.columns.foldLeft(keys0)((d, c) =>
      aliasOf.get(c).fold(d)(cur => d.withColumnRenamed(c, cur)))
    if (id.startsWith("p")) {
      // match on the TABLE-RELATIVE path, never the bare file name: one
      // partitioned write job reuses part-file names across its k=v dirs
      // (same task prefix + job UUID), so a name-only match would delete
      // same-ordinal rows in sibling partitions. Row identity comes from
      // the _pos_* columns [[applyDeleteRefs]] attached while the plan
      // still sat on the scan — reading `_metadata` here would break as
      // soon as an earlier ref's anti-join stood between this ref and
      // the scan (a part stacking `+d…,p…` refs).
      val rootPath = new Path(table).toUri.getPath
      val pos = keys.select(col("_del_path").as("__graft_del_f"),
        col("_del_pos").as("__graft_del_p"))
      df.withColumn("__graft_del_f",
          regexp_replace(col("_pos_path"),
            ".*" + java.util.regex.Pattern.quote(rootPath + "/"), ""))
        .withColumn("__graft_del_p", col("_pos_ordinal"))
        .join(broadcast(pos), Seq("__graft_del_f", "__graft_del_p"),
          "left_anti")
        .drop("__graft_del_f", "__graft_del_p")
    } else df.join(broadcast(keys), keys.columns.toSeq, "left_anti")
  }

  /** Apply a part's pending delete refs to a frame sitting DIRECTLY on
    * its parquet scan — the one place the `_metadata`-derived row
    * identity is attached (positional refs and `keepPos` readers both
    * need it, and it must bind before ANY ref's anti-join breaks the
    * scan-adjacency `_metadata` demands). Refs are independent set
    * subtractions, so application order is free; the identity columns
    * are dropped again unless the caller asked to keep them. */
  private def applyDeleteRefs(spark: SparkSession, table: String,
                              df0: DataFrame, dels: Seq[String],
                              keepPos: Boolean = false,
                              aliasOf: Map[String, String] = Map.empty)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val needsPos = keepPos || dels.exists(_.startsWith("p"))
    val df = if (!needsPos) df0 else df0
      .withColumn("_pos_path", col("_metadata.file_path"))
      .withColumn("_pos_ordinal", col("_metadata.row_index"))
    val out = dels.foldLeft(df)(applyDeleteRef(spark, table, _, _, aliasOf))
    if (keepPos || !needsPos) out
    else out.drop("_pos_path", "_pos_ordinal")
  }

  /** Materialize a (partition → state) manifest map as a DataFrame:
    * partitions sharing the same pending-delete set are scanned as one
    * multi-path read, each delete file is applied as ONE broadcast
    * anti-join over that group (merge-on-read — the Iceberg v2 equality-
    * delete read path), and the groups union back together. Tables with
    * no pending deletes take a single-group fast path identical to the
    * old plain multi-path scan. With `schema` (the manifest-pinned union
    * schema), partitions whose files predate an added column read it as
    * NULL — and NO footer sampling/merging happens at all, the Iceberg
    * schema-from-metadata read path. None when no partition holds data. */
  private def readEntries(spark: SparkSession, table: String,
                          entries: Map[String, String],
                          schema: Option[org.apache.spark.sql.types.StructType] = None,
                          rowPos: Boolean = false,
                          stats: Map[String, PartStats] = Map.empty)
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // group by (pending-delete set, the rel's OWN partition layout): a
    // spec-evolved table holds old- and new-spec dirs side by side, and
    // one multi-path read must not mix layouts (partition discovery
    // demands consistent structure). A promoted column missing from a
    // group's dirs is read from the files themselves (it was a data
    // column when they were written), typed as recorded at evolution.
    val groups = entries.toSeq.sortBy(_._1).flatMap { case (rel, state) =>
      parseParts(state).flatMap { case (base, dels) =>
        stateDataPath(table, rel, base).map(p => ((dels, relCols(rel)), (p, rel)))
      }
    }.groupBy(_._1).toSeq.sortBy(_._1.toString)
    if (groups.isEmpty) None
    else {
      // manifest row counts feed the planner's size estimate WITHOUT any
      // file listing (exact per delete-free rel): a group's hint is the
      // sum over its rels, but only when every contributing rel has
      // stats, carries no pending deletes, and lands WHOLLY in this
      // group — a rel split across groups would double-count
      val relGroupCount: Map[String, Int] =
        groups.flatMap { case (key, ms) => ms.map(m => m._2._2 -> key) }
          .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      lazy val promoted = promotedSpecCols(spark, table)
      Some(groups.map { case ((dels, pcols), members) =>
        val rels = members.map(_._2._2).distinct
        val hinted = dels.isEmpty && rels.forall(r =>
          relGroupCount(r) == 1 && stats.contains(r))
        val rowsHint: Option[Long] =
          if (hinted) Some(rels.map(stats(_).rows).sum)
          else None
        // recorded on-disk bytes FLOOR the planner estimate: rows ×
        // default type widths grossly under-sizes wide string/binary
        // columns (StringType counts 20 bytes), and an under-sized
        // table flipping beneath autoBroadcastJoinThreshold risks a
        // driver-OOM broadcast the eager file-size path never did
        val bytesFloor: Option[Long] =
          if (hinted && rels.forall(r => stats(r).bytes > 0))
            Some(rels.map(stats(_).bytes).sum)
          else None
        val (dfA, aliasOf) = groupScan(spark, table, schema, promoted,
          pcols, members.map(_._2._1), rowsHint = rowsHint,
          bytesFloor = bytesFloor,
          pcolFields = Some(inferPcolFields(rels, pcols)))
        // conform promoted/hidden columns a layout group LACKS even when
        // no pinned schema was passed (deleteKeys' raw read): a transform
        // dir column exists only as a path segment of new-spec groups —
        // old-spec groups read it as a typed NULL, identity promotions
        // read it from their files and are skipped here
        val df1 = promoted.filterNot(f => dfA.columns.contains(f.name))
          .foldLeft(dfA)((d, f) => d.withColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
        // row identity attaches while the plan still sits on the scan
        // (unions/joins drop `_metadata`), exposing the surviving rows'
        // true in-file positions — applyDeleteRefs handles both the
        // rowPos contract and positional refs stacked after equality ones
        applyDeleteRefs(spark, table, df1, dels, keepPos = rowPos,
          aliasOf = aliasOf)
      }.reduce(_ unionByName _))
    }
  }

  /** One layout-group scan under a pinned schema, RENAME-aware — the
    * shared read primitive of [[readEntries]] and [[planFileScoped]]:
    * files written pre-rename carry the ALIAS name, so the reader
    * schema requests the current name (scan-relaxed to nullable — a
    * pre-rename file misses it entirely) plus every alias, and a
    * post-scan coalesce folds whichever side the file's era populated
    * into the current name. Exact, including NULLs: the other side is
    * a missing column, never a value. Returns the frame plus the
    * alias→current map the delete-ref legs conform old delete files
    * through. Projection-only on top of the scan, so `_metadata` row
    * identity still binds downstream. */
  private def groupScan(spark: SparkSession, table: String,
                        schema: Option[org.apache.spark.sql.types.StructType],
                        promoted: Seq[org.apache.spark.sql.types.StructField],
                        pcols: Seq[String], paths: Seq[String],
                        useBasePath: Boolean = true,
                        rowsHint: Option[Long] = None,
                        bytesFloor: Option[Long] = None,
                        pcolFields: Option[Seq[org.apache.spark.sql.types
                          .StructField]] = None)
      : (DataFrame, Map[String, String]) = {
    import org.apache.spark.sql.functions.{coalesce, col}
    import org.apache.spark.sql.types.{StructField, StructType}
    val aliased: Seq[(StructField, Seq[String])] =
      schema.toSeq.flatMap(_.fields)
        .map(f => f -> fieldAliases(f)).filter(_._2.nonEmpty)
    val aliasOf: Map[String, String] = aliased.flatMap { case (f, as) =>
      as.map(_ -> f.name)
    }.toMap
    val groupSchema = schema.map { st =>
      val extra = promoted.filterNot(f => pcols.contains(f.name))
        .filterNot(f => st.fieldNames.contains(f.name))
      val aliasFields = aliased.flatMap { case (f, as) =>
        as.map(a => StructField(a, f.dataType, nullable = true))
      }
      val aliasedNames = aliased.map(_._1.name).toSet
      val scanFields = st.fields.map(f =>
        if (aliasedNames.contains(f.name)) f.copy(nullable = true) else f)
      StructType(scanFields ++ extra ++ aliasFields)
    }
    // DEFERRED-LISTING scan (the common, pinned-schema case): merely
    // CONSTRUCTING spark.read.parquet(dirs…) lists every leaf file
    // (~7–10 s at the 65k-file decade) even when the frame is never
    // run — a routed SQL statement's response frame in particular. With
    // the data schema pinned and the partition columns typed from the
    // manifest rels ([[inferPcolFields]] — or the pinned field when the
    // schema carries it, matching the eager reader's cast-to-user-type
    // rule), the scan needs ZERO file system calls until an action
    // plans it ([[org.apache.spark.sql.graft.LazyScan]]); the manifest
    // row hint right-sizes first-plan join decisions the same way
    // Iceberg reports stats. Schema-less reads (pre-upgrade tables)
    // still infer eagerly; per-file token paths (useBasePath = false)
    // keep the eager reader too.
    val df0 = (groupSchema, pcolFields) match {
      case (Some(st), Some(pfs)) if useBasePath =>
        val pSchema = StructType(pfs.map(f =>
          st.fields.find(_.name == f.name).getOrElse(f)))
        val dSchema = StructType(
          st.fields.filterNot(f => pcols.contains(f.name)))
        org.apache.spark.sql.graft.LazyScan.parquetFrame(spark, paths,
          Map("basePath" -> table), dSchema, pSchema, rowsHint, bytesFloor)
      case _ =>
        val reader0 =
          if (useBasePath) spark.read.option("basePath", table)
          else spark.read
        groupSchema.foldLeft(reader0)(_ schema _).parquet(paths: _*)
    }
    val dfA = aliased.foldLeft(df0) { case (d, (f, as)) =>
      d.withColumn(f.name, coalesce((f.name +: as).map(col): _*))
        .drop(as: _*)
    }
    (dfA, aliasOf)
  }

  /** Snapshot read exposing each row's physical identity — `_pos_path`
    * (the data file) and `_pos_ordinal` (the row's ordinal within it) —
    * the handle [[deletePositions]] consumes: filter this frame to the
    * rows to remove, then hand the two columns back. Already-deleted
    * positions never appear (the read is merge-on-read like any other). */
  def readWithRowPos(spark: SparkSession, table: String): DataFrame =
    scan(spark, rowPosRoot(spark, table, "readWithRowPos"), rowPos = true)
      .getOrElse(throw new IllegalArgumentException(
        s"readWithRowPos: no partition of $table holds rows"))

  /** The current root of a table the positional reads serve: refused
    * unless the table is manifested and has a committed root. */
  private def rowPosRoot(spark: SparkSession, table: String,
                         what: String): Root = {
    require(isManifested(spark, table),
      s"$what: $table is not a manifested table")
    val root = resolveRoot(spark, table)
    require(root.version.nonEmpty,
      s"$what: no committed root manifest at $table")
    root
  }

  /** The full ROW schema of a manifested table WITHOUT constructing the
    * frame — construction eagerly lists every data file, which turned a
    * point UPDATE's mere `tSchema` lookup into a 65k-file listing
    * (measured: ~10-15 s of every row-level SQL statement's cost at
    * that decade). Shape: pinned union schema (data columns) + promoted
    * spec columns + partition columns, the latter typed by the SAME
    * inference Spark's partition discovery applies to the dir values
    * (int → long → double → date → string; the writer's own rendering
    * round-trips through it), read from one manifest rel per column —
    * zero file listings. None when no schema is pinned (pre-upgrade
    * tables fall back to the real frame). */
  private[graft] def tableRowSchema(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.types.StructType] =
    rowSchema(spark, resolveRoot(spark, table))

  /** [[tableRowSchema]] of a resolved root. */
  private[graft] def rowSchema(spark: SparkSession, root: Root)
      : Option[org.apache.spark.sql.types.StructType] =
    root.schema.map { pinned =>
      // hidden transform dir columns (e.g. k__bucket4) are part of the
      // SPEC but never of the row schema — every read frame strips them
      // via [[dropHidden]]; including them here would make routed
      // UPDATE/MERGE select columns the frame lacks
      val hiddenNames = specTransforms(spark, root.table).map(_.name).toSet
      val promoted = promotedSpecCols(spark, root.table)
        .filterNot(f => pinned.fieldNames.contains(f.name))
        .filterNot(f => hiddenNames.contains(f.name))
      // a pinned partition column (a DDL-declared type, see
      // [[createRoot]]) keeps its pinned type, as [[groupScan]] reads it
      val pcols = inferPcolFields(root.entries.keys.toSeq,
        partitionCols(spark, root.table).filterNot(hiddenNames.contains))
        .map(f => pinned.find(_.name == f.name).getOrElse(f))
      org.apache.spark.sql.types.StructType(
        pinned.fields.filterNot(f => pcols.exists(_.name == f.name)) ++
          promoted.filterNot(f => pcols.exists(_.name == f.name)) ++ pcols)
    }

  /** Partition-column fields typed by METADATA-ONLY inference over the
    * manifest rel paths' `k=v` segments, mirroring Spark's partition
    * discovery order (PartitioningUtils.inferPartitionColumnValue:
    * int → long → decimal(scale 0) → double → date → timestamp →
    * string) and its widening union across dirs — so the metadata-only
    * schema equals the frame schema the actual read discovers (dirs
    * part=1 and part=9999999999 discover as LONG; typing from one rel
    * alone would int-overflow rowSchema casts; a non-promotable mix
    * falls to string, Spark's own fallback). */
  private[graft] def inferPcolFields(rels: Seq[String], cols: Seq[String])
      : Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    def inferred(v: String): DataType =
      if (v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME) NullType // typed by the other dirs
      else if (scala.util.Try(Integer.parseInt(v)).isSuccess) IntegerType
      else if (scala.util.Try(java.lang.Long.parseLong(v)).isSuccess) LongType
      else if (v.matches("""-?\d{1,38}""")) // > Long range, ≤ 38 digits
        DecimalType(v.stripPrefix("-").length, 0)
      else if (scala.util.Try(java.lang.Double.parseDouble(v)).isSuccess &&
        !v.equalsIgnoreCase("nan") && !v.toLowerCase.contains("infinity"))
        DoubleType
      else if (v.matches("""\d{4}-\d{2}-\d{2}""") &&
        scala.util.Try(java.time.LocalDate.parse(v)).isSuccess) DateType
      else if (v.matches("""\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?""") &&
        scala.util.Try(java.time.LocalDateTime.parse(v.replace(' ', 'T')))
          .isSuccess) TimestampType
      else StringType
    def union(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (NullType, x) => x
      case (x, NullType) => x
      case (IntegerType, LongType) | (LongType, IntegerType) => LongType
      case (IntegerType | LongType, DoubleType) => DoubleType
      case (DoubleType, IntegerType | LongType) => DoubleType
      case (d1: DecimalType, d2: DecimalType)
          if d1.scale == 0 && d2.scale == 0 =>
        DecimalType(math.max(d1.precision, d2.precision), 0)
      case (d: DecimalType, IntegerType | LongType) if d.scale == 0 =>
        DecimalType(math.max(d.precision, 20), 0)
      case (IntegerType | LongType, d: DecimalType) if d.scale == 0 =>
        DecimalType(math.max(d.precision, 20), 0)
      case (DateType, TimestampType) | (TimestampType, DateType) =>
        TimestampType
      case _ => StringType
    }
    cols.map { c =>
      val vs = rels.flatMap(_.split("/").find(_.startsWith(c + "="))
        .map(seg => org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(
            seg.substring(c.length + 1))))
      val dt = vs.map(inferred).reduceOption(union).getOrElse(StringType)
      StructField(c, if (dt == NullType) StringType else dt)
    }
  }

  /** [[readWithRowPos]] restricted by manifest stats: partitions and
    * files whose recorded bounds for `keyCol` provably exclude every
    * value in `keysDf`'s single column are never constructed, listed, or
    * scanned — the point-UPDATE/DELETE scan analogue of the merge path's
    * stats-pruned lookup. Margin-safe by the shared [[keyExclusion]]
    * contract (absent stats ⇒ keep; alias-aware for renamed keys), so
    * restriction never changes which rows the caller's OWN predicate
    * can match. A pruned-to-nothing read returns an empty frame shaped
    * like [[readWithRowPos]]'s. */
  def readWithRowPosPruned(spark: SparkSession, table: String,
                           keyCol: String, keysDf: DataFrame): DataFrame = {
    val root = rowPosRoot(spark, table, "readWithRowPosPruned")
    rowPosScan(spark, root,
      keyPredicate(spark, root.schema, Seq(keyCol), keysDf))
  }

  /** Compile a (parsed, unresolved) row condition into a conservative
    * "may any row of a file with these bounds satisfy it?" test — the
    * stats-pushdown for conditional BY SOURCE classification. Supported
    * shapes: AND/OR trees of `col <op> literal` comparisons and
    * IN-lists over numeric columns (compared as double with the same
    * 2-ulp margins as [[numericKeyExcluded]]) and ASCII-bounded string
    * columns (the [[stringKeyExcluded]] discipline); anything else —
    * IS NULL, NOT, casts, string/number coercions, expressions over two
    * columns — compiles to "maybe" (never prunes). None when NOTHING
    * usable compiled, so callers fall back to the full scan instead of
    * paying the sidecar reads for nothing. */
  private[graft] def condPossible(
      schema: org.apache.spark.sql.types.StructType,
      cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[PartStats => Boolean] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val Maybe: PartStats => Boolean = _ => true
    var usable = false
    def fieldOf(a: UnresolvedAttribute) =
      schema.fields.find(_.name.equalsIgnoreCase(a.nameParts.last))
    def numLit(l: Literal): Option[Double] = l.dataType match {
      // `200.0` parses as DECIMAL(4,1) — accept it alongside the
      // binary numerics (Decimal.toString is the plain form)
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
           _: DoubleType | _: FloatType | _: DecimalType =>
        Option(l.value).map(v => v.toString.toDouble)
      case _ => None
    }
    def strLit(l: Literal): Option[String] = l.dataType match {
      case _: StringType => Option(l.value).map(_.toString)
      case _ => None
    }
    def isNum(dt: DataType) = dt match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
           _: DoubleType | _: FloatType => true
      case _ => false
    }
    /** One comparison, `col <op> lit` orientation already normalized. */
    def cmp(a: UnresolvedAttribute, l: Literal, op: String)
        : PartStats => Boolean =
      fieldOf(a) match {
        case Some(f) if isNum(f.dataType) && numLit(l).isDefined =>
          val v = numLit(l).get
          val names = f.name +: fieldAliases(f)
          usable = true
          st => names.iterator.flatMap(st.cols.get).nextOption() match {
            case Some((mn, mx)) =>
              (ParquetStats.numeric(mn), ParquetStats.numeric(mx)) match {
                case (Some(a0), Some(b0)) =>
                  val lo = Math.nextDown(Math.nextDown(a0))
                  val hi = Math.nextUp(Math.nextUp(b0))
                  op match {
                    case "="  => lo <= v && v <= hi
                    case "<"  => lo < v
                    case "<=" => lo <= v
                    case ">"  => hi > v
                    case ">=" => hi >= v
                  }
                case _ => true
              }
            case None => true
          }
        case Some(f) if f.dataType == StringType && strLit(l).isDefined &&
            strLit(l).forall(s => s.forall(c => c >= 0x20 && c < 0x7f)) =>
          val v = strLit(l).get
          val names = f.name +: fieldAliases(f)
          usable = true
          st => names.iterator.flatMap(st.cols.get).nextOption() match {
            case Some((mn, mx))
                if mn.forall(c => c >= 0x20 && c < 0x7f) &&
                   mx.forall(c => c >= 0x20 && c < 0x7f) =>
              op match {
                case "="  => mn <= v && v <= mx
                case "<"  => mn < v
                case "<=" => mn <= v
                case ">"  => mx > v
                case ">=" => mx >= v
              }
            case _ => true
          }
        case _ => Maybe
      }
    def compile(e: Expression): PartStats => Boolean = e match {
      case And(x, y) =>
        val (cx, cy) = (compile(x), compile(y)); st => cx(st) && cy(st)
      case Or(x, y) =>
        val (cx, cy) = (compile(x), compile(y)); st => cx(st) || cy(st)
      case EqualTo(a: UnresolvedAttribute, l: Literal) => cmp(a, l, "=")
      case EqualTo(l: Literal, a: UnresolvedAttribute) => cmp(a, l, "=")
      case LessThan(a: UnresolvedAttribute, l: Literal) => cmp(a, l, "<")
      case LessThan(l: Literal, a: UnresolvedAttribute) => cmp(a, l, ">")
      case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
        cmp(a, l, "<=")
      case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
        cmp(a, l, ">=")
      case GreaterThan(a: UnresolvedAttribute, l: Literal) => cmp(a, l, ">")
      case GreaterThan(l: Literal, a: UnresolvedAttribute) => cmp(a, l, "<")
      case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
        cmp(a, l, ">=")
      case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
        cmp(a, l, "<=")
      case In(a: UnresolvedAttribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val tests = vs.map(v => cmp(a, v.asInstanceOf[Literal], "="))
        st => tests.exists(_(st))
      case _ => Maybe
    }
    val compiled = compile(cond)
    if (usable) Some(compiled) else None
  }

  /** Exclusion tests for [[planFileScoped]]: may a file with the given
    * recorded bounds for the key column be PROVEN free of source keys?
    * Both are margin-safe — a borderline or unparseable bound means
    * "rewrite", never "skip".
    *
    * [[numericKeyExcluded]]: bounds went through a decimal/double
    * round-trip (±1 ulp for 64-bit ints beyond 2^53 — xxhash64
    * surrogate keys live there), so exclusion demands a 2-ulp gap per
    * side. With `points` (the SOURCE's sorted distinct key values,
    * collected when bounded) the test sharpens from one global interval
    * to point containment: a file whose range falls in a GAP between
    * scattered CDC keys survives — with the interval alone, updating
    * keys {5, 10⁹} would rewrite every file in between.
    *
    * [[stringKeyExcluded]]: string footer stats are exact or WIDENED
    * (parquet's truncator rounds max up, min down), so they are valid
    * bounds as-is; comparison must be the unsigned-byte order both
    * parquet stats and Spark's UTF8String use — restricted to pure
    * printable-ASCII bounds (sha-256 hex IDs, URLs, slugs — the
    * reference's entire key surface), where Java's char order IS byte
    * order and the footer's UTF-8 decode round-trips exactly. Non-ASCII
    * bounds are never trusted (rewrite). */
  private[graft] def numericKeyExcluded(keyCol: String, lo: Double,
      hi: Double, points: Option[Array[Double]],
      aliases: Seq[String] = Nil)(st: PartStats): Boolean =
    // bounds recorded pre-rename live under an ALIAS name; either name's
    // bounds describe the same column data, so the first hit serves
    (keyCol +: aliases).iterator.flatMap(st.cols.get).nextOption()
      .exists { case (mn, mx) =>
      (ParquetStats.numeric(mn), ParquetStats.numeric(mx)) match {
        case (Some(a), Some(b)) =>
          val aLo = Math.nextDown(Math.nextDown(a))
          val bHi = Math.nextUp(Math.nextUp(b))
          if (bHi < Math.nextDown(lo) || aLo > Math.nextUp(hi)) true
          else points.exists { ks =>
            // no source key falls inside the widened file range
            val i = java.util.Arrays.binarySearch(ks, aLo)
            val from = if (i >= 0) i else -(i + 1)
            from >= ks.length || ks(from) > bHi
          }
        case _ => false
      }
    }

  private def asciiPrintable(s: String): Boolean =
    s.forall(c => c >= 0x20 && c < 0x7f)

  private[graft] def stringKeyExcluded(keyCol: String, lo: String,
      hi: String, points: Option[Array[String]],
      aliases: Seq[String] = Nil)(st: PartStats): Boolean =
    (keyCol +: aliases).iterator.flatMap(st.cols.get).nextOption()
      .exists { case (mn, mx) =>
      asciiPrintable(mn) && asciiPrintable(mx) && {
        if (mx.compareTo(lo) < 0 || mn.compareTo(hi) > 0) true
        else points.exists { ks =>
          val i = java.util.Arrays.binarySearch(
            ks.asInstanceOf[Array[AnyRef]], mn,
            java.util.Comparator.naturalOrder[String]()
              .asInstanceOf[java.util.Comparator[AnyRef]])
          val from = if (i >= 0) i else -(i + 1)
          from >= ks.length || ks(from).compareTo(mx) > 0
        }
      }
    }

  /** FILE-pruned view of candidate `entries` for a keyed SCAN: each dir
    * part whose [[writeFileStats]] sidecar proves some files free of
    * every probe key is narrowed to file-scoped tokens over the
    * CANDIDATE files alone — the read-side analogue of
    * [[planFileScoped]]'s rewrite selection, reusing the state-token
    * grammar so [[readEntries]] serves the pruned view through the
    * ordinary machinery (delete refs, aliases, row positions) with zero
    * new read code. Margin-safe like every stats prune here: absent or
    * unusable bounds keep the file; FLAT parts can't prune (no sidecar);
    * a rel all of whose parts prune away is dropped — it provably holds
    * no probe key. Callers use the result for SCANNING only, never as a
    * manifest to commit. At 100 TB this is what turns a 3-key IN-list
    * DELETE from O(candidate-partition bytes) into O(candidate files):
    * the sf10 drill's full-partition scans were the delete route's last
    * linear term. */
  private[graft] def filePruneEntries(
      spark: SparkSession, table: String, entries: Map[String, String],
      excluded: PartStats => Boolean): Map[String, String] = {
    val pruned = inParallel(entries.toSeq.sortBy(_._1)) { case (rel, state) =>
      rel -> parseParts(state).flatMap { case (b, dels) =>
        val files = splitPart(spark, table, rel, b, excluded)
        // a part with no provably key-free file reads whole, token unchanged
        if (!files.exists(_._3)) Seq((b, dels))
        else files.collect { case (tok, _, false) => (tok, dels) }
      }
    }
    pruned.collect { case (rel, ps) if ps.nonEmpty =>
      rel -> fmtParts(ps)
    }.toMap
  }

  /** THE per-file split that keyed scans ([[filePruneEntries]]) and the
    * file-scoped merge plan ([[planFileScoped]]) share: each data file of
    * part `base` of partition `rel` as (its file-scoped state token, its
    * path, whether its `_filestats` sidecar bounds prove it `excluded`).
    * A dir part splits into its sidecar's files, a file-scoped token is
    * its one file (absent from the sidecar: not excluded); EMPTY and FLAT
    * parts carry no sidecar and split into nothing. */
  private def splitPart(spark: SparkSession, table: String, rel: String,
                        base: String, excluded: PartStats => Boolean)
      : Seq[(String, String, Boolean)] =
    if (base == Empty || base == Flat) Nil
    else {
      val v = base.takeWhile(_ != '/')
      val dir = s"${relPath(table, rel)}/$VersionsDir/$v"
      if (base.contains('/')) {
        val name = base.substring(v.length + 1)
        Seq((base, s"$dir/$name",
          fileStats(spark, dir).toMap.get(name).exists(excluded)))
      } else fileStats(spark, dir).map { case (name, st) =>
        (s"$v/$name", s"$dir/$name", excluded(st))
      }
    }

  /** FILE-SCOPED MERGE planning (Iceberg's file-level rewrite selection,
    * evaluated from the [[writeFileStats]] sidecars — the per-file
    * manifests): split each touched partition's state into
    *
    *  - SURVIVORS: parts — or individual files of a partially-surviving
    *    part, as `vNNNNNNNN/<file>` file-scoped state tokens — whose
    *    recorded key bounds the `excluded` predicate proves free of
    *    every source key ([[numericKeyExcluded]] / [[stringKeyExcluded]]
    *    — interval + optional point-set tests). Their bytes are never
    *    read, rewritten, or moved; they keep their pending delete refs
    *    and their original paths/mtimes. A part all of whose files
    *    survive keeps its ORIGINAL token (no state churn).
    *  - the REWRITE SET: every other file, returned delete-applied as
    *    one DataFrame (partition columns recovered via basePath) for the
    *    caller to merge with the source and re-stage.
    *
    * FLAT parts never survive (legacy pre-manifest files — the first
    * MERGE folds them into a real version); EMPTY parts contribute
    * nothing; a file with absent or non-numeric bounds is rewritten —
    * absent stats mean "cannot prune", never "skip". At 100 TB this is
    * what makes a small keyed MERGE O(files its keys intersect) instead
    * of O(touched partitions): a 1-row update into a 10 000-file
    * partition rewrites one file and re-manifests the other 9 999.
    *
    * Storage note: a version dir stays retention-protected WHOLE while
    * any of its files survives by token, so a rewritten sibling's bytes
    * linger until compaction folds the dir's last survivors — the same
    * space-vs-write-amplification trade Iceberg makes, reclaimed by the
    * ordinary [[compact]] cadence. */
  private[graft] def planFileScoped(
      spark: SparkSession, table: String, base: Map[String, String],
      touchedRels: Set[String],
      excluded: PartStats => Boolean,
      schema: Option[org.apache.spark.sql.types.StructType])
      : (Map[String, Seq[(String, Seq[String])]], Option[DataFrame]) = {
    // per-rel selection fans out on the bounded pool — the planning
    // cost of a 1000-partition MERGE is sidecar-read latency, which is
    // per-partition independent. Rewrite groups carry (delete refs,
    // rel's own partition layout): one read per layout, so an evolved
    // table's old- and new-spec files never mix in a single
    // partition-discovery pass.
    val perRel: Seq[(String, Seq[(String, Seq[String])],
                     Seq[((Seq[String], Seq[String]), String)])] =
      inParallel(touchedRels.toSeq.sorted) { rel =>
        val keep = Seq.newBuilder[(String, Seq[String])]
        val rewrite = Seq.newBuilder[((Seq[String], Seq[String]), String)]
        base.get(rel).toSeq.flatMap(parseParts).foreach { case (b, dels) =>
          val files = splitPart(spark, table, rel, b, excluded)
          if (b == Flat) // legacy files never survive: the merge folds them
            stateDataPath(table, rel, b).foreach(p =>
              rewrite += (((dels, relCols(rel)), p)))
          else if (files.nonEmpty && files.forall(_._3))
            keep += ((b, dels)) // whole part survives, token unchanged
          else files.foreach { case (tok, p, ex) =>
            if (ex) keep += ((tok, dels))
            else rewrite += (((dels, relCols(rel)), p))
          }
        }
        (rel, keep.result(), rewrite.result())
      }
    val survivors =
      perRel.collect { case (rel, k, _) if k.nonEmpty => rel -> k }.toMap
    val groups = perRel.flatMap(_._3).groupBy(_._1).toSeq
      .sortBy(_._1.toString)
    lazy val promoted = promotedSpecCols(spark, table)
    val df =
      if (groups.isEmpty) None
      else Some(groups.map { case ((dels, pcols), members) =>
        val (d0, aliasOf) = groupScan(spark, table, schema, promoted,
          pcols, members.map(_._2).sorted)
        applyDeleteRefs(spark, table, d0, dels, aliasOf = aliasOf)
      }.reduce(_ unionByName _))
    (survivors, df)
  }

  private val AliasKey = "graft.aliases"

  /** Historical names a field answered to before renames — recorded as
    * field METADATA inside the pinned schema, so the mapping is
    * per-version by construction (time travel to a pre-rename root
    * serves that era's own names: its schema simply still carries the
    * old name as the field) and rides every root commit that carries
    * the schema forward — no extra sidecar, no field ids. */
  private[graft] def fieldAliases(
      f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(AliasKey))
      f.metadata.getStringArray(AliasKey).toSeq
    else Nil

  /** Shared body of the schema-DDL ops: under the writer lease, derive
    * the next pinned schema from the current one and publish ONE
    * metadata-only root commit (an O(1) delta — zero partitions
    * touched, zero data files read or written). */
  private def schemaDdl(spark: SparkSession, table: String, what: String)
                       (next: org.apache.spark.sql.types.StructType =>
                              org.apache.spark.sql.types.StructType): Unit =
    leased(spark, table, what) { _ =>
      val root = resolveRoot(spark, table)
      if (root.version.isEmpty) throw new IllegalStateException(
        s"$what: $table has no committed root manifest")
      val pinned = root.schema.getOrElse(
        throw new IllegalStateException(
          s"$what: $table's root slot pins no schema"))
      publishRoot(spark, table, root, root.entries, Map.empty,
        graft.operators.Upsert.DefaultRetainVersions, Some(next(pinned)))
    }

  /** NON-ADDITIVE SCHEMA EVOLUTION, part 1: RENAME (Iceberg's rename,
    * without field ids). One metadata-only commit pins the schema with
    * the field under its new name and the old name appended to its
    * [[fieldAliases]]. No data file is touched: reads COALESCE the
    * alias columns into the current name (old files populate the alias,
    * new files the name — a file has exactly one era, so the merge is
    * exact, including NULLs), equality-delete files written under the
    * old name conform at load, and stats-pruned merge planning looks
    * bounds up under any alias, so a file-scoped MERGE on the renamed
    * key still prunes old files. Partition columns and hidden-transform
    * sources refuse (their names ARE the dir layout); collisions with
    * live names or aliases refuse. */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Unit =
    schemaDdl(spark, table, s"renameColumn($from -> $to)") { pinned =>
      val pcols = partitionCols(spark, table)
      require(!pcols.contains(from),
        s"renameColumn: '$from' is a partition column — its name is the " +
          "dir layout; evolve the spec instead")
      require(specTransforms(spark, table).forall(_.source != from),
        s"renameColumn: '$from' is a hidden-transform source")
      require(pinned.fieldNames.contains(from),
        s"renameColumn: no column '$from' in ${pinned.fieldNames.toSeq}")
      require(!pinned.fieldNames.contains(to) && !pcols.contains(to) &&
        !pinned.fields.exists(f => fieldAliases(f).contains(to)),
        s"renameColumn: name '$to' is already in use (live or alias)")
      val i = pinned.fieldIndex(from)
      val f = pinned.fields(i)
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putStringArray(AliasKey,
          (fieldAliases(f) :+ from).distinct.toArray)
        .build()
      org.apache.spark.sql.types.StructType(
        pinned.fields.updated(i, f.copy(name = to, metadata = md)))
    }

  /** ADDITIVE column add as DDL (the `ALTER TABLE ADD COLUMN` surface —
    * the write-side upserts always could evolve additively; this adds
    * the column WITHOUT a data commit): one metadata-only root commit
    * pins the schema with the new trailing nullable field; every
    * existing file reads it as NULL through the pinned-union read. */
  def addColumn(spark: SparkSession, table: String, name: String,
                dt: org.apache.spark.sql.types.DataType): Unit =
    schemaDdl(spark, table, s"addColumn($name)") { pinned =>
      require(!pinned.fieldNames.exists(_.equalsIgnoreCase(name)) &&
        !partitionCols(spark, table).exists(_.equalsIgnoreCase(name)) &&
        !pinned.fields.exists(f =>
          fieldAliases(f).exists(_.equalsIgnoreCase(name))),
        s"addColumn: name '$name' is already in use (live, partition, " +
          "or alias)")
      org.apache.spark.sql.types.StructType(pinned.fields :+
        org.apache.spark.sql.types.StructField(name, dt, nullable = true))
    }

  /** DYNAMIC PARTITION OVERWRITE as one commit (Iceberg's
    * `INSERT OVERWRITE` semantics): every partition present in `df` is
    * REPLACED by a fresh version part (its prior parts and their
    * pending delete refs retire with the state swap — readers pinned to
    * older roots keep them); partitions `df` does not touch are
    * untouched. One root publish; O(written data + touched partitions).
    * Takes the writer lease. */
  def overwritePartitions(spark: SparkSession, table: String, df: DataFrame,
                          retainVersions: Int =
                            graft.operators.Upsert.DefaultRetainVersions)
      : Unit =
    leased(spark, table, "overwritePartitions") { lease =>
      val cols = partitionCols(spark, table)
      ensureManifested(spark, table, cols) // marks a whole-table _versions table
      val out = applyTransforms(spark, table, df)
      // the schema this commit pins follows the Upsert.align contract:
      // additive UNION with the current pinned schema (a df carrying a
      // subset of the table's columns must not shrink the pinned union
      // table-wide — untouched partitions' old files keep serving every
      // column; the overwritten partitions read the missing ones as
      // NULL), and a TYPE change on a shared column fails loudly
      val pinSchema: org.apache.spark.sql.types.StructType =
        currentRootVersion(spark, table)
          .flatMap(pinnedSchema(spark, table, _)) match {
          case None => out.schema
          case Some(prior) =>
            val pf = prior.fields.map(f => f.name -> f.dataType).toMap
            val conflicts = out.schema.fields
              .filter(f => pf.get(f.name).exists(_ != f.dataType))
            require(conflicts.isEmpty,
              "overwritePartitions: type change not supported for " +
                s"${conflicts.map(_.name).toSeq.sorted} (pinned " +
                s"${conflicts.map(f => pf(f.name)).toSeq} vs written " +
                s"${conflicts.map(_.dataType).toSeq})")
            org.apache.spark.sql.types.StructType(prior.fields ++
              out.schema.fields.filterNot(f => pf.contains(f.name)))
        }
      // REPLACE: each staged partition's fresh part is its whole new state
      lease.stageThen(out, cols) { staging =>
        commitStaged(spark, table, Some(staging), cols, retainVersions,
          replaceStaged = true, schema = Some(pinSchema))
      }
      vacuumDeletes(spark, table)
    }

  /** NON-ADDITIVE SCHEMA EVOLUTION, part 2: DROP. One metadata-only
    * commit pins the schema without the field — old files keep the
    * bytes (reads simply never select the column; time travel to a
    * pre-drop root still serves it). Refuses for partition columns,
    * hidden-transform sources, and while any LIVE equality-delete file
    * keys on the column (its anti-join would lose its join column —
    * compact the affected partitions first to materialize the
    * deletes). Name-based mapping caveat (no field ids): re-ADDING a
    * dropped name later would resurface the old files' values under
    * it — use a fresh name instead. */
  def dropColumn(spark: SparkSession, table: String, name: String): Unit =
    schemaDdl(spark, table, s"dropColumn($name)") { pinned =>
      require(!partitionCols(spark, table).contains(name),
        s"dropColumn: '$name' is a partition column")
      require(specTransforms(spark, table).forall(_.source != name),
        s"dropColumn: '$name' is a hidden-transform source")
      require(pinned.fieldNames.contains(name),
        s"dropColumn: no column '$name' in ${pinned.fieldNames.toSeq}")
      val liveEq = rootManifest(spark, table).get.values.toSeq
        .flatMap(parseParts).flatMap(_._2).distinct.filter(_.startsWith("d"))
      // a delete file written before a rename keys on an ALIAS of this
      // field — dropping it would strand the anti-join's join column
      val names = (name +: pinned.fields.find(_.name == name)
        .map(fieldAliases).getOrElse(Nil)).toSet
      val keyed = liveEq.filter(id => spark.read
        .parquet(s"$table/$DeletesDir/$id").schema.fieldNames
        .exists(names.contains))
      require(keyed.isEmpty,
        s"dropColumn: live equality-delete file(s) ${keyed.sorted} key on " +
          s"'$name' — compact the affected partitions first")
      // TOMBSTONE, not removal: the field (with its alias graph) stays
      // in the persisted schema marked graft.dropped, so a later
      // re-addition of the name is refused instead of silently
      // re-serving the old files' bytes under it (the field-id
      // protection Iceberg gets structurally, done by name here).
      // Reads filter tombstones at the [[pinnedSchema]] boundary.
      val i = pinned.fieldIndex(name)
      val f = pinned.fields(i)
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putBoolean(DroppedKey, true).build()
      org.apache.spark.sql.types.StructType(
        pinned.fields.updated(i, f.copy(metadata = md, nullable = true)))
    }

  /** NON-ADDITIVE SCHEMA EVOLUTION, part 3: TYPE WIDENING (int→long,
    * float→double, int→double — the value-preserving promotions
    * Spark 4's vectorized parquet reader serves natively from narrower
    * files). One metadata-only commit re-pins the field at the wider
    * type; old files stay int32/float and read widened, new writes land
    * wide. Anything not value-preserving refuses loudly. */
  def widenColumn(spark: SparkSession, table: String, name: String,
                  to: org.apache.spark.sql.types.DataType): Unit =
    schemaDdl(spark, table, s"widenColumn($name -> ${to.sql})") { pinned =>
      import org.apache.spark.sql.types._
      require(!partitionCols(spark, table).contains(name),
        s"widenColumn: '$name' is a partition column")
      require(pinned.fieldNames.contains(name),
        s"widenColumn: no column '$name' in ${pinned.fieldNames.toSeq}")
      val i = pinned.fieldIndex(name)
      val f = pinned.fields(i)
      val ok = (f.dataType, to) match {
        case (a, b) if a == b => false
        case (ByteType | ShortType | IntegerType, LongType) => true
        case (ByteType | ShortType | IntegerType, IntegerType)
          if f.dataType != IntegerType => true
        case (ByteType, ShortType) => true
        case (ByteType | ShortType | IntegerType, DoubleType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
      require(ok, s"widenColumn: ${f.dataType.sql} -> ${to.sql} is not a " +
        "value-preserving widening (supported: int-ish -> wider int/long, " +
        "int-ish/float -> double)")
      org.apache.spark.sql.types.StructType(
        pinned.fields.updated(i, f.copy(dataType = to)))
    }

  /** The union schema pinned in root version `rv`'s slot (written by
    * every commit since schema pinning; None for pre-upgrade slots,
    * where reads fall back to footer inference). Iceberg keeps schemas
    * in table metadata for the same two reasons: additive evolution
    * (files that predate a column must read it as NULL, which inference
    * from an arbitrary first footer silently drops) and metadata-speed
    * reads (no footer sampling across 30 000 partitions). */
  def pinnedSchema(spark: SparkSession, table: String,
                   rv: Long): Option[org.apache.spark.sql.types.StructType] =
    pinnedSchemaRaw(spark, table, rv).map(st =>
      org.apache.spark.sql.types.StructType(
        st.fields.filterNot(isDroppedField)))

  /** The slot's pinned schema INCLUDING tombstone fields ([[dropColumn]]
    * marks dropped fields `graft.dropped` rather than removing them —
    * the name-based-mapping answer to Iceberg's field ids): every
    * ordinary consumer reads the filtered [[pinnedSchema]] and never
    * sees a dropped name; only [[publishRoot]] (which must CARRY the
    * tombstones forward and refuse a commit that re-introduces a
    * tombstoned name) and diagnostics read raw. */
  private[graft] def pinnedSchemaRaw(spark: SparkSession, table: String,
      rv: Long): Option[org.apache.spark.sql.types.StructType] = {
    val p = new Path(s"${Snapshots.versionPath(s"$table/$RootDir", rv)}/$SchemaFile")
    if (!fs(spark, p).exists(p)) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(readText(spark, p))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Tombstone marker for dropped columns: the field stays in the
    * PERSISTED schema (name + alias graph + type) so re-addition of the
    * name can be refused forever, but reads and writes never see it. */
  private val DroppedKey = "graft.dropped"
  private[graft] def isDroppedField(
      f: org.apache.spark.sql.types.StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  /** Fold root version `rv` to its full (partition → (state, stats))
    * map: a full manifest is the answer; a delta folds onto its parent's
    * resolution (a touched line replaces state AND stats together). */
  private def resolveManifestFull(spark: SparkSession, rt: String,
                                  rv: Long): Map[String, (String, Option[String])] = {
    val slot = Snapshots.versionPath(rt, rv)
    val full = new Path(s"$slot/$ManifestFile")
    if (fs(spark, full).exists(full))
      parseEntries(readText(spark, full).split("\n").toSeq)
    else {
      val lines = readText(spark, new Path(s"$slot/$DeltaFile"))
        .split("\n").toSeq.filter(_.nonEmpty)
      val parent = lines.head.stripPrefix("v").toLong
      resolveManifestFull(spark, rt, parent) ++ parseEntries(lines.tail)
    }
  }

  private def resolveManifest(spark: SparkSession, rt: String,
                              rv: Long): Map[String, String] =
    resolveManifestFull(spark, rt, rv).map { case (rel, (st, _)) => rel -> st }

  /** Current on-disk state of every partition, by directory walk — the
    * seed for a table's FIRST root manifest (later commits fold their
    * touched partitions into the previous manifest instead: O(touched),
    * no walk). */
  private def scanStates(spark: SparkSession, table: String,
                         cols: Seq[String]): Map[String, String] =
    partitionDirs(spark, table, cols.size).map { rel =>
      val pt = relPath(table, rel)
      val state = Snapshots.currentVersion(spark, pt)
        .orElse(latestServableSlot(spark, pt)) match {
        case Some(v) =>
          if (hasDataFiles(spark, new Path(Snapshots.versionPath(pt, v))))
            f"v$v%08d" else Empty
        case None =>
          if (hasDataFiles(spark, new Path(pt))) Flat else Empty
      }
      rel -> state
    }.toMap

  private def hasFullManifest(spark: SparkSession, rt: String,
                              v: Long): Boolean = {
    val p = new Path(s"${Snapshots.versionPath(rt, v)}/$ManifestFile")
    fs(spark, p).exists(p)
  }

  /** Publish the commit's root manifest and swap the root pointer — THE
    * commit point: the instant at which the whole commit becomes visible
    * to table-level readers. Same claim discipline as the data slots: the
    * manifest lands in a hidden staging dir RENAMED into the next free
    * version slot.
    *
    * Commit metadata is O(touched), not O(partitions): when the new
    * version extends the current pointer and the delta chain is shorter
    * than [[RebaseEvery]], only `touched` entries are written as a DELTA
    * naming its parent version; otherwise (first commit, every
    * [[RebaseEvery]]-th, or a post-rollback fork, where the pointer
    * trails the newest committed version) the FULL `entries` map is
    * rebased. Old manifests age out under the same `retain` window as
    * the data versions they name — chain-aware: a kept delta always
    * keeps its parents down to a full manifest. `parentRoot` is the root
    * the commit folds onto (a branch commit's is the BRANCH head).
    * Returns the published version. */
  private def publishRoot(spark: SparkSession, table: String,
                          parentRoot: Root,
                          entries: Map[String, String],
                          touched: Map[String, String], retain: Int,
                          schema: Option[org.apache.spark.sql.types.StructType]
                            = None,
                          touchedStats: Map[String, String] = Map.empty,
                          props: Map[String, String] = Map.empty,
                          branch: Option[String] = None): Long = {
    val rt = s"$table/$RootDir"
    val f = fs(spark, new Path(rt))
    val committed = Snapshots.versions(spark, rt)
    val parent = parentRoot.version
    // walk the parent's actual delta chain: for main the contiguous
    // tail and the walk agree; for a branch whose head is no longer the
    // newest slot only the walk is meaningful
    def walkLen(v: Long): Int =
      if (hasFullManifest(spark, rt, v)) 0
      else 1 + walkLen(readText(spark,
        new Path(s"${Snapshots.versionPath(rt, v)}/$DeltaFile"))
        .split("\n").head.stripPrefix("v").toLong)
    // deltas fold by RECORDED parent, so they are safe off any live
    // parent; the post-rollback MAIN fork still rebases full (policy:
    // an abandoned main line above the pointer stays unambiguous), but
    // branch slots above the parent never force a rebase — interleaved
    // main and branch writers keep their O(touched) delta commits
    val forkSafe = branch.nonEmpty || parent.forall(p =>
      committed.filter(_ > p).forall(v => !isMainLine(spark, table, v)))
    val asDelta = parent.exists(committed.contains) && forkSafe &&
      walkLen(parent.get) + 1 < RebaseEvery
    val tmp = new Path(s"$rt/$VersionsDir/.staging-${java.util.UUID.randomUUID()}")
    f.mkdirs(tmp)
    // a full rebase carries every untouched partition's stats forward
    // from the parent fold; a delta line replaces state+stats together
    val stats: Map[String, String] =
      (if (asDelta || parent.isEmpty) Map.empty[String, String]
       else parentRoot.states.collect { case (rel, (_, Some(s))) => rel -> s }
      ) ++ touchedStats
    def fmt(m: Map[String, String]): String = m.toSeq.sortBy(_._1)
      .map { case (rel, state) =>
        stats.get(rel) match {
          case Some(s) => s"$state\t$rel\t$s"
          case None    => s"$state\t$rel"
        }
      }.mkString("\n")
    val (file, text) =
      if (asDelta) (DeltaFile, f"v${parent.get}%08d" + "\n" + fmt(touched))
      else (ManifestFile, fmt(entries))
    val out = f.create(new Path(tmp, file), true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // full rebases also record their parent (deltas carry it in-line):
    // the commit LINEAGE stays walkable across rebases, which is what
    // lets the changelog serve per-commit granularity and skip slots a
    // rollback or dropped branch left unreachable
    if (!asDelta) parent.foreach { pv =>
      val po = f.create(new Path(tmp, ParentFile), true)
      try po.write(f"v$pv%08d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally po.close()
    }
    // pin the union schema in the slot (carried forward when the commit
    // itself has none — e.g. a delete commit, which reshapes no rows).
    // DATA columns only: partition columns keep their hive path-value
    // typing (a date=2024-01-01 dir reads as DATE however the writer's
    // in-memory column was typed), which Spark supplies for columns the
    // user schema omits — save one the parent pins, a type the table was
    // declared with ([[createRoot]]), which stays pinned as declared.
    // Schemas passed here usually derive from a FRAME, which strips what only the table metadata knows — rename
    // ALIASES (a coalesce output carries no field metadata) and WIDENED
    // types (a narrow-typed source would silently re-narrow the pin) —
    // so both inherit from the parent's pinned schema by name.
    val pcols = partitionCols(spark, table).toSet
    // RAW parent pin: tombstoned (dropped) fields ride along so they
    // carry into every future slot and can police name re-use below
    val parentPinned = parent.flatMap(pinnedSchemaRaw(spark, table, _))
    def inherit(st: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType = parentPinned match {
      case None => st
      case Some(pp) =>
        import org.apache.spark.sql.types._
        val byName = pp.fields.map(f => f.name -> f).toMap
        def widerStays(nw: DataType, old: DataType): Boolean = (nw, old) match {
          case (a, b) if a == b => false
          case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
          case (ShortType, IntegerType | LongType | DoubleType) => true
          case (IntegerType, LongType | DoubleType) => true
          case (FloatType, DoubleType) => true
          case _ => false
        }
        StructType(st.fields.map { f =>
          byName.get(f.name) match {
            case None => f
            case Some(pf) =>
              val aliases = (fieldAliases(f) ++ fieldAliases(pf)).distinct
              val dt = if (widerStays(f.dataType, pf.dataType)) pf.dataType
                       else f.dataType
              if (aliases == fieldAliases(f) && dt == f.dataType) f
              else f.copy(dataType = dt, metadata =
                if (aliases.isEmpty) f.metadata
                else new MetadataBuilder().withMetadata(f.metadata)
                  .putStringArray(AliasKey, aliases.toArray).build())
          }
        })
    }
    schema.map { st0 =>
      val st = org.apache.spark.sql.types.StructType(st0.fields.flatMap(fld =>
        if (!pcols.contains(fld.name)) Some(fld)
        else parentPinned.flatMap(_.find(_.name == fld.name))))
      // TOMBSTONE DISCIPLINE (the one choke point every schema-carrying
      // commit passes): a live incoming field whose name — or any of
      // whose parent-recorded aliases — matches a DROPPED field's
      // name/alias graph would re-serve the old files' bytes under the
      // re-used name; refuse loudly. Parent tombstones the commit does
      // not itself carry are appended so the record survives every
      // future re-pin.
      val tombs = parentPinned.map(_.fields.filter(isDroppedField).toSeq)
        .getOrElse(Nil)
      val tombNames = tombs.flatMap(t => t.name +: fieldAliases(t))
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val clash = st.fields.filterNot(isDroppedField).filter(fld =>
        (fld.name +: fieldAliases(fld)).exists(n =>
          tombNames.contains(n.toLowerCase(java.util.Locale.ROOT))))
      require(clash.isEmpty,
        s"commit at $table: column name(s) " +
          s"${clash.map(_.name).toSeq.sorted.mkString(", ")} were previously " +
          "DROPPED from this table — re-adding a dropped name would " +
          "re-serve old files' data under it (name-based mapping has no " +
          "field ids); use a fresh name instead")
      val inherited = inherit(st)
      val present = inherited.fieldNames.toSet
      org.apache.spark.sql.types.StructType(
        inherited.fields ++ tombs.filterNot(t => present.contains(t.name)))
    }.orElse(parentPinned).foreach { st =>
      val so = f.create(new Path(tmp, SchemaFile), true)
      try so.write(st.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally so.close()
    }
    // every commit records its LINE (main vs branch:<name>) — the
    // changelog stream keys on it to keep branch-staged slots out of
    // the main feed; absent (pre-stamp commits) means main
    val allProps = props ++
      branch.map(n => Map(LineProp -> s"branch:$n")).getOrElse(Map.empty)
    if (allProps.nonEmpty) {
      require(allProps.forall { case (k, v) =>
        k.nonEmpty && !s"$k$v".exists(c => c == '\t' || c == '\n' || c == '\r')
      }, "commit props must be tab/newline-free")
      val po = f.create(new Path(tmp, PropsFile), true)
      try po.write(allProps.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally po.close()
    }
    var attempt = 0
    while (attempt < 50) {
      val next = Snapshots.allVersionDirs(spark, rt).lastOption.getOrElse(0L) + 1
      val slot = new Path(Snapshots.versionPath(rt, next))
      if (CommitIo.current.claimSlot(f, tmp, slot)) {
        f.create(new Path(slot, "_SUCCESS"), true).close()
        val main = branch match {
          case Some(n) =>
            // commit point for a branch: advance only the branch ref —
            // the main pointer and every main reader are untouched
            val (_, base) = branchRef(spark, table, n).get
            writeBranchRef(spark, table, n, head = next, base = base)
            Snapshots.currentVersion(spark, rt)
          case None =>
            Snapshots.publish(spark, rt, next)
            Some(next)
        }
        main.foreach(vacuumRoot(spark, rt, retain, _))
        return next
      }
      attempt += 1
    }
    f.delete(tmp, true)
    throw new IllegalStateException(
      s"root manifest: could not claim a version slot at $table")
  }

  /** Root-chain retention: keep the current + newest `retain`−1 committed
    * root versions ([[Snapshots.vacuum]]'s policy) PLUS the parent chain
    * each kept delta folds through — deleting a parent out from under a
    * live delta would break every read of it. Chains are bounded by
    * [[RebaseEvery]], so the extra retention is at most one rebase
    * window. `cur` is the version the main pointer serves. */
  private def vacuumRoot(spark: SparkSession, rt: String, retain: Int,
                         cur: Long): Unit = {
    val committed = Snapshots.versions(spark, rt)
    // tagged roots and branch heads are retention-exempt until dropped
    val tagged = {
      val dir = new Path(s"$rt/$TagsDir")
      val f = fs(spark, dir)
      (if (!f.exists(dir)) Set.empty[Long]
       else f.listStatus(dir)
        .filter(st => st.isFile && !hidden(st.getPath.getName))
        .map(st => readText(spark, st.getPath).trim.stripPrefix("v").toLong)
        .toSet) ++ {
        val bd = new Path(s"$rt/$BranchesDir")
        if (!f.exists(bd)) Set.empty[Long]
        else f.listStatus(bd)
          .filter(st => st.isFile && !hidden(st.getPath.getName))
          .map(st => readText(spark, st.getPath).trim.split("\t")(0)
            .stripPrefix("v").toLong).toSet
      }
    }
    val kept = (committed.filter(_ != cur)
      .takeRight(math.max(1, retain) - 1) :+ cur).toSet ++
      tagged.filter(committed.contains)
    def chain(v: Long): Set[Long] =
      if (hasFullManifest(spark, rt, v)) Set(v)
      else {
        val head = readText(spark,
          new Path(s"${Snapshots.versionPath(rt, v)}/$DeltaFile"))
          .split("\n").head
        Set(v) ++ chain(head.stripPrefix("v").toLong)
      }
    val keepSet = kept.flatMap(chain).map(v => f"v$v%08d")
    val dir = new Path(s"$rt/$VersionsDir")
    val f = fs(spark, dir)
    val versionName = "^v(\\d{8,})$".r
    f.listStatus(dir).filter(_.isDirectory)
      .filter(st => !keepSet.contains(st.getPath.getName))
      // cold-only for non-version dirs: a fresh .staging-* may belong to a
      // concurrent TTL-expired publisher that hasn't aborted yet
      .filter(st => versionName.findFirstMatchIn(st.getPath.getName).nonEmpty ||
        System.currentTimeMillis() - st.getModificationTime > 15 * 60 * 1000L)
      .foreach(st => f.delete(st.getPath, true))
  }

  /** Rename complete data at `from` into `pt`'s next free version slot
    * WITHOUT committing it (no _SUCCESS, pointer untouched); returns the
    * claimed version. The rename is whole-dir atomic, so every claimed
    * slot holds complete data. A write-audit-publish claim (`wap`) carries
    * [[WapMarker]] in from staging (placed BEFORE this rename, so no crash
    * window exists in which the slot looks like an ordinary interrupted
    * commit), and first reaps the cold marked slots a crashed auditor
    * abandoned — the one moment a writer provably owns the partition and
    * lists its versions anyway. */
  private def claimSlot(spark: SparkSession, pt: String, from: Path,
                        wap: Boolean): Long = {
    val f = fs(spark, from)
    f.mkdirs(new Path(pt, VersionsDir))
    if (wap)
      Snapshots.allVersionDirs(spark, pt)
        .filter(isPendingAudit(spark, pt, _))
        .map(v => new Path(Snapshots.versionPath(pt, v)))
        .filter(p => System.currentTimeMillis() -
          f.getFileStatus(p).getModificationTime > 15 * 60 * 1000L)
        .foreach(p => f.delete(p, true))
    var attempt = 0
    while (attempt < 50) {
      val next = Snapshots.allVersionDirs(spark, pt).lastOption.getOrElse(0L) + 1
      if (CommitIo.current.claimSlot(f, from,
          new Path(Snapshots.versionPath(pt, next)))) return next
      attempt += 1
    }
    throw new IllegalStateException(
      s"partition commit: could not claim a version slot at $pt")
  }

  /** SEAL a claimed slot: drop its audit marker (`wap`), then _SUCCESS —
    * from here it is an ordinary committed version whose partition
    * pointer is not yet swapped. */
  private def sealSlot(spark: SparkSession, slot: Path, wap: Boolean): Unit = {
    val f = fs(spark, slot)
    if (wap) f.delete(new Path(slot, WapMarker), false)
    f.create(new Path(slot, "_SUCCESS"), true).close()
  }

  /** A partition state's parts: (base token, pending delete refs) each —
    * see [[parseParts]]. */
  private[graft] type Parts = Seq[(String, Seq[String])]

  /** THE data commit: every write that changes rows — upsert, append,
    * replace, overwrite, compaction, partition drop, equality and
    * positional deletes, row replacement — seals, publishes and retains
    * here. The writes differ in ONE thing, which prior parts each touched
    * partition ("rel") keeps: a rel's new state is its CARRIED parts plus
    * the part freshly sealed from `staging`'s dir for it (EMPTY when both
    * are empty). `touched` names the rels the caller read and what each
    * carries — a file-scoped merge's survivors, nothing for a rewrite or
    * drop, every prior part stamped with a new delete ref for a delete.
    * A staged rel the caller did not list carries ALL its prior parts (an
    * append: rows that were never read, e.g. a key migrating partitions),
    * or none with `replaceStaged` (a dynamic partition overwrite).
    *
    * Stats are the fresh footer harvest merged with the carried parts':
    * the parent root's recorded stats when every prior part is carried
    * (zero files opened — an append's cost stays O(new data)), else the
    * carried parts' `_filestats` sidecars; one unknowable part leaves the
    * rel's stats absent, never an undercount. The harvest runs BEFORE the
    * claim, so each sidecar rides its slot's rename, and a zero-row
    * staged part seals only where it is its rel's whole new state — an
    * append of only known keys commits nothing, with no probe job.
    *
    * Ordering makes the ROOT pointer swap the single commit point, so no
    * crash can leave the root manifest permanently behind a partition
    * pointer (the next commit would fold that stale base forward
    * forever, and retention could then vacuum a version the live root
    * still names):
    *
    *  1. every staged dir (and an empty dir per touched rel left with
    *     nothing — the reader-safe replacement for deleting it) is renamed
    *     into its partition's next version slot and SEALED, pointers
    *     untouched; with an `audit` (write-audit-publish), the slots are
    *     claimed unsealed, the audit runs on the complete would-be
    *     snapshot, and only a passing audit seals them — any failure
    *     deletes every claimed slot and rethrows (a failed rule as
    *     [[AuditFailedException]]), leaving the table unchanged;
    *  2. ONE new root manifest folds the touched rels' new states into the
    *     parent manifest (seeded by a directory walk for the table's first
    *     commit; the BRANCH head's for a `branch` commit) and the root
    *     pointer swap makes the whole commit visible atomically — a crash
    *     BEFORE this is a clean abort: sealed-but-unrooted slots are never
    *     folded into later manifests and age out under retention;
    *  3. per-partition pointers swap — a read CACHE for partition-level
    *     readers; a crash between 2 and 3 leaves a pointer serving the
    *     previous complete version until the partition's next commit heals
    *     it, while table-level readers are already on the new root;
    *  4. hygiene: retention per sealed partition, and the implicit-v0 flat
    *     files of a migrated table are removed once `retain` real versions
    *     exist (v0 ages out like any other snapshot).
    *
    * A branch commit stops after 2: the main pointer, the partition
    * pointers and every main reader are untouched. */
  private[graft] def commitStaged(
      spark: SparkSession, table: String, staging: Option[String],
      cols: Seq[String], retainVersions: Int,
      touched: Map[String, Parts] = Map.empty,
      replaceStaged: Boolean = false,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      branch: Option[String] = None,
      props: Map[String, String] = Map.empty,
      audit: Option[DataFrame => DataFrame] = None): Unit = {
    val f = fs(spark, new Path(table))
    val retain = math.max(1, retainVersions)
    val wap = audit.nonEmpty
    // the parent, resolved ONCE for both the base states and the carried
    // stats — BEFORE claiming: on a first commit, scanStates' fallback
    // must see the pre-commit states, not the slots this commit creates
    val parent = resolveRoot(spark, table, branch = branch)
    val base = parent.entries
    def prior(rel: String): Parts =
      base.get(rel).map(parseParts(_).filterNot(_._1 == Empty)).getOrElse(Nil)
    val stagedStats = staging.toSeq.flatMap { s =>
      val dirs = partitionDirs(spark, s, cols.size)
      val folded = harvestAndSidecar(spark, dirs.map(relPath(s, _)))
      dirs.map(rel => rel -> folded(relPath(s, rel)))
    }.toMap
    val carried: Map[String, Parts] =
      (stagedStats.keySet ++ touched.keySet).map { rel =>
        rel -> touched.getOrElse(rel, if (replaceStaged) Nil else prior(rel))
      }.toMap
    val fresh = stagedStats.filter { case (rel, st) =>
      st.rows > 0 || carried(rel).isEmpty }
    val blanks = touched.keySet.filter(rel =>
      !fresh.contains(rel) && carried(rel).isEmpty)
    val rels = (fresh.keySet ++ touched.keySet).toSeq.sorted
    if (rels.isEmpty) return
    val toClaim = fresh.keys.toSeq ++ blanks
    lazy val root = staging.getOrElse(throw new IllegalStateException(
      s"commit at $table: touched partitions left empty need a staging root"))
    blanks.foreach(rel => f.mkdirs(new Path(relPath(root, rel))))
    // the WAP marker goes into the STAGED dirs, so the claim rename
    // carries it atomically
    if (wap) toClaim.foreach { rel =>
      f.create(new Path(relPath(root, rel), WapMarker), true).close()
    }
    var claimed = List.empty[(String, Long)]
    val states: Map[String, String] =
      try {
        // claim on the bounded pool, DEEPEST depth groups first: a
        // retired-spec staged dir can parent a new-spec staged dir, and a
        // parent rename must never swallow a child
        depthWaves(toClaim).foreach { g =>
          claimed = inParallel(g)(rel => rel -> claimSlot(spark,
            relPath(table, rel), new Path(relPath(root, rel)), wap))
            .toList ::: claimed
        }
        val slot = claimed.toMap
        val st = rels.map { rel =>
          val parts = carried(rel) ++
            (if (fresh.contains(rel)) Seq((f"v${slot(rel)}%08d", Nil)) else Nil)
          rel -> (if (parts.isEmpty) Empty else fmtParts(parts))
        }.toMap
        audit.foreach { a =>
          // delete-aware: what is validated is exactly what readers would
          // scan; report rows are one per rule — a bounded collect
          val failures = readEntries(spark, table, base ++ st, schema)
            .map(a(_).filter(!org.apache.spark.sql.functions.col("passed"))
              .collect())
            .getOrElse(Array.empty[org.apache.spark.sql.Row])
          if (failures.nonEmpty)
            throw new AuditFailedException(
              s"audit rejected the commit to $table; nothing published. " +
                s"Failed rules: ${failures.mkString("; ")}")
        }
        st
      } catch {
        // ANY audit-commit failure — a failed rule, an audit that itself
        // throws, a claim that lost its slot race — deletes every claimed
        // slot before rethrowing: no unaudited slot is left for a
        // fallback path to trip over (one a mid-wave failure claimed
        // unseen is reaped cold on the partition's next audited claim)
        case t: Throwable if wap =>
          claimed.foreach { case (rel, v) =>
            f.delete(new Path(Snapshots.versionPath(relPath(table, rel), v)), true)
          }
          throw t
      }
    inParallel(claimed) { case (rel, v) =>
      sealSlot(spark, new Path(Snapshots.versionPath(relPath(table, rel), v)),
        wap)
    }
    val sidecars =
      new java.util.concurrent.ConcurrentHashMap[String, Map[String, PartStats]]()
    def sidecarOf(dir: String): Map[String, PartStats] =
      sidecars.computeIfAbsent(dir, d => fileStats(spark, d).toMap)
    val touchedStats = inParallel(rels) { rel =>
      val kept = carried(rel)
      val keptStats: Seq[Option[PartStats]] =
        if (kept.isEmpty) Nil
        else if (kept.map(_._1) == prior(rel).map(_._1))
          Seq(parent.stats.get(rel))
        else kept.map { case (b, _) =>
          stateDataPath(table, rel, b).flatMap { p =>
            if (b.contains('/'))
              sidecarOf(p.substring(0, p.lastIndexOf('/')))
                .get(p.substring(p.lastIndexOf('/') + 1))
            else Some(foldStats(fileStats(spark, p)))
          }
        }
      if (keptStats.exists(_.isEmpty)) None
      else Some(rel -> encodeStats((keptStats.flatten ++ fresh.get(rel))
        .reduceOption(mergeStats).getOrElse(PartStats(0L, Map.empty))))
    }.flatten.toMap
    val head = publishRoot(spark, table, parent, base ++ states, states,
      retain, schema, touchedStats, props, branch) // commit point
    if (branch.isEmpty && claimed.nonEmpty) {
      // pointer-cache swaps and retention are per-partition independent:
      // fan out on the bounded pool (the root publish above was the
      // single serial commit point)
      inParallel(claimed) { case (rel, v) =>
        Snapshots.publish(spark, relPath(table, rel), v)
      }
      val prot = referencedVersions(spark, table, head)
      inParallel(claimed) { case (rel, _) =>
        finishPartitionCommit(spark, table, rel, retain, prot)
      }
    }
  }

  /** Post-publish hygiene for one partition: enforce snapshot retention,
    * and expire the implicit v0 (legacy flat files) once enough real
    * versions exist to cover every reader the retention window promises
    * — or, for an unpartitioned table, once no live state names them. */
  private def finishPartitionCommit(spark: SparkSession, table: String,
                                    rel: String, retain: Int,
                                    prot: Map[String, (Set[Long], Boolean)])
      : Unit = {
    val pd = new Path(relPath(table, rel))
    val f = fs(spark, pd)
    // data versions the CURRENT state or a tagged root still names are
    // retention-exempt — count-based vacuum would otherwise delete an
    // append union's older parts or a tagged pin
    val (protVs, protFlat) = prot.getOrElse(rel, (Set.empty[Long], false))
    Snapshots.vacuum(spark, relPath(table, rel), keep = retain,
      extraKeep = protVs)
    // an unpartitioned table's flat root entries go as soon as no
    // retained root names FLAT — usually at its first rewrite, which
    // supersedes the whole table (keeping a table-sized v0 beside it would
    // double its storage), while a root a fast append left naming
    // `FLAT&vN` stays readable for time travel until retention drops it
    if (rel.isEmpty) {
      val flat = f.listStatus(pd).filter(st => !hidden(st.getPath.getName))
      val rt = s"$table/$RootDir"
      if (flat.nonEmpty && !protFlat && !Snapshots.versions(spark, rt)
          .exists(v => resolveManifest(spark, rt, v).get(rel)
            .exists(parseParts(_).exists(_._1 == Flat))))
        flat.foreach(st => f.delete(st.getPath, true))
    } else if (!protFlat &&
        Snapshots.versions(spark, relPath(table, rel)).size >= retain)
      f.listStatus(pd)
        .filter(st => st.isFile && !hidden(st.getPath.getName))
        .foreach(st => f.delete(st.getPath, false))
  }

  /** A write-audit-publish commit was rejected by its audit: nothing was
    * published, the table is unchanged, and the report rows that failed
    * are in the message. */
  final class AuditFailedException(msg: String) extends RuntimeException(msg)

  /** Partition rel-paths ("d=2024-01-01") whose pinned state differs
    * between two root snapshots — the METADATA-ONLY work-list for
    * incremental downstream maintenance: two manifest resolutions, zero
    * data files opened, O(touched) between consecutive commits of a
    * 30 000-partition table. Coarser than [[changes]] (a rewrite that
    * carried every row over unchanged — e.g. a compaction — still lists
    * its partition; feeding it to an idempotent rebuild merely re-derives
    * the same rows), which is exactly the scale trade: the row-level feed
    * costs a scan of the differing partitions, the partition-level
    * work-list costs nothing. */
  def changedPartitions(spark: SparkSession, table: String,
                        fromV: Long, toV: Long): Seq[String] = {
    val from = rootManifest(spark, table, fromV).get
    val to = rootManifest(spark, table, toV).get
    (from.keySet ++ to.keySet)
      .filter(rel => from.get(rel) != to.get(rel)).toSeq.sorted
  }

  /** Row-level change feed between two root snapshots (Iceberg's
    * changelog read / Delta's CDF, computed rather than stored).
    * Metadata-first: the two manifests are diffed and partitions pinned
    * at the SAME state on both sides are never read — between
    * consecutive commits of a 30 000-partition table, the scan touches
    * only the partitions that commit rewrote, however big the table is.
    * For the differing partitions, rows present at `toV` but not `fromV`
    * emit `change_type = 'insert'`, the reverse `'delete'`; an update is
    * its delete+insert pair (multiset semantics via exceptAll — row
    * identity is the whole row, since this layer has no key metadata;
    * callers with a key can pivot the pairs into updates by joining on
    * it). Rows identical on both sides of a rewritten partition cancel
    * out — a compaction-only commit yields an empty feed. `fromV = 0`
    * is the empty pre-first-commit state: the feed is the full toV
    * image as inserts (the changelog-stream full-history replay). */
  def changes(spark: SparkSession, table: String,
              fromV: Long, toV: Long): DataFrame = {
    val from = if (fromV == 0L) Map.empty[String, String]
      else rootManifest(spark, table, fromV).get
    val to = rootManifest(spark, table, toV).get
    val differing = (from.keySet ++ to.keySet)
      .filter(rel => from.get(rel) != to.get(rel))
    // delete-aware sides: a commit that only ADDED an equality-delete ref
    // to a partition's state still differs, and its feed is exactly the
    // deleted rows — readEntries serves each side minus its pending
    // deletes. Both sides read at the TARGET version's pinned schema
    // (Iceberg's changelog-at-current-schema rule): rows that predate an
    // added column diff as NULL there instead of failing the exceptAll.
    val feedSchema = pinnedSchema(spark, table, toV)
      .orElse(pinnedSchema(spark, table, fromV))
    // hidden dir columns are stripped BEFORE the diff: a row migrating
    // from an old-spec dir (derived column absent → NULL) to a bucket
    // dir (value present) with identical data must NOT feed as a change
    def sideOf(m: Map[String, String]): Option[DataFrame] =
      readEntries(spark, table, m.view.filterKeys(differing).toMap,
        feedSchema).map(dropHidden(spark, table, _))
    val fopt = sideOf(from)
    val topt = sideOf(to)
    if (fopt.isEmpty && topt.isEmpty) {
      // no differing data dirs at all: an empty feed shaped like the table
      val any = read(spark, table, asOf = toV).limit(0)
      return any.withColumn("change_type",
        org.apache.spark.sql.functions.lit("insert")).limit(0)
    }
    // empty side: borrow the other side's schema (zero rows)
    val tdf = topt.getOrElse(fopt.get.limit(0))
    // exceptAll is POSITIONAL: align the from-side to the to-side's
    // column order (a spec-evolved table's sides can union their layout
    // groups in different orders)
    val fdf = fopt.getOrElse(tdf.limit(0))
      .select(tdf.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
    import org.apache.spark.sql.functions.lit
    tdf.exceptAll(fdf).withColumn("change_type", lit("insert"))
      .unionByName(fdf.exceptAll(tdf).withColumn("change_type", lit("delete")))
  }

  /** The (partition → footer stats) map of a root manifest — partitions
    * whose entries carry no stats (pre-stats commits, FLAT migrations)
    * are absent. */
  def rootStats(spark: SparkSession, table: String,
                asOf: Long = -1L): Map[String, PartStats] =
    resolveRoot(spark, table, asOf).stats

  /** METADATA-ONLY row count (Iceberg's count(*) pushdown): the sum of
    * every live partition's manifest-recorded record count — zero data
    * files opened. None when the count is not knowable from metadata
    * alone: a partition with pending equality deletes (its recorded
    * rows are an upper bound until a rewrite materializes them) or a
    * live partition missing stats (pre-stats commit, FLAT migration
    * fallback). The honest contract: a caller getting None runs the
    * scan; a caller getting Some(n) can trust it exactly. */
  def rowCount(spark: SparkSession, table: String,
               asOf: Long = -1L): Option[Long] = {
    require(isManifested(spark, table), s"rowCount: $table is not manifested")
    val rt = s"$table/$RootDir"
    val v = if (asOf > 0) asOf
      else currentRootVersion(spark, table).getOrElse(return None)
    val full = resolveManifestFull(spark, rt, v)
    val counts = full.toSeq.map { case (_, (state, stats)) =>
      val parts = parseParts(state)
      if (parts.forall(_._1 == Empty)) Some(0L)
      else if (parts.exists(_._2.nonEmpty)) None // upper bound — must scan
      else stats.map(decodeStats(_).rows)
    }
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** STATS-PRUNED range scan (Iceberg scan planning from manifest
    * bounds): serve `column BETWEEN lo AND hi` reading ONLY the
    * partitions whose manifest-recorded [min,max] for `column`
    * intersects the range — partitions without usable bounds are kept
    * (absent stats mean "cannot prune", never "skip"). The residual
    * filter still applies (bounds prune partitions, not rows), and
    * Catalyst pushes it into the parquet scan of the surviving
    * partitions — manifest pruning happens BEFORE any file is listed,
    * the planning-time win footer-based skipping cannot give at 30 000
    * partitions. Returns an empty, correctly-shaped frame when every
    * partition prunes. */
  def readWhereBetween(spark: SparkSession, table: String, column: String,
                       lo: Double, hi: Double,
                       asOf: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val root = resolveRoot(spark, table, asOf)
    def excluded(st: PartStats): Boolean = st.cols.get(column).exists {
      case (mn, mx) =>
        (ParquetStats.numeric(mn), ParquetStats.numeric(mx)) match {
          case (Some(a), Some(b)) => b < lo || a > hi
          case _ => false
        }
    }
    scan(spark, root, Some(excluded))
      .orElse(scan(spark, root).map(_.limit(0))) // every partition pruned
      .getOrElse(throw new IllegalArgumentException(
        s"no committed partition snapshots at $table"))
      .where(col(column).between(lo, hi))
  }

  private val TagsDir = "_tags"
  private val BranchesDir = "_branches"
  private val TagName = "^[A-Za-z0-9._-]+$".r

  /** TAG a root version with a stable name (Iceberg's snapshot tags):
    * the tagged whole-table state survives retention indefinitely —
    * [[vacuumRoot]] keeps the manifest (and its delta parents) and
    * per-partition retention keeps every data version it names — until
    * [[dropRootTag]] releases it. The audit/compliance primitive:
    * "the corpus exactly as train-run 2024-06 read it" stays resolvable
    * while daily commits churn, at METADATA cost (nothing is copied —
    * the tag pins immutable files that already exist). Re-tagging an
    * existing name repoints it. */
  def tagRoot(spark: SparkSession, table: String, name: String,
              v: Long = -1L): Unit = {
    require(TagName.findFirstMatchIn(name).nonEmpty,
      s"tagRoot: invalid tag name '$name'")
    val rt = s"$table/$RootDir"
    val target =
      if (v > 0) v
      else currentRootVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(s"tagRoot: no committed root at $table"))
    require(Snapshots.versions(spark, rt).contains(target),
      s"tagRoot: root v$target does not exist at $table")
    val dir = new Path(s"$rt/$TagsDir")
    val f = fs(spark, dir)
    f.mkdirs(dir)
    // write-then-rename: the tag file is complete-or-absent to readers
    val tmp = new Path(dir, s".${name}-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(f"v$target%08d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    f.delete(new Path(dir, name), false)
    if (!f.rename(tmp, new Path(dir, name))) {
      f.delete(tmp, false)
      throw new IllegalStateException(s"tagRoot: could not publish tag $name")
    }
  }

  /** Release a tag; the version it pinned re-enters ordinary retention
    * on the next commit's vacuum. Unknown names are a no-op. */
  def dropRootTag(spark: SparkSession, table: String, name: String): Unit =
    fs(spark, new Path(table))
      .delete(new Path(s"$table/$RootDir/$TagsDir/$name"), false)

  /** Current (tag name → root version) map. */
  def rootTags(spark: SparkSession, table: String): Map[String, Long] = {
    val dir = new Path(s"$table/$RootDir/$TagsDir")
    val f = fs(spark, dir)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).filter(st => st.isFile && !hidden(st.getPath.getName))
      .map(st => st.getPath.getName ->
        readText(spark, st.getPath).trim.stripPrefix("v").toLong).toMap
  }

  /** Newest RETAINED root version committed at or before `tsMillis` —
    * the resolution behind SQL `TIMESTAMP AS OF` (commit time = the
    * root slot's mtime, the same clock [[snapshotsMeta]] reports). A
    * timestamp older than every retained commit fails LOUDLY: serving
    * the oldest retained version instead would silently misrepresent
    * expired history. */
  def rootVersionAt(spark: SparkSession, table: String,
                    tsMillis: Long): Long = {
    require(isManifested(spark, table),
      s"rootVersionAt: $table is not a manifested table")
    val rt = s"$table/$RootDir"
    val f = fs(spark, new Path(rt))
    // Candidates are the PUBLISHED lineage only — the current head's
    // recorded-parent chain. Branch-staged slots (parented off a branch
    // head) and rolled-back lines (above the pointer, or forked away by
    // the post-rollback rebase) carry newer version numbers and recent
    // mtimes but were never the table's published state at ANY instant;
    // a bare max over all retained slots would silently serve them.
    val line = mainLineage(spark, table)
    val vs = Snapshots.versions(spark, rt).filter(line.contains).map(v =>
      v -> f.getFileStatus(new Path(Snapshots.versionPath(rt, v)))
        .getModificationTime)
    val ok = vs.filter(_._2 <= tsMillis)
    require(ok.nonEmpty,
      s"rootVersionAt: no retained root at $table committed at or " +
        s"before ${new java.sql.Timestamp(tsMillis)} (earliest retained: " +
        s"${vs.sortBy(_._2).headOption.map(p => new java.sql.Timestamp(p._2))
          .getOrElse("none")})")
    ok.maxBy(_._1)._1
  }

  /** Root versions on the CURRENT head's recorded-parent chain — the
    * set of snapshots that were ever the MAIN published state reachable
    * from today's head. The walk follows each slot's delta fold target
    * or full-rebase `parent` file and ends at a first commit (or a
    * pre-upgrade manifest with no parent recorded, in which case the
    * contiguous main-stamped prefix below the chain end is included:
    * pre-fork history is linear by construction). */
  private[graft] def mainLineage(spark: SparkSession,
                                 table: String): Set[Long] = {
    val head = currentRootVersion(spark, table).getOrElse(return Set.empty)
    val chain = scala.collection.mutable.Set[Long]()
    var cur: Option[Long] = Some(head)
    while (cur.exists(v => v > 0 && !chain.contains(v))) {
      chain += cur.get
      cur = parentOfRoot(spark, table, cur.get)
    }
    val floor = chain.min
    // below the chain's recorded end, history is linear main-line
    chain.toSet ++ Snapshots.versions(spark, s"$table/$RootDir")
      .filter(v => v < floor && isMainLine(spark, table, v))
  }

  /** [[read]] pinned at the root version a tag names. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame =
    read(spark, table, asOf = rootTags(spark, table).getOrElse(name,
      throw new IllegalArgumentException(s"readTag: no tag '$name' at $table")))

  /** BRANCHES (Iceberg branch refs): a branch is a named MUTABLE root
    * pointer forked from a committed version. Commits that pass
    * `branch = Some(name)` ([[graft.operators.Upsert.upsert]]/`append`)
    * base on the BRANCH head and advance only the branch file — the
    * main pointer, every main reader, and the partition pointers are
    * untouched, so a branch is a write-isolated line over shared
    * storage: stage a multi-commit change, validate it with
    * [[readBranch]], then [[fastForwardRoot]] main onto it in one
    * pointer swap (the multi-commit generalization of single-commit
    * write-audit-publish). Branch heads are retention-exempt like tags
    * (root chain AND the data versions they pin) until the branch is
    * dropped. The branch file records (head, fork base); fast-forward
    * refuses LOUDLY when main advanced past the base — optimistic
    * concurrency, the caller re-forks and re-applies. */
  def createBranch(spark: SparkSession, table: String, name: String,
                   v: Long = -1L): Unit = {
    require(TagName.findFirstMatchIn(name).nonEmpty,
      s"createBranch: invalid branch name '$name'")
    val rt = s"$table/$RootDir"
    require(branchRef(spark, table, name).isEmpty,
      s"createBranch: branch '$name' already exists at $table")
    val target =
      if (v > 0) v
      else currentRootVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(
          s"createBranch: no committed root at $table"))
    require(Snapshots.versions(spark, rt).contains(target),
      s"createBranch: root v$target does not exist at $table")
    writeBranchRef(spark, table, name, head = target, base = target)
  }

  /** Delete a branch ref; the versions it pinned re-enter ordinary
    * retention on the next commit's vacuum. Unknown names are a no-op. */
  def dropBranch(spark: SparkSession, table: String, name: String): Unit =
    fs(spark, new Path(table))
      .delete(new Path(s"$table/$RootDir/$BranchesDir/$name"), false)

  /** Current (branch name → head root version) map. */
  def rootBranches(spark: SparkSession, table: String): Map[String, Long] =
    branchRefs(spark, table).map { case (n, (head, _)) => n -> head }

  private def branchRefs(spark: SparkSession, table: String)
      : Map[String, (Long, Long)] = {
    val dir = new Path(s"$table/$RootDir/$BranchesDir")
    val f = fs(spark, dir)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir)
      .filter(st => st.isFile && !hidden(st.getPath.getName))
      .map { st =>
        val parts = readText(spark, st.getPath).trim.split("\t")
        st.getPath.getName -> (parts(0).stripPrefix("v").toLong,
          parts(1).stripPrefix("v").toLong)
      }.toMap
  }

  /** One branch's (head, fork base). A lock-free reader can land in the
    * ref swap's delete→rename window (same exposure as a tag rename),
    * so a missing NAME inside an otherwise-populated branches dir is
    * retried briefly before concluding it really does not exist —
    * covering every caller (reads, fast-forward, commit paths) at the
    * source instead of one call site. */
  private[graft] def branchRef(spark: SparkSession, table: String,
                               name: String): Option[(Long, Long)] = {
    var attempt = 0
    var r = branchRefs(spark, table)
    // retry on ANY miss: the sole branch of a table is just as absent
    // mid-swap as one among many
    while (!r.contains(name) && attempt < 5) {
      Thread.sleep(10); attempt += 1
      r = branchRefs(spark, table)
    }
    r.get(name)
  }

  private def writeBranchRef(spark: SparkSession, table: String,
                             name: String, head: Long, base: Long): Unit = {
    val dir = new Path(s"$table/$RootDir/$BranchesDir")
    val f = fs(spark, dir)
    f.mkdirs(dir)
    // a branch ref is a POINTER (complete-or-absent to readers): same
    // atomicity seam as the root pointer swap
    CommitIo.current.swapPointer(f, new Path(dir, name),
      f"v$head%08d\tv$base%08d"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** [[read]] pinned at a branch's head ([[branchRef]] absorbs the ref
    * swap window). */
  def readBranch(spark: SparkSession, table: String, name: String): DataFrame =
    read(spark, table, asOf = branchRef(spark, table, name).getOrElse(
      throw new IllegalArgumentException(
        s"readBranch: no branch '$name' at $table"))._1)

  /** Publish a branch onto MAIN in one pointer swap (Iceberg's
    * fast_forward): legal only while main still sits at the branch's
    * fork base — if main advanced, fails LOUDLY with both versions (the
    * caller re-forks from current and re-applies; silently merging
    * diverged manifests would fabricate a state nobody audited). The
    * branch survives, re-based onto its own head, so staging can
    * continue. Returns the new main version.
    *
    * `rebase = true` relaxes the refusal into Iceberg's optimistic CAS:
    * when main HAS advanced but the partitions the branch changed since
    * its fork are DISJOINT from the partitions main changed, the branch's
    * touched-partition states are grafted onto main's current manifest as
    * one NEW main commit (parented on main's head — the root chain stays
    * linearizable, and the changelog sees exactly the branch's delta).
    * Overlapping changes still throw [[graft.operators.Upsert
    * .CommitConflictException]] — publishing them would silently discard
    * one writer's rows. Divergent SCHEMA evolution on both sides is
    * likewise refused; one-sided evolution carries the evolved schema. */
  def fastForwardRoot(spark: SparkSession, table: String,
                      name: String, rebase: Boolean = false,
                      retainVersions: Int =
                        graft.operators.Upsert.DefaultRetainVersions): Long =
    leased(spark, table, "fastForwardRoot") { _ =>
      val rt = s"$table/$RootDir"
      val (head, base) = branchRef(spark, table, name).getOrElse(
        throw new IllegalArgumentException(
          s"fastForwardRoot: no branch '$name' at $table"))
      val cur = currentRootVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(s"no committed root at $table"))
      if (cur != base && rebase)
        return rebaseBranchOntoMain(spark, table, name, head, base, cur,
          retainVersions)
      require(cur == base,
        s"fastForwardRoot: main advanced to v$cur since branch '$name' " +
          s"forked at v$base — re-fork from current and re-apply, or " +
          "pass rebase = true to graft disjoint-partition changes")
      if (head != cur) {
        // the head is now PUBLISHED: mark it before the pointer swap so
        // no window exists where the pointer names it but main-line
        // resolution (pointer-absent fallback, changelog, txn probes)
        // still classifies it as staged
        val m = new Path(s"${Snapshots.versionPath(rt, head)}/$PublishedMarker")
        val f = fs(spark, m)
        if (!f.exists(m)) f.create(m, true).close()
        Snapshots.rollback(spark, rt, head)
      }
      writeBranchRef(spark, table, name, head = head, base = head)
      head
    }

  /** The `rebase = true` leg of [[fastForwardRoot]] — caller holds the
    * table lease. Validates disjointness, then publishes ONE new main
    * commit carrying the branch's touched-partition states on top of
    * main's current manifest. The branch's staged version slots are
    * referenced verbatim (they are immutable dirs under the partition
    * dirs — nothing moves); the re-pointed branch ref keeps staging
    * usable afterwards. */
  private def rebaseBranchOntoMain(spark: SparkSession, table: String,
                                   name: String, head: Long, base: Long,
                                   cur: Long, retain: Int): Long = {
    val rt = s"$table/$RootDir"
    val mainChanged = changedPartitions(spark, table, base, cur).toSet
    val branchChanged = changedPartitions(spark, table, base, head).toSet
    val overlap = mainChanged.intersect(branchChanged)
    if (overlap.nonEmpty)
      throw new graft.operators.Upsert.CommitConflictException(
        s"fastForwardRoot(rebase): branch '$name' and main both changed " +
          s"${overlap.size} partition(s) since fork v$base: " +
          s"${overlap.toSeq.sorted.take(8).mkString(", ")} — re-fork from " +
          "current and re-apply; publishing would discard one side's rows")
    // schema: refuse DIVERGENT evolution; carry the evolved side's schema
    // (publishRoot with schema = None inherits main's pinned schema)
    val sb = pinnedSchema(spark, table, base)
    val sm = pinnedSchema(spark, table, cur)
    val sh = pinnedSchema(spark, table, head)
    val schemaForRebase: Option[org.apache.spark.sql.types.StructType] =
      if (sh == sm || sh == sb) None
      else if (sm == sb) sh
      else throw new graft.operators.Upsert.CommitConflictException(
        s"fastForwardRoot(rebase): branch '$name' and main evolved the " +
          s"schema DIFFERENTLY since fork v$base — re-fork and re-apply")
    val main = rootAt(spark, table, Some(cur))
    val headFull = resolveManifestFull(spark, rt, head)
    // a drop commits EMPTY, never removes the rel — every branch-changed
    // rel resolves at the head (Empty fallback is belt-and-braces)
    val touchedEntries = branchChanged.toSeq.sorted.map { rel =>
      rel -> headFull.get(rel).map(_._1).getOrElse(Empty)
    }.toMap
    val touchedStats = branchChanged.toSeq.flatMap { rel =>
      headFull.get(rel).flatMap(_._2).map(rel -> _)
    }.toMap
    val newMain = publishRoot(spark, table, main,
      main.entries ++ touchedEntries, touchedEntries, retain,
      schema = schemaForRebase, touchedStats = touchedStats,
      props = Map("graft.rebase.branch" -> name,
        "graft.rebase.from" -> f"v$head%08d",
        "graft.rebase.base" -> f"v$base%08d"))
    writeBranchRef(spark, table, name, head = newMain, base = newMain)
    newMain
  }

  /** COMMIT PROPERTIES of one root version (Iceberg's snapshot summary):
    * the free-form (key → value) map the committing writer attached —
    * operation provenance, stream transaction markers. Empty when the
    * commit carried none. `asOf = -1` reads the current root. */
  def rootProps(spark: SparkSession, table: String,
                asOf: Long = -1L): Map[String, String] = {
    val rt = s"$table/$RootDir"
    val v = if (asOf >= 0L) asOf
      else currentRootVersion(spark, table).getOrElse(return Map.empty)
    val p = new Path(s"${Snapshots.versionPath(rt, v)}/$PropsFile")
    if (!fs(spark, p).exists(p)) Map.empty
    else readText(spark, p).split("\n").toSeq.filter(_.nonEmpty).map { ln =>
      val i = ln.indexOf('\t')
      ln.substring(0, i) -> ln.substring(i + 1)
    }.toMap
  }

  /** Highest LONG value committed under prop `key` across the RETAINED
    * root chain — the idempotent-transaction probe (Delta's
    * txnAppId/txnVersion): a writer that stamps commits with a
    * monotonically increasing version skips any delivery whose version
    * is ≤ this. Scanning the retained chain (not just the head) makes
    * the probe robust to unrelated commits landing between a crash and
    * the redelivery; the idempotency window is therefore the root
    * retention window — a redelivery arriving after ≥retain OTHER
    * commits would no longer be recognized, which for streaming (only
    * the LAST batch is ever replayed) requires a concurrent writer to
    * lap the whole window mid-recovery. */
  def lastTxnVersion(spark: SparkSession, table: String, key: String,
                     branch: Option[String] = None): Option[Long] = {
    val rt = s"$table/$RootDir"
    // scope the probe to the WRITER'S line: a txn stamped on an
    // UNPUBLISHED (possibly dropped) branch must not suppress the same
    // delivery to main — but a fast-forwarded head's stamps DID publish
    // and do count for main (isMainLine's published marker). One props
    // read per version serves both the line check and the key lookup.
    // Caveat: re-creating a dropped branch under the SAME name inherits
    // the dead branch's retained stamps — use a fresh name or appId.
    val vs = Snapshots.versions(spark, rt).flatMap { v =>
      val props = rootProps(spark, table, v)
      val online = branch match {
        case Some(n) => props.get(LineProp).contains(s"branch:$n")
        case None => props.get(LineProp).forall(!_.startsWith("branch:")) ||
          isMainLine(spark, table, v)
      }
      if (online) props.get(key).map(_.toLong) else None
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** `$snapshots` INSPECTION TABLE (Iceberg's metadata tables, served
    * as a plain DataFrame): one row per RETAINED root version — commit
    * time (slot mtime), whether the commit wrote a delta or a full
    * manifest, the delta's parent, how many partitions it touched, the
    * resolved table width, its commit props, and whether it is the
    * version the live pointer serves. Built entirely from manifest
    * metadata: zero data files opened, O(retained versions ×
    * chain-resolve) driver work — the operational surface a 30 000-
    * partition table is debugged through. */
  def snapshotsMeta(spark: SparkSession, table: String): DataFrame = {
    require(isManifested(spark, table),
      s"snapshotsMeta: $table is not a manifested table")
    val rt = s"$table/$RootDir"
    val f = fs(spark, new Path(rt))
    val cur = currentRootVersion(spark, table)
    val rows = Snapshots.versions(spark, rt).map { v =>
      val slot = Snapshots.versionPath(rt, v)
      val deltaP = new Path(s"$slot/$DeltaFile")
      val isDelta = f.exists(deltaP)
      val total = resolveManifestFull(spark, rt, v).size
      val (parent, touched) =
        if (isDelta) {
          val lines = readText(spark, deltaP).split("\n").toSeq
            .filter(_.nonEmpty)
          (Some(lines.head.stripPrefix("v").toLong), lines.tail.size)
        } else (Option.empty[Long], total)
      (v, new java.sql.Timestamp(f.getFileStatus(new Path(slot))
          .getModificationTime), isDelta, parent, touched, total,
        rootProps(spark, table, v), cur.contains(v))
    }
    import spark.implicits._
    rows.toDF("root_version", "committed_at", "is_delta", "parent_version",
      "touched_partitions", "total_partitions", "props", "is_current")
  }

  /** `$history` INSPECTION TABLE (Iceberg's history metadata table):
    * one row per retained root version with Iceberg's column shape —
    * `made_current_at` / `snapshot_id` / `parent_id` /
    * `is_current_ancestor`. The ancestor bit is the PUBLISHED-lineage
    * membership ([[mainLineage]] — the same walk `TIMESTAMP AS OF`
    * resolves over), so branch-staged slots and rolled-back lines read
    * `false`: exactly Iceberg's "not an ancestor of the current
    * snapshot" semantics. Metadata-only. */
  def historyMeta(spark: SparkSession, table: String): DataFrame = {
    require(isManifested(spark, table),
      s"historyMeta: $table is not a manifested table")
    val rt = s"$table/$RootDir"
    val f = fs(spark, new Path(rt))
    val line = mainLineage(spark, table)
    val rows = Snapshots.versions(spark, rt).map { v =>
      (new java.sql.Timestamp(
         f.getFileStatus(new Path(Snapshots.versionPath(rt, v)))
           .getModificationTime),
        v, parentOfRoot(spark, table, v), line.contains(v))
    }
    import spark.implicits._
    rows.toDF("made_current_at", "snapshot_id", "parent_id",
      "is_current_ancestor")
  }

  /** `$refs` INSPECTION TABLE (Iceberg's refs metadata table): every
    * named ref — `main` (the live pointer), each tag, each branch with
    * its fork base — and the root version it names. The one-stop answer
    * to "what is pinned and why is retention keeping it". */
  def refsMeta(spark: SparkSession, table: String): DataFrame = {
    require(isManifested(spark, table),
      s"refsMeta: $table is not a manifested table")
    val rt = s"$table/$RootDir"
    val main = currentRootVersion(spark, table).toSeq
      .map(v => ("main", "main", v, Option.empty[Long]))
    val tags = rootTags(spark, table).toSeq.sortBy(_._1)
      .map { case (n, v) => (n, "tag", v, Option.empty[Long]) }
    val branches = branchRefs(spark, table).toSeq.sortBy(_._1)
      .map { case (n, (head, base)) => (n, "branch", head, Some(base)) }
    import spark.implicits._
    (main ++ tags ++ branches)
      .toDF("name", "type", "root_version", "fork_base")
  }

  /** `$partitions` INSPECTION TABLE: one row per partition of a root
    * state — its pinned state token, how many append parts and pending
    * equality-delete refs it carries, its manifest-recorded row count
    * (None when unknowable: pending deletes make it an upper bound,
    * pre-stats commits have none) and per-column "min..max" bounds.
    * Metadata-only; `asOf = -1` reads the current root. */
  def partitionsMeta(spark: SparkSession, table: String,
                     asOf: Long = -1L): DataFrame = {
    require(isManifested(spark, table),
      s"partitionsMeta: $table is not a manifested table")
    val rt = s"$table/$RootDir"
    val v = if (asOf > 0) asOf
      else currentRootVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(s"no committed root at $table"))
    val rows = resolveManifestFull(spark, rt, v).toSeq.sortBy(_._1)
      .map { case (rel, (state, stats)) =>
        val parts = parseParts(state)
        val dels = parts.map(_._2.size).sum
        val st = stats.map(decodeStats)
        (rel, state, parts.size, dels,
          if (dels > 0) None else st.map(_.rows),
          st.map(_.cols.map { case (c, (mn, mx)) => c -> s"$mn..$mx" }))
      }
    import spark.implicits._
    rows.toDF("partition", "state", "n_parts", "n_delete_refs",
      "row_count", "column_bounds")
  }

  /** `$files` INSPECTION TABLE: one row per live file of a root state —
    * partition, the version-dir part serving it, `content` ("data" or
    * "eq_deletes", Iceberg's content column), path, size. Lists ONLY
    * what the manifest names (never superseded versions or staging), so
    * the data rows plus the referenced delete files are the exact file
    * set a [[read]] of that root opens. */
  def filesMeta(spark: SparkSession, table: String,
                asOf: Long = -1L): DataFrame = {
    require(isManifested(spark, table),
      s"filesMeta: $table is not a manifested table")
    val rt = s"$table/$RootDir"
    val v = if (asOf > 0) asOf
      else currentRootVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(s"no committed root at $table"))
    def ls(d: String, rel: String, base: String, content: String) =
      fs(spark, new Path(d)).listStatus(new Path(d))
        .filter(st => st.isFile && !hidden(st.getPath.getName))
        .map(st => (rel, base, content, st.getPath.toString, st.getLen)).toSeq
    val full = resolveManifestFull(spark, rt, v).toSeq.sortBy(_._1)
    val dataRows = full.flatMap { case (rel, (state, _)) =>
      parseParts(state).flatMap { case (base, _) =>
        stateDataPath(table, rel, base).toSeq
          .flatMap(ls(_, rel, base, "data"))
      }
    }
    // a delete ref stamped onto several parts OR several partitions is
    // still ONE file set: delete rows are table-scoped (partition "")
    val delRows = full.flatMap { case (_, (state, _)) =>
      parseParts(state).flatMap(_._2)
    }.distinct.sorted.flatMap(id =>
      ls(s"$table/$DeletesDir/$id", "", "",
        if (id.startsWith("p")) "pos_deletes" else "eq_deletes"))
    val rows = dataRows ++ delRows
    import spark.implicits._
    rows.toDF("partition", "part", "content", "path", "size_bytes")
  }

  /** Partition data versions (and FLAT pins) the CURRENT root state or
    * a TAGGED root still names, per partition — what per-partition
    * retention must never expire. The current state matters because an
    * append union references OLD version dirs as live parts
    * (`v0001&v0005`), so count-based vacuum alone would delete current
    * data; tags pin their versions indefinitely (tagRoot's contract).
    * Deliberately NOT every retained root: untagged time travel keeps
    * its documented expire-snapshots semantics — a root older than the
    * partition retention window may fail LOUDLY to resolve. `head` is
    * the version the main pointer serves. */
  private def referencedVersions(spark: SparkSession, table: String,
                                 head: Long)
      : Map[String, (Set[Long], Boolean)] = {
    val rt = s"$table/$RootDir"
    val live = Set(head) ++
      rootTags(spark, table).values ++ rootBranches(spark, table).values
    val acc = scala.collection.mutable.Map.empty[String, (Set[Long], Boolean)]
    live.foreach { v =>
      resolveManifest(spark, rt, v).foreach { case (rel, state) =>
        parseParts(state).foreach { case (base, _) =>
          val (vs, flat) = acc.getOrElse(rel, (Set.empty[Long], false))
          acc(rel) =
            if (base == Flat) (vs, true)
            else if (base == Empty) (vs, flat)
            // a file-scoped survivor token pins its enclosing version dir
            else (vs ++ baseVersion(base), flat)
        }
      }
    }
    acc.toMap
  }

  /** TIME-BASED SNAPSHOT EXPIRY (Iceberg's `expire_snapshots(older_
    * than)`): drop every root version whose slot is older than
    * `olderThanMs`, except (a) the current root, (b) tagged roots
    * (tagRoot's retention exemption), and (c) delta parents a surviving
    * root still folds onto (chain closure — an expired parent would
    * break a young delta's resolution). Then reap per-partition DATA
    * versions no surviving root references: each partition keeps its
    * newest `retainVersions` slots plus every version some remaining
    * root pins — so after expiry EVERY surviving root still resolves
    * end-to-end, a stronger contract than commit-time count retention
    * (where an old root may outlive its data). Unreferenced equality-
    * delete files are reaped with it. Returns the expired root
    * versions, [] when nothing was old enough. The ops knob a daily
    * maintenance job runs: time travel is bounded by AGE, storage by
    * what surviving roots actually name. Takes the writer lease. */
  def expireRoots(spark: SparkSession, table: String, olderThanMs: Long,
                  retainVersions: Int =
                    graft.operators.Upsert.DefaultRetainVersions): Seq[Long] =
    leased(spark, table, "expireRoots") { _ =>
      val rt = s"$table/$RootDir"
      val f = fs(spark, new Path(rt))
      val committed = Snapshots.versions(spark, rt)
      val cur = currentRootVersion(spark, table).getOrElse(return Nil)
      val cutoff = System.currentTimeMillis() - olderThanMs
      val tagged = rootTags(spark, table).values.toSet ++
        rootBranches(spark, table).values
      // versions ABOVE the current pointer are never expired: deleting
      // the top slots would let the next commit REUSE their version
      // numbers (allVersionDirs.lastOption + 1), corrupting version
      // identity for time travel, tags, and changelog offsets. Orphans
      // up there (an abandoned branch's slots) die through count-based
      // vacuum once later commits bury them.
      val youngOrPinned = committed.filter { v =>
        v >= cur || tagged.contains(v) ||
          f.getFileStatus(new Path(Snapshots.versionPath(rt, v)))
            .getModificationTime >= cutoff
      }
      def chain(v: Long): Set[Long] =
        if (hasFullManifest(spark, rt, v)) Set(v)
        else Set(v) ++ chain(readText(spark,
          new Path(s"${Snapshots.versionPath(rt, v)}/$DeltaFile"))
          .split("\n").head.stripPrefix("v").toLong)
      val keep = youngOrPinned.toSet.flatMap(chain)
      val expired = committed.filterNot(keep.contains)
      expired.foreach(v =>
        f.delete(new Path(Snapshots.versionPath(rt, v)), true))
      if (expired.nonEmpty) {
        // protect the union of every SURVIVING root's pins, then
        // count-vacuum each partition's data versions
        val acc = scala.collection.mutable
          .Map.empty[String, Set[Long]]
        Snapshots.versions(spark, rt).foreach { v =>
          resolveManifest(spark, rt, v).foreach { case (rel, state) =>
            val vs = parseParts(state).collect {
              case (base, _) if baseVersion(base).nonEmpty =>
                baseVersion(base).get
            }
            acc(rel) = acc.getOrElse(rel, Set.empty) ++ vs
          }
        }
        val cols = partitionCols(spark, table)
        // reap by MANIFEST keys ∪ directory walk: a spec-evolved table's
        // retired-layout rels hold their data under _versions while the
        // same dir parents new-spec subdirs — the walk alone skips them
        inParallel((partitionDirs(spark, table, cols.size) ++ acc.keys)
          .distinct) { rel =>
            Snapshots.vacuum(spark, relPath(table, rel),
              keep = math.max(1, retainVersions),
              extraKeep = acc.getOrElse(rel, Set.empty))
          }
        vacuumDeletes(spark, table)
      }
      expired
    }

  /** Instant whole-table rollback: repoint the ROOT at an older manifest
    * — every partition snaps back to the state that manifest pinned, in
    * one pointer swap, nothing rewritten (Iceberg's
    * rollback_to_snapshot). Later root versions and the data they name
    * survive until retention vacuums them; the next merge reads the
    * rolled-back state and commits forward from it. Takes the table's
    * writer lease — rollback is a write. */
  def rollbackRoot(spark: SparkSession, table: String, v: Long): Unit =
    leased(spark, table, "rollbackRoot")(_ =>
      Snapshots.rollback(spark, s"$table/$RootDir", v))

  /** Reader-safe small-file compaction for a manifested table — the
    * rewrite_data_files analogue. Each partition whose pinned data dir
    * holds more than `minFiles` data files is rewritten to
    * ceil(bytes / targetFileBytes) files and committed as a NEW version
    * through the ordinary commit path (per-partition slot + pointer, one
    * new root manifest): readers pinned on the pre-compaction version
    * keep their immutable files — no in-place swap window.
    * Row-preserving by construction (read → coalesce → rewrite of the
    * same rows; coalesce merges scan splits, no shuffle). Partitions at
    * or under `minFiles` are untouched — a steady-state daily run
    * compacts only what the stream fragmented. Returns
    * (filesBefore, filesAfter) per compacted partition.
    *
    * `sortWithin = Seq(cols…)` makes it a SORTED rewrite (Iceberg's
    * rewrite_data_files with a sort order): every partition is
    * range-partitioned and sorted on the keys, so each output file
    * covers a disjoint key slice and parquet footer min/max prune
    * point/range reads to one file — the layout repair for tables grown
    * by interleaved appends. Costs one shuffle per partition and
    * rewrites ALL partitions (a layout change, not small-file
    * reclamation).
    *
    * `smallFileBytes` makes the selection FILE-LEVEL (Iceberg's
    * rewrite_data_files file-size filter): within each partition only
    * files under the threshold are folded into the new part, and every
    * larger file SURVIVES in place as a file-scoped manifest token —
    * bytes, path, and mtime untouched. A partition whose small-file
    * count is ≤ `minFiles` is skipped entirely. At 100 TB this is what
    * keeps a nightly compaction from rewriting healthy gigabyte files
    * just to fold the stream's trailing KB-sized commits. Partitions
    * with pending equality deletes — and every partition under a
    * `sortWithin` request — still rewrite fully (materialization /
    * layout contracts win over file selection). */
  def compact(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              minFiles: Int = 4,
              retainVersions: Int = graft.operators.Upsert.DefaultRetainVersions,
              sortWithin: Seq[String] = Nil,
              smallFileBytes: Long = Long.MaxValue)
      : Map[String, (Int, Int)] =
    leased(spark, table, "compact") { lease =>
      val cols = partitionCols(spark, table)
      val entries = lease.base
      // per rel: (read sides as (paths, deleteRefs), surviving parts,
      // files before, bytes to rewrite)
      val todo = inParallel(entries.toSeq.sortBy(_._1)) { case (rel, state) =>
        val parts = parseParts(state).flatMap { case (base, dels) =>
          stateDataPath(table, rel, base).map(d => (base, d, dels))
        }
        if (parts.isEmpty) None
        else {
          val partFiles = parts.map { case (base, d, dels) =>
            (base, d, dels, fs(spark, new Path(d)).listStatus(new Path(d))
              .filter(st => st.isFile && !hidden(st.getPath.getName)).toSeq)
          }
          val files = partFiles.flatMap(_._4)
          val anyDels = parts.exists(_._3.nonEmpty)
          val selective = smallFileBytes != Long.MaxValue &&
            sortWithin.isEmpty && !anyDels
          if (!selective) {
            // a partition carrying pending equality deletes OR an append
            // union is ALWAYS rewritten (the rewrite materializes the
            // deletes and folds the parts back to one version dir —
            // rewrite_data_files' job), however few files it holds; a
            // sort request rewrites every partition (the caller is
            // changing the LAYOUT, not reclaiming small files)
            if (files.length <= minFiles && !anyDels && parts.length == 1 &&
                sortWithin.isEmpty) None
            else Some((rel,
              partFiles.map { case (_, d, dels, _) => (Seq(d), dels) },
              Seq.empty[(String, Seq[String])],
              files.length, files.map(_.getLen).sum))
          } else {
            // FILE-LEVEL selection: fold only files under the threshold;
            // larger files survive by token (whole-part token when none
            // of a part's files is small — zero state churn)
            val keep = Seq.newBuilder[(String, Seq[String])]
            val rewrite = Seq.newBuilder[String]
            var rbytes = 0L
            partFiles.foreach { case (base, d, dels, fls) =>
              if (base == Flat) { // legacy pre-manifest files: fold fully
                rewrite ++= fls.map(_.getPath.toString)
                rbytes += fls.map(_.getLen).sum
              } else if (base.contains('/')) { // already file-scoped
                if (fls.exists(_.getLen < smallFileBytes)) {
                  rewrite += d; rbytes += fls.map(_.getLen).sum
                } else keep += ((base, dels))
              } else {
                val (small, big) = fls.partition(_.getLen < smallFileBytes)
                if (small.isEmpty) keep += ((base, dels))
                else {
                  rewrite ++= small.map(_.getPath.toString)
                  rbytes += small.map(_.getLen).sum
                  big.foreach(st =>
                    keep += ((s"$base/${st.getPath.getName}", dels)))
                }
              }
            }
            val rw = rewrite.result()
            // a fold must COMBINE at least two small files — rewriting a
            // lone small file into another lone small file is churn, and
            // would keep re-selecting it forever (no steady state)
            if (rw.length <= math.max(minFiles, 1)) None
            else Some((rel, Seq((rw, Seq.empty[String])), keep.result(),
              files.length, rbytes))
          }
        }
      }.flatten
      if (todo.isEmpty) return Map.empty
      val staging = s"$table/_staging-${java.util.UUID.randomUUID()}"
      // fold reads are RENAME-aware like every other pinned read: the
      // current pinned schema + alias coalesce serve pre-rename files'
      // values under the current names, and old-named delete files
      // conform — a raw footer-sampled read would silently NULL the
      // renamed column of whichever era lost the sample and commit the
      // loss permanently. No basePath: the staged rel re-derives its
      // dir segments, exactly like the raw read before — so the rel's own
      // dir columns, which no file of it holds, leave the read schema
      // even where the pin carries them.
      val foldPinned = lease.root.schema
      val foldPromoted = promotedSpecCols(spark, table)
      todo.foreach { case (rel, sidesIn, _, _, bytes) =>
        val nOut = math.max(1,
          math.ceil(bytes.toDouble / targetFileBytes).toInt)
        val relPinned = foldPinned.map(st => org.apache.spark.sql.types
          .StructType(st.filterNot(f => relCols(rel).contains(f.name))))
        val sides = sidesIn.map { case (paths, dels) =>
          val (df0, aliasOf) = groupScan(spark, table, relPinned,
            foldPromoted, relCols(rel), paths, useBasePath = false)
          applyDeleteRefs(spark, table, df0, dels, aliasOf = aliasOf)
        }
        val merged = sides.reduce(_ unionByName _)
        // sorted rewrite (Iceberg rewrite_data_files with a sort order):
        // range-partition then sort so each output file covers a
        // DISJOINT slice of the sort key — parquet min/max row-group
        // stats become non-overlapping and point/range reads on the
        // key skip every other file, the layout win footer skipping
        // cannot give on interleaved appends
        val shaped =
          if (sortWithin.isEmpty) merged.coalesce(nOut)
          else merged.repartitionByRange(nOut,
              sortWithin.map(org.apache.spark.sql.functions.col): _*)
            .sortWithinPartitions(sortWithin.head, sortWithin.tail: _*)
        shaped
          .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
          .parquet(relPath(staging, rel))
      }
      try {
        lease.assertHeld()
        // rewritten rels are TOUCHED: each keeps only its unselected
        // files (an unlisted staged rel would append to the parts it
        // just folded)
        commitStaged(spark, table, Some(staging), cols, retainVersions,
          touched = todo.map { case (rel, _, keep, _, _) => rel -> keep }.toMap)
      } finally
        fs(spark, new Path(staging)).delete(new Path(staging), true)
      vacuumDeletes(spark, table)
      val committedStates = rootManifest(spark, table)
        .getOrElse(Map.empty[String, String])
      todo.map { case (rel, _, _, before, _) =>
        // files the committed state now names, across ALL its parts
        val after = committedStates.get(rel).map(parseParts(_).map {
          case (Empty, _) => 0
          case (b, _) if b.contains('/') => 1
          case (b, _) => stateDataPath(table, rel, b).map(p =>
            fs(spark, new Path(p)).listStatus(new Path(p))
              .count(st => st.isFile && !hidden(st.getPath.getName)))
            .getOrElse(0)
        }.sum).getOrElse(before)
        rel -> (before, after)
      }.toMap
    }

  /** Metadata-only partition DROP (Iceberg's `DROP PARTITION` /
    * delete-by-partition-predicate): every manifest partition whose
    * parsed `column → value` map satisfies `pred` commits an EMPTY
    * version through the ordinary staged path — per-partition slot,
    * ONE root manifest, pointer swap — so readers flip atomically at
    * the root and pinned readers keep their immutable files until
    * retention expires them. NO data is scanned or rewritten: dropping
    * a year of a 30 000-partition table is O(dropped) directory
    * metadata, the operation retention pipelines run daily. Values
    * arrive unescaped (a `d=2024-01-01` dir yields "2024-01-01"; NULL
    * partitions yield the hive default token). Partitions already
    * EMPTY are skipped; returns the rel-paths dropped ([] = no-op,
    * no commit). Single-writer: takes the table's lease via the
    * commit path. */
  def dropPartitions(spark: SparkSession, table: String,
                     pred: Map[String, String] => Boolean,
                     retainVersions: Int =
                       graft.operators.Upsert.DefaultRetainVersions): Seq[String] =
    leased(spark, table, "dropPartitions") { lease =>
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val base = lease.base
      def parseRel(rel: String): Map[String, String] =
        rel.split("/").toSeq.filter(_.nonEmpty).map { seg =>
          val i = seg.indexOf('=')
          ExternalCatalogUtils.unescapePathName(seg.substring(0, i)) ->
            ExternalCatalogUtils.unescapePathName(seg.substring(i + 1))
        }.toMap
      val dropped = base.collect {
        case (rel, state) if state != Empty && pred(parseRel(rel)) => rel
      }.toSeq.sorted
      if (dropped.isEmpty) return Nil
      // ride the ordinary staged-commit machinery (empty dir → EMPTY
      // version slot → root publish → pointer swap): same crash
      // discipline, same reader contract as a merge that emptied them
      val staging = s"$table/_staging-${java.util.UUID.randomUUID()}"
      val f = fs(spark, new Path(table))
      f.mkdirs(new Path(staging))
      try {
        lease.assertHeld()
        commitStaged(spark, table, Some(staging), partitionCols(spark, table),
          retainVersions, touched = dropped.map(_ -> Nil).toMap)
      } finally f.delete(new Path(staging), true)
      dropped
    }

  /** EQUALITY-DELETE commit (merge-on-read — Iceberg v2's equality
    * deletes): remove every row whose key columns match a row of `keys`
    * WITHOUT rewriting any data file. The commit writes `keys` once under
    * `<table>/_deletes/dNNNNNNNN/` and publishes a root manifest whose
    * touched partitions' states carry a `+dNNNNNNNN` ref; readers apply
    * the delete file as a broadcast anti-join over exactly those
    * partitions ([[readEntries]]). At 100 TB this is the difference
    * between a metadata-speed commit and rewriting every partition a
    * GDPR-erasure key list touches.
    *
    * Sequence semantics at partition granularity: a later rewrite of a
    * touched partition (MERGE, [[compact]]) reads delete-applied data and
    * commits a PLAIN state — the delete is materialized and no longer
    * applies there, so a subsequently upserted key is visible again
    * (never re-suppressed), matching Iceberg's rule that an equality
    * delete applies only to data sequenced BEFORE it. Time travel to a
    * pre-delete root serves the undeleted rows; the changelog between the
    * two roots is exactly the deleted rows.
    *
    * Key columns must be DATA columns (partition columns are directory
    * names — delete by rewriting with a partition filter instead), and a
    * key list matching nothing is a no-op (returns false, no new root).
    * Finding the touched partitions costs one column-pruned semi-join
    * scan of key+partition columns — the same lookup a MERGE pays.
    * Single-writer: takes the table's lease. */
  def deleteKeys(spark: SparkSession, table: String, keys: DataFrame,
                 retainVersions: Int =
                   graft.operators.Upsert.DefaultRetainVersions): Boolean =
    leased(spark, table, "deleteKeys") { lease =>
      val cols = partitionCols(spark, table)
      val keyCols = keys.columns.toSeq
      require(keyCols.nonEmpty && keyCols.intersect(cols).isEmpty,
        s"deleteKeys: key columns $keyCols must be data columns, not " +
          s"partition columns $cols")
      val base = lease.base
      // STATS-PRUNED touched-partition scan (the merge's key predicate):
      // partitions and files whose key bounds provably exclude every
      // delete key cannot hold a doomed row — only the remainder is
      // constructed and scanned, raw. Absent stats keep the partition;
      // all-pruned means no key matches anywhere (the documented no-op
      // `false`).
      val k = keys.dropDuplicates(keyCols)
      val root = lease.root
      val current = scan(spark, root,
        keyPredicate(spark, root.schema, keyCols, k), files = true,
        hidden = true, pinned = false).getOrElse(return false)
      keyCols.foreach(c => require(current.columns.contains(c),
        s"deleteKeys: key column '$c' is not a column of $table"))
      requireNoTimestampPartitions("deleteKeys", current.schema, cols)
      import org.apache.spark.sql.functions.{broadcast, col}
      // touched partitions: column-pruned semi-join (bounded collect —
      // one row per touched PARTITION, never per key)
      val touchedRels = partitionSegments(cols, current
        .join(broadcast(k), keyCols, "left_semi")
        .select(cols.map(col): _*).distinct().collect().toSeq)
        .map(m => cols.map(m).mkString("/")).toSet
      if (touchedRels.isEmpty) return false
      // validate BEFORE staging the delete file (no slot leaked on abort)
      touchedRels.toSeq.sorted.foreach(rel =>
        if (!base.contains(rel)) throw new IllegalStateException(
          s"deleteKeys: touched partition '$rel' is not in $table's " +
            "manifest — partition-value rendering diverged from the " +
            "writer's directory naming; refusing to commit"))
      // write the delete file once: hidden staging → rename into a slot
      val f = fs(spark, new Path(table))
      f.mkdirs(new Path(s"$table/$DeletesDir"))
      val tmp = s"$table/$DeletesDir/.staging-${java.util.UUID.randomUUID()}"
      k.write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(tmp)
      val id = claimDeleteSlot(spark, table, new Path(tmp), "deleteKeys")
      // the new ref lands on EVERY current part: the delete applies to
      // all data that exists now; parts appended later never carry it
      // (the sequence rule, encoded structurally). The touched rels'
      // footer stats carry forward: the bounds still describe the base
      // files (rows becomes an upper bound — a delete only shrinks the
      // true set; rowCount reports accordingly)
      lease.assertHeld()
      commitStaged(spark, table, None, cols, retainVersions,
        touched = touchedRels.map(rel => rel -> withRef(base(rel), id)).toMap)
      vacuumDeletes(spark, table)
      true
    }

  /** POSITIONAL DELETE commit (Iceberg v2's position deletes — the
    * second merge-on-read delete flavor): remove specific rows by
    * (data file, row ordinal) WITHOUT rewriting any data file. Where an
    * equality delete costs O(keys) per read forever-after, a positional
    * file is one broadcast anti-join on a two-column pair — the cheaper
    * read path when the doomed row set is large but enumerable (a
    * quality-filter sweep, a per-file redaction).
    *
    * `positions` carries `_pos_path` + `_pos_ordinal` exactly as
    * [[readWithRowPos]] exposes them — filter that frame, pass the two
    * columns back. The commit writes them once under
    * `<table>/_deletes/pNNNNNNNN/` (file NAME + ordinal for the
    * anti-join — writer-UUID names are unique — plus the table-relative
    * path for audit), and stamps the ref onto every current part of the
    * touched partitions; parts appended later never carry it and a
    * rewrite/compaction MATERIALIZES it (plain state, ref retired) —
    * the same sequence rule as equality deletes, so [[vacuumDeletes]]
    * reaps the file once no retained root names it. Positions must
    * name files of CURRENT parts (a stale handle fails loudly). It is
    * [[replaceRows]] with no new rows. Single-writer: takes the table's
    * lease. */
  def deletePositions(spark: SparkSession, table: String,
                      positions: DataFrame,
                      retainVersions: Int =
                        graft.operators.Upsert.DefaultRetainVersions): Boolean =
    replaceRowsAs("deletePositions", spark, table, positions, None,
      retainVersions, None)

  /** ATOMIC row replacement — ONE root publish that both retires the
    * given row positions (a positional delete ref on every current
    * part of their partitions) and appends `newRows` as fresh version
    * parts. The commit primitive behind SQL `UPDATE`: split into a
    * deletePositions + append pair, a crash between the two commits
    * would durably lose the affected rows (the delete published, the
    * replacements didn't, and a re-run's WHERE matches nothing) — here
    * the root pointer swap is the single visibility point, so readers
    * see the pre-update or the post-update snapshot, never the gap.
    * A crash before the publish is a clean abort: the claimed delete
    * file is unreferenced (vacuumDeletes/removeOrphans reap it) and
    * sealed slots age out. `positions` carries `_pos_path` +
    * `_pos_ordinal` as [[readWithRowPos]] exposes them, validated at
    * FILE granularity like [[deletePositions]]; `newRows` must match
    * the table's (public) schema and may land in partitions the doomed
    * rows never lived in (partition-migrating updates). `newRows` may
    * be EMPTY (the commit degenerates to a pure positional delete —
    * the all-clauses-DELETE MERGE shape), and may carry NEW columns
    * when `evolvedSchema` pins the union schema with the same commit
    * (additive evolution riding the root swap; reads align old files
    * through the pinned schema exactly as upsert evolution does).
    * Returns false (no commit) when `positions` is empty. Takes the
    * writer lease. */
  def replaceRows(spark: SparkSession, table: String,
                  positions: DataFrame, newRows: DataFrame,
                  retainVersions: Int =
                    graft.operators.Upsert.DefaultRetainVersions,
                  evolvedSchema: Option[org.apache.spark.sql.types.StructType]
                    = None): Boolean =
    replaceRowsAs("replaceRows", spark, table, positions, Some(newRows),
      retainVersions, evolvedSchema)

  /** [[replaceRows]] reporting as `what`; no `newRows` stages nothing. */
  private def replaceRowsAs(what: String, spark: SparkSession, table: String,
                            positions: DataFrame, newRows: Option[DataFrame],
                            retainVersions: Int,
                            evolvedSchema: Option[org.apache.spark.sql.types.StructType])
      : Boolean = {
    require(positions.columns.toSet.contains("_pos_path") &&
      positions.columns.toSet.contains("_pos_ordinal"),
      s"$what: positions must carry _pos_path + _pos_ordinal " +
        "(from readWithRowPos)")
    import org.apache.spark.sql.functions.{col, element_at, split}
    leased(spark, table, what) { lease =>
      val base = lease.base
      val rootPath = new Path(table).toUri.getPath
      // one row per touched FILE (bounded — never per deleted row):
      // parse each file's partition rel from its table-relative path
      val files = positions.select(col("_pos_path")).distinct()
        .collect().map(_.getString(0))
      if (files.isEmpty) return false
      val parsedFiles = files.map { uri =>
        val p = new Path(uri).toUri.getPath
        require(p.startsWith(rootPath + "/"),
          s"$what: file $uri is not under table $table")
        val segs = p.stripPrefix(rootPath + "/").split("/").toSeq
        segs.indexOf(VersionsDir) match {
          case -1 => (segs.dropRight(1).mkString("/"), // FLAT legacy file
            None: Option[String], segs.last)
          case i  => (segs.take(i).mkString("/"),
            Some(segs(i + 1)), segs.last)
        }
      }
      // validate at FILE granularity: each doomed file's version must be
      // a CURRENT part of its partition's state (plain vNNN token, its
      // own file-scoped survivor token, or FLAT). A handle whose file was
      // rewritten or compacted away since the read is STALE — committing
      // a ref for it would silently delete nothing; refuse loudly.
      parsedFiles.toSeq.sortBy(_._1).foreach { case (rel, verOpt, name) =>
        val bases = base.get(rel).map(parseParts(_).map(_._1)).getOrElse(
          throw new IllegalArgumentException(
            s"$what: file partition '$rel' is not in $table's " +
              "manifest — the position handles are stale; re-read"))
        val live = verOpt match {
          case None => bases.contains(Flat)
          case Some(v) => bases.exists(b => b == v || b == s"$v/$name")
        }
        require(live,
          s"$what: file '$name' (${verOpt.getOrElse(Flat)}) is no " +
            s"longer a current part of '$rel' (state: ${base(rel)}) — " +
            "the position handles are stale (rewritten or compacted since " +
            "they were read); re-read and re-derive")
      }
      // stage the delete file (claimed but UNREFERENCED until the publish)
      val rows = positions
        .select(element_at(split(col("_pos_path"), "/"), -1).as("_del_file"),
          col("_pos_ordinal").cast("long").as("_del_pos"),
          org.apache.spark.sql.functions
            .regexp_replace(col("_pos_path"), ".*" +
              java.util.regex.Pattern.quote(rootPath + "/"), "")
            .as("_del_path"))
        .dropDuplicates("_del_path", "_del_pos")
      val f = fs(spark, new Path(table))
      f.mkdirs(new Path(s"$table/$DeletesDir"))
      val tmpDel = s"$table/$DeletesDir/.staging-${java.util.UUID.randomUUID()}"
      rows.write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
        .parquet(tmpDel)
      val id = claimDeleteSlot(spark, table, new Path(tmpDel), what, "p")
      // every prior part of a delete-touched rel gains the ref (the
      // delete applies to data that exists NOW); a freshly sealed part
      // carries none (sequenced after it), and its stats widen the
      // prior bounds, which stay valid (a delete only shrinks the true
      // set — rowCount already treats ref-carrying states as upper bounds)
      val cols = partitionCols(spark, table)
      val touched = parsedFiles.map(_._1).distinct
        .map(rel => rel -> withRef(base(rel), id)).toMap
      newRows match {
        case Some(df) =>
          // hidden partitioning re-derives the replacement rows' dirs
          lease.stageThen(applyTransforms(spark, table, df), cols) { staging =>
            commitStaged(spark, table, Some(staging), cols, retainVersions,
              touched, schema = evolvedSchema)
          }
        case None =>
          lease.assertHeld()
          commitStaged(spark, table, None, cols, retainVersions, touched)
      }
      vacuumDeletes(spark, table)
      true
    }
  }

  /** A state's current parts, each stamped with delete ref `id`. */
  private def withRef(state: String, id: String): Parts =
    parseParts(state).filterNot(_._1 == Empty)
      .map { case (b, dels) => (b, dels :+ id) }

  // one shared number space for BOTH delete flavors: d = equality
  // (key-valued), p = positional (file + row ordinal)
  private val DeleteName = "^[dp](\\d{8,})$".r

  /** Rename complete delete keys at `from` into the next `_deletes` slot;
    * returns the claimed id ("d00000001", or "p…" for positional deletes
    * with `prefix` "p"). Same claim discipline as the data slots — the
    * rename is whole-dir atomic. `what` names the failing op. */
  private def claimDeleteSlot(spark: SparkSession, table: String,
                              from: Path, what: String,
                              prefix: String = "d"): String = {
    val f = fs(spark, from)
    val dir = new Path(s"$table/$DeletesDir")
    var attempt = 0
    while (attempt < 50) {
      val next = f.listStatus(dir).flatMap(st =>
        DeleteName.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
        .maxOption.getOrElse(0L) + 1
      val id = f"$prefix$next%08d"
      if (CommitIo.current.claimSlot(f, from, new Path(dir, id))) return id
      attempt += 1
    }
    f.delete(from, true)
    throw new IllegalStateException(
      s"$what: could not claim a delete slot at $table")
  }

  /** Reap delete files no RETAINED root manifest references (a rewrite
    * materialized them, or the manifests naming them aged out). Cold-only
    * below the root-retention guard: an id is never reaped while any
    * resolvable root version still names it, so pinned time-travel
    * readers keep their merge-on-read view — the same reader-vs-
    * expiration contract as every snapshot chain. Callers hold the
    * table's writer lease. */
  private[graft] def vacuumDeletes(spark: SparkSession, table: String): Unit = {
    val dir = new Path(s"$table/$DeletesDir")
    val f = fs(spark, dir)
    if (!f.exists(dir)) return
    val rt = s"$table/$RootDir"
    val referenced = Snapshots.versions(spark, rt)
      .flatMap(v => resolveManifest(spark, rt, v).values)
      .flatMap(s => parseParts(s).flatMap(_._2)).toSet
    f.listStatus(dir)
      .filter { st =>
        val n = st.getPath.getName
        DeleteName.findFirstMatchIn(n).nonEmpty && !referenced.contains(n) ||
          // cold hidden staging a crashed delete commit abandoned
          n.startsWith(".staging-") &&
            System.currentTimeMillis() - st.getModificationTime > 15 * 60 * 1000L
      }
      .foreach(st => f.delete(st.getPath, true))
  }

  /** ORPHAN-FILE SWEEP (Iceberg's `remove_orphan_files`): delete every
    * artifact under `table` that NO retained root manifest resolves —
    * the storage a crashed writer leaks where the commit-time cleanups
    * cannot reach it:
    *
    *   - never-referenced per-partition version slots: a writer that
    *     died between sealing its slots and publishing the root leaves
    *     complete dirs nothing ever names (commit-path retention only
    *     runs for partitions a LATER commit touches again, so a
    *     never-touched partition keeps the corpse forever) — including
    *     cold write-audit-publish slots a crashed auditor abandoned;
    *   - version slots only EXPIRED roots named (time travel to those
    *     roots already fails loudly; the bytes are pure leak);
    *   - cold `_staging-*` roots, `.staging-*` debris under any
    *     `_versions` dir (partition and root alike), and unreferenced
    *     `_deletes` files.
    *
    * Safety: takes the writer lease (no commit is mid-flight while the
    * sweep lists), and ONLY artifacts older than `olderThanMs` are
    * touched — a crashed writer's debris is by definition cold, while a
    * TTL-taken-over writer still flushing is young. Referenced means:
    * named by ANY retained root version (main, branch-staged, tagged —
    * the whole `_root/_versions` chain), or the partition pointer's
    * current target (the read cache partition-level readers resolve).
    * Root manifest slots themselves are never candidates — the root
    * chain is managed by retention/[[expireRoots]]. Requires a
    * committed root (without one, flat fallback reads serve ANY slot,
    * so nothing is provably orphaned). `dryRun` returns the doomed
    * paths without deleting. Returns table-relative paths, sorted. */
  def removeOrphans(spark: SparkSession, table: String,
                    olderThanMs: Long = 24L * 3600 * 1000,
                    dryRun: Boolean = false): Seq[String] =
    leased(spark, table, "removeOrphans") { _ =>
      val rt = s"$table/$RootDir"
      val roots = Snapshots.versions(spark, rt)
      require(roots.nonEmpty,
        s"removeOrphans: $table has no committed root manifest — " +
          "pre-root reads fall back to ANY servable slot, so no slot is " +
          "provably orphaned (ensureRootManifest first)")
      val f = fs(spark, new Path(table))
      val cutoff = System.currentTimeMillis() - olderThanMs
      def cold(p: Path): Boolean =
        try f.getFileStatus(p).getModificationTime < cutoff
        catch { case _: java.io.FileNotFoundException => false }
      // every (rel, version) and delete id ANY retained root resolves
      val refVs = scala.collection.mutable.Map.empty[String, Set[Long]]
      val refDels = scala.collection.mutable.Set.empty[String]
      roots.foreach { v =>
        resolveManifest(spark, rt, v).foreach { case (rel, state) =>
          parseParts(state).foreach { case (b, dels) =>
            refDels ++= dels
            baseVersion(b).foreach(bv =>
              refVs(rel) = refVs.getOrElse(rel, Set.empty) + bv)
          }
        }
      }
      val doomed = Seq.newBuilder[String]
      // 1. cold staging roots a crashed writer abandoned
      f.listStatus(new Path(table))
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("_staging-") && cold(st.getPath))
        .foreach(st => doomed += st.getPath.getName)
      // 2. per-partition slots: walk every k=v dir holding a _versions
      //    child (partitionDirs alone can miss a retired-spec rel whose
      //    data lives only under _versions while it parents new-spec
      //    dirs) — fan the per-rel listing out on the commit pool
      def walkRels(dir: Path, rel: String): Seq[String] = {
        val subs = f.listStatus(dir).filter(_.isDirectory)
        val here =
          if (subs.exists(_.getPath.getName == VersionsDir)) Seq(rel)
          else Nil
        here ++ subs.toSeq
          .filter(st => !hidden(st.getPath.getName) &&
            st.getPath.getName.contains("="))
          .flatMap(st => walkRels(st.getPath,
            if (rel.isEmpty) st.getPath.getName
            else s"$rel/${st.getPath.getName}"))
      }
      val rels = walkRels(new Path(table), "")
      doomed ++= inParallel(rels) { rel =>
        val pt = relPath(table, rel)
        def under(name: String) = if (rel.isEmpty) name else s"$rel/$name"
        val referenced = refVs.getOrElse(rel, Set.empty) ++
          Snapshots.pointedVersion(spark, pt) // pointer cache: belt
        val slots = Snapshots.allVersionDirs(spark, pt)
          .filterNot(referenced.contains)
          .map(v => new Path(Snapshots.versionPath(pt, v)))
          .filter(cold)
          .map(p => under(s"$VersionsDir/${p.getName}"))
        val staging = f.listStatus(new Path(pt, VersionsDir))
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(".staging-") && cold(st.getPath))
          .map(st => under(s"$VersionsDir/${st.getPath.getName}"))
        slots ++ staging
      }.flatten
      // 3. cold staging debris under the root chain's own versions dir
      val rvd = new Path(s"$rt/$VersionsDir")
      if (f.exists(rvd))
        f.listStatus(rvd)
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(".staging-") && cold(st.getPath))
          .foreach(st =>
            doomed += s"$RootDir/$VersionsDir/${st.getPath.getName}")
      // 4. delete files no retained root references + cold staging
      val dd = new Path(s"$table/$DeletesDir")
      if (f.exists(dd))
        f.listStatus(dd).foreach { st =>
          val n = st.getPath.getName
          val orphanDel =
            (DeleteName.findFirstMatchIn(n).nonEmpty &&
              !refDels.contains(n) && cold(st.getPath)) ||
            (n.startsWith(".staging-") && cold(st.getPath))
          if (orphanDel) doomed += s"$DeletesDir/$n"
        }
      val out = doomed.result().distinct.sorted
      if (!dryRun)
        inParallel(out)(rel => f.delete(new Path(relPath(table, rel)), true))
      out
    }

  /** Run `body` under the table's single-writer lease — the one preamble
    * of every write and maintenance op here: refuses a table that is not
    * manifested, throws [[graft.operators.Upsert.ConcurrentWriteException]]
    * while another writer holds the lease, and releases it however
    * `body` ends. */
  private def leased[A](spark: SparkSession, table: String, what: String)
                       (body: Lease => A): A = {
    require(isManifested(spark, table),
      s"$what: $table is not a manifested table")
    val token = graft.operators.Upsert.acquireLock(spark, table,
      graft.operators.Upsert.DefaultLockTtlMs)
    try body(new Lease(spark, table, token))
    finally graft.operators.Upsert.releaseLock(spark, table, token)
  }

  /** One operation's hold on a table's writer lease ([[leased]]). */
  private final class Lease(spark: SparkSession, table: String,
                            token: String) {
    /** The root a data commit starts from — its entries are the current
      * root's, or the on-disk states before the table's first root —
      * resolved after sweeping the cold staging roots a crashed writer
      * left. */
    lazy val root: Root = {
      cleanupStaging(spark, table)
      resolveRoot(spark, table)
    }
    def base: Map[String, String] = root.entries
    def assertHeld(): Unit =
      graft.operators.Upsert.assertHeld(spark, table, token)
    def stageThen(df: DataFrame, cols: Seq[String])
                 (commit: String => Unit): Unit =
      PartitionSnapshots.stageThen(spark, table, token, df, cols)(commit)
  }

  /** Stage `df` ONCE (hive layout, partition columns stripped into dirs;
    * plain files for an unpartitioned table) under a hidden `_staging-*`
    * root, re-check the lease, then hand the staged dirs to
    * [[commitStaged]]; the staging root goes however the commit ends.
    * The staged write lands beside the table's data, never over it, so
    * `df`'s plan may read the table's current state. */
  private[graft] def stageThen(spark: SparkSession, table: String,
                               token: String, df: DataFrame,
                               cols: Seq[String])
                              (commit: String => Unit): Unit = {
    val staging = s"$table/_staging-${java.util.UUID.randomUUID()}"
    graft.operators.Upsert.packedWriter(spark, df, cols,
        org.apache.spark.sql.SaveMode.ErrorIfExists)
      .partitionBy(cols: _*).parquet(staging)
    try {
      graft.operators.Upsert.assertHeld(spark, table, token) // last check
      commit(staging)
    } finally fs(spark, new Path(staging)).delete(new Path(staging), true)
  }

  /** Remove staging roots a crashed writer abandoned (cold ones only —
    * a live TTL-takeover victim may still be flushing its write). */
  private[graft] def cleanupStaging(spark: SparkSession, table: String,
                                    olderThanMs: Long = 15 * 60 * 1000L): Unit = {
    val root = new Path(table)
    val f = fs(spark, root)
    if (!f.exists(root)) return
    f.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_staging-"))
      .filter(st => System.currentTimeMillis() - st.getModificationTime > olderThanMs)
      .foreach(st => f.delete(st.getPath, true))
  }
}
