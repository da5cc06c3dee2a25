package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Thin catalog façade over a Parquet warehouse directory — the engine's
  * stand-in for the reference's Iceberg namespaces/DDL
  * (reference: spark_jobs/gcs_bronze_to_silver.py:73-158 CREATE NAMESPACE /
  * CREATE TABLE IF NOT EXISTS, spark_jobs/gcs_silver_to_gold.py:150-322).
  *
  * Tables are directories `<warehouse>/<name>`. Every table the catalog
  * creates or writes is a manifested [[PartitionSnapshots]] table,
  * partitioned or not: created tables are born with a root commit that
  * pins their schema, and a write statement into a plain parquet dir
  * first migrates it with zero IO ([[manifested]]). Plain parquet dirs
  * stay readable as they are; a read resolves the root manifest's
  * pinned files, pruned by its partition and file stats.
  */
final class Catalog(spark: SparkSession, warehouse: String) {

  private def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(name: String): String = s"$warehouse/$name"

  /** S12: existence probe (reference: gcs_silver_to_gold.py:100-109 DESCRIBE
    * try/except) — a committed root manifest or a readable parquet
    * footer, not just a directory. */
  def tableExists(name: String): Boolean = {
    val p = new Path(tablePath(name))
    fs.exists(p) && (
      // an EMPTY manifested table (just created, TRUNCATEd,
      // delete-everything) has no scannable rows but IS a table
      (PartitionSnapshots.isManifested(spark, tablePath(name)) &&
        PartitionSnapshots.currentRootVersion(spark, tablePath(name))
          .nonEmpty) ||
      (try { graft.operators.Upsert.read(spark, tablePath(name)); true }
       catch { case _: Exception => false }))
  }

  /** S4: idempotent table creation from a first batch (CREATE IF NOT
    * EXISTS): the schema-pinning root commit, then one fast-append of
    * `df`'s rows. */
  def createIfNotExists(name: String, df: DataFrame,
                        partitionCols: Seq[String] = Nil): Unit =
    if (!tableExists(name)) {
      create(name, df.schema, partitionCols)
      graft.operators.Upsert.append(spark, tablePath(name), df, partitionCols)
    }

  /** A new manifested table with no rows: one root commit pinning
    * `schema`, under the table lease. */
  private def create(name: String, schema: StructType,
                     partitionCols: Seq[String]): Unit = {
    val missing = partitionCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"partition columns not in schema: $missing")
    leased(tablePath(name))(
      PartitionSnapshots.createRoot(spark, tablePath(name), schema,
        partitionCols))
  }

  /** The table at `name`, migrated first when it is a plain parquet dir:
    * under the table lease, the marker (keyed by the dir's own hive
    * layout) and a baseline root manifest naming its files, which stay
    * where they are. Every write statement runs this before its commit,
    * so it has only the manifested route to take. Returns the path. */
  private def manifested(name: String): String = {
    val path = tablePath(name)
    if (PartitionSnapshots.currentRootVersion(spark, path).isEmpty)
      leased(path) {
        PartitionSnapshots.ensureManifested(spark, path,
          PartitionSnapshots.layoutCols(spark, path).getOrElse(Nil))
        PartitionSnapshots.ensureRootManifest(spark, path)
      }
    path
  }

  private def leased[A](path: String)(body: => A): A = {
    val token = graft.operators.Upsert.acquireLock(spark, path,
      graft.operators.Upsert.DefaultLockTtlMs)
    try body
    finally graft.operators.Upsert.releaseLock(spark, path, token)
  }

  /** Read through [[graft.operators.Upsert.read]]: a manifested table
    * resolves its root manifest, a plain parquet dir reads directly. */
  def read(name: String): DataFrame =
    try graft.operators.Upsert.read(spark, tablePath(name))
    catch {
      // AnalysisException: plain dir with no footers; IllegalArgument:
      // manifested table with no rows
      case e @ (_: org.apache.spark.sql.AnalysisException |
                _: IllegalArgumentException) =>
        // a created-but-empty or TRUNCATEd table (every partition EMPTY,
        // schema pinned in the root) reads as schema-typed empty — a
        // legitimately empty table must never poison registerAll()
        PartitionSnapshots.tableRowSchema(spark, tablePath(name))
          .map(schema => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
          .getOrElse(throw e)
    }

  /** S3-as-table-name: also register as a temp view so spark.sql sees it. */
  def registerView(name: String): DataFrame = {
    val df = read(name)
    df.createOrReplaceTempView(name)
    df
  }

  // ---- SQL-string surface --------------------------------------------
  // The reference drives its whole lifecycle through spark.sql text: DDL
  // (gcs_bronze_to_silver.py:73-158), MERGE (:469-490), and the flat view
  // as SQL (gold_to_bigquery.py:185-209). These entry points let a
  // SQL-first user run the same statements against the parquet warehouse.

  /** Register every warehouse table as a temp view; returns the names. */
  def registerAll(): Seq[String] = {
    val names = listTables()
    names.foreach(registerView)
    names
  }

  /** Run a SQL query with all warehouse tables visible by name. Re-reads
    * the warehouse listing each call so tables created since the last call
    * resolve too (snapshot semantics per query, like the reference's
    * per-run spark.table reads). Row-level statements are intercepted
    * after parsing and routed to the engine's commit machinery:
    * MERGE INTO (the reference's entire write surface —
    * gcs_bronze_to_silver.py:469-490, gcs_silver_to_gold.py:329-541) to
    * [[graft.operators.Upsert.upsert]] /
    * [[PartitionSnapshots.deleteKeys]], and DELETE FROM to the
    * metadata-cheapest delete flavor its predicate allows
    * ([[runDeleteSql]]). Everything else parses ONCE, directly through
    * `spark.sql` — the cheap leading-keyword sniff below keeps the
    * common SELECT path from paying a second parse. */
  def sql(query: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, MergeIntoTable}
    def reparse[A](pf: PartialFunction[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame])
        : DataFrame = {
      val plan = spark.sessionState.sqlParser.parsePlan(query)
      if (pf.isDefinedAt(plan)) pf(plan)
      else { registerAll(); spark.sql(query) }
    }
    import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumns, CreateTable, CreateTableAsSelect, DropColumns, DropTable, InsertIntoStatement, RenameColumn, TruncateTable}
    leadingKeyword(query) match {
      case "MERGE" => reparse { case m: MergeIntoTable => runMergeSql(m) }
      case "DELETE" => reparse { case d: DeleteFromTable => runDeleteSql(d) }
      case "UPDATE" => reparse {
        case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
          runUpdateSql(u)
      }
      case "INSERT" => reparse {
        case i: InsertIntoStatement => runInsertSql(i)
      }
      case "ALTER" => reparse {
        case a @ (_: RenameColumn | _: DropColumns | _: AddColumns |
                  _: AlterColumns) => runAlterSql(a)
      }
      case "CREATE" => reparse {
        case c: CreateTable => runCreateTable(c)
        case c: CreateTableAsSelect => runCtas(c)
      }
      case "DROP" => reparse {
        case d: DropTable => runDropTable(d)
      }
      case "TRUNCATE" => reparse {
        case t: TruncateTable => runTruncate(t)
      }
      case "CALL" => reparse {
        case c: org.apache.spark.sql.catalyst.plans.logical.Call => runCall(c)
      }
      case "SHOW" => reparse {
        case _: org.apache.spark.sql.catalyst.plans.logical.ShowTables =>
          runShowTables()
        case s: org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable =>
          runShowCreate(s)
      }
      case "DESCRIBE" | "DESC" => reparse {
        // only WAREHOUSE tables take the metadata-only answer; anything
        // else (a caller-registered temp view, a name only Spark knows)
        // falls to reparse's registerAll + spark.sql leg, which keeps
        // Spark's own DESCRIBE semantics and its loud not-found error
        case d: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation
            if (try tableExists(nameOfPlan(d.relation, "DESCRIBE"))
                catch { case _: Exception => false }) =>
          runDescribe(d)
      }
      case "WITH" =>
        // Spark's grammar allows a CTE before DML (`WITH … MERGE INTO`),
        // which would sail past the keyword sniff into the plain path —
        // where spark.sql would run the statement against the temp-view
        // registrations (a v1 INSERT can even append raw files into the
        // table layout). The router does not resolve CTEs into its
        // commit machinery, so refuse LOUDLY instead of mis-executing;
        // ordinary WITH…SELECT statements pass through untouched.
        val plan = spark.sessionState.sqlParser.parsePlan(query)
        val dml = plan.collectFirst {
          case n @ (_: MergeIntoTable | _: DeleteFromTable |
                    _: org.apache.spark.sql.catalyst.plans.logical.UpdateTable |
                    _: InsertIntoStatement) => n
        }
        require(dml.isEmpty,
          s"CTE-prefixed ${dml.map(_.nodeName).getOrElse("")} is not " +
            "routed to the commit machinery — materialize the CTE as a " +
            "temp view and run the bare statement")
        // plain WITH…SELECT: same tail as the default case (time-travel
        // resolution, inspection-table retry)
        if (TimeTravelHint.matcher(query).find()) runMaybeTimeTravel(query)
        else runPlain(query)
      case _ if TimeTravelHint.matcher(query).find() =>
        runMaybeTimeTravel(query)
      case _ => runPlain(query)
    }
  }

  /** `FROM t VERSION AS OF v / TIMESTAMP AS OF ts / AS OF <tag>`:
    * the parser wraps the relation in RelationTimeTravel; resolve
    * each to the engine's pinned snapshot read and run the rest of
    * the statement unchanged. The regex pre-filter keeps plain
    * SELECTs on the single-parse path. */
  private def runMaybeTimeTravel(query: String): DataFrame = {
    val plan = spark.sessionState.sqlParser.parsePlan(query)
    val hasTt = plan.collectFirst {
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel => tt
    }.nonEmpty
    if (!hasTt) runPlain(query)
    else {
      val resolved = plan.transform {
        case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel =>
          resolveTimeTravel(tt)
      }
      registerAll()
      org.apache.spark.sql.graft.SqlInternals.ofRows(spark, resolved)
    }
  }

  private val TimeTravelHint =
    java.util.regex.Pattern.compile("(?i)\\bAS\\s+OF\\b")

  /** The plain single-parse path, plus the INSPECTION-TABLE surface
    * (Iceberg's metadata tables as SQL): when ordinary resolution fails,
    * any `FROM <t>.files / .snapshots / .partitions / .refs` relation
    * over a manifested warehouse table is spliced with the matching
    * metadata frame ([[PartitionSnapshots.filesMeta]] etc. — all
    * metadata-only) and the statement retried; referencable by the
    * metadata name (`files.path`) like any aliased relation. Queries
    * without such a relation keep their original error. */
  private def runPlain(query: String): DataFrame = {
    registerAll()
    try spark.sql(query)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        resolveMetaTables(query).getOrElse(throw e)
    }
  }

  private val MetaTableNames =
    Set("files", "snapshots", "partitions", "refs", "history")

  private def resolveMetaTables(query: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    val plan = spark.sessionState.sqlParser.parsePlan(query)
    var found = false
    val resolved = plan.transform {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 2 &&
          MetaTableNames.contains(
            u.multipartIdentifier(1).toLowerCase(java.util.Locale.ROOT)) &&
          tableExists(u.multipartIdentifier.head) &&
          PartitionSnapshots.isManifested(
            spark, tablePath(u.multipartIdentifier.head)) =>
        found = true
        val path = tablePath(u.multipartIdentifier.head)
        val meta = u.multipartIdentifier(1).toLowerCase(java.util.Locale.ROOT)
        val frame = meta match {
          case "files" => PartitionSnapshots.filesMeta(spark, path)
          case "snapshots" => PartitionSnapshots.snapshotsMeta(spark, path)
          case "partitions" => PartitionSnapshots.partitionsMeta(spark, path)
          case "refs" => PartitionSnapshots.refsMeta(spark, path)
          case "history" => PartitionSnapshots.historyMeta(spark, path)
        }
        SubqueryAlias(meta, frame.queryExecution.analyzed)
    }
    if (!found) None
    else Some(org.apache.spark.sql.graft.SqlInternals.ofRows(spark, resolved))
  }

  private def nameOfPlan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      what: String): String = p match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
      u.multipartIdentifier.last
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      t.multipartIdentifier.last
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
      t.multipartIdentifier.last
    case i: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
      i.nameParts.last
    case org.apache.spark.sql.catalyst.plans.logical
        .SubqueryAlias(_, child) => nameOfPlan(child, what)
    case other => throw new IllegalArgumentException(
      s"$what: target must be a table name, got ${other.nodeName}")
  }

  /** The SQL name a statement's table side answers to: its alias, else
    * its own (last) name — an UNALIASED side is addressable by it, so
    * clause conditions like `src.v < 0` resolve against it. */
  private def aliasOf(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      dflt: String): String = p match {
    case org.apache.spark.sql.catalyst.plans.logical
        .SubqueryAlias(id, _) => id.name
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
      u.multipartIdentifier.last
    case _ => dflt
  }

  private def conjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Route a parsed `INSERT INTO / INSERT OVERWRITE t [PARTITION (…)]
    * [(cols)] <query>` to the engine's commit machinery:
    *
    *   INSERT INTO      → fast-append (O(new data), no existing file
    *                      touched)
    *   INSERT OVERWRITE → [[PartitionSnapshots.overwritePartitions]] —
    *                      DYNAMIC partition overwrite in ONE commit
    *                      (Iceberg's INSERT OVERWRITE semantics, not
    *                      Spark's static whole-table default)
    *
    * Column semantics are SQL's: a column list maps the query's output
    * to the listed columns by POSITION (unlisted columns NULL); no list
    * = by position against the full schema; static `PARTITION (p='x')`
    * values become literal columns. Values cast to the table's types.
    * Returns the post-insert table. */
  private def runInsertSql(
      i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val targetName = nameOfPlan(i.table, "INSERT")
    require(tableExists(targetName),
      s"INSERT: no table '$targetName' in warehouse $warehouse")
    require(!i.ifPartitionNotExists,
      "INSERT: IF NOT EXISTS partitions are not supported")
    val path = manifested(targetName)
    registerAll()
    val src = org.apache.spark.sql.graft.SqlInternals.ofRows(spark, i.query)
    val schema = rowSchema(targetName)
    def canon(c: String): String =
      schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT: column '$c' not in '$targetName' " +
            s"(${schema.fieldNames.mkString(", ")})"))
    val static: Map[String, String] = i.partitionSpec.collect {
      case (k, Some(v)) => canon(k) -> v
    }
    val out: DataFrame =
      if (i.userSpecifiedCols.nonEmpty) {
        val listed = i.userSpecifiedCols.map(canon)
        require(listed.size == src.columns.length,
          s"INSERT: ${listed.size} columns listed, query produces " +
            s"${src.columns.length}")
        val byName = listed.zip(src.columns).toMap
        src.select(schema.fields.toIndexedSeq.map { f =>
          byName.get(f.name).map(c => col(c).cast(f.dataType).as(f.name))
            .orElse(static.get(f.name).map(v =>
              lit(v).cast(f.dataType).as(f.name)))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        }: _*)
      } else {
        val positional = schema.fields.toIndexedSeq
          .filterNot(f => static.contains(f.name))
        require(src.columns.length == positional.size,
          s"INSERT: query produces ${src.columns.length} columns, " +
            s"'$targetName' expects ${positional.size}" +
            (if (static.nonEmpty) s" (+${static.size} static partition)"
             else ""))
        val byPos = positional.map(_.name).zip(src.columns).toMap
        src.select(schema.fields.toIndexedSeq.map { f =>
          byPos.get(f.name).map(c => col(c).cast(f.dataType).as(f.name))
            .getOrElse(lit(static(f.name)).cast(f.dataType).as(f.name))
        }: _*)
      }
    if (i.overwrite) PartitionSnapshots.overwritePartitions(spark, path, out)
    else graft.operators.Upsert.append(spark, path, out,
      PartitionSnapshots.partitionCols(spark, path))
    read(targetName)
  }

  /** Route parsed `ALTER TABLE … RENAME/DROP/ADD/ALTER COLUMN` to the
    * schema-evolution ops — each ONE metadata-only root commit
    * ([[PartitionSnapshots.renameColumn]]/[[PartitionSnapshots
    * .dropColumn]]/[[PartitionSnapshots.addColumn]]/[[PartitionSnapshots
    * .widenColumn]]). Nested fields and non-type ALTERs refuse loudly.
    * Returns the post-DDL table. */
  private def runAlterSql(
      a: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumns, DropColumns, RenameColumn}
    def one(n: Seq[String], what: String): String = {
      require(n.size == 1,
        s"$what: nested fields are not supported (${n.mkString(".")})")
      n.head
    }
    val (targetName, run) = a match {
      case r: RenameColumn =>
        (nameOfPlan(r.table, "ALTER RENAME"), (p: String) =>
          PartitionSnapshots.renameColumn(spark, p,
            one(r.column.name, "RENAME COLUMN"), r.newName))
      case d: DropColumns =>
        (nameOfPlan(d.table, "ALTER DROP"), (p: String) =>
          d.columnsToDrop.foreach(c => PartitionSnapshots.dropColumn(spark,
            p, one(c.name, "DROP COLUMN"))))
      case ad: AddColumns =>
        (nameOfPlan(ad.table, "ALTER ADD"), (p: String) =>
          ad.columnsToAdd.foreach { qc =>
            require(qc.path.isEmpty,
              "ADD COLUMN: nested fields are not supported")
            PartitionSnapshots.addColumn(spark, p, qc.colName, qc.dataType)
          })
      case al: AlterColumns =>
        (nameOfPlan(al.table, "ALTER COLUMN"), (p: String) =>
          al.specs.foreach { sp =>
            val dt = sp.newDataType.getOrElse(
              throw new IllegalArgumentException(
                "ALTER COLUMN: only TYPE changes are supported"))
            PartitionSnapshots.widenColumn(spark, p,
              one(sp.column.name, "ALTER COLUMN"), dt)
          })
      case other => throw new IllegalArgumentException(
        s"ALTER TABLE: unsupported statement ${other.nodeName}")
    }
    require(tableExists(targetName),
      s"ALTER TABLE: no table '$targetName' in warehouse $warehouse")
    run(tablePath(targetName))
    read(targetName)
  }

  /** `CREATE TABLE t (cols…) [PARTITIONED BY (…)]` → a manifested table
    * born with a schema-pinning root commit (readable as schema-typed
    * empty before first data). Identity partitioning only; IF NOT
    * EXISTS honored; an existing table without it refuses. */
  private def runCreateTable(
      c: org.apache.spark.sql.catalyst.plans.logical.CreateTable)
      : DataFrame = {
    val name = nameOfPlan(c.name, "CREATE TABLE")
    require(c.ignoreIfExists || !tableExists(name),
      s"CREATE TABLE: '$name' already exists (add IF NOT EXISTS)")
    val pcols = c.partitioning.map {
      case t if t.name == "identity" =>
        t.references()(0).fieldNames.mkString(".")
      case other => throw new IllegalArgumentException(
        s"CREATE TABLE: only identity PARTITIONED BY is supported, got $other")
    }
    val fields = c.columns.map(cd =>
      org.apache.spark.sql.types.StructField(cd.name, cd.dataType,
        cd.nullable))
    if (!tableExists(name)) create(name, StructType(fields.toArray), pcols)
    read(name)
  }

  /** `CREATE TABLE t [PARTITIONED BY (…)] AS <query>` → table from the
    * query's frame ([[createIfNotExists]]; identity partitioning only). */
  private def runCtas(
      c: org.apache.spark.sql.catalyst.plans.logical.CreateTableAsSelect)
      : DataFrame = {
    val name = nameOfPlan(c.name, "CREATE TABLE AS")
    require(c.ignoreIfExists || !tableExists(name),
      s"CREATE TABLE AS: '$name' already exists (add IF NOT EXISTS)")
    val pcols = c.partitioning.map {
      case t if t.name == "identity" =>
        t.references()(0).fieldNames.mkString(".")
      case other => throw new IllegalArgumentException(
        s"CREATE TABLE AS: only identity PARTITIONED BY is supported, " +
          s"got $other")
    }
    registerAll()
    createIfNotExists(name,
      org.apache.spark.sql.graft.SqlInternals.ofRows(spark, c.query), pcols)
    read(name)
  }

  private def runDropTable(
      d: org.apache.spark.sql.catalyst.plans.logical.DropTable): DataFrame = {
    val name = nameOfPlan(d.child, "DROP TABLE")
    require(d.ifExists || tableExists(name),
      s"DROP TABLE: no table '$name' in warehouse $warehouse")
    dropTable(name)
    // a prior registerAll left a temp view over the deleted files — a
    // later SELECT must resolve 'not found', not a stale plan
    spark.catalog.dropTempView(name)
    spark.emptyDataFrame
  }

  /** TRUNCATE is METADATA-ONLY: every partition's
    * state flips to EMPTY in one root commit (readers pinned to prior
    * roots keep their data; retention reaps later) — never a file
    * deletion a time traveler would trip over. */
  private def runTruncate(
      t: org.apache.spark.sql.catalyst.plans.logical.TruncateTable)
      : DataFrame = {
    val name = nameOfPlan(t.table, "TRUNCATE")
    require(tableExists(name),
      s"TRUNCATE: no table '$name' in warehouse $warehouse")
    val path = manifested(name)
    val schema = rowSchema(name)
    PartitionSnapshots.dropPartitions(spark, path, _ => true)
    // every partition is now EMPTY: the honest read is a schema-typed
    // zero-row frame (readOption answers None for no-rows by design)
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** SQL MAINTENANCE PROCEDURES (Iceberg's `CALL catalog.system.<proc>`
    * surface) routed onto the existing ops APIs — the one surface an
    * ops user could not previously reach as text. Procedures accept
    * positional or `name => value` named arguments (any literal):
    *
    *   rewrite_data_files(table, [target_file_size_bytes], [min_files],
    *     [sort], [small_file_bytes])      → [[PartitionSnapshots.compact]]
    *   expire_snapshots(table, [older_than_ms])
    *                                      → [[PartitionSnapshots.expireRoots]]
    *   remove_orphan_files(table, [older_than_ms], [dry_run])
    *                                      → [[PartitionSnapshots.removeOrphans]]
    *   rollback_to_snapshot(table, version)
    *                                      → [[PartitionSnapshots.rollbackRoot]]
    *   create_branch(table, branch, [version]) / drop_branch /
    *   fast_forward(table, branch, [rebase]) / create_tag / drop_tag
    *
    * The namespace accepts `system.<proc>` or `graft.system.<proc>`;
    * unknown procedures and malformed arguments refuse loudly. Each
    * returns a small summary frame (Iceberg's procedure-output shape),
    * never a table scan. */
  private def runCall(
      c: org.apache.spark.sql.catalyst.plans.logical.Call): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure
    import org.apache.spark.sql.catalyst.expressions.{Expression, NamedArgumentExpression}
    import spark.implicits._
    val nameParts = c.procedure match {
      case p: UnresolvedProcedure => p.nameParts
      case other => throw new IllegalArgumentException(
        s"CALL: unsupported procedure reference ${other.nodeName}")
    }
    require(nameParts.size >= 2 && nameParts.size <= 3 &&
      nameParts(nameParts.size - 2) == "system" &&
      (nameParts.size == 2 || nameParts.head == "graft"),
      s"CALL: unknown namespace ${nameParts.mkString(".")} — use " +
        "[graft.]system.<procedure>")
    val proc = nameParts.last
    def litVal(e: Expression): Any = {
      require(e.foldable, s"CALL: argument must be a literal, got ${e.sql}")
      e.eval(null) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case v => v
      }
    }
    // binding below fills the LEADING parameters from the positional
    // args by index — sound only while every positional arg actually
    // leads: a positional written after a named one would silently
    // bind to the wrong parameter, so refuse that order outright
    val firstNamed = c.args.indexWhere(_.isInstanceOf[NamedArgumentExpression])
    require(firstNamed < 0 ||
      c.args.drop(firstNamed).forall(_.isInstanceOf[NamedArgumentExpression]),
      s"CALL $proc: positional arguments must precede named arguments")
    val (named, positional) = c.args.partition(
      _.isInstanceOf[NamedArgumentExpression])
    val byName: Map[String, Any] = named.map {
      case NamedArgumentExpression(k, v) =>
        k.toLowerCase(java.util.Locale.ROOT) -> litVal(v)
    }.toMap
    val byPos: Seq[Any] = positional.map(litVal)
    // resolve against the procedure's declared parameter order:
    // positional args fill the leading parameters (SQL requires them
    // before any named arg), named args fill by name
    def arg(params: Seq[String], name: String): Option[Any] = {
      val i = params.indexOf(name)
      require(i < 0 || !byName.contains(name) || i >= byPos.size,
        s"CALL $proc: argument '$name' given both positionally and by name")
      byName.get(name).orElse(
        if (i >= 0 && i < byPos.size) Some(byPos(i)) else None)
    }
    def need(params: Seq[String], name: String): Any =
      arg(params, name).getOrElse(throw new IllegalArgumentException(
        s"CALL $proc: required argument '$name' missing " +
          s"(parameters: ${params.mkString(", ")})"))
    def str(v: Any): String = v.toString
    def lng(v: Any): Long = v match {
      case n: java.lang.Number => n.longValue()
      case s => s.toString.toLong
    }
    def bool(v: Any): Boolean = v match {
      case b: java.lang.Boolean => b.booleanValue()
      case s => s.toString.toBoolean
    }
    def manifestedPath(tname: String): String = {
      require(tableExists(tname),
        s"CALL $proc: no table '$tname' in warehouse $warehouse")
      val p = tablePath(tname)
      require(PartitionSnapshots.isManifested(spark, p),
        s"CALL $proc: '$tname' is not a manifested table")
      p
    }
    proc match {
      case "rewrite_data_files" =>
        val ps = Seq("table", "target_file_size_bytes", "min_files",
          "sort", "small_file_bytes")
        val path = manifestedPath(str(need(ps, "table")))
        val out = PartitionSnapshots.compact(spark, path,
          targetFileBytes = arg(ps, "target_file_size_bytes").map(lng)
            .getOrElse(128L * 1024 * 1024),
          minFiles = arg(ps, "min_files").map(lng(_).toInt).getOrElse(4),
          sortWithin = arg(ps, "sort").map(str(_).split(",").toSeq
            .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
          smallFileBytes = arg(ps, "small_file_bytes").map(lng)
            .getOrElse(Long.MaxValue))
        out.toSeq.sortBy(_._1).map { case (rel, (b, a)) => (rel, b, a) }
          .toDF("partition", "files_before", "files_after")
      case "expire_snapshots" =>
        val ps = Seq("table", "older_than_ms")
        val path = manifestedPath(str(need(ps, "table")))
        PartitionSnapshots.expireRoots(spark, path,
          olderThanMs = arg(ps, "older_than_ms").map(lng)
            .getOrElse(7L * 24 * 3600 * 1000))
          .toDF("expired_version")
      case "remove_orphan_files" =>
        val ps = Seq("table", "older_than_ms", "dry_run")
        val path = manifestedPath(str(need(ps, "table")))
        PartitionSnapshots.removeOrphans(spark, path,
          olderThanMs = arg(ps, "older_than_ms").map(lng)
            .getOrElse(24L * 3600 * 1000),
          dryRun = arg(ps, "dry_run").exists(bool))
          .toDF("orphan_path")
      case "rollback_to_snapshot" =>
        val ps = Seq("table", "version")
        val path = manifestedPath(str(need(ps, "table")))
        PartitionSnapshots.rollbackRoot(spark, path, lng(need(ps, "version")))
        Seq(PartitionSnapshots.currentRootVersion(spark, path).get)
          .toDF("current_version")
      case "create_branch" | "create_tag" =>
        val what = if (proc == "create_branch") "branch" else "tag"
        val ps = Seq("table", what, "version")
        val path = manifestedPath(str(need(ps, "table")))
        val ref = str(need(ps, what))
        val v = arg(ps, "version").map(lng).getOrElse(-1L)
        if (proc == "create_branch")
          PartitionSnapshots.createBranch(spark, path, ref, v)
        else PartitionSnapshots.tagRoot(spark, path, ref, v)
        val pinned =
          if (proc == "create_branch")
            PartitionSnapshots.rootBranches(spark, path)(ref)
          else PartitionSnapshots.rootTags(spark, path)(ref)
        Seq((ref, pinned)).toDF(what, "version")
      case "drop_branch" | "drop_tag" =>
        val what = if (proc == "drop_branch") "branch" else "tag"
        val ps = Seq("table", what)
        val path = manifestedPath(str(need(ps, "table")))
        val ref = str(need(ps, what))
        if (proc == "drop_branch")
          PartitionSnapshots.dropBranch(spark, path, ref)
        else PartitionSnapshots.dropRootTag(spark, path, ref)
        Seq(ref).toDF(what)
      case "fast_forward" =>
        val ps = Seq("table", "branch", "rebase")
        val path = manifestedPath(str(need(ps, "table")))
        val branch = str(need(ps, "branch"))
        val v = PartitionSnapshots.fastForwardRoot(spark, path, branch,
          rebase = arg(ps, "rebase").exists(bool))
        Seq((branch, v)).toDF("branch", "current_version")
      case other => throw new IllegalArgumentException(
        s"CALL: unknown procedure 'system.$other' — supported: " +
          "rewrite_data_files, expire_snapshots, remove_orphan_files, " +
          "rollback_to_snapshot, create_branch, drop_branch, create_tag, " +
          "drop_tag, fast_forward")
    }
  }

  /** `SHOW TABLES` over the warehouse listing — METADATA-ONLY (one
    * directory listing of the warehouse root; no table is constructed
    * or scanned). The reference's probe idiom
    * (gold_to_bigquery.py:100-115), shaped like Spark's own output. */
  private def runShowTables(): DataFrame = {
    import spark.implicits._
    listTables().map(n => ("", n, false))
      .toDF("namespace", "tableName", "isTemporary")
  }

  /** `SHOW CREATE TABLE t` reconstructed from pinned metadata — the
    * statement that would recreate the table's shape through
    * [[runCreateTable]] (columns + PARTITIONED BY). Metadata-only like
    * DESCRIBE. */
  private def runShowCreate(
      s: org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable)
      : DataFrame = {
    import spark.implicits._
    val name = nameOfPlan(s.child, "SHOW CREATE TABLE")
    require(tableExists(name),
      s"SHOW CREATE TABLE: no table '$name' in warehouse $warehouse")
    val schema = rowSchema(name)
    val pcols = PartitionSnapshots.partitionCols(spark, tablePath(name))
    val cols = schema.fields.filterNot(f => pcols.contains(f.name))
      .map(f => s"  ${f.name} ${f.dataType.sql}").mkString(",\n")
    val partClause =
      if (pcols.isEmpty) ""
      else pcols.flatMap(c => schema.fields.find(_.name == c))
        .map(f => s"${f.name} ${f.dataType.sql}")
        .mkString("\nPARTITIONED BY (", ", ", ")")
    Seq(s"CREATE TABLE $name (\n$cols)$partClause")
      .toDF("createtab_stmt")
  }

  /** `DESCRIBE [TABLE] t` from pinned metadata — ZERO file listings for
    * manifested tables ([[rowSchema]] answers from the pinned union
    * schema + manifest rel paths). Shaped like Spark's DESCRIBE: one
    * row per column plus a partition-information section for
    * partitioned tables. */
  private def runDescribe(
      d: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation)
      : DataFrame = {
    import spark.implicits._
    val name = nameOfPlan(d.relation, "DESCRIBE")
    require(tableExists(name),
      s"DESCRIBE: no table '$name' in warehouse $warehouse")
    val schema = rowSchema(name)
    val pcols = PartitionSnapshots.partitionCols(spark, tablePath(name))
    val colRows = schema.fields.toSeq.map(f =>
      (f.name, f.dataType.simpleString,
        if (f.getComment().isDefined) f.getComment().get else null))
    val partRows =
      if (pcols.isEmpty) Nil
      else ("# Partition Information", "", null) +:
        pcols.flatMap(c => schema.fields.find(_.name == c))
          .map(f => (f.name, f.dataType.simpleString, null))
    (colRows ++ partRows).toDF("col_name", "data_type", "comment")
  }

  /** Resolve one `RelationTimeTravel` node to the pinned snapshot read
    * the engine already serves through its API surface:
    *
    *   VERSION AS OF <n>      → root version n ([[PartitionSnapshots
    *                            .read]] asOf)
    *   VERSION AS OF <tag>    → the tagged root ([[PartitionSnapshots
    *                            .rootTags]])
    *   TIMESTAMP AS OF <expr> → newest retained version committed at or
    *                            before the timestamp
    *
    * Expired/unknown versions, tags, and pre-history timestamps fail
    * LOUDLY (the pinned read's own retention contract) — never a silent
    * fallback to current. Returns the ANALYZED subplan, spliced in
    * place of the node; the surrounding statement (joins, aggregates,
    * CTEs) runs unchanged. */
  private def resolveTimeTravel(
      tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val name = tt.relation match {
      case u: UnresolvedRelation => u.multipartIdentifier.last
      case other => throw new IllegalArgumentException(
        s"time travel: target must be a table name, got ${other.nodeName}")
    }
    require(tableExists(name),
      s"time travel: no table '$name' in warehouse $warehouse")
    val path = tablePath(name)
    require(PartitionSnapshots.isManifested(spark, path),
      s"time travel: '$name' is plain parquet with no version history")
    val v: Long = (tt.version, tt.timestamp) match {
      case (Some(s), _) if s.nonEmpty && s.forall(_.isDigit) => s.toLong
      case (Some(tag), _) =>
        PartitionSnapshots.rootTags(spark, path).getOrElse(tag,
          throw new IllegalArgumentException(
            s"time travel: no tag '$tag' at '$name' (have: " +
              s"${PartitionSnapshots.rootTags(spark, path).keys.toSeq.sorted
                .mkString(", ")})"))
      case (None, Some(tsE)) =>
        val ts = spark.range(1).select(org.apache.spark.sql.functions
          .expr(tsE.sql).cast("timestamp")).head().getTimestamp(0)
        require(ts != null,
          s"time travel: TIMESTAMP AS OF ${tsE.sql} evaluated to NULL")
        PartitionSnapshots.rootVersionAt(spark, path, ts.getTime)
      case _ => throw new IllegalArgumentException(
        "time travel: statement carries neither VERSION nor TIMESTAMP")
    }
    PartitionSnapshots.read(spark, path, asOf = v).queryExecution.analyzed
  }

  /** First SQL keyword of `q`, skipping whitespace and line/block
    * comments — the pre-filter that decides whether a statement can be
    * a routed MERGE/DELETE before paying a parsePlan for it. */
  private def leadingKeyword(q: String): String = {
    var i = 0
    // Spark's lexer accepts the typographic/non-breaking spaces Java's
    // isWhitespace rejects — the sniff must skip at least everything
    // the parser would, or a statement led by one would silently fall
    // to the plain path (over-accepting is safe: the reparse surfaces
    // the parser's own loud error either way)
    def isWs(c: Char): Boolean = Character.isWhitespace(c) ||
      c == '\u00a0' || c == '\u1680' ||
      (c >= '\u2000' && c <= '\u200a') ||
      c == '\u202f' || c == '\u205f' || c == '\u3000'
    while (i < q.length) {
      if (isWs(q.charAt(i))) i += 1
      else if (q.startsWith("--", i)) {
        while (i < q.length && q.charAt(i) != '\n') i += 1
      } else if (q.startsWith("/*", i)) {
        // bracketed comments NEST in Spark's grammar (SPARK-28880): a
        // non-nesting skip would "end" inside `/* a /* b */ c */` and
        // read `c` as the keyword — mis-routing the real statement
        var depth = 1
        i += 2
        while (i < q.length && depth > 0) {
          if (q.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (q.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
      } else {
        var k = i
        while (k < q.length && q.charAt(k).isLetter) k += 1
        return q.substring(i, k).toUpperCase(java.util.Locale.ROOT)
      }
    }
    ""
  }

  /** Route a parsed `MERGE INTO t USING s ON … WHEN …` to the engine's
    * commit machinery. The reference's two shapes take the FAST paths:
    *
    *   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
    *     → keyed upsert (document-replace; file-scoped rewrite when the
    *       touched key set allows it)
    *   WHEN NOT MATCHED THEN INSERT *
    *     → insert-only merge, which on manifested tables routes through
    *       the fast-append commit (no existing file rewritten)
    *
    * Every other shape — conditional clauses, multiple matched clauses,
    * `WHEN MATCHED THEN DELETE`, column-level `UPDATE SET col = expr` /
    * `INSERT (cols) VALUES (exprs)` assignment lists, and `WHEN NOT
    * MATCHED BY SOURCE [AND <cond>] THEN UPDATE/DELETE` (the sync-job
    * idiom) — routes through [[runGeneralMerge]], which classifies each
    * row by the FIRST clause whose condition holds (standard MERGE
    * clause-order semantics) and commits the whole statement as ONE
    * atomic snapshot.
    *
    * The ON clause must be a conjunction of `t.<col> = s.<col>`
    * equi-predicates over SAME-NAMED columns (all the reference uses);
    * anything richer fails loudly rather than silently degrading.
    * `WITH SCHEMA EVOLUTION` maps to the upsert's additive evolution.
    * Returns the post-merge table (MERGE in Spark returns no rows; a
    * readable result is strictly more useful and costs nothing). */
  private def runMergeSql(
      m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable)
      : DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertStarAction, MergeAction, UpdateStarAction}
    // multi-part names (the reference's `bronze.bronze_db.articles`)
    // resolve by their final segment against THIS warehouse
    val targetName = nameOfPlan(m.targetTable, "MERGE INTO")
    require(tableExists(targetName),
      s"MERGE INTO: no table '$targetName' in warehouse $warehouse")
    val rawKeys = conjuncts(m.mergeCondition).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute)
          if l.nameParts.last.equalsIgnoreCase(r.nameParts.last) =>
        l.nameParts.last
      case other => throw new IllegalArgumentException(
        "MERGE INTO: ON must be a conjunction of t.<col> = s.<col> " +
          s"equi-predicates on same-named columns; got: ${other.sql}")
    }
    // supported clause algebra: star actions, assignment lists, deletes;
    // matched/not-matched/not-matched-by-source all accepted — anything
    // the parser produces beyond these refuses loudly
    import org.apache.spark.sql.catalyst.plans.logical.{InsertAction, UpdateAction}
    (m.matchedActions ++ m.notMatchedActions).foreach {
      case UpdateStarAction(_) | InsertStarAction(_) | DeleteAction(_) |
           UpdateAction(_, _, _) | InsertAction(_, _) => ()
      case other: MergeAction => throw new IllegalArgumentException(
        s"MERGE INTO: unsupported action $other")
    }
    m.notMatchedBySourceActions.foreach {
      case UpdateAction(_, _, _) | DeleteAction(_) => ()
      case other: MergeAction => throw new IllegalArgumentException(
        "MERGE INTO: WHEN NOT MATCHED BY SOURCE supports UPDATE SET " +
          s"col = expr and DELETE; got: $other")
    }
    val path = manifested(targetName)
    // canonicalize key case against the target's actual schema — Spark
    // resolution is case-insensitive, the upsert's key columns are not
    val targetCols = rowSchema(targetName).fieldNames
    val keys = rawKeys.map(k => targetCols.find(_.equalsIgnoreCase(k))
      .getOrElse(throw new IllegalArgumentException(
        s"MERGE INTO: ON column '$k' not in target '$targetName' " +
          s"(${targetCols.mkString(", ")})")))
    // the USING side resolves like any SELECT: warehouse tables by name,
    // plus whatever temp/global-temp views the caller registered
    registerAll()
    val pcols = PartitionSnapshots.partitionCols(spark, path)
    (m.matchedActions, m.notMatchedActions) match {
      // the reference's two shapes: one straight-line upsert commit
      case (Seq(), Seq(InsertStarAction(None))) |
           (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)))
          if m.notMatchedBySourceActions.isEmpty =>
        val source = org.apache.spark.sql.graft.SqlInternals
          .ofRows(spark, m.sourceTable)
        // evolution's NULL-fill waiver never extends to partition
        // columns: document-replacing rows with a NULL pcol would
        // silently migrate them into the null partition
        val missingPcols = pcols.filterNot(c =>
          source.columns.exists(_.equalsIgnoreCase(c)))
        require(missingPcols.isEmpty,
          s"MERGE INTO: UPDATE SET * / INSERT * needs source partition " +
            s"columns ${missingPcols.sorted.mkString(", ")} — WITH SCHEMA " +
            "EVOLUTION never NULL-fills a partition column")
        graft.operators.Upsert.upsert(spark, path, source, keys,
          insertOnly = m.matchedActions.isEmpty, partitionCols = pcols,
          evolveSchema = m.withSchemaEvolution)
      case _ => runGeneralMerge(m, targetName, keys, pcols)
    }
    read(targetName)
  }

  /** The general MERGE leg — conditional clauses, assignment lists,
    * DELETE, and NOT MATCHED BY SOURCE — committed as ONE atomic
    * snapshot (Iceberg's single-commit MERGE contract: a crash can
    * only leave the pre-merge table, and a re-run then re-applies the
    * whole statement; the earlier decomposition into three commits
    * could strand a half-applied MERGE a re-run would NOT repair,
    * because rows its DELETE clause removed stop matching).
    *
    * Classification is first-match-wins per row (standard MERGE clause
    * order), evaluated ONCE against the pre-merge snapshot:
    *
    *   matched pair     → first true matched clause (update / delete)
    *   unmatched source → first true NOT MATCHED clause (insert)
    *   unmatched target → first true BY SOURCE clause (update / delete)
    *
    * and the outcome lands merge-on-read: every updated or deleted row
    * becomes a POSITIONAL delete of its current file slot, every
    * updated or inserted row an appended part, and
    * [[PartitionSnapshots.replaceRows]] publishes both in one root
    * swap — O(affected rows), no data file rewritten, whatever mix of
    * clauses fired. A MERGE whose matched/BY SOURCE clauses fire on no
    * rows degrades to one fast-append (still a single commit).
    *
    * Column semantics: `UPDATE SET *` / `INSERT *` are document-replace
    * from the source row; assignment lists replace ONLY the assigned
    * columns (unassigned keep the target value; insert-list omissions
    * are NULL), values may reference both sides through the statement's
    * aliases and are cast to the target column's type. `WITH SCHEMA
    * EVOLUTION` admits new source columns; the union schema rides the
    * same commit. */
  private def runGeneralMerge(
      m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable,
      targetName: String, keys: Seq[String], pcols: Seq[String]): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertAction, InsertStarAction, LogicalPlan, SubqueryAlias, UpdateAction, UpdateStarAction}
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    import org.apache.spark.sql.types.{StructField, StructType}
    val path = tablePath(targetName)
    def stripAlias(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => stripAlias(child)
      case other => other
    }
    val tAlias = aliasOf(m.targetTable, targetName)
    val sAlias = aliasOf(m.sourceTable, "__graft_merge_src")
    require(tAlias != sAlias,
      s"MERGE INTO: target and source resolve to the same alias " +
        s"'$tAlias' — alias one side (conditions must be attributable)")
    // dedup BEFORE classification, with the upsert's own deterministic
    // winner rule, so clause conditions see the same source row the
    // commit will apply
    val src = graft.operators.Upsert.dedupSource(
      org.apache.spark.sql.graft.SqlInternals
        .ofRows(spark, stripAlias(m.sourceTable)), keys).alias(sAlias)
    val tSchema = rowSchema(targetName)
    val srcFieldOf: Map[String, StructField] =
      src.schema.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT)
        -> f).toMap
    def srcField(c: String): Option[StructField] =
      srcFieldOf.get(c.toLowerCase(java.util.Locale.ROOT))
    val extras = src.schema.fields.filterNot(f =>
      tSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))).toIndexedSeq
    val outFields: IndexedSeq[StructField] =
      tSchema.fields.toIndexedSeq ++ (if (m.withSchemaEvolution) extras else Nil)
    val evolve = m.withSchemaEvolution && extras.nonEmpty
    // clause model: (tag, condition, kind, assignments); assignments are
    // canonical-target-column → value SQL, None = star (document-replace)
    type Assigns = Option[Map[String, String]]
    def canon(c: String): String =
      outFields.map(_.name).find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"MERGE INTO: assigned column '$c' not in '$targetName' " +
            s"(${outFields.map(_.name).mkString(", ")})"))
    def assignMap(as: Seq[org.apache.spark.sql.catalyst.plans.logical.Assignment])
        : Map[String, String] =
      as.map { a =>
        val name = a.key match {
          case k: UnresolvedAttribute => canon(k.nameParts.last)
          case other => throw new IllegalArgumentException(
            s"MERGE INTO: SET target must be a column, got ${other.sql}")
        }
        name -> a.value.sql
      }.toMap
    val matchedActs: Seq[(String, Option[org.apache.spark.sql.catalyst.expressions.Expression], Char, Assigns)] =
      m.matchedActions.zipWithIndex.map {
        case (UpdateStarAction(c), i) => (s"u$i", c, 'u', None)
        case (UpdateAction(c, as, _), i) => (s"u$i", c, 'u', Some(assignMap(as)))
        case (DeleteAction(c), i) => (s"d$i", c, 'd', None)
        case (other, _) => throw new IllegalArgumentException(
          s"MERGE INTO: unsupported matched action $other")
      }
    val insertActs: Seq[(String, Option[org.apache.spark.sql.catalyst.expressions.Expression], Char, Assigns)] =
      m.notMatchedActions.zipWithIndex.map {
        case (InsertStarAction(c), i) => (s"i$i", c, 'i', None)
        case (InsertAction(c, as), i) => (s"i$i", c, 'i', Some(assignMap(as)))
        case (other, _) => throw new IllegalArgumentException(
          s"MERGE INTO: unsupported not-matched action $other")
      }
    // NOT MATCHED clauses see the source row alone. The fused outer join
    // below would resolve a target reference there to the unmatched
    // row's NULL target columns — refuse it instead of inserting NULL.
    // A name that is neither (`current_date` parses as an attribute)
    // is left to Spark's own resolution.
    m.notMatchedActions.flatMap(a => a.condition.toSeq ++ (a match {
      case InsertAction(_, as) => as.map(_.value)
      case _ => Nil
    })).flatMap(_.collect { case u: UnresolvedAttribute => u }).foreach { u =>
      val parts = u.nameParts
      val c = if (parts.size > 1 && parts.head.equalsIgnoreCase(sAlias))
        parts(1) else parts.head
      require(!(parts.size > 1 && parts.head.equalsIgnoreCase(tAlias)) &&
        (srcField(c).isDefined || !tSchema.fieldNames.exists(_.equalsIgnoreCase(c))),
        s"MERGE INTO: WHEN NOT MATCHED may reference only source columns; " +
          s"'${u.sql}' is a column of target '$tAlias'")
    }
    val bySourceActs: Seq[(String, Option[org.apache.spark.sql.catalyst.expressions.Expression], Char, Assigns)] =
      m.notMatchedBySourceActions.zipWithIndex.map {
        case (UpdateAction(c, as, _), i) => (s"u$i", c, 'u', Some(assignMap(as)))
        case (DeleteAction(c), i) => (s"d$i", c, 'd', None)
        case (other, _) => throw new IllegalArgumentException(
          "MERGE INTO: WHEN NOT MATCHED BY SOURCE supports UPDATE SET " +
            s"col = expr and DELETE; got: $other")
      }
    // star actions are document-replace from the source row: they need
    // every target column in the source with its exact type (unless
    // evolution admits NULL fill) and refuse unassimilated extras — the
    // same loud-drift contract as [[graft.operators.Upsert.align]].
    // Assignment-list merges are exempt: their values name what they
    // read and cast explicitly, so extra source columns are just inputs.
    val starUsed = (matchedActs ++ insertActs)
      .exists(a => a._4.isEmpty && a._3 != 'd')
    if (starUsed) {
      val typeConflicts = tSchema.fields.toIndexedSeq.flatMap(tf =>
        srcField(tf.name).filter(_.dataType != tf.dataType).map(_ => tf.name))
      require(typeConflicts.isEmpty,
        s"MERGE INTO: type change not supported for ${typeConflicts.sorted}")
      require(extras.isEmpty || m.withSchemaEvolution,
        s"MERGE INTO: source columns ${extras.map(_.name).sorted} are not " +
          s"in '$targetName' — add WITH SCHEMA EVOLUTION to admit them")
      val missingInSrc = tSchema.fieldNames.filter(srcField(_).isEmpty)
      require(missingInSrc.isEmpty || m.withSchemaEvolution,
        s"MERGE INTO: UPDATE SET * / INSERT * needs source columns " +
          s"${missingInSrc.sorted.mkString(", ")} (or WITH SCHEMA EVOLUTION " +
          "for document-replace NULL fill)")
      // PARTITION columns are exempt from evolution's NULL-fill waiver:
      // an INSERT * whose source lacks a pcol would land every inserted
      // row in the null partition (__HIVE_DEFAULT_PARTITION__) — a
      // silent layout corruption, not schema evolution. (UPDATE * keeps
      // the target's pcol value instead — see starVal.)
      val missingPcols = pcols.filter(c => srcField(c).isEmpty)
      require(missingPcols.isEmpty ||
        !insertActs.exists(a => a._4.isEmpty),
        s"MERGE INTO: INSERT * needs source partition columns " +
          s"${missingPcols.sorted.mkString(", ")} — WITH SCHEMA EVOLUTION " +
          "never NULL-fills a partition column")
    }
    def condCol(c: Option[org.apache.spark.sql.catalyst.expressions.Expression])
        : org.apache.spark.sql.Column = c.map(e => expr(e.sql)).getOrElse(lit(true))
    // first-match-wins classification: one when-chain per row set
    def classify(df: DataFrame,
                 acts: Seq[(String, Option[org.apache.spark.sql.catalyst.expressions.Expression], Char, Assigns)])
        : DataFrame =
      if (acts.isEmpty) df.withColumn("__graft_act", lit("keep"))
      else df.withColumn("__graft_act",
        acts.tail.foldLeft(when(condCol(acts.head._2), lit(acts.head._1))) {
          case (acc, (tag, c, _, _)) => acc.when(condCol(c), lit(tag))
        }.otherwise(lit("keep")))
    // per-output-column replacement value: a CASE over the UPDATE/INSERT
    // clauses keyed on the winning tag — rows on DELETE tags carry
    // nulls (their __new_* values are never read)
    def starVal(f: StructField, kind: Char,
                haveTarget: Boolean): org.apache.spark.sql.Column =
      srcField(f.name).map(sf => col(s"$sAlias.${sf.name}").cast(f.dataType))
        .getOrElse(
          // a pcol absent from the source never NULL-fills (that would
          // migrate the row into the null partition): UPDATE * keeps
          // the target's value; INSERT * refused it above
          if (kind == 'u' && pcols.contains(f.name)) keptVal(f, haveTarget)
          else lit(null).cast(f.dataType))
    def keptVal(f: StructField, haveTarget: Boolean): org.apache.spark.sql.Column =
      (if (haveTarget && tSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
         col(s"$tAlias.${f.name}")
       else lit(null)).cast(f.dataType)
    def clauseVal(f: StructField, assigns: Assigns, kind: Char,
                  haveTarget: Boolean): org.apache.spark.sql.Column =
      assigns match {
        case None if kind == 'i' || kind == 'u' => starVal(f, kind, haveTarget)
        case Some(as) => as.get(f.name).map(sql => expr(sql).cast(f.dataType))
          .getOrElse(if (kind == 'i') lit(null).cast(f.dataType)
                     else keptVal(f, haveTarget))
        case None => lit(null).cast(f.dataType) // delete: value unused
      }
    def newVals(acts: Seq[(String, Option[org.apache.spark.sql.catalyst.expressions.Expression], Char, Assigns)],
                haveTarget: Boolean): Seq[org.apache.spark.sql.Column] =
      outFields.map { f =>
        val upds = acts.filter(a => a._3 == 'u' || a._3 == 'i')
        val v =
          if (upds.isEmpty) lit(null).cast(f.dataType)
          else upds.tail.foldLeft(when(col("__graft_act") === upds.head._1,
            clauseVal(f, upds.head._4, upds.head._3, haveTarget))) {
            case (acc, (tag, _, kind, as)) =>
              acc.when(col("__graft_act") === tag,
                clauseVal(f, as, kind, haveTarget))
          }
        v.as(s"__new_${f.name}")
      }
    // MATCHED/INSERT legs only ever join/anti-join the target on the ON
    // keys, so the row-pos scan stats-prunes by the source's key values
    // (the merge path's own lookup discipline: an excluded partition
    // provably holds no match, and the insert anti-join is unaffected —
    // key pruning keeps every possibly-matching row, so "no match in
    // the pruned frame" still means "no match anywhere").
    // both target legs read ONE root: the statement classifies against
    // a single snapshot
    val root = PartitionSnapshots.resolveRoot(spark, path)
    val tgt = PartitionSnapshots.rowPosScan(spark, root,
      PartitionSnapshots.keyPredicate(spark, root.schema, Seq(keys.head),
        src.select(col(keys.head)))).alias(tAlias)
    // The BY SOURCE leg is the one scan that needs rows BEYOND the
    // source keys — but only rows some clause condition could fire on.
    // When every clause carries a condition, compile their OR against
    // the manifest bounds ([[PartitionSnapshots.condPossible]]) and scan
    // only the admitting partitions and files: margin-safe, so rows in
    // an excluded file could neither fire a clause nor be harmed by not
    // being scanned. An unconditional clause classifies every unmatched
    // row, so only then is the full scan semantically required.
    lazy val tgtBySource = {
      val conds = bySourceActs.map(_._2)
      val possible =
        if (conds.isEmpty || conds.exists(_.isEmpty)) None
        else root.schema.flatMap(PartitionSnapshots.condPossible(_,
          conds.flatten.reduce(
            org.apache.spark.sql.catalyst.expressions.Or(_, _))))
      PartitionSnapshots.rowPosScan(spark, root,
        possible.map(p => (st: PartitionSnapshots.PartStats) => !p(st)))
        .alias(tAlias)
    }
    val joinCond = keys.map(k =>
      col(s"$sAlias.$k") === col(s"$tAlias.$k")).reduce(_ && _)
    val posCols = Seq(col(s"$tAlias._pos_path"), col(s"$tAlias._pos_ordinal"))
    // materialize each classified set ONCE, before the commit: the act
    // tag, the row's file position, and every replacement value resolve
    // against the PRE-merge snapshot (localCheckpoint strips the alias
    // scoping, so everything alias-qualified computes before it)
    def materialize(df: DataFrame,
                    acts: Seq[(String, Option[org.apache.spark.sql.catalyst.expressions.Expression], Char, Assigns)],
                    haveTarget: Boolean): DataFrame =
      classify(df, acts)
        .where(col("__graft_act") =!= "keep")
        .select(posCols ++ Seq(col("__graft_act")) ++
          newVals(acts, haveTarget): _*)
        .localCheckpoint()
    // MATCHED + NOT-MATCHED legs classify in ONE pass over a single
    // src ⟕ tgt outer join: the old inner + anti pair scanned the pruned
    // target twice and materialized two checkpoints per statement. A
    // target-side marker separates the groups — matched-act conditions
    // are guarded on its presence (a predicate like `t.x IS NULL` would
    // otherwise fire on an unmatched row's NULL target columns), insert
    // acts on its absence, so first-match-wins holds within each group
    // and the groups are disjoint. Insert-act values never read target
    // columns (clauseVal routes kind 'i' to source/NULL), so one
    // newVals chain over both groups is exact.
    val fused: Option[DataFrame] =
      if (matchedActs.isEmpty && insertActs.isEmpty) None
      else {
        val hit = col(s"$tAlias.${keys.head}") // null ⇔ no target match
        val guarded =
          matchedActs.map(a => (a, hit.isNotNull)) ++
            insertActs.map(a => (a, hit.isNull))
        val act = guarded.tail.foldLeft(
          when(guarded.head._2 && condCol(guarded.head._1._2),
            lit(guarded.head._1._1))) {
          case (acc, (a, g)) => acc.when(g && condCol(a._2), lit(a._1))
        }.otherwise(lit("keep"))
        val joined = src.join(tgt, joinCond, "left_outer")
        // `hit` reads a NULL target key as "no match": sound only while
        // the join is `===`, which never matches a NULL key (a null-safe
        // `<=>` would classify a NULL-keyed matched pair as an insert)
        assert(joined.queryExecution.analyzed.collectFirst {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
            j.condition
        }.flatten.forall(_.find(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.EqualNullSafe]).isEmpty),
          "MERGE INTO: the fused hit marker needs a non-null-safe ON join")
        Some(joined
          .withColumn("__graft_act", act)
          .where(col("__graft_act") =!= "keep")
          .select(posCols ++ Seq(col("__graft_act")) ++
            newVals(matchedActs ++ insertActs, haveTarget = true): _*)
          .localCheckpoint())
      }
    val bySource =
      if (bySourceActs.isEmpty) None
      else Some(materialize(tgtBySource.join(src, joinCond, "left_anti"),
        bySourceActs, haveTarget = true))
    // the non-delete classified rows ARE the replacement/new rows
    def rows(df: DataFrame): DataFrame =
      df.where(!col("__graft_act").startsWith("d"))
        .select(outFields.map(f => col(s"__new_${f.name}").as(f.name)): _*)
    val parts = fused.toSeq ++ bySource.toSeq
    val newRows = parts.map(rows).reduce(_ unionByName _)
    // routing flags from ONE unplanned pass over each checkpoint's
    // materialized blocks (any retired position? any replacement/new
    // row?) — the old `doomed.isEmpty` / `newRows.isEmpty` probes each
    // re-entered Catalyst + AQE for a planned query over the same rows
    def flags(df: DataFrame): (Boolean, Boolean) = {
      val actIdx = df.schema.fieldIndex("__graft_act")
      val posIdx = df.schema.fieldIndex("_pos_path")
      val rdd = df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        case _ => df.queryExecution.toRdd
      }
      rdd.mapPartitions { it =>
        var doomed = false; var news = false
        while (it.hasNext && !(doomed && news)) {
          val r = it.next()
          if (!r.isNullAt(posIdx)) doomed = true
          if (r.getUTF8String(actIdx).toString.charAt(0) != 'd') news = true
        }
        Iterator.single((doomed, news))
      }.fold((false, false))((a, b) => (a._1 || b._1, a._2 || b._2))
    }
    val (hasDoomed, hasNew) = parts.map(flags)
      .fold((false, false))((a, b) => (a._1 || b._1, a._2 || b._2))
    if (hasDoomed) {
      // insert-act rows carry NULL positions in the fused checkpoint —
      // only genuinely matched (update/delete) rows retire a position
      val doomed = parts
        .map(_.where(col("_pos_path").isNotNull)
          .select(col("_pos_path"), col("_pos_ordinal")))
        .reduce(_ union _)
      // ONE root swap retires every updated/deleted row's position and
      // publishes every replacement/inserted row — the atomic commit
      PartitionSnapshots.replaceRows(spark, path, doomed, newRows,
        evolvedSchema =
          if (evolve) Some(StructType(outFields.toArray)) else None)
    } else if (hasNew)
      // nothing matched: inserts alone, one fast-append commit
      graft.operators.Upsert.upsert(spark, path, newRows, keys,
        insertOnly = true, partitionCols = pcols,
        evolveSchema = m.withSchemaEvolution)
  }

  /** Route a parsed `DELETE FROM t [WHERE …]` to the metadata-cheapest
    * delete flavor the predicate allows — never a table rewrite:
    *
    *   - partition-column `= v` / `IN (…)`  → [[PartitionSnapshots
    *     .dropPartitions]]: metadata-only, zero rows scanned;
    *   - data-column `= v` / `IN (…)`       → [[PartitionSnapshots
    *     .deleteKeys]]: one equality-delete commit, stats-pruned
    *     touched-partition scan, no data file rewritten (the
    *     GDPR-erasure shape — `DELETE FROM t WHERE k IN (…)`);
    *   - anything else → one column-pruned scan locates the doomed rows
    *     ([[PartitionSnapshots.readWithRowPos]]) and the commit is a
    *     POSITIONAL delete — still no data file rewritten.
    *
    * Returns the post-delete table. */
  private def runDeleteSql(
      d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val targetName = nameOfPlan(d.table, "DELETE FROM")
    require(tableExists(targetName),
      s"DELETE FROM: no table '$targetName' in warehouse $warehouse")
    val path = manifested(targetName)
    val pcols = PartitionSnapshots.partitionCols(spark, path)
    keyedPredicate(d.condition, rowSchema(targetName)) match {
      case Some(kp) =>
        // a literal failing the round trip matches nothing: dropped
        val surviving = kp.surviving
        if (surviving.nonEmpty) {
          if (pcols.contains(kp.col)) {
            // whole partitions: metadata-only drop, zero rows scanned —
            // dir values render from the TYPED value, like the writer's
            val vals = surviving.map(_._2).toSet
            PartitionSnapshots.dropPartitions(spark, path,
              m => m.get(kp.col).exists(vals.contains))
          } else {
            // equality-delete commit: stats-pruned, no file rewritten.
            // The key frame is rebuilt from the survivors alone — leaving
            // the comparison cast in the frame's lineage would let
            // constraint inference copy it onto the TABLE side of the
            // delete's semi-join, where a narrow literal type (ANSI
            // Decimal(2,1)) overflows on real column values
            val arr = surviving.map(_._1).mkString(", ")
            PartitionSnapshots.deleteKeys(spark, path, spark.sql(
              s"SELECT try_cast(o AS ${kp.dt.sql}) AS `${kp.col}` " +
                s"FROM (SELECT explode(array($arr)) AS o)"))
          }
        }
      case None =>
        // arbitrary predicate: one column-pruned, MANIFEST-STATS-pruned
        // scan finds the doomed row positions; the commit is positional
        // — still no rewrite
        val doomed = prunedRowPosRead(targetName, Some(d.condition))
          .alias(aliasOf(d.table, targetName)).where(expr(d.condition.sql))
          .select(col("_pos_path"), col("_pos_ordinal"))
        PartitionSnapshots.deletePositions(spark, path, doomed)
    }
    read(targetName)
  }

  /** A `col = lit` / `col IN (lits)` predicate the keyed routes (partition
    * drop, equality delete, stats-pruned scan) can serve: the column's
    * canonical name and type in the target's row schema, and the
    * literals. */
  private final class KeyedPredicate(
      val col: String, val dt: DataType,
      lits: Seq[org.apache.spark.sql.catalyst.expressions.Literal]) {
    /** SQL's own round trip of each literal through the column's type,
      * one row per literal: (pos, typed value t, whether t = the literal
      * — SQL's up-coercion, so `int_col = 5.5` fails where a bare
      * down-cast 5.5 → 5 would silently hit the wrong rows). posexplode
      * pairs each row with its literal by EMITTED index. */
    def probe: DataFrame = spark.sql(
      s"""SELECT pos, try_cast(col AS ${dt.sql}) AS t,
         |       try_cast(col AS ${dt.sql}) = col AS ok
         |FROM (SELECT posexplode(array(${lits.map(_.sql).mkString(", ")})))"""
        .stripMargin)

    /** The literals that survive the round trip, as (SQL text, typed
      * value), probed driver-side. An INTEGRAL literal into an
      * equal-or-wider INTEGRAL column is lossless by construction, so the
      * common GDPR shape (`k IN (7, 11, 13)` against a BIGINT key) skips
      * the probe query. */
    def surviving: Seq[(String, String)] = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      def rank(d: DataType): Int = d match {
        case ByteType => 1; case ShortType => 2
        case IntegerType => 3; case LongType => 4; case _ => 99
      }
      if (rank(dt) < 99 && lits.forall(l => rank(l.dataType) <= rank(dt)))
        lits.map(l => (l.sql, String.valueOf(l.value)))
      else {
        val rows = probe.collect().map(r => r.getInt(0) -> r).toMap
        lits.zipWithIndex.collect {
          case (l, i) if rows.get(i).exists(r =>
              !r.isNullAt(1) && !r.isNullAt(2) && r.getBoolean(2)) =>
            (l.sql, String.valueOf(rows(i).get(1)))
        }
      }
    }

    /** The surviving values as a one-column frame named `col`; the probe
      * runs inside whatever job reads it. */
    def keys: DataFrame = probe.where("ok").selectExpr(s"t AS `$col`")
  }

  /** `e` as a [[KeyedPredicate]] over `tSchema`: None for other shapes,
    * NULL literals, unknown columns, and a STRING column compared to a
    * non-string literal — SQL coerces the COLUMN up there
    * (cast(k as double) = 5.0), so k='05' matches k = 5 and a keyed route
    * built from the round-tripped literal '5' would silently miss it. */
  private def keyedPredicate(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      tSchema: StructType): Option[KeyedPredicate] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, Literal}
    import org.apache.spark.sql.types.StringType
    val shape = e match {
      case EqualTo(a: UnresolvedAttribute, l: Literal) => Some((a, Seq(l)))
      case EqualTo(l: Literal, a: UnresolvedAttribute) => Some((a, Seq(l)))
      case In(a: UnresolvedAttribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        Some((a, vs.map(_.asInstanceOf[Literal])))
      case _ => None
    }
    for {
      (a, lits) <- shape
      c <- tSchema.fieldNames.find(_.equalsIgnoreCase(a.nameParts.last))
      dt = tSchema(c).dataType
      if lits.forall(_.value != null) &&
        (dt != StringType || lits.forall(_.dataType == StringType))
    } yield new KeyedPredicate(c, dt, lits)
  }

  /** Target ROW schema for the routed statements — metadata-only for
    * manifested tables ([[PartitionSnapshots.tableRowSchema]]: the
    * frame's mere construction lists every data file, ~10-15 s of pure
    * overhead per statement at the 65k-file decade); the real frame's
    * schema otherwise. */
  private def rowSchema(targetName: String): StructType = {
    val path = tablePath(targetName)
    PartitionSnapshots.tableRowSchema(spark, path)
      .getOrElse(read(targetName).schema)
  }

  /** The positional-statement scan, manifest-stats PRUNED when the
    * predicate allows: if some CONJUNCT of `cond` is a
    * [[KeyedPredicate]] over a data column, the row-pos read is
    * restricted to partitions and files whose recorded bounds can hold a
    * literal that SURVIVES the round trip through the column's type (a
    * non-surviving literal matches nothing, so pruning by survivors is
    * conservative). The caller still applies its FULL predicate;
    * pruning only restricts which partitions are constructed and listed
    * — the difference between a point UPDATE/DELETE costing O(all
    * files) and O(candidate partitions) on a 65k-file table. */
  private def prunedRowPosRead(targetName: String,
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : DataFrame = {
    val path = tablePath(targetName)
    val tSchema = rowSchema(targetName)
    cond.toSeq.flatMap(conjuncts).flatMap(keyedPredicate(_, tSchema))
      .headOption match {
      case Some(kp) =>
        PartitionSnapshots.readWithRowPosPruned(spark, path, kp.col, kp.keys)
      case None => PartitionSnapshots.readWithRowPos(spark, path)
    }
  }

  /** Route a parsed `UPDATE t SET c = e[, …] [WHERE …]` — the last
    * standalone row-level statement — through the merge-on-read
    * primitives, never a table rewrite: one column-pruned scan locates
    * the affected rows ([[PartitionSnapshots.readWithRowPos]]; Catalyst
    * pushes the WHERE into the parquet scan), the transformed
    * replacement rows are MATERIALIZED against the pre-update snapshot,
    * and [[PartitionSnapshots.replaceRows]] commits the positional
    * delete of the old rows AND the append of the new ones in ONE root
    * publish — O(affected) whatever the table holds, and ATOMIC: a
    * crash can only leave the pre-update snapshot (split delete+append
    * commits would durably lose the affected rows in between, with a
    * re-run's WHERE matching nothing). Assignments may reference other
    * columns (`SET v = v + 1`) and may move rows across partitions
    * (the appended rows land under their new dirs; hidden transforms
    * re-derive). Returns the post-update table. */
  private def runUpdateSql(
      u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable)
      : DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.functions.{col, expr, lit}
    val targetName = nameOfPlan(u.table, "UPDATE")
    require(tableExists(targetName),
      s"UPDATE: no table '$targetName' in warehouse $warehouse")
    val path = manifested(targetName)
    val pcols = PartitionSnapshots.partitionCols(spark, path)
    val tSchema = rowSchema(targetName)
    def canon(c: String): String =
      tSchema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE: assigned column '$c' not in '$targetName' " +
            s"(${tSchema.fieldNames.mkString(", ")})"))
    val assigns: Map[String, org.apache.spark.sql.Column] =
      u.assignments.map { a =>
        val name = a.key match {
          case k: UnresolvedAttribute => canon(k.nameParts.last)
          case other => throw new IllegalArgumentException(
            s"UPDATE: SET target must be a column, got ${other.sql}")
        }
        name -> expr(a.value.sql).cast(tSchema(name).dataType)
      }.toMap
    val pos = prunedRowPosRead(targetName, u.condition)
      .alias(aliasOf(u.table, targetName))
    // ONE materialized scan of the affected rows (row identity + data
    // columns together) — the doomed-position and replacement legs both
    // derive from it; its plan reads files the commit will suppress
    val affected = u.condition.map(c => pos.where(expr(c.sql)))
      .getOrElse(pos.where(lit(true))).localCheckpoint()
    val doomed = affected.select(col("_pos_path"), col("_pos_ordinal"))
    val newRows = affected.select(tSchema.fieldNames.toIndexedSeq.map(c =>
      assigns.getOrElse(c, col(c)).as(c)): _*)
    PartitionSnapshots.replaceRows(spark, path, doomed, newRows)
    read(targetName)
  }

  /** S4 as SQL text: CREATE TABLE IF NOT EXISTS from a DDL column list
    * (mirrors the reference's Iceberg DDL, gcs_bronze_to_silver.py:73-158;
    * `schemaDdl` is the same "col TYPE, ..." body). The root commit pins
    * the schema, so the table reads as schema-typed empty before first
    * data. */
  def createTableDdl(name: String, schemaDdl: String,
                     partitionCols: Seq[String] = Nil): Unit =
    if (!tableExists(name))
      create(name, StructType.fromDDL(schemaDdl), partitionCols)

  /** CREATE OR REPLACE VIEW `name` AS `selectSql` over warehouse tables
    * (reference: gold_to_bigquery.py:185-209 FLAT_VIEW_SQL). */
  def createView(name: String, selectSql: String): DataFrame = {
    registerAll()
    spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $selectSql")
    spark.table(name)
  }

  /** SHOW TABLES (reference: gold_to_bigquery.py:100-115). Hidden
    * entries (`.staging-…` debris from atomic writes, `_`-prefixed
    * metadata) are never tables. */
  def listTables(): Seq[String] =
    if (!fs.exists(new Path(warehouse))) Nil
    else fs.listStatus(new Path(warehouse))
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toSeq.sorted

  // ---- External catalog manifest -------------------------------------
  // The engine-external enumeration point (Iceberg's catalog file / Hive
  // metastore, reduced to one manifest): `<warehouse>/_catalog` lists
  // every table with its layout kind and schema, so a FRESH session — or
  // a foreign engine like the DuckDB oracle — enumerates and resolves
  // the warehouse from that one file, no directory walking. Kinds:
  //   flat       plain parquet dir (read the files)
  //   manifested per-partition manifests (root pointer → manifest chain),
  //              partitioned or not

  private def catalogPath = new Path(warehouse, "_catalog")

  /** Write/refresh the catalog manifest from the live warehouse: one
    * line per table, `name\tkind\tschema-json`. Build may walk the
    * warehouse; READS never do — [[tablesFromManifest]] /
    * [[readFromManifest]] resolve from the file alone. Atomic replace
    * (temp + rename), so a concurrent reader sees old or new, never a
    * torn file. Returns the recorded names. */
  def writeCatalogManifest(): Seq[String] = {
    val names = listTables()
    val lines = names.map { n =>
      val p = tablePath(n)
      val kind =
        if (PartitionSnapshots.isManifested(spark, p)) "manifested"
        else "flat"
      val schema = (try Some(read(n).schema) catch {
        case _: Exception => None
      }).map(_.json).getOrElse("")
      require(!n.contains("\t") && !n.contains("\n"),
        s"catalog: table name '$n' must be tab/newline-free")
      s"$n\t$kind\t$schema"
    }
    val tmp = new Path(warehouse, s"._catalog-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // overwrite-rename: a delete-then-rename pair would leave a window
    // where a concurrent tablesFromManifest sees NO catalog file —
    // contradicting the atomic-replace contract above. FileContext's
    // OVERWRITE rename swaps in place; readers see old or new, never
    // neither.
    org.apache.hadoop.fs.FileContext
      .getFileContext(catalogPath.toUri,
        spark.sparkContext.hadoopConfiguration)
      .rename(tmp, catalogPath,
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    names
  }

  /** Enumerate tables from the catalog manifest ALONE — (name, kind,
    * schema) per entry, zero directory listing. The fresh-session /
    * foreign-engine entry point. */
  def tablesFromManifest(): Seq[(String, String, Option[StructType])] = {
    require(fs.exists(catalogPath),
      s"no catalog manifest at $catalogPath — run writeCatalogManifest()")
    val in = fs.open(catalogPath)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      (f(0), f(1),
        if (f.length > 2 && f(2).nonEmpty)
          Some(DataType.fromJson(f(2)).asInstanceOf[StructType]) else None)
    }
  }

  /** Read a table resolved through its RECORDED kind (no probing, no
    * listing beyond what the kind's own pointer demands): the read a
    * fresh session performs from the catalog manifest alone. */
  def readFromManifest(name: String): DataFrame = {
    val (_, kind, schema) = tablesFromManifest().find(_._1 == name)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog: no table '$name' in $catalogPath"))
    val p = tablePath(name)
    // a catalog file from before one commit route may still record a
    // whole-table table as "snapshot": it reads as the manifested table it is
    if (kind == "flat") schema.foldLeft(spark.read)(_ schema _).parquet(p)
    else PartitionSnapshots.read(spark, p)
  }

  def dropTable(name: String): Unit =
    fs.delete(new Path(tablePath(name)), true)
}

/** S10: driver-side Hadoop FileSystem directory listing — the reference's
  * GCS topic autodetection (gcs_bronze_to_silver.py:216-237), native in
  * Scala (no py4j hop). */
object FsUtils {
  def listSubdirs(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** Write `df` as the parquet directory `dest` with READER-SAFE replace
    * semantics — the sink primitive behind the streaming `batch=<id>`
    * subdirectory pattern. The data lands in a hidden sibling staging dir
    * and is RENAMED into place, so `dest` either does not exist or holds
    * a COMPLETE file set: a crashed write leaves only hidden staging
    * debris (reaped cold on the next call), never a visible partial
    * batch. Replacing an existing `dest` (an at-least-once redelivery
    * rewriting its own batch dir) is two metadata renames back to back —
    * a reader listing exactly between them misses that one dir (bounded
    * staleness, the same view as before the batch landed) but can never
    * observe half-written data, which the previous in-place overwrite
    * (delete + slow rewrite, visible the whole time) could not promise. */
  def writeDirAtomic(spark: SparkSession, df: DataFrame, dest: String): Unit = {
    val d = new Path(dest)
    val parent = d.getParent
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(parent))
      fs.listStatus(parent)
        .filter(st => st.isDirectory &&
          (st.getPath.getName.startsWith(".staging-") ||
            st.getPath.getName.startsWith(".trash-")))
        .filter(st => System.currentTimeMillis() -
          st.getModificationTime > 15 * 60 * 1000L)
        .foreach(st => fs.delete(st.getPath, true))
    val uuid = java.util.UUID.randomUUID()
    val staging = new Path(parent, s".staging-$uuid")
    df.write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
    val trash = new Path(parent, s".trash-$uuid")
    if (fs.exists(d) && !fs.rename(d, trash))
      throw new IllegalStateException(s"atomic dir write: could not retire $d")
    if (!fs.rename(staging, d))
      throw new IllegalStateException(s"atomic dir write: could not publish $d")
    fs.delete(trash, true)
  }
}
