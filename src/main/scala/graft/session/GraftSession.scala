package graft.session

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LocalRelation,
  LogicalPlan, Project, Repartition, SubqueryAlias, Union, View}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.storage.StorageLevel

import graft._
import graft.ops.Lineage
import graft.sources._
import graft.sinks.{Dump, DumpOptions}
import graft.mutate.Mutations

/** The engine facade ≈ filesql `Open`/`Builder` (`filesql.go:92-159`,
  * `builder.go:85-344`): load files/directories as named tables, expose a
  * SQL surface over them, optionally auto-save back to files on close.
  *
  * The Spark shape of "file → in-memory SQLite table → SQL" is
  * "file → DataFrame → temp view → `spark.sql`" (SURVEY §0): relational
  * execution and optimization are Catalyst's, exactly as the reference
  * delegates them to SQLite.
  */
final class GraftSession private[session] (
    val spark: SparkSession,
    private val tables: mutable.LinkedHashMap[String, DataFrame],
    private val autoSave: Option[AutoSaveConfig],
    private val originalPaths: Seq[String]) {

  /** CREATE VIEW registry: name → original statement text, so
    * `sqlite_master` can list views with their defining SQL exactly as
    * SQLite does (`filesql.go:225-248` introspects via sqlite_master;
    * views promised at reference `README.md:334`). The Spark temp view
    * stores the view TEXT (storeAnalyzedPlanForView=false default), so it
    * re-resolves per query and tracks later mutations of its base tables
    * — SQLite's dynamic view semantics.
    * NOTE: declared before the constructor statements below —
    * registerAll() reads it. Both the original statement (for
    * sqlite_master's sql column) and the extracted SELECT (for
    * re-registration) are stored — re-deriving the SELECT from the
    * statement would re-run a regex on every snapshot restore. */
  private val views = mutable.LinkedHashMap.empty[String, GraftSession.ViewDef]

  /** CREATE TRIGGER registry (creation order = firing order); listed in
    * `sqlite_master` with `type='trigger'` exactly as SQLite lists them.
    * Declared before the constructor statements below — registerAll()
    * reads it. */
  private val triggers = mutable.LinkedHashMap.empty[String, TriggerDef]
  // SQLite's recursive_triggers pragma defaults OFF: statements executed
  // from inside a trigger body never fire triggers themselves (and leave
  // changes()/last_insert_rowid() + auto-save to the outer statement)
  // trigger-body nesting depth: >0 while executing body statements.
  // A counter, not a flag — INSTEAD OF triggers fire even from inside
  // another trigger's body (SQLite's recursive_triggers setting does
  // not apply to them), so bodies can nest.
  private var triggerDepth = 0
  private def inTriggerBody: Boolean = triggerDepth > 0

  // SQLite treats naive timestamps as UTC, so the dialect shims
  // (strftime/julianday/date/…) only match its output under UTC — pin the
  // session timezone rather than silently diverging in non-UTC JVMs.
  // SCOPED: the previous value is restored by close() so an embedding
  // application's unrelated queries don't permanently switch to UTC.
  private val previousTimeZone = spark.conf.getOption("spark.sql.session.timeZone")
  spark.conf.set("spark.sql.session.timeZone", "UTC")
  // Naive parquet timestamps read as TIMESTAMP (not NTZ) — SQLite/DuckDB
  // treat them as plain timestamps, and under the UTC pin the values are
  // identical; NTZ columns would reject ts functions like unix_micros.
  // Scoped like the timeZone pin: restored by close().
  private val previousNtzInference =
    spark.conf.getOption("spark.sql.parquet.inferTimestampNTZ.enabled")
  spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  graft.dialect.SqliteDialect.register(spark)
  private val restoreKernelFns = graft.functions.SqlKernels.registerScoped(spark)
  registerAll()

  /** SQLite declared-type name for a Spark type — shared by the
    * sqlite_master view and PRAGMA table_info so the two can never
    * disagree about a column's storage class. */
  private def sqliteTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
      case DoubleType | FloatType | _: DecimalType => "REAL"
      case BinaryType => "BLOB"
      case _ => "TEXT"
    }
  }

  private def quoteSparkIdent(name: String): String =
    s"`${name.replace("`", "``")}`"

  private def registerView(name: String, select: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${quoteSparkIdent(name)} AS $select")

  private def registerAll(): Unit = {
    tables.foreach { case (name, df) => registerTable(name, df) }
    // the SELECT was captured once by CreateViewRe at creation — never
    // re-parsed (a quoted view name containing " as " would mis-split,
    // and a parse failure here inside restoreSnapshot would abort a
    // ROLLBACK halfway)
    views.foreach { case (name, vd) => registerView(name, vd.select) }
    registerSqliteMaster()
  }

  /** `sqlite_master`-shaped catalog view for parity with catalog queries
    * (`README.md:149`, `filesql.go:225-248`). */
  private def registerSqliteMaster(): Unit = {
    import org.apache.spark.sql.types._
    def sqliteType(dt: DataType): String = sqliteTypeName(dt)
    val rows = tables.toSeq.map { case (name, df) =>
      val ddlCols = df.schema.fields
        .map(f => s""""${f.name}" ${sqliteType(f.dataType)}""").mkString(", ")
      Row("table", name, name, 0, s"""CREATE TABLE "$name" ($ddlCols)""")
    } ++ views.toSeq.map { case (name, vd) =>
      Row("view", name, name, 0, vd.stmt)
    } ++ triggers.toSeq.map { case (name, td) =>
      Row("trigger", name, td.table, 0, td.createSql)
    }
    val schema = StructType(Seq(
      StructField("type", StringType), StructField("name", StringType),
      StructField("tbl_name", StringType), StructField("rootpage", IntegerType),
      StructField("sql", StringType)))
    spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView("sqlite_master")
  }

  def tableNames: Seq[String] = tables.keys.toSeq

  def table(name: String): DataFrame =
    tables.getOrElse(name, throw InvalidSqlError(name, "no such table"))

  /** Stores `df` as table `name`. The table map keeps `df` itself, which
    * DML and the dumps read; SQL reads the view, which holds a
    * driver-resident version as one partition
    * ([[graft.ops.Lineage.isDriverResident]] says why). */
  private def install(name: String, df: DataFrame): Unit = {
    tables.update(name, df)
    registerTable(name, df)
  }

  private def registerTable(name: String, df: DataFrame): Unit = {
    val local = df.queryExecution.analyzed.isInstanceOf[LocalRelation]
    (if (local) df.coalesce(1) else df).createOrReplaceTempView(name)
  }

  // ------------------------------------------------------------ versions
  // A table is its lazily opened scan until a statement first changes it
  // (DML or ALTER … COLUMN); from then on it is a materialised version,
  // and each such statement builds the next version from the current one
  // before anything is re-pointed, so a statement that fails at run time
  // throws and leaves the table as it was (SQLite aborts it the same way).

  /** Persisted versions this session made, unpersisted by
    * [[releaseVersions]] once no table and no snapshot holds them. */
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]

  /** Stores `df` as a table version, so later statements read its rows
    * instead of replaying its plan over the source file.
    *
    * A version that [[graft.ops.Lineage.fitsOnDriver]] is collected into
    * a driver-resident `LocalRelation`, which [[install]] registers as
    * one partition ([[graft.ops.Lineage.isDriverResident]]). The optimiser
    * folds filters and projections of it — point SELECTs, UPDATE,
    * DELETE, the rows of an INSERT … SELECT ([[uncoalesced]]) — on the
    * driver with no Spark job. A larger version stays distributed:
    * persisted `MEMORY_AND_DISK` and counted, so its plan is read from
    * the cache, not re-run. A failure while computing the rows throws
    * from here. */
  private def materialise(planned: DataFrame): DataFrame = {
    val df = uncoalesced(planned)
    if (Lineage.fitsOnDriver(df)) {
      val rows = df.queryExecution.optimizedPlan match {
        // an INSERT on a driver-resident version unions two local
        // relations, which Catalyst does not fold into one (it does fold
        // filters and projections of one): concatenate them here rather
        // than collect the union through a Spark job
        case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
          val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
          u.children.flatMap(_.asInstanceOf[LocalRelation].data).map(toRow(_).asInstanceOf[Row])
        case _ => df.collect().toSeq
      }
      spark.createDataFrame(rows.asJava, df.schema)
    } else {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      try df.count()
      catch { case scala.util.control.NonFatal(e) => df.unpersist(); throw e }
      persisted += df
      df
    }
  }

  private def releaseVersions(): Unit = if (persisted.nonEmpty) {
    val live = (tables.values ++ (txnSnapshot ++ savepoints.map(_._2)).flatMap(_.tabs.map(_._2))).toSeq
    persisted.filterInPlace(v => live.exists(_ eq v) || { v.unpersist(); false })
  }

  /** Rows in `df`: a filter or projection of a driver-resident version
    * is folded by the optimiser into a local relation and counted
    * there; anything else is counted by a Spark job. */
  private def rowCount(df: DataFrame): Long = df.queryExecution.optimizedPlan match {
    case local: LocalRelation => local.data.length
    case _ => df.count()
  }

  /** `df` reading its driver-resident relations bare when it only
    * projects, filters and limits them (a point SELECT, a
    * read-after-write, the rows of an INSERT … SELECT): such a plan needs
    * no single partition, and over the bare relation the optimiser folds
    * it on the driver (`ConvertToLocalRelation`) with no Spark job. The
    * coalesce is removed from the analyzed plan, so the optimiser runs
    * once, over the folded shape. Any other frame as it is. */
  private def uncoalesced(df: DataFrame): DataFrame = {
    def folds(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: GlobalLimit | _: LocalLimit | _: SubqueryAlias | _: View =>
        p.children.forall(folds)
      case _ => Lineage.isDriverResident(p)
    }
    val plan = df.queryExecution.analyzed
    if (!plan.exists(_.isInstanceOf[Repartition]) || !folds(plan)) df
    else DatasetBridge.ofRows(spark, plan.transformUp { case r: Repartition => r.child })
  }

  // -------------------------------------------------------- transactions
  // BEGIN snapshots the name → DataFrame map (+ view registry); ROLLBACK
  // restores it and re-registers views; COMMIT drops the snapshot and
  // fires auto-save-on-commit ONCE for the whole batch (reference
  // save.go:339-356 hooks the sql.Tx commit the same way). Each table is
  // an opened scan or an immutable materialised version, so a snapshot
  // is O(#tables) references — no data copy at any scale — and a
  // persisted version lives while the table or a snapshot holds it
  // (released after each top-level statement). SAVEPOINTs stack more
  // snapshots on the same mechanism: ROLLBACK TO restores one mid-stack
  // (keeping it, like SQLite), RELEASE pops without restoring, and a
  // savepoint opened OUTSIDE a transaction starts an implicit one whose
  // outermost RELEASE commits.
  private final case class Snapshot(tabs: Seq[(String, DataFrame)],
      vws: Seq[(String, GraftSession.ViewDef)],
      trigs: Seq[(String, TriggerDef)], userVer: Long, schemaVer: Long)
  private def snapshotNow: Snapshot =
    Snapshot(tables.toSeq, views.toSeq, triggers.toSeq, userVersion, schemaVersion)

  private var txnSnapshot: Option[Snapshot] = None
  private var txnDirty = false
  // the active transaction was opened by SAVEPOINT, not BEGIN — releasing
  // its last savepoint commits (SQLite lang_savepoint.html)
  private var txnImplicit = false
  // (name, snapshot, txnDirty at creation): ROLLBACK TO restores the
  // dirty flag too, so a transaction whose every mutation was rolled
  // back doesn't fire a wasted auto-save dump on COMMIT
  private val savepoints = mutable.ArrayBuffer.empty[(String, Snapshot, Boolean)]
  // PRAGMA user_version (writable, transactional); schema_version
  // increments on every schema change like SQLite's
  private var userVersion = 0L
  private var schemaVersion = 0L

  private def inTransaction: Boolean = txnSnapshot.isDefined

  private def restoreSnapshot(snap: Snapshot): Unit = {
    // tables/views CREATEd after the snapshot leave temp views behind
    val snapNames = snap.tabs.map(_._1).toSet ++ snap.vws.map(_._1).toSet
    (tables.keys ++ views.keys).filterNot(snapNames).foreach(spark.catalog.dropTempView)
    tables.clear()
    snap.tabs.foreach { case (name, df) => tables.update(name, df) }
    views.clear()
    snap.vws.foreach { case (name, vd) => views.update(name, vd) }
    triggers.clear()
    snap.trigs.foreach { case (name, td) => triggers.update(name, td) }
    userVersion = snap.userVer
    // schema_version rolls back with the rest of the file header in
    // SQLite — a rolled-back DDL must not leave it incremented
    schemaVersion = snap.schemaVer
    registerAll()
  }

  private def begin(): Unit = {
    if (inTransaction)
      throw InvalidSqlError("BEGIN", "cannot start a transaction within a transaction")
    txnSnapshot = Some(snapshotNow)
    txnDirty = false
    txnImplicit = false
  }

  private def commit(): Unit = {
    if (!inTransaction)
      throw InvalidSqlError("COMMIT", "cannot commit - no transaction is active")
    txnSnapshot = None
    savepoints.clear()
    txnImplicit = false
    if (txnDirty && autoSave.exists(_.onCommit)) performAutoSave()
    txnDirty = false
  }

  private def rollback(): Unit = {
    val snap = txnSnapshot.getOrElse(
      throw InvalidSqlError("ROLLBACK", "cannot rollback - no transaction is active"))
    restoreSnapshot(snap)
    txnSnapshot = None
    savepoints.clear()
    txnImplicit = false
    txnDirty = false
  }

  // savepoint names are case-insensitive (SQLite lang_savepoint.html);
  // the MOST RECENT savepoint with a given name wins for RELEASE /
  // ROLLBACK TO
  private def savepoint(name: String): Unit = {
    if (!inTransaction) {
      txnSnapshot = Some(snapshotNow)
      txnDirty = false
      txnImplicit = true
    }
    savepoints += ((name.toLowerCase, snapshotNow, txnDirty))
  }

  private def lastSavepointIndex(stmt: String, name: String): Int = {
    val i = savepoints.lastIndexWhere(_._1 == name.toLowerCase)
    if (i < 0) throw InvalidSqlError(stmt, s"no such savepoint: $name")
    i
  }

  /** RELEASE pops the named savepoint and everything stacked above it
    * WITHOUT restoring state; releasing the outermost savepoint of an
    * implicit (SAVEPOINT-started) transaction commits it. */
  private def release(stmt: String, name: String): Unit = {
    val i = lastSavepointIndex(stmt, name)
    savepoints.dropRightInPlace(savepoints.length - i)
    if (savepoints.isEmpty && txnImplicit) commit()
  }

  /** ROLLBACK TO restores the named savepoint's snapshot and discards the
    * savepoints stacked above it, but KEEPS the named savepoint and the
    * enclosing transaction open (SQLite semantics). */
  private def rollbackTo(stmt: String, name: String): Unit = {
    val i = lastSavepointIndex(stmt, name)
    restoreSnapshot(savepoints(i)._2)
    txnDirty = savepoints(i)._3
    savepoints.dropRightInPlace(savepoints.length - i - 1)
  }

  // ---------------------------------------------------------------- DDL
  // SQLite-surface DDL the reference inherits from its embedded engine
  // (users CREATE work tables and the dump path exports whatever is in
  // sqlite_master — filesql_integration_test.go drives CREATE TABLE /
  // ALTER / DROP through plain Exec). Each statement rewrites the
  // name → DataFrame map and re-registers views + sqlite_master.

  private val CreateTableAsRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val CreateTableRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*\((.+)\)\s*;?\s*$""".r
  private val DropTableRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val AlterRenameTableRe =
    """(?is)^\s*ALTER\s+TABLE\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s+RENAME\s+TO\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val AlterRenameColRe =
    """(?is)^\s*ALTER\s+TABLE\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s+RENAME\s+COLUMN\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s+TO\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  // the type/constraint tail must admit quoted DEFAULTs (incl. ';'
  // inside the quotes), DECIMAL(10,2) commas, and negative defaults —
  // non-quote/non-semicolon runs or complete '…' literals, lazily
  private val AlterAddColRe =
    """(?is)^\s*ALTER\s+TABLE\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s+ADD\s+(?:COLUMN\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)(?:\s+([A-Za-z](?:[^;']|'[^']*')*?))?\s*;?\s*$""".r
  private val AlterDropColRe =
    """(?is)^\s*ALTER\s+TABLE\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s+DROP\s+(?:COLUMN\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  // index/maintenance statements: honestly accepted as no-ops — Catalyst
  // picks access paths and parquet carries min/max stats, so SQLite
  // indexes have no analogue to build
  private val NoOpDdlRe =
    """(?is)^\s*(?:CREATE\s+(?:UNIQUE\s+)?INDEX\b|DROP\s+INDEX\b|VACUUM\b|ANALYZE\b|REINDEX\b).*""".r

  /** SQLite column-type affinity (datatype3.html §3.1) → Spark type:
    * INT* → INTEGER class, CHAR/CLOB/TEXT → TEXT, BLOB/absent → BLOB,
    * REAL/FLOA/DOUB → REAL, anything else → NUMERIC (kept as double). */
  private def affinityType(t: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val u = t.toUpperCase
    if (u.contains("INT")) LongType
    else if (u.contains("CHAR") || u.contains("CLOB") || u.contains("TEXT")) StringType
    else if (u.isEmpty || u.contains("BLOB")) BinaryType
    else DoubleType
  }

  private def parseColumnDefs(defs: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val tableConstraint =
      """(?is)^\s*(?:PRIMARY\s+KEY|UNIQUE|CHECK|FOREIGN\s+KEY|CONSTRAINT)\b.*""".r
    val fields = Mutations.splitTopLevel(defs, ',').map(_.trim).filter(_.nonEmpty)
      .filterNot(d => tableConstraint.pattern.matcher(d).matches())
      .map { d =>
        val (name, rest) =
          if (d.startsWith("\"")) {
            val end = d.indexOf('"', 1)
            (d.substring(1, end), d.substring(end + 1))
          } else {
            val sp = d.indexWhere(_.isWhitespace)
            if (sp < 0) (d, "") else (d.substring(0, sp), d.substring(sp))
          }
        // type name = leading words of the remainder, before any
        // constraint keyword (PRIMARY/NOT/UNIQUE/DEFAULT/CHECK/REFERENCES)
        val typeName = rest.trim.split("""(?i)\b(?:PRIMARY|NOT|NULL|UNIQUE|DEFAULT|CHECK|REFERENCES|COLLATE|GENERATED)\b""")
          .headOption.getOrElse("").trim
        StructField(name, affinityType(typeName))
      }
    StructType(fields)
  }

  /** Apply a table-map rewrite as one DDL/DML unit: update views,
    * refresh sqlite_master, and fire the commit hooks. Only schema
    * statements route here (DML has its own path), so this is where
    * PRAGMA schema_version ticks, as SQLite's does on schema change. */
  private def applyDdl(body: => Unit): DataFrame = {
    body
    schemaVersion += 1
    registerSqliteMaster()
    if (inTransaction) txnDirty = true
    else if (autoSave.exists(_.onCommit)) performAutoSave()
    spark.emptyDataFrame
  }

  // SQLite session-state functions: plain values, set by the last
  // top-level DML statement once it has succeeded
  private var changes = 0L
  private var lastRowid = 0L

  /** The next version of `prev`'s table after `m`, and what `changes()`
    * and `last_insert_rowid()` will report for it (None: the statement
    * leaves last_insert_rowid as it was, as UPDATE and DELETE do in
    * SQLite). Nothing is recorded here. */
  private def nextVersion(m: Mutations.Mutation,
      prev: DataFrame): (DataFrame, Long, Option[Long]) = {
    import org.apache.spark.sql.functions.{col, max}
    val next = materialise(m(prev, materialise))
    val rowidAt = Some(next.columns.indexOf("rowid"))
      .filter(i => i >= 0 && next.schema(i).dataType == org.apache.spark.sql.types.LongType)
    def rowid(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    m match {
      case ins: Mutations.Insert =>
        // SQLite reports the rowid of the last row inserted, whether the
        // statement gave it or it was assigned
        (next, ins.tuples.length.toLong,
          Some(rowidAt.fold(0L)(i => rowid(ins.plannedRows(prev).collect().last, i))))
      case ins: Mutations.InsertSelect =>
        // max over just the INSERTED rows (not the whole table): explicit
        // rowids below the table max then report correctly
        val rows = ins.plannedRows(prev, materialise)
        (next, rowCount(rows),
          Some(rowidAt.fold(0L)(_ => rowid(rows.agg(max(col("rowid"))).head(), 0))))
      case Mutations.Update(_, _, where) =>
        (next, rowCount(prev.filter(Mutations.matching(where))), None)
      case Mutations.Delete(_, where) =>
        (next, rowCount(prev.filter(Mutations.matching(where))), None)
    }
  }

  private def record(n: Long, rowid: Option[Long]): Unit = {
    changes = n
    rowid.foreach(lastRowid = _)
  }

  private def longRow(name: String, v: Long): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(java.util.List.of(Row(v)), StructType(Seq(StructField(name, LongType))))
  }

  private val ChangesRe = """(?is)^\s*SELECT\s+changes\s*\(\s*\)\s*;?\s*$""".r
  private val LastRowidRe = """(?is)^\s*SELECT\s+last_insert_rowid\s*\(\s*\)\s*;?\s*$""".r

  private val PragmaTableInfoRe =
    """(?is)^\s*PRAGMA\s+table_info\s*\(\s*("[^"]+"|'[^']+'|[A-Za-z_][A-Za-z0-9_]*)\s*\)\s*;?\s*$""".r
  private val PragmaTableListRe = """(?is)^\s*PRAGMA\s+table_list\s*;?\s*$""".r
  private val BeginRe =
    """(?is)^\s*BEGIN(?:\s+(?:DEFERRED|IMMEDIATE|EXCLUSIVE))?(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val CommitRe = """(?is)^\s*(?:COMMIT|END)(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val RollbackRe = """(?is)^\s*ROLLBACK(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val SavepointRe =
    """(?is)^\s*SAVEPOINT\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val ReleaseRe =
    """(?is)^\s*RELEASE\s+(?:SAVEPOINT\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val RollbackToRe =
    """(?is)^\s*ROLLBACK(?:\s+TRANSACTION)?\s+TO\s+(?:SAVEPOINT\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  private val CreateTriggerRe = """(?is)^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TRIGGER\b.*""".r
  private val DropTriggerRe =
    """(?is)^\s*DROP\s+TRIGGER\s+(IF\s+EXISTS\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  // SQLite has no OR REPLACE on views, but Spark users write it — accept
  // both; OR REPLACE overwrites an existing VIEW (never a table)
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val DropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""".r
  // version pragmas answer 0 (SQLite's default for a fresh database);
  // every other unintercepted PRAGMA is benign session tuning in SQLite
  // (cache_size, journal_mode, index_list, …) with no Spark analogue —
  // answered with an empty result + a log warning instead of leaking a
  // Catalyst parse error
  private val PragmaVersionRe =
    """(?is)^\s*PRAGMA\s+(user_version|schema_version)\s*;?\s*$""".r
  // user_version is writable application state (THE standard SQLite
  // migration-versioning idiom) — swallowing the write while the read
  // answers 0 would make a migration framework re-run forever
  // SQLite also accepts hex (0x10 → 16) and quoted ('7' → 7) integer
  // literals for this pragma (verified on 3.40)
  private val PragmaSetUserVersionRe =
    """(?is)^\s*PRAGMA\s+user_version\s*=\s*(0[xX][0-9A-Fa-f]+|[+-]?\d+|'[+-]?\d+'|"[+-]?\d+")\s*;?\s*$""".r
  private val PragmaOtherRe =
    """(?is)^\s*PRAGMA\s+[A-Za-z_][A-Za-z0-9_]*\s*(?:\(.*\)|=.*)?\s*;?\s*$""".r
  // SQLite maintenance statements with no Spark analogue: VACUUM
  // rewrites the database file, ANALYZE refreshes sqlite_stat tables,
  // REINDEX rebuilds btrees — none applies to file-backed temp views
  // (Catalyst re-derives statistics per plan), so they are honest no-ops
  // rather than leaked parse errors. Optional target names (ANALYZE t,
  // REINDEX t, VACUUM INTO is NOT matched — it has real output effects)
  // whitespace REQUIRED before the optional target: without it,
  // "VACUUMING"/"REINDEXED" would match as verb + identifier tail and
  // swallow what should be a parse error
  private val MaintenanceRe =
    """(?is)^\s*(VACUUM|ANALYZE|REINDEX)(?:\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_.]*))?\s*;?\s*$""".r

  private def unquoteIdent(ident: String): String =
    if ((ident.startsWith("\"") && ident.endsWith("\"")) ||
        (ident.startsWith("'") && ident.endsWith("'")))
      ident.substring(1, ident.length - 1)
    else ident

  /** Run SQL. SELECTs go straight to Spark SQL; INSERT/UPDATE/DELETE are
    * translated to DataFrame rewrites + view re-registration (temp views
    * are immutable — SURVEY §2.2 mutation layer); PRAGMA and transaction
    * statements are intercepted for SQLite-surface parity
    * (`filesql.go:274-301`, `save.go:339-356`). */
  def sql(statement: String): DataFrame =
    try run(statement) finally if (!inTriggerBody) releaseVersions()

  private def run(statement: String): DataFrame = statement match {
    case ChangesRe() => longRow("changes()", changes)
    case LastRowidRe() => longRow("last_insert_rowid()", lastRowid)
    case PragmaTableInfoRe(ident) => tableInfo(unquoteIdent(ident))
    case PragmaTableListRe() => tableList()
    case PragmaSetUserVersionRe(v) =>
      // user_version is a signed 32-bit header field; SQLite (verified
      // on 3.40) stores 0 for ANY value outside int32 range rather than
      // truncating bits. The write is transactional via Snapshot.userVer
      // but does NOT mark the transaction dirty: the auto-save dump is
      // tables-only and cannot persist it, so firing a full re-dump for
      // a version-only transaction would be pure wasted I/O (and the
      // top-level write fires no auto-save either — consistent).
      val raw = v.stripPrefix("'").stripSuffix("'").stripPrefix("\"").stripSuffix("\"")
      val n =
        if (raw.toLowerCase.startsWith("0x")) BigInt(raw.drop(2), 16)
        else BigInt(raw.stripPrefix("+"))
      userVersion = if (n.isValidInt) n.toLong else 0L
      spark.emptyDataFrame
    case PragmaVersionRe(which) =>
      val w = which.toLowerCase
      longRow(w, if (w == "user_version") userVersion else schemaVersion)
    case BeginRe() => begin(); spark.emptyDataFrame
    case CommitRe() => commit(); spark.emptyDataFrame
    case RollbackToRe(ident) => rollbackTo(statement, unquoteIdent(ident)); spark.emptyDataFrame
    case RollbackRe() => rollback(); spark.emptyDataFrame
    case SavepointRe(ident) => savepoint(unquoteIdent(ident)); spark.emptyDataFrame
    case ReleaseRe(ident) => release(statement, unquoteIdent(ident)); spark.emptyDataFrame
    case CreateTriggerRe() =>
      val (td, ifNotExists) = Triggers.parse(statement)
      if (triggers.contains(td.name) || tables.contains(td.name) || views.contains(td.name)) {
        if (ifNotExists) spark.emptyDataFrame
        else throw InvalidSqlError(statement.linesIterator.next(),
          s"trigger ${td.name} already exists")
      } else if (td.timing == "INSTEAD OF") {
        // SQLite: INSTEAD OF is the view-DML mechanism — views only
        if (tables.contains(td.table))
          throw InvalidSqlError(statement.linesIterator.next(),
            s"cannot create INSTEAD OF trigger on table: ${td.table}")
        if (!views.contains(td.table))
          throw InvalidSqlError(statement.linesIterator.next(), s"no such view: ${td.table}")
        applyDdl { triggers.update(td.name, td) }
      } else if (!tables.contains(td.table)) {
        if (views.contains(td.table))
          throw InvalidSqlError(statement.linesIterator.next(),
            s"cannot create ${td.timing} trigger on view: ${td.table} (use INSTEAD OF)")
        throw InvalidSqlError(statement.linesIterator.next(), s"no such table: ${td.table}")
      } else applyDdl { triggers.update(td.name, td) }
    case DropTriggerRe(ife, ident) =>
      val name = unquoteIdent(ident)
      if (!triggers.contains(name)) {
        if (ife != null) spark.emptyDataFrame
        else throw InvalidSqlError(statement, s"no such trigger: $name")
      } else applyDdl { triggers.remove(name) }
    case CreateViewRe(orReplace, ifne, ident, select) =>
      val name = unquoteIdent(ident)
      val replaceable = orReplace != null && views.contains(name)
      if ((tables.contains(name) || views.contains(name)) && !replaceable) {
        if (ifne != null) spark.emptyDataFrame else throw DuplicateTableError(name)
      } else applyDdl {
        registerView(name, select)
        views.update(name,
          GraftSession.ViewDef(statement.trim.stripSuffix(";"), select))
      }
    case DropViewRe(ife, ident) =>
      val name = unquoteIdent(ident)
      if (!views.contains(name)) {
        if (ife != null) spark.emptyDataFrame
        else throw InvalidSqlError(statement, s"no such view: $name")
      } else applyDdl {
        views.remove(name)
        spark.catalog.dropTempView(name)
        // SQLite drops a view's INSTEAD OF triggers with it
        triggers.filterInPlace((_, td) => td.table != name)
      }
    case CreateTableAsRe(ifne, ident, select) =>
      val name = unquoteIdent(ident)
      // tables and views share one namespace (SQLite: "there is already
      // a view named x") — without the views check a CREATE TABLE would
      // clobber the view's temp view while both registries list the name
      if (tables.contains(name) || views.contains(name)) {
        if (ifne != null) spark.emptyDataFrame else throw DuplicateTableError(name)
      } else {
        // materialised like SQLite's CTAS: the new table must not change
        // if its source tables are later mutated, renamed, or dropped
        val df = materialise(spark.sql(select))
        applyDdl(install(name, df))
      }
    case CreateTableRe(ifne, ident, defs) =>
      val name = unquoteIdent(ident)
      if (tables.contains(name) || views.contains(name)) {
        if (ifne != null) spark.emptyDataFrame else throw DuplicateTableError(name)
      } else applyDdl {
        val schema = parseColumnDefs(defs)
        if (schema.isEmpty) throw InvalidSqlError(statement, "no columns")
        install(name, spark.createDataFrame(java.util.List.of[Row](), schema))
      }
    case DropTableRe(ife, ident) =>
      val name = unquoteIdent(ident)
      if (!tables.contains(name)) {
        if (ife != null) spark.emptyDataFrame
        else throw InvalidSqlError(statement, s"no such table: $name")
      } else applyDdl {
        tables.remove(name)
        spark.catalog.dropTempView(name)
        // SQLite drops a table's triggers with it
        triggers.filterInPlace((_, td) => td.table != name)
      }
    case AlterRenameTableRe(fromI, toI) =>
      val from = unquoteIdent(fromI)
      val to = unquoteIdent(toI)
      val df = table(from)
      if (tables.contains(to) || views.contains(to)) throw DuplicateTableError(to)
      applyDdl {
        tables.remove(from)
        spark.catalog.dropTempView(from)
        install(to, df)
        // SQLite ≥3.25 re-points triggers at the renamed table. (Only
        // the ON-clause target is re-pointed; table references inside
        // body statements keep their original text — documented
        // deviation, same class as the LTSV key-order note.)
        triggers.mapValuesInPlace((_, td) =>
          if (td.table == from) td.copy(table = to) else td)
      }
    case AlterRenameColRe(tI, aI, bI) =>
      val name = unquoteIdent(tI)
      val from = unquoteIdent(aI)
      val to = unquoteIdent(bI)
      if (!table(name).columns.contains(from))
        throw InvalidSqlError(statement, s"no such column: $from")
      val df = materialise(table(name).withColumnRenamed(from, to))
      applyDdl {
        install(name, df)
        // SQLite ≥3.25 re-points trigger definitions at the renamed
        // column (UPDATE OF lists + NEW./OLD. references) — without
        // this an AFTER UPDATE OF <col> trigger silently stops firing
        triggers.mapValuesInPlace((_, td) =>
          if (td.table == name) Triggers.renameColumn(td, from, to) else td)
      }
    case AlterAddColRe(tI, cI, tpe) =>
      import org.apache.spark.sql.functions.{expr, lit}
      val name = unquoteIdent(tI)
      val cname = unquoteIdent(cI)
      if (table(name).columns.contains(cname)) throw DuplicateColumnError(name, cname)
      val typeStr = Option(tpe).getOrElse("")
      // SQLite fills existing rows with the DEFAULT (NULL if absent)
      val DefaultRe = """(?is).*\bDEFAULT\s+('[^']*'|\([^)]*\)|\S+).*""".r
      val default = typeStr match {
        case DefaultRe(v) => Some(expr(v))
        case _ => None
      }
      // affinity must see only the TYPE token — a DEFAULT literal like
      // 'integration' would otherwise match the INT affinity rule
      val typeOnly = typeStr.split(
        """(?i)\b(?:PRIMARY|NOT|NULL|UNIQUE|DEFAULT|CHECK|REFERENCES|COLLATE|GENERATED)\b""")
        .headOption.getOrElse("").trim
      // no declared type but a DEFAULT (`ADD COLUMN flag DEFAULT 0`):
      // keep the default's natural type — BLOB affinity would make the
      // ANSI cast int→binary fail
      val newCol = (default, typeOnly) match {
        case (Some(d), "") => d
        case (Some(d), t) => d.cast(affinityType(t))
        case (None, t) => lit(null).cast(affinityType(t))
      }
      val df = materialise(table(name).withColumn(cname, newCol))
      applyDdl(install(name, df))
    case AlterDropColRe(tI, cI) =>
      val name = unquoteIdent(tI)
      val cname = unquoteIdent(cI)
      if (!table(name).columns.contains(cname))
        throw InvalidSqlError(statement, s"no such column: $cname")
      val df = materialise(table(name).drop(cname))
      applyDdl(install(name, df))
    case NoOpDdlRe() => spark.emptyDataFrame
    case PragmaOtherRe() =>
      GraftSession.log.warn(
        s"PRAGMA has no Spark analogue, returning empty result: ${statement.trim}")
      spark.emptyDataFrame
    case MaintenanceRe(verb, _) =>
      GraftSession.log.info(
        s"$verb is a no-op on file-backed tables (Catalyst derives statistics per plan)")
      spark.emptyDataFrame
    case _ => Mutations.intercept(statement) match {
      case Some(mutation) if views.contains(mutation.table) =>
        fireInsteadOf(mutation, statement)
      case Some(mutation) =>
        val name = mutation.table
        val current = table(name)
        val trigs = triggersFor(mutation)
        if (trigs.isEmpty) {
          val (next, n, rowid) = nextVersion(mutation, current)
          install(name, next)
          // a mutation fired FROM a trigger body leaves changes() /
          // last_insert_rowid() reflecting the outer statement (SQLite:
          // trigger-internal changes only show in total_changes())
          if (!inTriggerBody) record(n, rowid)
        } else atomically {
          // BEFORE bodies see (and may mutate) the pre-statement
          // tables; the statement is then planned from the
          // post-BEFORE state, so a BEFORE INSERT body's insert into
          // the same table survives (SQLite keeps both; for
          // UPDATE/DELETE rows a BEFORE body touched, SQLite declares
          // the result undefined — here the statement re-evaluates
          // its predicate against the post-BEFORE state)
          fireTriggers(trigs.filter(_.timing == "BEFORE"), mutation, current)
          val base = table(name)
          val (next, n, rowid) = nextVersion(mutation, base)
          // the AFTER-trigger row binding must resolve any subquery in
          // the statement's predicates against the PRE-mutation
          // catalog — DataFrame construction analyzes eagerly, so
          // build it before the table view is re-pointed at post-state
          val afterTrigs = trigs.filter(_.timing == "AFTER")
          val affectedAfter =
            if (afterTrigs.nonEmpty) Some(affectedRows(mutation, base)) else None
          install(name, next)
          affectedAfter.foreach(fireWith(afterTrigs, _))
          record(n, rowid)
        }
        if (inTransaction) txnDirty = true
        else if (!inTriggerBody && autoSave.exists(_.onCommit)) performAutoSave()
        spark.emptyDataFrame
      case None => uncoalesced(spark.sql(statement))
    }
  }

  // ------------------------------------------------------ trigger firing
  // SQLite row triggers, executed Spark-first: the affected-row set of
  // the outer DML becomes ONE DataFrame with NEW/OLD struct columns, and
  // INSERT-VALUES / SELECT-RAISE bodies run SET-BASED against it (no
  // driver materialization, any mutation size). Other bodies fall back
  // to faithful per-row firing, bounded by spark.graft.trigger.maxRows.
  // See Triggers.scala for the parser and classification.

  private def eventOf(m: Mutations.Mutation): String = m match {
    case _: Mutations.Insert | _: Mutations.InsertSelect => "INSERT"
    case _: Mutations.Update => "UPDATE"
    case _: Mutations.Delete => "DELETE"
  }

  /** UPDATE OF fires only when the statement assigns a listed column. */
  private def updateOfMatches(td: TriggerDef, m: Mutations.Mutation): Boolean =
    td.updateOf.isEmpty || (m match {
      case u: Mutations.Update =>
        u.sets.exists { case (c, _) => td.updateOf.exists(_.equalsIgnoreCase(c)) }
      case _ => true
    })

  private def triggersFor(m: Mutations.Mutation): Seq[TriggerDef] = {
    if (inTriggerBody || triggers.isEmpty) return Seq.empty
    val event = eventOf(m)
    triggers.values.toSeq.filter { td =>
      td.timing != "INSTEAD OF" && td.table == m.table && td.event == event &&
        updateOfMatches(td, m)
    }
  }

  /** View-directed DML: SQLite routes INSERT/UPDATE/DELETE on a view
    * through its INSTEAD OF triggers — the statement itself mutates
    * nothing; the trigger bodies ARE the write path. The affected-row
    * frame binds NEW/OLD from the view's defining SELECT (analyzed
    * eagerly against the pre-statement catalog, so body mutations
    * cannot shift it); `changes()` reports the view rows the triggers
    * processed; `last_insert_rowid()` is untouched (SQLite semantics
    * for view inserts). INSTEAD OF firing is exempt from the
    * body-suppression rule — view DML inside another trigger's body
    * still routes here (SQLite: `recursive_triggers` does not apply to
    * INSTEAD OF triggers), with a depth cap against self-referential
    * loops. */
  private def fireInsteadOf(m: Mutations.Mutation, statement: String): DataFrame = {
    val name = m.table
    val event = eventOf(m)
    val trigs = triggers.values.toSeq.filter { td =>
      td.timing == "INSTEAD OF" && td.table == name && td.event == event &&
        updateOfMatches(td, m)
    }
    if (trigs.isEmpty)
      throw InvalidSqlError(statement,
        s"cannot modify $name because it is a view (no INSTEAD OF $event trigger)")
    if (triggerDepth >= 32)
      throw InvalidSqlError(statement, "too many levels of trigger recursion")
    val affected = affectedRows(m, spark.table(quoteSparkIdent(name)))
    atomically {
      // counted before the bodies run, which may mutate the base tables
      val n = rowCount(affected)
      fireWith(trigs, affected)
      if (!inTriggerBody) changes = n
    }
    if (inTransaction) txnDirty = true
    else if (!inTriggerBody && autoSave.exists(_.onCommit)) performAutoSave()
    spark.emptyDataFrame
  }

  /** One row per row the outer DML affects, with the struct columns a
    * SQLite row trigger binds: NEW for INSERT, OLD for DELETE, both for
    * UPDATE. Built from the PRE-mutation plan, so it stays stable while
    * body statements re-register views. */
  private def affectedRows(m: Mutations.Mutation, prev: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct}
    def asStruct(df: DataFrame, alias: String) =
      struct(df.columns.toSeq.map(c => col(s"`$c`").as(c)): _*).as(alias)
    m match {
      case ins: Mutations.Insert =>
        val rows = ins.plannedRows(prev)
        rows.select(asStruct(rows, "NEW"))
      case ins: Mutations.InsertSelect =>
        val rows = ins.plannedRows(prev, materialise)
        rows.select(asStruct(rows, "NEW"))
      case u: Mutations.Update =>
        // same matched-row semantics as changes(): NULL predicates don't match
        val matched = prev.filter(Mutations.matching(u.where))
        val newStruct = struct(matched.columns.toSeq.zip(u.newImageCols(matched))
          .map { case (c, e) => e.as(c) }: _*).as("NEW")
        matched.select(asStruct(matched, "OLD"), newStruct)
      case d: Mutations.Delete =>
        val doomed = prev.filter(Mutations.matching(d.where))
        doomed.select(asStruct(doomed, "OLD"))
    }
  }

  /** Runs a trigger-firing statement as one unit: RAISE(ABORT) — or any
    * body failure — undoes the mutation AND every trigger effect, and
    * RAISE(ROLLBACK) also undoes the whole enclosing transaction. */
  private def atomically(body: => Unit): Unit = {
    val preSnapshot = snapshotNow
    try body
    catch {
      case e: TriggerAbortError =>
        restoreSnapshot(preSnapshot)
        if (e.kind == "ROLLBACK" && inTransaction) rollback()
        throw e
      case scala.util.control.NonFatal(e) =>
        restoreSnapshot(preSnapshot)
        throw e
    }
  }

  private def fireTriggers(relevant: Seq[TriggerDef], m: Mutations.Mutation,
      prev: DataFrame): Unit =
    if (relevant.nonEmpty) fireWith(relevant, affectedRows(m, prev))

  private def fireWith(relevant: Seq[TriggerDef], affectedAll: DataFrame): Unit = {
    import org.apache.spark.sql.functions.expr
    for (td <- relevant) {
      // WHEN references NEW/OLD; a NULL result skips the row, like WHERE
      val affected = td.when.map(w => affectedAll.filter(expr(w))).getOrElse(affectedAll)
      td.vectorized match {
        case Some(vec) => fireVectorized(td, affected, vec)
        case None => fireByRow(td, affected)
      }
    }
  }

  private val TriggerRowsView = "__graft_trigger_rows"

  private def fireVectorized(td: TriggerDef, affected: DataFrame,
      stmts: Seq[Triggers.VecStmt]): Unit = {
    import org.apache.spark.sql.functions.expr
    // depth-suffixed rows view: an INSTEAD OF trigger fires from INSIDE
    // another body when a body statement mutates a view, and the nested
    // firing must not clobber (or drop) the outer body's rows view
    val rowsView = TriggerRowsView + triggerDepth
    affected.createOrReplaceTempView(rowsView)
    try {
      triggerDepth += 1
      try stmts.foreach {
        case Triggers.VecRaise(kind, msg, cond) =>
          val offending = cond.map(c => affected.filter(expr(c))).getOrElse(affected)
          if (!offending.isEmpty) throw TriggerAbortError(td.name, kind, msg)
        case Triggers.VecInsert(tbl, cols, exprs) =>
          val colList = cols.map(_.map(c => s""""$c"""").mkString(" (", ", ", ")")).getOrElse("")
          sql(s"""INSERT INTO "$tbl"$colList SELECT ${exprs.mkString(", ")} FROM $rowsView""")
      } finally triggerDepth -= 1
    } finally spark.catalog.dropTempView(rowsView)
  }

  private def fireByRow(td: TriggerDef, affected: DataFrame): Unit = {
    import org.apache.spark.sql.types.StructType
    val cap = spark.conf.getOption("spark.graft.trigger.maxRows").map(_.toInt).getOrElse(1000)
    val rows = affected.limit(cap + 1).collect()
    if (rows.length > cap)
      throw InvalidSqlError(s"trigger ${td.name}",
        s"per-row trigger body over more than $cap affected rows — raise " +
          "spark.graft.trigger.maxRows, or restrict the body to INSERT … VALUES / " +
          "SELECT RAISE(…) WHERE … statements, which execute set-based at any scale")
    val schema = affected.schema
    triggerDepth += 1
    try for (row <- rows; stmt <- td.body) {
      if (Triggers.hasRaiseIgnore(stmt))
        throw UnsupportedStatementError(stmt,
          "RAISE(IGNORE) (skip-this-row) is not supported; use a WHEN clause instead")
      val substituted = Triggers.substituteRowRefs(stmt, (which, colName) => {
        val sIdx =
          try schema.fieldIndex(which)
          catch { case _: IllegalArgumentException =>
            throw InvalidSqlError(stmt, s"$which is not defined for ${td.event} triggers") }
        val st = schema(sIdx).dataType.asInstanceOf[StructType]
        val fIdx =
          try st.fieldIndex(colName)
          catch { case _: IllegalArgumentException =>
            throw InvalidSqlError(stmt, s"no such column: $which.$colName") }
        val struct = row.getStruct(sIdx)
        Triggers.renderLiteral(if (struct.isNullAt(fIdx)) null else struct.get(fIdx),
          st(fIdx).dataType)
      })
      Triggers.asSelectRaise(substituted) match {
        case Some(Triggers.VecRaise(kind, msg, cond)) =>
          // post-substitution the condition is a row-free expression
          val hit = cond match {
            case Some(c) => !spark.range(1)
              .filter(org.apache.spark.sql.functions.expr(c)).isEmpty
            case None => true
          }
          if (hit) throw TriggerAbortError(td.name, kind, msg)
        case None =>
          // non-canonical RAISE shapes (e.g. embedded in a CASE) become
          // Spark's raise_error so conditional aborts actually execute;
          // kind distinctions collapse to ABORT on this path (documented)
          val executed = Triggers.rewriteRaise(substituted)
          val isSelect = executed.matches("(?is)^\\s*(SELECT|WITH)\\b.*")
          if (executed != substituted && !isSelect)
            // a raise_error inside a body mutation would surface as a
            // Spark runtime error from building the version, not as
            // this trigger's RAISE with its kind
            throw UnsupportedStatementError(stmt,
              "RAISE inside a non-SELECT trigger-body statement is not supported — " +
                "move the check into a SELECT RAISE(...) WHERE ... statement")
          val out = sql(executed)
          // SELECT statements in a trigger body run for their side
          // effects (the RAISE above) — force them
          if (isSelect)
            try out.collect()
            catch {
              case e: org.apache.spark.SparkThrowable
                  if e.getCondition == "USER_RAISED_EXCEPTION" =>
                throw TriggerAbortError(td.name, "ABORT",
                  e.getMessageParameters.getOrDefault("errorMessage",
                    e.asInstanceOf[Throwable].getMessage))
            }
      }
    } finally triggerDepth -= 1
  }

  /** `PRAGMA table_info(t)` equivalent (`filesql.go:274-301`):
    * (cid, name, type, notnull, dflt_value, pk) rows in SQLite shape. */
  def tableInfo(name: String): DataFrame = {
    import org.apache.spark.sql.types._
    def sqliteType(dt: DataType): String = sqliteTypeName(dt)
    val rows = table(name).schema.fields.zipWithIndex.map { case (f, i) =>
      Row(i, f.name, sqliteType(f.dataType), if (f.nullable) 0 else 1, null, 0)
    }
    val schema = StructType(Seq(
      StructField("cid", IntegerType), StructField("name", StringType),
      StructField("type", StringType), StructField("notnull", IntegerType),
      StructField("dflt_value", StringType), StructField("pk", IntegerType)))
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** `PRAGMA table_list` equivalent: (schema, name, type, ncol, wr,
    * strict) rows in SQLite shape, one per registered table. */
  def tableList(): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = tables.toSeq.map { case (name, df) =>
      Row("main", name, "table", df.schema.fields.length, 0, 0)
    } ++ views.keys.toSeq.map { name =>
      // a view's width needs resolving its SELECT; 0 if a base table is gone
      val ncol = scala.util.Try(spark.table(quoteSparkIdent(name)).schema.length).getOrElse(0)
      Row("main", name, "view", ncol, 0, 0)
    }
    val schema = StructType(Seq(
      StructField("schema", StringType), StructField("name", StringType),
      StructField("type", StringType), StructField("ncol", IntegerType),
      StructField("wr", IntegerType), StructField("strict", IntegerType)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Export every table to `dir` (reference S16 `DumpDatabase`,
    * `filesql.go:161-334`). */
  def dump(dir: String, opts: DumpOptions = DumpOptions()): Unit =
    tables.foreach { case (name, df) => Dump.writeTable(df, name, dir, opts) }

  /** Close: runs auto-save if enabled (reference S17, `save.go:199-399`);
    * empty output dir ⇒ overwrite the directory of the first input. */
  def close(): Unit = {
    if (autoSave.exists(!_.onCommit)) performAutoSave()
    (views.keys ++ tables.keys ++ Seq("sqlite_master")).foreach(spark.catalog.dropTempView)
    persisted.foreach(_.unpersist())
    persisted.clear()
    // graft_* SQL functions go back to their pre-open state (guarded —
    // see SqlKernels.registerScoped); the SQLite dialect registrations
    // stay, matching the cluster-wide GraftSparkExtensions contract
    restoreKernelFns()
    // restore ONLY if nobody changed the zone since we pinned it (a
    // concurrently-open GraftSession on the same SparkSession keeps its
    // UTC pin; its own close() restores). DataFrames handed out by sql()
    // and collected after close evaluate under the restored zone — finish
    // reads before closing, as with any resource handle.
    if (spark.conf.getOption("spark.sql.session.timeZone").contains("UTC")) {
      previousTimeZone match {
        case Some(tz) => spark.conf.set("spark.sql.session.timeZone", tz)
        case None => spark.conf.unset("spark.sql.session.timeZone")
      }
    }
    // same guarded restore for the NTZ-inference pin (an embedding app
    // that relies on Spark's default NTZ inference gets it back)
    if (spark.conf.getOption("spark.sql.parquet.inferTimestampNTZ.enabled").contains("false")) {
      previousNtzInference match {
        case Some(v) => spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", v)
        case None => spark.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")
      }
    }
  }

  private def performAutoSave(): Unit = autoSave.foreach { cfg =>
    // empty outputDir ⇒ overwrite originals (save.go:385-399): a directory
    // input IS the target; a file input's target is its parent directory
    val dir =
      if (cfg.outputDir.nonEmpty) cfg.outputDir
      else originalPaths.headOption.map { p =>
        val abs = Paths.get(p).toAbsolutePath
        if (Files.isDirectory(abs)) abs.toString
        else Option(abs.getParent).map(_.toString).getOrElse(".")
      }.getOrElse(".")
    dump(dir, cfg.options)
  }
}

final case class AutoSaveConfig(
    outputDir: String = "",
    onCommit: Boolean = false,
    options: DumpOptions = DumpOptions())

object GraftSession {
  private[session] val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftSession])

  /** A registered view: the original CREATE VIEW statement (listed in
    * sqlite_master's sql column) and its extracted SELECT (used to
    * re-register the temp view on snapshot restores). */
  private[session] final case class ViewDef(stmt: String, select: String)

  def builder(): Builder = new Builder

  /** ≈ `filesql.Open(paths...)`. */
  def open(spark: SparkSession, paths: String*): GraftSession =
    builder().addPaths(paths: _*).open(spark)

  final class Builder private[session] {
    private val paths = mutable.ArrayBuffer.empty[String]
    private val readers = mutable.ArrayBuffer.empty[(String, String, String)] // (name, format, path)
    private var autoSave: Option[AutoSaveConfig] = None
    private var inferTypes = true
    private var rowId = false
    private var csvMultiLine: Option[Boolean] = None

    def addPath(path: String): Builder = { paths += path; this }
    def addPaths(ps: String*): Builder = { paths ++= ps; this }

    /** ≈ `AddReader` (S9, `builder.go:128-148`): explicit table name and
      * format for a file that doesn't follow naming conventions. */
    def addFileAs(path: String, tableName: String, format: String): Builder = {
      readers += ((tableName, format, path)); this
    }

    /** ≈ `AddFS` embedded-filesystem loading (S8,
      * `file_processor.go:114-214`): load a classpath resource (e.g. an
      * embedded fixture) as a table. The resource is materialized to a
      * session temp file, then follows the normal source path. */
    def addResource(resourcePath: String,
        loader: ClassLoader = Thread.currentThread.getContextClassLoader): Builder = {
      val in = Option(loader.getResourceAsStream(resourcePath))
        .getOrElse(throw UnsupportedFormatError(s"classpath:$resourcePath"))
      val name = resourcePath.split('/').last
      val dir = graft.Paths.scratchDir("graft-res-")
      val target = dir.resolve(name)
      try Files.copy(in, target) finally in.close()
      target.toFile.deleteOnExit()
      paths += target.toString
      this
    }

    /** ≈ `AddFS` walking an ENTIRE embedded filesystem with glob matching
      * (S8, `file_processor.go:114-214`). Accepts any NIO filesystem root
      * — notably a zip/jar `FileSystem`, the JVM analogue of Go's
      * `embed.FS` — walks it recursively, keeps regular non-hidden files
      * whose root-relative path matches `glob`, materializes them to
      * session temp files (preserving relative directory structure, so
      * same-named files in different directories surface as the normal
      * DuplicateTableError rather than silently clobbering), and loads
      * them like ordinary inputs. */
    def addFS(root: Path, glob: String = "**"): Builder = {
      val matcher = root.getFileSystem.getPathMatcher(s"glob:$glob")
      val stream = Files.walk(root)
      val matched =
        try stream.iterator().asScala
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          .filter(p => matcher.matches(root.relativize(p)))
          .toSeq.sortBy(_.toString)
        finally stream.close()
      val dir = graft.Paths.scratchDir("graft-fs-")
      matched.foreach { p =>
        val target = dir.resolve(root.relativize(p).toString)
        Files.createDirectories(target.getParent)
        Files.copy(p, target)
        target.toFile.deleteOnExit()
        paths += target.toString
      }
      this
    }

    /** Parity no-op (S10, `stream.go:208-341`): the reference ingests in
      * row chunks (default 1000); Spark's partitioned reads subsume this.
      * Accepted for API compatibility; influences nothing. */
    def withChunkSize(rows: Int): Builder = this

    /** Parity no-op (S20, `memory.go:52-371`): the reference enforces a
      * process memory cap with adaptive chunk shrinking; Spark's unified
      * memory manager + spill handles this. Set executor/driver memory via
      * Spark conf instead. */
    def withMemoryLimit(bytes: Long): Builder = this

    /** Disable type inference: every column stays a string (parquet keeps
      * its native types either way). */
    def withoutTypeInference(): Builder = { inferTypes = false; this }

    /** CSV/TSV multiLine control: None (default) auto-detects quoted
      * embedded newlines with an extra scan — on the driver for a file
      * Spark reads in one split, a Spark job for a larger one; Some(false)
      * skips the detection pass — the right call for large
      * known-newline-free data (keeps files line-splittable); Some(true)
      * forces multiLine. */
    def withCsvMultiLine(multiLine: Option[Boolean]): Builder = {
      csvMultiLine = multiLine; this
    }

    /** Add a `rowid` column (SQLite implicit rowid, `README.md:414`).
      * Values are unique and ascending per partition via
      * `monotonically_increasing_id` — NOT globally dense (documented
      * deviation; dense numbering would force a global sort at scale). */
    def withRowId(): Builder = { rowId = true; this }

    def enableAutoSave(outputDir: String = "", opts: DumpOptions = DumpOptions()): Builder = {
      autoSave = Some(AutoSaveConfig(outputDir, onCommit = false, opts)); this
    }
    def enableAutoSaveOnCommit(outputDir: String = "", opts: DumpOptions = DumpOptions()): Builder = {
      autoSave = Some(AutoSaveConfig(outputDir, onCommit = true, opts)); this
    }

    def open(spark: SparkSession): GraftSession = {
      if (paths.isEmpty && readers.isEmpty) throw EmptyInputError()
      val files = FileCollector.collect(paths.toSeq)
      val tables = mutable.LinkedHashMap.empty[String, DataFrame]
      files.foreach { f =>
        // each read yields ≥1 (tableName, df): XLSX names every sheet
        // {file}_{sheet} (even single-sheet workbooks — reference
        // stream_processor.go:369); other formats yield one table
        FileCollector.read(spark, f, inferTypes, csvMultiLine).foreach { case (name, df) =>
          if (tables.contains(name)) throw DuplicateTableError(name)
          tables.update(name, df)
        }
      }
      readers.foreach { case (name, format, path) =>
        if (tables.contains(name)) throw DuplicateTableError(name)
        val df = FileCollector.readAs(spark, path, format, inferTypes, csvMultiLine)
        tables.update(name, df)
      }
      if (rowId) {
        import org.apache.spark.sql.functions.monotonically_increasing_id
        tables.mapValuesInPlace((_, df) => df.withColumn("rowid", monotonically_increasing_id()))
      }
      new GraftSession(spark, tables, autoSave, paths.toSeq)
    }
  }
}

/** File discovery (reference S7 `collectFilesFromPaths`,
  * `file_processor.go:27-112`): recursive directory walk over supported
  * extensions, absolute-path dedup, and uncompressed-beats-compressed
  * (`file_processor.go:216-246`). */
object FileCollector {

  final case class InputFile(path: String, format: String, tableName: String)

  private val formats = Seq("csv", "tsv", "ltsv", "parquet", "xlsx", "jsonl", "orc")
  private val compExts = Seq("", ".gz", ".bz2", ".xz", ".zst")

  def formatOf(path: String): Option[String] = {
    val inner = Compression.stripExt(path)
    formats.find(f => inner.endsWith(s".$f"))
  }

  def collect(paths: Seq[String]): Seq[InputFile] = {
    val found = mutable.LinkedHashMap.empty[String, InputFile] // abs path → file
    def addFile(p: Path): Unit = {
      val abs = p.toAbsolutePath.toString
      formatOf(abs).foreach { fmt =>
        found.getOrElseUpdate(abs, InputFile(abs, fmt, TableNaming.fromPath(abs)))
      }
    }
    paths.foreach { raw =>
      val p = Paths.get(raw)
      if (Files.isDirectory(p)) {
        val stream = Files.walk(p)
        // hidden/tmp dotfiles are skipped during WALKS only — an
        // explicitly-passed file always loads
        try stream.iterator().asScala
          .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
          .toSeq.sortBy(_.toString)
          .foreach(addFile)
        finally stream.close()
      } else if (Files.isRegularFile(p)) {
        // Hadoop's file readers treat leading '.'/'_' as hidden and skip
        // them inside Spark — fail loudly rather than open a silently
        // empty session
        val fname = p.getFileName.toString
        if (fname.startsWith(".") || fname.startsWith("_"))
          throw UnsupportedFormatError(
            s"$raw (hidden file: Spark/Hadoop sources ignore names starting with '.' or '_'; rename it)")
        if (formatOf(p.toString).isEmpty) throw UnsupportedFormatError(raw)
        addFile(p)
      } else throw UnsupportedFormatError(raw)
    }
    // compressed-variant dedup (reference file_processor.go:216-246):
    // among files identical modulo compression extension (same directory,
    // same inner name) exactly one survives — uncompressed first, then
    // path order. Same-named files in DIFFERENT directories are NOT
    // deduped; they fail later with DuplicateTableError, like the
    // reference's duplicate-table check. Input/walk order is preserved
    // (registration order is observable via tableNames/sqlite_master).
    val winners = found.values.toSeq
      .groupBy(f => Compression.stripExt(f.path))
      .values.map(_.minBy(f => (Compression.forPath(f.path).isDefined, f.path)).path)
      .toSet
    found.values.toSeq.filter(f => winners.contains(f.path))
  }

  /** Read one input file; XLSX yields (sheetTable → DataFrame) per sheet. */
  def read(spark: SparkSession, f: InputFile, inferTypes: Boolean,
      csvMultiLine: Option[Boolean] = None): Seq[(String, DataFrame)] =
    f.format match {
      case "csv" => Seq(f.tableName -> CsvSource.readCsv(spark, f.path, inferTypes, csvMultiLine))
      case "tsv" => Seq(f.tableName -> CsvSource.readTsv(spark, f.path, inferTypes, csvMultiLine))
      case "ltsv" => Seq(f.tableName -> LtsvSource.read(spark, f.path, inferTypes))
      case "parquet" => Seq(f.tableName -> spark.read.parquet(f.path))
      case "orc" => Seq(f.tableName -> spark.read.orc(f.path))
      case "jsonl" => Seq(f.tableName -> JsonlSource.read(spark, f.path))
      case "xlsx" => XlsxSource.readAllSheets(spark, f.path, inferTypes)
      case other => throw UnsupportedFormatError(f.path)
    }

  def readAs(spark: SparkSession, path: String, format: String, inferTypes: Boolean,
      csvMultiLine: Option[Boolean] = None): DataFrame =
    format match {
      case "csv" => CsvSource.readCsv(spark, path, inferTypes, csvMultiLine)
      case "tsv" => CsvSource.readTsv(spark, path, inferTypes, csvMultiLine)
      case "ltsv" => LtsvSource.read(spark, path, inferTypes)
      case "parquet" => spark.read.parquet(path)
      case "orc" => spark.read.orc(path)
      case "jsonl" => JsonlSource.read(spark, path)
      case "xlsx" => XlsxSource.readFirstSheet(spark, path, inferTypes)
      case other => throw UnsupportedFormatError(path)
    }
}
