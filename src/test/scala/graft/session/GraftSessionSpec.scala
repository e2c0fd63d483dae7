package graft.session

import scala.jdk.CollectionConverters._

import graft.{DuplicateTableError, SparkSpec}
import graft.sinks.DumpOptions

/** End-to-end facade specs ≈ reference `filesql_test.go` TestOpen /
  * TestSQLQueries / integration suite shapes. */
class GraftSessionSpec extends SparkSpec with SessionFlows {

  test("open directory → tables named from files, joinable via SQL") {
    val dir = tmpDir("sess")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    assert(s.tableNames.toSet == Set("users", "departments"))
    val joined = s.sql(
      """SELECT u.name, d.dept FROM users u JOIN departments d ON u.department_id = d.id
        |ORDER BY u.id""".stripMargin).collect()
    assert(joined.length == 3)
    assert(joined.head.getString(1) == "Engineering")
    s.close()
  }

  test("sqlite_master parity view lists tables") {
    val dir = tmpDir("master")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    val names = s.sql("SELECT name FROM sqlite_master WHERE type = 'table' ORDER BY name")
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("departments", "users"))
    val ddl = s.sql("SELECT sql FROM sqlite_master WHERE name = 'users'").head().getString(0)
    assert(ddl.contains("\"id\" INTEGER"))
    s.close()
  }

  test("INSERT / UPDATE / DELETE mutation flow (integration_test.go:741-1010 shape)") {
    mutationFlow()
  }

  test("duplicate table name rejected") {
    val dir = tmpDir("dupt")
    writeFile(dir, "users.csv", "id\n1\n")
    val sub = dir.resolve("subdir")
    java.nio.file.Files.createDirectories(sub)
    java.nio.file.Files.writeString(sub.resolve("users.csv"), "id\n2\n")
    intercept[DuplicateTableError](GraftSession.open(spark, dir.toString))
  }

  test("dump to csv and reopen (S16 round trip)") {
    val dir = tmpDir("dump")
    fixtures(dir)
    val out = tmpDir("dumpout")
    val s = GraftSession.open(spark, dir.toString)
    s.dump(out.toString, DumpOptions(format = "csv"))
    s.close()
    val s2 = GraftSession.open(spark, out.toString)
    assert(s2.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 3)
    s2.close()
  }

  test("Dump.writeTable of a mutated table writes one parquet or csv file with its rows") {
    val dir = tmpDir("dump-mutated")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("INSERT INTO users VALUES (4, 'Dan', 'user', 20)")
    s.sql("DELETE FROM users WHERE id = 1")
    val want = Seq("2|Bob|user|20", "3|Carol|user|10", "4|Dan|user|20")
    Seq("parquet", "csv").foreach { format =>
      val out = tmpDir(s"dump-mutated-$format")
      graft.sinks.Dump.writeTable(s.table("users"), "users", out.toString, DumpOptions(format))
      val files = java.nio.file.Files.list(out)
      try assert(files.iterator().asScala.map(_.getFileName.toString).toSeq == Seq(s"users.$format"))
      finally files.close()
      val back = GraftSession.open(spark, out.resolve(s"users.$format").toString)
      assert(back.sql("SELECT * FROM users ORDER BY id").collect().map(_.mkString("|")).toSeq == want,
        format)
      back.close()
    }
    s.close()
  }

  test("auto-save on close writes mutated state (S17)") {
    val dir = tmpDir("autosave")
    fixtures(dir)
    val out = tmpDir("autosaveout")
    val s = GraftSession.builder()
      .addPath(dir.toString)
      .enableAutoSave(out.toString)
      .open(spark)
    s.sql("DELETE FROM users WHERE id = 1")
    s.close() // triggers dump
    val s2 = GraftSession.open(spark, out.toString)
    assert(s2.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 2)
    s2.close()
  }

  test("auto-save on commit: every mutation re-dumps (S17 OnCommit variant)") {
    val dir = tmpDir("ascommit")
    fixtures(dir)
    val out = tmpDir("ascommitout")
    val s = GraftSession.builder()
      .addPath(dir.toString)
      .enableAutoSaveOnCommit(out.toString)
      .open(spark)
    s.sql("DELETE FROM users WHERE id = 3")
    // saved immediately, before close
    assert(java.nio.file.Files.exists(out.resolve("users.csv")))
    val s2 = GraftSession.open(spark, out.resolve("users.csv").toString)
    assert(s2.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 2)
    s2.close(); s.close()
  }

  test("tableInfo: PRAGMA table_info parity shape") {
    val dir = tmpDir("ti")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    val info = s.tableInfo("users").collect()
    assert(info.map(_.getString(1)).toSeq == Seq("id", "name", "role", "department_id"))
    assert(info.head.getString(2) == "INTEGER")
    assert(info(1).getString(2) == "TEXT")
    s.close()
  }

  test("PRAGMA table_info / table_list as literal SQL statements") {
    val dir = tmpDir("pragma")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    val info = s.sql("PRAGMA table_info(users)").collect()
    assert(info.map(_.getString(1)).toSeq == Seq("id", "name", "role", "department_id"))
    assert(info.head.getInt(0) == 0 && info.head.getString(2) == "INTEGER")
    // quoted identifier + trailing semicolon forms
    assert(s.sql("PRAGMA table_info(\"departments\");").count() == 2)
    val list = s.sql("PRAGMA table_list").collect()
    assert(list.map(r => (r.getString(1), r.getInt(3))).toSet ==
      Set(("users", 4), ("departments", 2)))
    assert(list.forall(r => r.getString(0) == "main" && r.getString(2) == "table"))
    s.close()
  }

  test("transactions: ROLLBACK restores pre-BEGIN state; COMMIT auto-saves once") {
    transactionFlow()
  }

  // CREATE TRIGGER execution semantics (incl. INSTEAD OF view-directed
  // DML, executed since round 6) live in TriggerSpec; here only the
  // single-table view round trip
  test("INSTEAD OF trigger on a single-table view routes an insert to the base table") {
    val dir = tmpDir("trig")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("CREATE VIEW uv AS SELECT * FROM users")
    s.sql("""CREATE TRIGGER vi INSTEAD OF INSERT ON uv BEGIN
      |  INSERT INTO users VALUES (NEW.id, NEW.name, NEW.role, NEW.department_id); END""".stripMargin)
    s.sql("INSERT INTO uv VALUES (77, 'Via', 'user', 10)")
    assert(s.sql("SELECT COUNT(*) AS n FROM users WHERE id = 77").head().getLong(0) == 1L)
    s.close()
  }

  test("INSERT: 1,000-tuple VALUES list builds one local relation, not an N-union plan") {
    val dir = tmpDir("bigins")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    val tuples = (100 until 1100).map(i => s"($i, 'u$i', 'user', ${i % 3})").mkString(", ")
    val t0 = System.nanoTime()
    s.sql(s"INSERT INTO users VALUES $tuples")
    val n = s.sql("SELECT COUNT(*) FROM users").head().getLong(0)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(n == 1003)
    assert(elapsedSec < 30, f"1,000-tuple INSERT took $elapsedSec%.1f s — plan-size blowup")
    s.close()
  }

  test("INSERT into a rowid table assigns fresh implicit rowids, not NULL") {
    val dir = tmpDir("rowidins")
    fixtures(dir)
    val s = GraftSession.builder().addPath(dir.toString).withRowId().open(spark)
    s.sql("INSERT INTO users (id, name) VALUES (50, 'New1'), (51, 'New2')")
    val rowids = s.sql("SELECT rowid FROM users WHERE id IN (50, 51)").collect()
    assert(rowids.forall(!_.isNullAt(0)), "inserted rows must get real rowids")
    val all = s.sql("SELECT rowid FROM users").collect().map(_.getLong(0))
    assert(all.distinct.length == all.length, "rowids must stay unique after insert")
    s.close()
  }

  test("DDL surface: CREATE TABLE (defs + AS SELECT), DROP, ALTER, no-op index statements") {
    val dir = tmpDir("ddl")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    // CREATE TABLE with column defs → empty typed table, visible in catalog
    s.sql("CREATE TABLE audit (id INTEGER PRIMARY KEY, note TEXT, score REAL, payload BLOB)")
    assert(s.sql("SELECT COUNT(*) FROM audit").head().getLong(0) == 0)
    val info = s.sql("PRAGMA table_info(audit)").collect()
    assert(info.map(r => (r.getString(1), r.getString(2))).toSeq ==
      Seq(("id", "INTEGER"), ("note", "TEXT"), ("score", "REAL"), ("payload", "BLOB")))
    s.sql("INSERT INTO audit (id, note) VALUES (1, 'first')")
    assert(s.sql("SELECT note FROM audit WHERE id = 1").head().getString(0) == "first")
    // IF NOT EXISTS is a no-op on an existing table; plain CREATE errors
    s.sql("CREATE TABLE IF NOT EXISTS audit (x TEXT)")
    assert(s.sql("SELECT COUNT(*) FROM audit").head().getLong(0) == 1)
    intercept[graft.DuplicateTableError](s.sql("CREATE TABLE audit (x TEXT)"))
    // CTAS materializes: later source mutations must not leak in
    s.sql("CREATE TABLE admins AS SELECT id, name FROM users WHERE role = 'admin'")
    assert(s.sql("SELECT name FROM admins").head().getString(0) == "Alice")
    s.sql("DELETE FROM users WHERE role = 'admin'")
    assert(s.sql("SELECT COUNT(*) FROM admins").head().getLong(0) == 1)
    assert(s.sql("SELECT name FROM sqlite_master WHERE name = 'admins'").count() == 1)
    // ALTER: rename table, rename column, add column with default, drop column
    s.sql("ALTER TABLE admins RENAME TO staff")
    assert(s.tableNames.contains("staff") && !s.tableNames.contains("admins"))
    s.sql("ALTER TABLE staff RENAME COLUMN name TO full_name")
    assert(s.sql("SELECT full_name FROM staff").head().getString(0) == "Alice")
    s.sql("ALTER TABLE staff ADD COLUMN grade INTEGER DEFAULT 3")
    assert(s.sql("SELECT grade FROM staff").head().getLong(0) == 3)
    s.sql("ALTER TABLE staff ADD COLUMN note TEXT")
    assert(s.sql("SELECT note FROM staff").head().isNullAt(0))
    // quoted / negative / parenthesized-type defaults must all parse,
    // and a DEFAULT literal containing 'INT' must not flip the affinity
    s.sql("ALTER TABLE staff ADD COLUMN tier TEXT DEFAULT 'gold'")
    assert(s.sql("SELECT tier FROM staff").head().getString(0) == "gold")
    s.sql("ALTER TABLE staff ADD COLUMN delta INTEGER DEFAULT -1")
    assert(s.sql("SELECT delta FROM staff").head().getLong(0) == -1L)
    s.sql("ALTER TABLE staff ADD COLUMN ratio DECIMAL(10,2) DEFAULT 2.5")
    assert(s.sql("SELECT ratio FROM staff").head().getDouble(0) == 2.5)
    s.sql("ALTER TABLE staff ADD COLUMN dept TEXT DEFAULT 'integration'")
    assert(s.sql("SELECT dept FROM staff").head().getString(0) == "integration")
    // no declared type: the DEFAULT's natural type stands
    s.sql("ALTER TABLE staff ADD COLUMN flag DEFAULT 0")
    assert(s.sql("SELECT flag FROM staff").head().getInt(0) == 0)
    // a semicolon inside the DEFAULT literal must not break parsing
    s.sql("ALTER TABLE staff ADD COLUMN sep TEXT DEFAULT 'a;b'")
    assert(s.sql("SELECT sep FROM staff").head().getString(0) == "a;b")
    s.sql("ALTER TABLE staff DROP COLUMN note")
    assert(!s.table("staff").columns.contains("note"))
    // DROP TABLE removes view + catalog row; IF EXISTS tolerates absence
    s.sql("DROP TABLE staff")
    assert(!s.tableNames.contains("staff"))
    assert(s.sql("SELECT name FROM sqlite_master WHERE name = 'staff'").count() == 0)
    s.sql("DROP TABLE IF EXISTS staff")
    intercept[graft.InvalidSqlError](s.sql("DROP TABLE staff"))
    // index/maintenance statements are accepted no-ops
    s.sql("CREATE INDEX idx_users_role ON users(role)")
    s.sql("DROP INDEX idx_users_role")
    s.sql("VACUUM")
    s.sql("ANALYZE")
    // INSERT OR REPLACE / OR IGNORE parse as plain inserts (no unique
    // constraints exist on file-backed tables to conflict with)
    s.sql("INSERT OR REPLACE INTO audit (id, note) VALUES (2, 'second')")
    s.sql("INSERT OR IGNORE INTO audit (id, note) VALUES (3, 'third')")
    assert(s.sql("SELECT COUNT(*) FROM audit").head().getLong(0) == 3)
    s.close()
  }

  test("changes() and last_insert_rowid() report the last DML's effect") {
    changesFlow()
  }

  test("BLOB column dumps as its bytes, not a JVM array identity") {
    val dir = tmpDir("blobdump")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("CREATE TABLE files (fid INTEGER, payload BLOB)")
    s.sql("INSERT INTO files VALUES (1, CAST('hello bytes' AS BINARY))")
    val out = tmpDir("blobdumpout")
    s.dump(out.toString)
    val dumped = java.nio.file.Files.readString(out.resolve("files.csv"))
    assert(dumped.contains("hello bytes"), s"dump rendered: $dumped")
    assert(!dumped.contains("[B@"))
    val s2 = GraftSession.open(spark, out.resolve("files.csv").toString)
    assert(s2.sql("SELECT payload FROM files").head().getString(0) == "hello bytes")
    s2.close()
    // non-UTF-8 binary renders as the lossless X'hex' literal, never U+FFFD
    s.sql("INSERT INTO files VALUES (2, x'FF00AB')")
    val out2 = tmpDir("blobdumpout2")
    s.dump(out2.toString)
    val dumped2 = java.nio.file.Files.readString(out2.resolve("files.csv"))
    assert(dumped2.contains("X'FF00AB'"), s"dump rendered: $dumped2")
    assert(!dumped2.contains("�"))
    // typed parquet is the lossless binary round-trip path
    val out3 = tmpDir("blobdumpout3")
    s.dump(out3.toString, graft.sinks.DumpOptions(format = "parquet"))
    val s3 = GraftSession.open(spark, out3.resolve("files.parquet").toString)
    val bytes = s3.sql("SELECT payload FROM files WHERE fid = 2").head().getAs[Array[Byte]](0)
    assert(bytes.toSeq == Seq(0xFF.toByte, 0x00.toByte, 0xAB.toByte))
    s3.close()
    s.close()
  }

  test("DDL inside a transaction: CREATE + mutate roll back cleanly") {
    val dir = tmpDir("ddltxn")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("BEGIN")
    s.sql("CREATE TABLE scratch AS SELECT * FROM users")
    s.sql("ALTER TABLE users ADD COLUMN tmp INTEGER")
    assert(s.tableNames.contains("scratch"))
    s.sql("ROLLBACK")
    assert(!s.tableNames.contains("scratch"))
    assert(!s.table("users").columns.contains("tmp"))
    // the rolled-back table's temp view is gone too
    intercept[Exception](spark.sql("SELECT * FROM scratch").collect())
    s.close()
  }

  test("distributed sink: directory output with partitioning (100TB path)") {
    val dir = tmpDir("dist")
    fixtures(dir)
    val out = tmpDir("distout").resolve("users_dist")
    val s = GraftSession.open(spark, dir.toString)
    graft.sinks.Dump.writeDistributed(s.table("users"), out.toString, "parquet",
      partitionBy = Seq("department_id"))
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 3)
    assert(java.nio.file.Files.list(out).iterator().asScala.exists(
      _.getFileName.toString.startsWith("department_id=")))
    s.close()
  }

  test("parquet all-string parity mode writes UTF-8 columns like the reference") {
    val dir = tmpDir("allstr")
    fixtures(dir)
    val out = tmpDir("allstrout")
    val s = GraftSession.open(spark, dir.toString)
    s.dump(out.toString, DumpOptions(format = "parquet", parquetAllString = true))
    s.close()
    val back = spark.read.parquet(out.resolve("users.parquet").toString)
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
    assert(back.count() == 3)
  }

  test("dialect shims: strftime, julianday, ifnull, group_concat, json_extract, printf") {
    val dir = tmpDir("dialect")
    writeFile(dir, "ev.csv",
      "id,ts,meta\n1,2024-03-05 10:30:00,\"{\"\"k\"\": 7}\"\n2,2024-03-06 11:00:00,\"{\"\"k\"\": 9}\"\n")
    val s = GraftSession.open(spark, dir.toString)
    assert(s.sql("SELECT strftime('%Y-%m', ts) FROM ev WHERE id = 1").head().getString(0) == "2024-03")
    assert(s.sql("SELECT strftime('%H', ts) FROM ev WHERE id = 1").head().getString(0) == "10")
    val jd = s.sql("SELECT julianday(ts) FROM ev WHERE id = 1").head().getDouble(0)
    assert(math.abs(jd - 2460374.9375) < 1e-6)
    assert(s.sql("SELECT ifnull(NULL, 'x')").head().getString(0) == "x")
    assert(s.sql("SELECT group_concat(id) FROM ev").head().getString(0).split(",").toSet == Set("1", "2"))
    assert(s.sql("SELECT json_extract(meta, '$.k') FROM ev WHERE id = 2").head().getString(0) == "9")
    assert(s.sql("SELECT printf('%d-%s', id, 'a') FROM ev WHERE id = 1").head().getString(0) == "1-a")
    assert(s.sql("SELECT date(ts) FROM ev WHERE id = 1").head().getString(0) == "2024-03-05")
    assert(s.sql("SELECT iif(1 < 2, 'yes', 'no')").head().getString(0) == "yes")
    assert(s.sql("SELECT glob('202?-03-*', '2024-03-05')").head().getBoolean(0))
    assert(!s.sql("SELECT glob('202?-04-*', '2024-03-05')").head().getBoolean(0))
    assert(s.sql("SELECT glob('[0-9]*x', '42x')").head().getBoolean(0))
    // SQLite class semantics: '!' is a literal member, '^' negates,
    // a ']' right after '[' is literal
    assert(s.sql("SELECT glob('[!a]x', 'ax')").head().getBoolean(0))
    assert(s.sql("SELECT glob('[!a]x', '!x')").head().getBoolean(0))
    assert(!s.sql("SELECT glob('[!a]x', 'bx')").head().getBoolean(0))
    assert(!s.sql("SELECT glob('[^a]x', 'ax')").head().getBoolean(0))
    assert(s.sql("SELECT glob('[^a]x', 'bx')").head().getBoolean(0))
    assert(s.sql("SELECT glob('[]]', ']')").head().getBoolean(0))
    assert(s.sql("SELECT glob(NULL, 'x')").head().isNullAt(0))
    assert(s.sql("SELECT total(id) FROM ev").head().getDouble(0) == 3.0)
    assert(s.sql("SELECT total(id) FROM ev WHERE id > 99").head().getDouble(0) == 0.0)
    // strftime arithmetic directives: %s unix seconds, %w Sunday-0 weekday
    assert(s.sql("SELECT strftime('%s', ts) FROM ev WHERE id = 1").head().getString(0) ==
      "1709634600") // 2024-03-05 10:30:00 UTC
    assert(s.sql("SELECT strftime('%w', ts) FROM ev WHERE id = 1").head().getString(0) == "2") // Tuesday
    assert(s.sql("SELECT strftime('%Y@%s', ts) FROM ev WHERE id = 1").head().getString(0) ==
      "2024@1709634600") // mixed pattern + arithmetic segments
    // quote: SQL-literal rendering
    assert(s.sql("SELECT quote('it''s')").head().getString(0) == "'it''s'")
    assert(s.sql("SELECT quote(NULL)").head().getString(0) == "NULL")
    assert(s.sql("SELECT quote(42)").head().getString(0) == "42")
    assert(s.sql("SELECT quote(CAST('ab' AS BINARY))").head().getString(0) == "X'6162'")
    // char (variadic), unicode, zeroblob
    assert(s.sql("SELECT char(72, 105)").head().getString(0) == "Hi")
    // true unicode codepoints — Spark's chr(n % 256) would give chr(31)
    assert(s.sql("SELECT char(1055, 128640)").head().getString(0) == "П🚀")
    // SQLite semantics: NULL → codepoint 0, out-of-range → U+FFFD
    assert(s.sql("SELECT char(65, NULL, 66)").head().getString(0) == "A B")
    assert(s.sql("SELECT char(65, -1, 66)").head().getString(0) == "A�B")
    assert(s.sql("SELECT unicode('A')").head().getInt(0) == 65)
    assert(s.sql("SELECT length(zeroblob(4))").head().getInt(0) == 4)
    // typeof: SQLite storage-class names
    assert(s.sql("SELECT typeof(id) FROM ev WHERE id = 1").head().getString(0) == "integer")
    assert(s.sql("SELECT typeof('x')").head().getString(0) == "text")
    assert(s.sql("SELECT typeof(1.5)").head().getString(0) == "real")
    assert(s.sql("SELECT typeof(NULL)").head().getString(0) == "null")
    assert(s.sql("SELECT typeof(CAST('x' AS BINARY))").head().getString(0) == "blob")
    s.close()
  }

  test("CREATE VIEW lists in sqlite_master/table_list, tracks mutations, DROP removes it") {
    val dir = tmpDir("views")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("CREATE VIEW admins AS SELECT id, name FROM users WHERE role = 'admin'")
    // catalog surface: type='view' with the defining SQL, like SQLite
    val master = s.sql("SELECT type, name, sql FROM sqlite_master WHERE type = 'view'").collect()
    assert(master.length == 1)
    assert(master.head.getString(1) == "admins")
    assert(master.head.getString(2).toUpperCase.startsWith("CREATE VIEW"))
    val listed = s.sql("PRAGMA table_list").collect()
      .map(r => (r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(listed.contains(("admins", "view", 2)))
    // dynamic semantics: the view re-resolves after base-table mutations
    assert(s.sql("SELECT COUNT(*) FROM admins").head().getLong(0) == 1)
    s.sql("UPDATE users SET role = 'admin' WHERE id = 2")
    assert(s.sql("SELECT COUNT(*) FROM admins").head().getLong(0) == 2)
    // name collisions: with a table, with itself; IF NOT EXISTS is quiet
    intercept[DuplicateTableError](s.sql("CREATE VIEW users AS SELECT 1"))
    intercept[DuplicateTableError](s.sql("CREATE VIEW admins AS SELECT 1"))
    s.sql("CREATE VIEW IF NOT EXISTS admins AS SELECT 1")
    assert(s.sql("SELECT COUNT(*) FROM admins").head().getLong(0) == 2)
    // DROP VIEW removes it from the catalog and the query surface
    s.sql("DROP VIEW admins")
    assert(s.sql("SELECT COUNT(*) FROM sqlite_master WHERE type = 'view'").head().getLong(0) == 0)
    assert(!s.sql("PRAGMA table_list").collect().exists(_.getString(1) == "admins"))
    intercept[graft.InvalidSqlError](s.sql("DROP VIEW admins"))
    s.sql("DROP VIEW IF EXISTS admins") // quiet
    s.close()
  }

  test("views participate in transactions: created-in-txn view rolls back") {
    val dir = tmpDir("viewtxn")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("BEGIN")
    s.sql("CREATE VIEW v1 AS SELECT id FROM users")
    assert(s.sql("SELECT COUNT(*) FROM sqlite_master WHERE name = 'v1'").head().getLong(0) == 1)
    s.sql("ROLLBACK")
    assert(s.sql("SELECT COUNT(*) FROM sqlite_master WHERE name = 'v1'").head().getLong(0) == 0)
    s.close()
  }

  test("SAVEPOINT / RELEASE / ROLLBACK TO: nested partial rollback, implicit-txn commit") {
    savepointFlow()
  }

  test("unknown PRAGMAs answer benignly instead of leaking a parse error") {
    val dir = tmpDir("pragma2")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    // version pragmas: one row, value 0 (fresh-database default)
    val uv = s.sql("PRAGMA user_version").collect()
    assert(uv.length == 1 && uv.head.getLong(0) == 0L)
    assert(s.sql("PRAGMA schema_version").head().getLong(0) == 0L)
    // unintercepted pragmas (with and without args): empty result, no throw
    assert(s.sql("PRAGMA index_list(users)").collect().isEmpty)
    assert(s.sql("PRAGMA journal_mode = WAL").collect().isEmpty)
    assert(s.sql("PRAGMA cache_size").collect().isEmpty)
    // SQLite maintenance statements: honest no-ops (Catalyst re-derives
    // statistics per plan; nothing to vacuum/reindex on temp views)
    assert(s.sql("VACUUM").collect().isEmpty)
    assert(s.sql("ANALYZE").collect().isEmpty)
    assert(s.sql("ANALYZE users").collect().isEmpty)
    assert(s.sql("REINDEX users").collect().isEmpty)
    // tables still query fine afterwards
    assert(s.sql("SELECT COUNT(*) FROM users").head().getLong(0) > 0)
    // near-miss garbage is NOT swallowed as a maintenance no-op
    intercept[Exception](s.sql("VACUUMING"))
    intercept[Exception](s.sql("REINDEXED users"))
    s.close()
  }

  test("user_version is writable and transactional; schema_version ticks on DDL") {
    val dir = tmpDir("uv")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    // the standard SQLite migration idiom: set, read back
    s.sql("PRAGMA user_version = 5")
    assert(s.sql("PRAGMA user_version").head().getLong(0) == 5L)
    // transactional like the rest of the database state
    s.sql("BEGIN")
    s.sql("PRAGMA user_version = 9")
    assert(s.sql("PRAGMA user_version").head().getLong(0) == 9L)
    s.sql("ROLLBACK")
    assert(s.sql("PRAGMA user_version").head().getLong(0) == 5L)
    val sv0 = s.sql("PRAGMA schema_version").head().getLong(0)
    s.sql("CREATE TABLE svt (x INT)")
    assert(s.sql("PRAGMA schema_version").head().getLong(0) == sv0 + 1)
    // schema_version rolls back with the header: a rolled-back DDL must
    // not leave it incremented (SQLite reports the pre-txn value)
    s.sql("BEGIN")
    s.sql("CREATE TABLE svt2 (x INT)")
    s.sql("ROLLBACK")
    assert(s.sql("PRAGMA schema_version").head().getLong(0) == sv0 + 1)
    // SQLite-legal signed forms; out-of-int32 values store 0 (SQLite
    // 3.40 behavior — it does NOT bit-truncate)
    s.sql("PRAGMA user_version = +7")
    assert(s.sql("PRAGMA user_version").head().getLong(0) == 7L)
    s.sql("PRAGMA user_version = 4294967299") // outside int32 → 0
    assert(s.sql("PRAGMA user_version").head().getLong(0) == 0L)
    s.sql("PRAGMA user_version = -1")
    assert(s.sql("PRAGMA user_version").head().getLong(0) == -1L)
    s.sql("PRAGMA user_version = 99999999999999999999") // beyond Long: no crash, 0
    assert(s.sql("PRAGMA user_version").head().getLong(0) == 0L)
    // hex and quoted integer literals (SQLite accepts both)
    s.sql("PRAGMA user_version = 0x10")
    assert(s.sql("PRAGMA user_version").head().getLong(0) == 16L)
    s.sql("PRAGMA user_version = '7'")
    assert(s.sql("PRAGMA user_version").head().getLong(0) == 7L)
    s.close()
  }

  test("a user_version-only transaction does not fire a wasted auto-save dump") {
    val dir = tmpDir("uvas")
    fixtures(dir)
    val out = tmpDir("uvasout")
    val s = GraftSession.builder()
      .addPath(dir.toString)
      .enableAutoSaveOnCommit(out.toString)
      .open(spark)
    s.sql("BEGIN")
    s.sql("PRAGMA user_version = 42")
    s.sql("COMMIT")
    // the dump is tables-only and cannot persist user_version — firing a
    // full re-dump for a version-only transaction is pure wasted I/O
    assert(!java.nio.file.Files.exists(out.resolve("users.csv")))
    // a real mutation still auto-saves
    s.sql("DELETE FROM users WHERE id = 3")
    assert(java.nio.file.Files.exists(out.resolve("users.csv")))
    s.close()
  }

  test("tables and views share one namespace; view defs survive restores un-re-parsed") {
    val dir = tmpDir("ns")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("CREATE VIEW v AS SELECT id FROM users")
    // SQLite: "there is already a view named v"
    intercept[DuplicateTableError](s.sql("CREATE TABLE v (x INT)"))
    intercept[DuplicateTableError](s.sql("CREATE TABLE v AS SELECT 1 AS one"))
    s.sql("CREATE TABLE IF NOT EXISTS v (x INT)") // quiet; the view is intact
    assert(s.sql("SELECT COUNT(*) FROM sqlite_master WHERE name = 'v' AND type = 'view'")
      .head().getLong(0) == 1)
    s.sql("CREATE TABLE t2 (x INT)")
    intercept[DuplicateTableError](s.sql("ALTER TABLE t2 RENAME TO v"))
    // a quoted view name containing the word "as" must survive a snapshot
    // restore — the registry stores the extracted SELECT, nothing re-parses
    // the statement during ROLLBACK
    s.sql("""CREATE VIEW "all as of" AS SELECT id FROM users""")
    s.sql("BEGIN")
    s.sql("DELETE FROM users WHERE id = 1")
    s.sql("ROLLBACK")
    assert(s.sql("SELECT COUNT(*) FROM `all as of`").head().getLong(0) == 3)
    s.close()
  }

  test("ROLLBACK TO a clean savepoint suppresses the commit auto-save") {
    val dir = tmpDir("spclean")
    fixtures(dir)
    val out = tmpDir("spcleanout")
    val s = GraftSession.builder()
      .addPath(dir.toString)
      .enableAutoSaveOnCommit(out.toString)
      .open(spark)
    s.sql("BEGIN")
    s.sql("SAVEPOINT sp")
    s.sql("DELETE FROM users WHERE id = 2")
    s.sql("ROLLBACK TO sp")
    s.sql("RELEASE sp")
    s.sql("COMMIT")
    assert(!java.nio.file.Files.exists(out.resolve("users.csv")),
      "net-clean transaction must not fire a dump pass")
    // a genuinely dirty transaction still auto-saves once
    s.sql("BEGIN")
    s.sql("DELETE FROM users WHERE id = 3")
    s.sql("COMMIT")
    assert(java.nio.file.Files.exists(out.resolve("users.csv")))
    s.close()
  }

  test("200 chained mutations stay fast: plan depth is bounded by materialised versions") {
    val dir = tmpDir("chain")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    def planNodes = s.table("users").queryExecution.analyzed.collect { case n => n }.length
    val start = System.nanoTime()
    var afterFirst = 0
    (1 to 100).foreach { i =>
      s.sql(s"UPDATE users SET name = 'u$i' WHERE id = 1")
      if (i == 1) afterFirst = planNodes
      s.sql(s"INSERT INTO users VALUES (${100 + i}, 'x$i', 'user', 10)")
    }
    s.sql("DELETE FROM users WHERE id > 150")
    val elapsedSec = (System.nanoTime() - start) / 1e9
    // each statement builds the next version from stored rows: the
    // table's plan after mutation 200 is no deeper than after mutation 1
    assert(planNodes == afterFirst)
    assert(s.sql("SELECT name FROM users WHERE id = 1").head().getString(0) == "u100")
    assert(s.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 53)
    // a lazy lineage would make this chain's analysis cost grow
    // superlinearly; generous bound so CI noise can't flake it
    assert(elapsedSec < 120, s"mutation chain took ${elapsedSec}s - plan depth unbounded?")
    s.close()
  }

  test("a DML statement that fails at run time leaves the table, changes() and the transaction as they were") {
    val dir = tmpDir("faildml")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    def deptSum = s.sql("SELECT sum(department_id) FROM users").head().getLong(0)
    val failing = "UPDATE users SET department_id = assert_true(id < 0) WHERE id = 3"
    // first mutation: the table is still its opened scan
    s.sql("DELETE FROM users WHERE id = 999")
    intercept[Exception](s.sql(failing))
    assert(s.sql("SELECT changes()").head().getLong(0) == 0)
    assert(deptSum == 40)
    s.sql("INSERT INTO users VALUES (4, 'Dan', 'user', 20)")
    assert(deptSum == 60)
    // later mutations: the table is a materialised version
    intercept[Exception](s.sql(failing))
    assert(s.sql("SELECT changes()").head().getLong(0) == 1)
    assert(deptSum == 60)
    // inside a transaction the failure aborts only its statement
    s.sql("BEGIN")
    s.sql("DELETE FROM users WHERE id = 4")
    intercept[Exception](s.sql(failing))
    assert(s.sql("SELECT changes()").head().getLong(0) == 1)
    assert(deptSum == 40)
    s.sql("UPDATE users SET department_id = 30 WHERE id = 3")
    assert(deptSum == 60)
    s.sql("ROLLBACK")
    assert(deptSum == 60)
    s.close()
  }
}
