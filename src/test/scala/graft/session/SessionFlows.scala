package graft.session

import graft.{SparkSpec, TriggerAbortError}

/** The mutation, transaction, savepoint and trigger flows of
  * `GraftSessionSpec` and `TriggerSpec`, shared with
  * `PersistedVersionSpec`, which runs them again with every table
  * version persisted instead of driver-resident. Each flow asserts its
  * answers as it goes and returns the final rows of the tables it
  * touched, so the two runs can be compared whole. */
trait SessionFlows { self: SparkSpec =>

  protected def fixtures(dir: java.nio.file.Path): Unit = {
    writeFile(dir, "users.csv",
      "id,name,role,department_id\n1,Alice,admin,10\n2,Bob,user,20\n3,Carol,user,10\n")
    writeFile(dir, "departments.csv",
      "id,dept\n10,Engineering\n20,Sales\n")
  }

  /** A users table and an empty audit table, for the trigger flows. */
  protected def openSess(prefix: String): GraftSession = {
    val dir = tmpDir(prefix)
    writeFile(dir, "users.csv",
      "id,name,role,department_id\n1,Alice,admin,10\n2,Bob,user,20\n3,Carol,user,10\n")
    val s = GraftSession.open(spark, dir.toString)
    s.sql("CREATE TABLE audit (uid INTEGER, action TEXT)")
    s
  }

  protected def openViewSess(prefix: String): GraftSession = {
    val s = openSess(prefix)
    s.sql("CREATE TABLE departments (id INTEGER, dept_name TEXT)")
    s.sql("INSERT INTO departments VALUES (10, 'eng'), (20, 'ops')")
    s.sql("""CREATE VIEW staff AS
            |  SELECT u.id, u.name, d.dept_name FROM users u
            |  JOIN departments d ON d.id = u.department_id""".stripMargin)
    s
  }

  /** Every row of each table, in order, then closes the session. */
  private def finalRows(s: GraftSession, tables: String*): Seq[Seq[Any]] = {
    val rows = tables.flatMap(t => s.sql(s"SELECT * FROM $t ORDER BY 1, 2").collect().map(_.toSeq))
    s.close()
    rows
  }

  def mutationFlow(): Seq[Seq[Any]] = {
    val dir = tmpDir("dml")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("INSERT INTO users VALUES (4, 'Dan', 'user', 20)")
    assert(s.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 4)
    s.sql("INSERT INTO users (id, name) VALUES (5, 'Eve')")
    assert(s.sql("SELECT role FROM users WHERE id = 5").head().isNullAt(0))
    s.sql("UPDATE users SET role = 'admin' WHERE department_id = 20")
    assert(s.sql("SELECT COUNT(*) FROM users WHERE role = 'admin'").head().getLong(0) == 3)
    s.sql("DELETE FROM users WHERE id >= 4")
    assert(s.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 3)
    finalRows(s, "users")
  }

  /** SELECTs of each class over a mutated table, one of them joined with
    * an unmutated table, then the same over the table emptied by DELETE. */
  def selectFlow(): Seq[Seq[Any]] = {
    val dir = tmpDir("select")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("INSERT INTO users VALUES (4, 'Dan', 'user', 20), (5, 'Eve', 'admin', 10)")
    s.sql("UPDATE users SET role = 'lead' WHERE id = 2")
    def rows(q: String): Seq[String] = s.sql(q).collect().map(_.mkString("|")).toSeq
    val queries = Seq(
      "SELECT role, count(*), sum(id) FROM users GROUP BY role ORDER BY role",
      "SELECT id, row_number() OVER (PARTITION BY department_id ORDER BY id DESC) FROM users ORDER BY id",
      "WITH d AS (SELECT department_id, count(*) AS n FROM users GROUP BY department_id) " +
        "SELECT sum(n), max(n) FROM d",
      "SELECT DISTINCT role FROM users ORDER BY role",
      "SELECT id FROM users ORDER BY id LIMIT 2 OFFSET 1",
      "SELECT u.name, d.dept FROM users u JOIN departments d ON d.id = u.department_id ORDER BY u.id",
      "SELECT department_id, length(group_concat(name, ',')) FROM users " +
        "GROUP BY department_id ORDER BY department_id",
      "SELECT name FROM users WHERE id = 4")
    val mutated = queries.map(rows)
    assert(mutated == Seq(
      Seq("admin|2|6", "lead|1|2", "user|2|7"),
      Seq("1|3", "2|2", "3|2", "4|1", "5|1"),
      Seq("5|3"),
      Seq("admin", "lead", "user"),
      Seq("2", "3"),
      Seq("Alice|Engineering", "Bob|Sales", "Carol|Engineering", "Dan|Sales", "Eve|Engineering"),
      Seq("10|15", "20|7"),
      Seq("Dan")))
    s.sql("DELETE FROM users")
    assert(s.sql("SELECT changes()").head().getLong(0) == 5)
    val emptied = queries.map(rows)
    assert(emptied == Seq(Seq(), Seq(), Seq("null|null"), Seq(), Seq(), Seq(), Seq(), Seq()))
    assert(rows("SELECT count(*) FROM users") == Seq("0"))
    s.close()
    mutated ++ emptied
  }

  def transactionFlow(): Seq[Seq[Any]] = {
    val dir = tmpDir("txn")
    fixtures(dir)
    val out = tmpDir("txnout")
    val s = GraftSession.builder()
      .addPath(dir.toString)
      .enableAutoSaveOnCommit(out.toString)
      .open(spark)
    // rollback: mutations inside the txn vanish from the view
    s.sql("BEGIN")
    s.sql("DELETE FROM users WHERE id = 1")
    s.sql("INSERT INTO users VALUES (9, 'Zed', 'user', 10)")
    assert(s.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 3)
    s.sql("ROLLBACK")
    assert(s.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 3)
    assert(s.sql("SELECT COUNT(*) FROM users WHERE id = 1").head().getLong(0) == 1)
    assert(!java.nio.file.Files.exists(out.resolve("users.csv")),
      "rolled-back transaction must not auto-save")
    // commit: batched mutations apply atomically, auto-save fires at COMMIT
    s.sql("BEGIN TRANSACTION")
    s.sql("DELETE FROM users WHERE id = 2")
    assert(!java.nio.file.Files.exists(out.resolve("users.csv")),
      "auto-save-on-commit must not fire per-mutation inside a transaction")
    s.sql("COMMIT;")
    assert(java.nio.file.Files.exists(out.resolve("users.csv")))
    val s2 = GraftSession.open(spark, out.resolve("users.csv").toString)
    assert(s2.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 2)
    s2.close()
    // statement-state errors match SQLite's messages
    intercept[graft.InvalidSqlError](s.sql("COMMIT"))
    intercept[graft.InvalidSqlError](s.sql("ROLLBACK"))
    s.sql("BEGIN")
    intercept[graft.InvalidSqlError](s.sql("BEGIN"))
    s.sql("ROLLBACK")
    finalRows(s, "users")
  }

  def savepointFlow(): Seq[Seq[Any]] = {
    val dir = tmpDir("sp")
    fixtures(dir)
    val out = tmpDir("spout")
    val s = GraftSession.builder()
      .addPath(dir.toString)
      .enableAutoSaveOnCommit(out.toString)
      .open(spark)
    // implicit transaction: SAVEPOINT outside BEGIN opens one; mutations
    // are NOT auto-saved until the outermost RELEASE commits
    s.sql("SAVEPOINT outer_sp")
    s.sql("DELETE FROM users WHERE id = 3")
    assert(!java.nio.file.Files.exists(out.resolve("users.csv")),
      "savepoint-opened transaction must defer auto-save to RELEASE")
    s.sql("SAVEPOINT inner_sp")
    s.sql("DELETE FROM users WHERE id = 2")
    assert(s.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 1)
    // partial rollback: inner mutation undone, outer change kept
    s.sql("ROLLBACK TO inner_sp")
    assert(s.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 2)
    assert(s.sql("SELECT COUNT(*) FROM users WHERE id = 3").head().getLong(0) == 0)
    // the named savepoint survives ROLLBACK TO (SQLite) — release it twice
    s.sql("RELEASE SAVEPOINT inner_sp")
    intercept[graft.InvalidSqlError](s.sql("RELEASE inner_sp"))
    // releasing the outermost savepoint of the implicit txn commits +
    // auto-saves ONCE
    s.sql("RELEASE outer_sp")
    assert(java.nio.file.Files.exists(out.resolve("users.csv")))
    val s2 = GraftSession.open(spark, out.resolve("users.csv").toString)
    assert(s2.sql("SELECT COUNT(*) FROM users").head().getLong(0) == 2)
    s2.close()
    // inside an explicit BEGIN, RELEASE does NOT commit
    s.sql("BEGIN")
    s.sql("SAVEPOINT a")
    s.sql("DELETE FROM users WHERE id = 1")
    s.sql("RELEASE a")
    s.sql("ROLLBACK") // still in the BEGIN txn: everything reverts
    assert(s.sql("SELECT COUNT(*) FROM users WHERE id = 1").head().getLong(0) == 1)
    intercept[graft.InvalidSqlError](s.sql("ROLLBACK TO nowhere"))
    finalRows(s, "users")
  }

  def changesFlow(): Seq[Seq[Any]] = {
    val dir = tmpDir("changes")
    fixtures(dir)
    val s = GraftSession.builder().addPath(dir.toString).withRowId().open(spark)
    assert(s.sql("SELECT changes()").head().getLong(0) == 0)
    s.sql("INSERT INTO users (id, name) VALUES (7, 'G'), (8, 'H')")
    assert(s.sql("SELECT changes()").head().getLong(0) == 2)
    val rid = s.sql("SELECT last_insert_rowid()").head().getLong(0)
    val maxRid = s.sql("SELECT MAX(rowid) FROM users").head().getLong(0)
    assert(rid == maxRid && rid > 0)
    s.sql("UPDATE users SET role = 'x' WHERE id <= 2")
    assert(s.sql("SELECT changes()").head().getLong(0) == 2)
    s.sql("DELETE FROM users WHERE id = 999") // matches nothing
    assert(s.sql("SELECT changes()").head().getLong(0) == 0)
    s.sql("DELETE FROM users WHERE id = 1")
    assert(s.sql("SELECT changes()").head().getLong(0) == 1)
    // explicitly-inserted rowid wins even when below the current max
    s.sql("INSERT INTO users (id, name, rowid) VALUES (9, 'I', 5)")
    assert(s.sql("SELECT last_insert_rowid()").head().getLong(0) == 5)
    // a literal NULL rowid means "assign one" (SQLite), not a NULL cell
    s.sql("INSERT INTO users (id, name, rowid) VALUES (10, 'J', NULL)")
    assert(!s.sql("SELECT rowid FROM users WHERE id = 10").head().isNullAt(0))
    assert(s.sql("SELECT last_insert_rowid()").head().getLong(0) ==
      s.sql("SELECT rowid FROM users WHERE id = 10").head().getLong(0))
    // SQLite parity: the first rowid of an empty table is 1
    s.sql("CREATE TABLE fresh (rowid INTEGER, x TEXT)")
    s.sql("INSERT INTO fresh (x) VALUES ('a'), ('b')")
    assert(s.sql("SELECT rowid FROM fresh ORDER BY rowid").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    finalRows(s, "users", "fresh")
  }

  def afterInsertTriggerFlow(): Seq[Seq[Any]] = {
    val s = openSess("trg-ins")
    s.sql("""CREATE TRIGGER au AFTER INSERT ON users BEGIN
            |  INSERT INTO audit VALUES (NEW.id, 'I'); END""".stripMargin)
    s.sql("INSERT INTO users VALUES (4, 'Dan', 'user', 20), (5, 'Eve', 'user', 10)")
    s.sql("INSERT INTO users SELECT id + 10, name, role, department_id FROM users WHERE id <= 2")
    val audit = s.sql("SELECT uid, action FROM audit ORDER BY uid").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(audit == Seq((4L, "I"), (5L, "I"), (11L, "I"), (12L, "I")))
    // changes() reflects the OUTER statement, not the trigger's inserts
    s.sql("INSERT INTO users VALUES (6, 'Fay', 'user', 10)")
    assert(s.sql("SELECT changes()").head().getLong(0) == 1L)
    finalRows(s, "users", "audit")
  }

  def updateTriggerFlow(): Seq[Seq[Any]] = {
    val s = openSess("trg-upd")
    s.sql("""CREATE TRIGGER uu AFTER UPDATE ON users
            |WHEN OLD.role <> NEW.role BEGIN
            |  INSERT INTO audit (uid, action) VALUES (NEW.id, OLD.role || '>' || NEW.role);
            |END""".stripMargin)
    // matches ids 2,3 — but id 1 already admin is untouched by WHERE
    s.sql("UPDATE users SET role = 'admin' WHERE role = 'user'")
    val audit = s.sql("SELECT uid, action FROM audit ORDER BY uid").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(audit == Seq((2L, "user>admin"), (3L, "user>admin")))
    // WHEN false for every matched row → no new audit rows
    s.sql("UPDATE users SET role = 'admin' WHERE id = 1")
    assert(s.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0) == 2L)
    finalRows(s, "users", "audit")
  }

  def raiseAbortFlow(): Seq[Seq[Any]] = {
    val s = openSess("trg-raise")
    s.sql("""CREATE TRIGGER guard BEFORE INSERT ON users BEGIN
            |  INSERT INTO audit VALUES (NEW.id, 'TRY');
            |  SELECT RAISE(ABORT, 'negative id') WHERE NEW.id < 0;
            |END""".stripMargin)
    val e = intercept[TriggerAbortError](
      s.sql("INSERT INTO users VALUES (7, 'Gil', 'user', 10), (-1, 'Bad', 'user', 10)"))
    assert(e.getMessage.contains("negative id"))
    // the statement AND the trigger's own audit insert both rolled back
    assert(s.sql("SELECT COUNT(*) AS n FROM users").head().getLong(0) == 3L)
    assert(s.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0) == 0L)
    // a clean insert passes and keeps its audit row
    s.sql("INSERT INTO users VALUES (7, 'Gil', 'user', 10)")
    assert(s.sql("SELECT COUNT(*) AS n FROM users").head().getLong(0) == 4L)
    assert(s.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0) == 1L)
    finalRows(s, "users", "audit")
  }

  def raiseRollbackFlow(): Seq[Seq[Any]] = {
    val s = openSess("trg-rb")
    s.sql("""CREATE TRIGGER guard BEFORE INSERT ON users BEGIN
            |  SELECT RAISE(ROLLBACK, 'no') WHERE NEW.id > 100; END""".stripMargin)
    s.sql("BEGIN")
    s.sql("INSERT INTO users VALUES (8, 'Hal', 'user', 10)")
    intercept[TriggerAbortError](s.sql("INSERT INTO users VALUES (101, 'Ivy', 'user', 10)"))
    // whole transaction gone, including the earlier good insert
    assert(s.sql("SELECT COUNT(*) AS n FROM users").head().getLong(0) == 3L)
    // and the transaction is closed (SQLite: ROLLBACK ends it)
    s.sql("BEGIN"); s.sql("ROLLBACK")
    finalRows(s, "users")
  }

  def perRowTriggerFlow(): Seq[Seq[Any]] = {
    val s = openSess("trg-row")
    s.sql("CREATE TABLE counters (k TEXT, n INTEGER)")
    s.sql("INSERT INTO counters VALUES ('dept10', 0)")
    // body UPDATE is not vectorizable → per-row driver loop; two affected
    // rows in department 10 must increment the counter twice
    s.sql("""CREATE TRIGGER cnt AFTER UPDATE ON users
            |WHEN NEW.department_id = 10 BEGIN
            |  UPDATE counters SET n = n + 1 WHERE k = 'dept10'; END""".stripMargin)
    s.sql("UPDATE users SET role = 'z'")
    assert(s.sql("SELECT n FROM counters").head().getLong(0) == 2L)
    finalRows(s, "users", "counters")
  }

  def insteadOfFlow(): Seq[Seq[Any]] = {
    val s = openViewSess("trg-iof-upd")
    // UPDATE on the view rewrites the underlying user's name (per-row
    // fallback body: UPDATE is not a vectorizable statement)
    s.sql("""CREATE TRIGGER vu INSTEAD OF UPDATE OF name ON staff BEGIN
            |  UPDATE users SET name = NEW.name WHERE id = OLD.id;
            |END""".stripMargin)
    s.sql("""CREATE TRIGGER vd INSTEAD OF DELETE ON staff BEGIN
            |  DELETE FROM users WHERE id = OLD.id;
            |END""".stripMargin)
    s.sql("UPDATE staff SET name = 'Alicia' WHERE id = 1")
    assert(s.sql("SELECT name FROM users WHERE id = 1").head().getString(0) == "Alicia")
    s.sql("DELETE FROM staff WHERE dept_name = 'ops'")
    assert(s.sql("SELECT COUNT(*) AS n FROM users WHERE id = 2").head().getLong(0) == 0L)
    // the view reflects base-table state
    assert(s.sql("SELECT COUNT(*) AS n FROM staff").head().getLong(0) == 2L)
    finalRows(s, "users", "departments", "staff")
  }
}
