package graft.session

import graft.{InvalidSqlError, SparkSpec, TriggerAbortError, UnsupportedStatementError}

/** SQLite CREATE TRIGGER surface (reference README.md:333 — triggers are
  * promised via the embedded SQLite engine). Covers both execution paths:
  * the set-based INSERT-VALUES/RAISE path and the per-row fallback. */
class TriggerSpec extends SparkSpec with SessionFlows {

  test("AFTER INSERT audit trigger fires per inserted row (set-based path)") {
    afterInsertTriggerFlow()
  }

  test("UPDATE trigger binds OLD and NEW; WHEN filters affected rows") {
    updateTriggerFlow()
  }

  test("UPDATE OF fires only when a listed column is assigned") {
    val s = openSess("trg-of")
    s.sql("""CREATE TRIGGER un AFTER UPDATE OF name ON users BEGIN
            |  INSERT INTO audit VALUES (NEW.id, 'N'); END""".stripMargin)
    s.sql("UPDATE users SET role = 'x' WHERE id = 1") // not OF name
    assert(s.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0) == 0L)
    s.sql("UPDATE users SET name = upper(name) WHERE id <= 2")
    assert(s.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0) == 2L)
    s.close()
  }

  test("DELETE trigger binds OLD; default timing is BEFORE") {
    val s = openSess("trg-del")
    s.sql("""CREATE TRIGGER dl DELETE ON users BEGIN
            |  INSERT INTO audit VALUES (OLD.id, 'D'); END""".stripMargin)
    s.sql("DELETE FROM users WHERE department_id = 10")
    val audit = s.sql("SELECT uid FROM audit ORDER BY uid").collect().map(_.getLong(0)).toSeq
    assert(audit == Seq(1L, 3L))
    assert(s.sql("SELECT COUNT(*) AS n FROM users").head().getLong(0) == 1L)
    s.close()
  }

  test("RAISE(ABORT) validation trigger rolls back the whole statement") {
    raiseAbortFlow()
  }

  test("RAISE(ROLLBACK) undoes the enclosing transaction") {
    raiseRollbackFlow()
  }

  test("per-row fallback: counter UPDATE body fires once per affected row") {
    perRowTriggerFlow()
  }

  test("per-row fallback substitutes NEW literals incl. strings with quotes") {
    val s = openSess("trg-sub")
    s.sql("CREATE TABLE log (msg TEXT)")
    s.sql("""CREATE TRIGGER lg AFTER INSERT ON users BEGIN
            |  INSERT INTO log SELECT NEW.name || '!' FROM (SELECT 1) one; END""".stripMargin)
    s.sql("INSERT INTO users VALUES (9, 'O''Brien', 'user', 20)")
    assert(s.sql("SELECT msg FROM log").head().getString(0) == "O'Brien!")
    s.close()
  }

  test("trigger-body mutations do not re-fire triggers (recursive_triggers OFF)") {
    val s = openSess("trg-rec")
    s.sql("""CREATE TRIGGER self AFTER INSERT ON users BEGIN
            |  INSERT INTO users VALUES (NEW.id + 1000, 'shadow', 'bot', 0); END""".stripMargin)
    s.sql("INSERT INTO users VALUES (10, 'Jan', 'user', 10)")
    // exactly one shadow row — no cascade from the trigger's own insert
    val ids = s.sql("SELECT id FROM users WHERE id >= 10 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    assert(ids == Seq(10L, 1010L))
    s.close()
  }

  test("sqlite_master lists triggers; DROP TRIGGER and DROP TABLE cascade") {
    val s = openSess("trg-meta")
    s.sql("CREATE TRIGGER t1 AFTER INSERT ON users BEGIN INSERT INTO audit VALUES (NEW.id, 'I'); END")
    s.sql("CREATE TRIGGER t2 AFTER DELETE ON users BEGIN INSERT INTO audit VALUES (OLD.id, 'D'); END")
    val listed = s.sql(
      "SELECT name, tbl_name FROM sqlite_master WHERE type = 'trigger' ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(listed == Seq(("t1", "users"), ("t2", "users")))
    val sqlText = s.sql("SELECT sql FROM sqlite_master WHERE name = 't1'").head().getString(0)
    assert(sqlText.toUpperCase.startsWith("CREATE TRIGGER"))
    intercept[InvalidSqlError](
      s.sql("CREATE TRIGGER t1 AFTER INSERT ON users BEGIN SELECT 1; END"))
    s.sql("DROP TRIGGER t1")
    s.sql("DROP TRIGGER IF EXISTS missing")
    intercept[InvalidSqlError](s.sql("DROP TRIGGER missing"))
    s.sql("DROP TABLE users")
    assert(s.sql("SELECT COUNT(*) AS n FROM sqlite_master WHERE type = 'trigger'")
      .head().getLong(0) == 0L)
    s.close()
  }

  test("transaction ROLLBACK restores the trigger registry") {
    val s = openSess("trg-txn")
    s.sql("BEGIN")
    s.sql("CREATE TRIGGER tx AFTER INSERT ON users BEGIN INSERT INTO audit VALUES (NEW.id, 'I'); END")
    s.sql("ROLLBACK")
    assert(s.sql("SELECT COUNT(*) AS n FROM sqlite_master WHERE type = 'trigger'")
      .head().getLong(0) == 0L)
    s.sql("INSERT INTO users VALUES (11, 'Kim', 'user', 10)")
    assert(s.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0) == 0L)
    s.close()
  }

  test("per-row cap guards driver loops; RAISE(IGNORE) is a typed rejection") {
    val s = openSess("trg-cap")
    s.sql("CREATE TABLE counters (k TEXT, n INTEGER)")
    s.sql("INSERT INTO counters VALUES ('c', 0)")
    s.sql("""CREATE TRIGGER cnt AFTER UPDATE ON users BEGIN
            |  UPDATE counters SET n = n + 1 WHERE k = 'c'; END""".stripMargin)
    spark.conf.set("spark.graft.trigger.maxRows", "2")
    try {
      val e = intercept[InvalidSqlError](s.sql("UPDATE users SET role = 'q'")) // 3 rows > cap 2
      assert(e.getMessage.contains("maxRows"))
      // the statement rolled back whole
      assert(s.sql("SELECT COUNT(*) AS n FROM users WHERE role = 'q'").head().getLong(0) == 0L)
    } finally spark.conf.unset("spark.graft.trigger.maxRows")
    s.sql("""CREATE TRIGGER ig AFTER DELETE ON users BEGIN
            |  SELECT RAISE(IGNORE); END""".stripMargin)
    intercept[UnsupportedStatementError](s.sql("DELETE FROM users WHERE id = 1"))
    s.close()
  }

  test("BEFORE INSERT body inserting into the same table keeps both rows") {
    val s = openSess("trg-self-before")
    s.sql("""CREATE TRIGGER pre BEFORE INSERT ON users BEGIN
            |  INSERT INTO users VALUES (NEW.id + 500, 'pre', 'bot', 0); END""".stripMargin)
    s.sql("INSERT INTO users VALUES (20, 'Max', 'user', 10)")
    // SQLite (recursive_triggers off) keeps the body's row AND the
    // statement's row
    val ids = s.sql("SELECT id FROM users WHERE id >= 20 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq
    assert(ids == Seq(20L, 520L))
    s.close()
  }

  test("AFTER trigger binds OLD from PRE-statement state even with subquery WHERE") {
    val s = openSess("trg-subq")
    s.sql("""CREATE TRIGGER dl AFTER DELETE ON users BEGIN
            |  INSERT INTO audit VALUES (OLD.id, 'D'); END""".stripMargin)
    // the IN-subquery reads the same table the statement mutates: the
    // trigger's OLD set must resolve it against the PRE-delete state
    s.sql("DELETE FROM users WHERE id IN (SELECT MAX(id) FROM users)")
    assert(s.sql("SELECT uid FROM audit").head().getLong(0) == 3L)
    assert(s.sql("SELECT COUNT(*) AS n FROM users").head().getLong(0) == 2L)
    s.close()
  }

  test("RAISE embedded in a CASE aborts conditionally on the per-row path") {
    val s = openSess("trg-case-raise")
    s.sql("""CREATE TRIGGER guard BEFORE INSERT ON users BEGIN
            |  SELECT CASE WHEN NEW.id < 0 THEN RAISE(ABORT, 'neg id') END;
            |END""".stripMargin)
    s.sql("INSERT INTO users VALUES (21, 'Nia', 'user', 10)") // passes
    assert(s.sql("SELECT COUNT(*) AS n FROM users").head().getLong(0) == 4L)
    val e = intercept[graft.TriggerAbortError](
      s.sql("INSERT INTO users VALUES (-5, 'Bad', 'user', 10)"))
    assert(e.getMessage.contains("neg id"))
    assert(s.sql("SELECT COUNT(*) AS n FROM users").head().getLong(0) == 4L)
    s.close()
  }

  test("quoted column list in a vectorized INSERT body resolves") {
    val s = openSess("trg-quoted")
    s.sql("""CREATE TRIGGER au AFTER INSERT ON users BEGIN
            |  INSERT INTO audit ("uid", action) VALUES (NEW.id, 'I'); END""".stripMargin)
    s.sql("INSERT INTO users VALUES (22, 'Oz', 'user', 20)")
    assert(s.sql("SELECT uid FROM audit").head().getLong(0) == 22L)
    s.close()
  }

  // ------------------------------------------------ INSTEAD OF (views)

  test("INSTEAD OF INSERT routes view inserts into both base tables") {
    val s = openViewSess("trg-iof-ins")
    s.sql("""CREATE TRIGGER vi INSTEAD OF INSERT ON staff BEGIN
            |  INSERT INTO departments VALUES (NEW.id * 10, NEW.dept_name);
            |  INSERT INTO users VALUES (NEW.id, NEW.name, 'user', NEW.id * 10);
            |END""".stripMargin)
    s.sql("INSERT INTO staff VALUES (7, 'Gil', 'qa'), (8, 'Hal', 'ml')")
    assert(s.sql("SELECT changes()").head().getLong(0) == 2L)
    val got = s.sql("SELECT id, name, dept_name FROM staff WHERE id >= 7 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((7L, "Gil", "qa"), (8L, "Hal", "ml")))
    s.close()
  }

  test("INSTEAD OF UPDATE and DELETE bind OLD/NEW from the view rows") {
    insteadOfFlow()
  }

  test("view DML without a matching INSTEAD OF trigger is rejected; timing/target rules hold") {
    val s = openViewSess("trg-iof-rules")
    intercept[InvalidSqlError] { s.sql("INSERT INTO staff VALUES (9, 'Ida', 'qa')") }
    // INSTEAD OF on a table / BEFORE on a view are both SQLite errors
    intercept[InvalidSqlError] {
      s.sql("CREATE TRIGGER bad1 INSTEAD OF INSERT ON users BEGIN INSERT INTO audit VALUES (1, 'x'); END")
    }
    intercept[InvalidSqlError] {
      s.sql("CREATE TRIGGER bad2 AFTER INSERT ON staff BEGIN INSERT INTO audit VALUES (1, 'x'); END")
    }
    // an INSTEAD OF UPDATE OF list filters like the table variant
    s.sql("""CREATE TRIGGER vu INSTEAD OF UPDATE OF dept_name ON staff BEGIN
            |  INSERT INTO audit VALUES (OLD.id, 'deptchange'); END""".stripMargin)
    intercept[InvalidSqlError] { s.sql("UPDATE staff SET name = 'Nope' WHERE id = 1") }
    s.sql("UPDATE staff SET dept_name = 'qa' WHERE id = 1")
    assert(s.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0) == 1L)
    s.close()
  }

  test("RAISE in an INSTEAD OF body aborts atomically; DROP VIEW cascades its triggers") {
    val s = openViewSess("trg-iof-raise")
    s.sql("""CREATE TRIGGER vi INSTEAD OF INSERT ON staff BEGIN
            |  INSERT INTO users VALUES (NEW.id, NEW.name, 'user', 10);
            |  SELECT RAISE(ABORT, 'no hires') WHERE NEW.id >= 100;
            |END""".stripMargin)
    intercept[TriggerAbortError] { s.sql("INSERT INTO staff VALUES (100, 'Max', 'eng')") }
    // the body's first insert was rolled back with the statement
    assert(s.sql("SELECT COUNT(*) AS n FROM users WHERE id = 100").head().getLong(0) == 0L)
    s.sql("INSERT INTO staff VALUES (4, 'Dot', 'eng')")
    assert(s.sql("SELECT COUNT(*) AS n FROM users WHERE id = 4").head().getLong(0) == 1L)
    s.sql("DROP VIEW staff")
    assert(s.sql("SELECT COUNT(*) AS n FROM sqlite_master WHERE type = 'trigger'")
      .head().getLong(0) == 0L)
    s.close()
  }

  test("a table trigger body's view DML fires the view's INSTEAD OF trigger (nested)") {
    val s = openViewSess("trg-iof-nested")
    s.sql("""CREATE TRIGGER vi INSTEAD OF INSERT ON staff BEGIN
            |  INSERT INTO users VALUES (NEW.id, NEW.name, 'user', 10);
            |END""".stripMargin)
    // an AFTER INSERT table trigger whose body inserts into the VIEW:
    // the inner INSTEAD OF must fire even though we are in a body
    s.sql("""CREATE TRIGGER da AFTER INSERT ON departments BEGIN
            |  INSERT INTO staff VALUES (NEW.id + 500, 'auto', 'eng');
            |END""".stripMargin)
    s.sql("INSERT INTO departments VALUES (30, 'sales')")
    assert(s.sql("SELECT COUNT(*) AS n FROM users WHERE id = 530").head().getLong(0) == 1L)
    s.close()
  }

  test("ALTER TABLE RENAME COLUMN re-points UPDATE OF lists and NEW/OLD references") {
    val s = openSess("trg-rencol")
    s.sql("""CREATE TRIGGER ru AFTER UPDATE OF role ON users
            |WHEN OLD.role <> NEW.role BEGIN
            |  INSERT INTO audit VALUES (NEW.id, OLD.role || '>' || NEW.role); END""".stripMargin)
    s.sql("ALTER TABLE users RENAME COLUMN role TO grade")
    // the trigger still fires on the renamed column...
    s.sql("UPDATE users SET grade = 'admin' WHERE id = 2")
    val audit = s.sql("SELECT uid, action FROM audit ORDER BY uid").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(audit == Seq((2L, "user>admin")))
    // ...its stored SQL names the new column end to end...
    val sql = s.sql("SELECT sql FROM sqlite_master WHERE type = 'trigger'")
      .head().getString(0)
    assert(sql.contains("OF grade ON") && sql.contains("NEW.grade") &&
      !sql.toLowerCase.contains("role"))
    // ...and an update of an unrelated column still does not fire it
    s.sql("UPDATE users SET name = 'Bobby' WHERE id = 2")
    assert(s.sql("SELECT COUNT(*) AS n FROM audit").head().getLong(0) == 1L)
    s.close()
  }

  test("RENAME COLUMN never rewrites matches inside string literals") {
    val s = openSess("trg-rencol-lit")
    // the literal 'NEW.role' (with an '' escape alongside) must survive
    // the rename verbatim; the real NEW.role reference must not
    s.sql("""CREATE TRIGGER rl AFTER UPDATE OF role ON users BEGIN
            |  INSERT INTO audit VALUES (NEW.id, 'NEW.role isn''t ' || NEW.role); END""".stripMargin)
    s.sql("ALTER TABLE users RENAME COLUMN role TO grade")
    val sql = s.sql("SELECT sql FROM sqlite_master WHERE type = 'trigger'")
      .head().getString(0)
    assert(sql.contains("'NEW.role isn''t '"), sql)
    assert(sql.contains("|| NEW.grade") && sql.contains("OF grade ON"), sql)
    s.sql("UPDATE users SET grade = 'admin' WHERE id = 2")
    val act = s.sql("SELECT action FROM audit").head().getString(0)
    assert(act == "NEW.role isn't admin", act)
    s.close()
  }

  test("trigger parser: apostrophe inside a double-quoted identifier does not swallow END or split points") {
    // the scanners (BEGIN/END finding, ';' splitting) must treat "aud'it"
    // as an identifier, not an unterminated string literal
    val (td, _) = Triggers.parse(
      """CREATE TRIGGER dq AFTER UPDATE ON users BEGIN
        |  INSERT INTO "aud'it" VALUES (NEW.id, NEW.role);
        |  INSERT INTO audit VALUES (NEW.id, 'plain');
        |END""".stripMargin)
    assert(td.body.size == 2, td.body)
    assert(td.body.head.contains("\"aud'it\""), td.body.head)
    // and renameColumn over the parser-produced def still rewrites the
    // reference AFTER the quoted identifier
    val r = Triggers.renameColumn(td, "role", "grade")
    assert(r.body.head.contains("NEW.grade") && r.body.head.contains("\"aud'it\""))
  }

  test("trigger parser: apostrophes inside backtick/[bracket] identifiers do not corrupt scanning") {
    // the SQLite dialect the reference rides also accepts `backtick`
    // and [bracket] quoting — both must scan as atomic spans. The ODD
    // total apostrophe count (one in the backtick span, one in each
    // bracket span = 3) is load-bearing: a scanner missing EITHER form
    // (END detection included) would be stuck inStr at the trailing END
    val (td, _) = Triggers.parse(
      """CREATE TRIGGER bq AFTER UPDATE ON users BEGIN
        |  INSERT INTO audit VALUES (NEW.id, `we're`, [don't; stop], [o'clock], NEW.role);
        |  INSERT INTO audit VALUES (NEW.id, 'plain');
        |END""".stripMargin)
    assert(td.body.size == 2, td.body)
    assert(td.body.head.contains("`we're`") && td.body.head.contains("[don't; stop]"),
      td.body.head)
    // NEW/OLD rewriting after the spans still fires
    val r = Triggers.renameColumn(td, "role", "grade")
    assert(r.body.head.contains("NEW.grade") && r.body.head.contains("[don't; stop]"))
  }

  test("vectorize normalizes quoted NEW/OLD refs to backtick form (Spark-parseable)") {
    val vec = Triggers.vectorize(Seq(
      """INSERT INTO audit VALUES (NEW.[role], OLD.`x`, NEW."y", NEW.z, 'NEW.[lit]')"""))
    vec match {
      case Some(Seq(Triggers.VecInsert("audit", None, exprs))) =>
        assert(exprs == Seq("NEW.`role`", "OLD.`x`", "NEW.`y`", "NEW.z", "'NEW.[lit]'"),
          exprs)
      case other => fail(s"unexpected vectorization: $other")
    }
    // RAISE condition refs normalize too
    Triggers.vectorize(Seq(
      "SELECT RAISE(ABORT, 'no') WHERE NEW.[v] < 0")) match {
      case Some(Seq(Triggers.VecRaise("ABORT", "no", Some(cond)))) =>
        assert(cond == "NEW.`v` < 0", cond)
      case other => fail(s"unexpected: $other")
    }
  }

  test("renameColumn re-points backtick/[bracket]-quoted NEW/OLD references") {
    val (td, _) = Triggers.parse(
      """CREATE TRIGGER q AFTER UPDATE ON users BEGIN
        |  INSERT INTO audit VALUES (NEW.`role`, OLD.[role], NEW."role", NEW.role2);
        |END""".stripMargin)
    val r = Triggers.renameColumn(td, "role", "grade")
    assert(r.body.head.contains("NEW.grade") && r.body.head.contains("OLD.grade"),
      r.body.head)
    assert(!r.body.head.contains("`role`") && !r.body.head.contains("[role]") &&
      !r.body.head.contains("\"role\""), r.body.head)
    // a DIFFERENT column sharing the prefix is untouched
    assert(r.body.head.contains("NEW.role2"), r.body.head)
    // unquote strips one layer of any dialect form
    import graft.mutate.Mutations.unquote
    assert(unquote("`x`") == "x" && unquote("[x]") == "x" && unquote("\"x\"") == "x")
    assert(unquote("x") == "x" && unquote("[") == "[" && unquote("`") == "`")
  }

  test("RENAME COLUMN: apostrophe inside a double-quoted identifier does not open a literal") {
    val body = """INSERT INTO "aud'it" VALUES (NEW.id, NEW.role)"""
    val td = TriggerDef("t", "AFTER", "UPDATE", Nil, "users", None, Seq(body),
      s"CREATE TRIGGER t AFTER UPDATE ON users BEGIN $body; END")
    val r = Triggers.renameColumn(td, "role", "grade")
    // the reference AFTER the quoted identifier is still rewritten...
    assert(r.body.head.contains("NEW.grade") && !r.body.head.contains("NEW.role"),
      r.body.head)
    // ...and the identifier itself survives verbatim
    assert(r.body.head.contains("\"aud'it\""), r.body.head)
    // quoted-identifier column references rewrite too
    val td2 = td.copy(body = Seq("""INSERT INTO audit VALUES (NEW.id, NEW."role")"""))
    assert(Triggers.renameColumn(td2, "role", "grade").body.head.contains("NEW.grade"))
  }

  test("ALTER TABLE RENAME re-points triggers at the new name") {
    val s = openSess("trg-ren")
    s.sql("CREATE TRIGGER au AFTER INSERT ON users BEGIN INSERT INTO audit VALUES (NEW.id, 'I'); END")
    s.sql("ALTER TABLE users RENAME TO members")
    assert(s.sql("SELECT tbl_name FROM sqlite_master WHERE type = 'trigger'")
      .head().getString(0) == "members")
    s.sql("INSERT INTO members VALUES (12, 'Lou', 'user', 20)")
    assert(s.sql("SELECT uid FROM audit").head().getLong(0) == 12L)
    s.close()
  }
}
