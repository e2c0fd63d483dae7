package graft.session

import graft.SparkSpec

/** The frames a session builds itself (`changes()`, `last_insert_rowid()`,
  * the pragmas, `sqlite_master`) are local relations, and a mutated table
  * below the version size bound is held on the driver, so answering
  * them, mutating such a table and reading one row of it launch no Spark
  * job. Such a table is read as one partition, so an aggregate, window,
  * DISTINCT or sort over it runs as one job of one stage. */
class SessionJobCountSpec extends SparkSpec with SessionFlows {

  private def collectJobs(s: GraftSession, statement: String): Int =
    jobsDuring(s.sql(statement).collect())

  test("changes(), last_insert_rowid(), the pragmas and sqlite_master collect with no job") {
    val dir = tmpDir("jobs-meta")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("INSERT INTO users VALUES (4, 'Dan', 'user', 20)")
    Seq("SELECT changes()", "SELECT last_insert_rowid()", "PRAGMA table_info(users)",
      "PRAGMA table_list", "PRAGMA user_version", "SELECT name FROM sqlite_master")
      .foreach(q => assert(collectJobs(s, q) == 0, q))
    s.close()
  }

  test("after the first mutation, INSERT, UPDATE, DELETE, changes() and a point SELECT launch no job") {
    val dir = tmpDir("jobs-dml")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("UPDATE users SET role = 'admin' WHERE id = 2")
    assert(jobsDuring {
      s.sql("INSERT INTO users VALUES (4, 'Dan', 'user', 20), (5, 'Eve', 'user', 10)")
      assert(s.sql("SELECT changes()").head().getLong(0) == 2)
      s.sql("UPDATE users SET role = 'user' WHERE department_id = 10")
      assert(s.sql("SELECT changes()").head().getLong(0) == 3)
      s.sql("DELETE FROM users WHERE id = 3")
      assert(s.sql("SELECT changes()").head().getLong(0) == 1)
    } == 0)
    assert(collectJobs(s, "SELECT name, role FROM users WHERE id = 1") == 0)
    assert(s.sql("SELECT name, role FROM users WHERE id = 1").head().toSeq == Seq("Alice", "user"))
    val cte = "WITH u AS (SELECT id, name, role FROM users WHERE id = 1) SELECT name, role FROM u"
    assert(collectJobs(s, cte) == 0)
    assert(s.sql(cte).head().toSeq == Seq("Alice", "user"))
    assert(s.sql("SELECT id FROM users ORDER BY id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 4L, 5L))
    s.close()
  }

  test("after the first mutation, GROUP BY, a window, a CTE and DISTINCT run as one job with no shuffle") {
    val dir = tmpDir("jobs-agg")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("UPDATE users SET role = 'admin' WHERE id = 2")
    Seq(
      "SELECT role, count(*) FROM users GROUP BY role ORDER BY role" ->
        Seq("admin|2", "user|1"),
      "SELECT id, row_number() OVER (PARTITION BY department_id ORDER BY id DESC) FROM users ORDER BY id" ->
        Seq("1|2", "2|1", "3|1"),
      "WITH d AS (SELECT department_id, count(*) AS n FROM users GROUP BY department_id) " +
        "SELECT sum(n), max(n) FROM d WHERE n > 0" -> Seq("3|2"),
      "SELECT DISTINCT role FROM users" -> Seq("admin", "user")).foreach { case (q, want) =>
      var rows = Seq.empty[String]
      val jobs = jobStagesDuring { rows = s.sql(q).collect().map(_.mkString("|")).toSeq }
      // one job whose only stage is its result stage: no shuffle map stage
      assert(jobs.map(_.length) == Seq(1), q)
      assert(rows.sorted == want, q)
    }
    s.close()
  }

  test("INSERT … SELECT between two driver-resident tables launches no job") {
    val dir = tmpDir("jobs-insel")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("UPDATE users SET role = 'admin' WHERE id = 2")
    s.sql("CREATE TABLE picked (id INTEGER, name TEXT)")
    assert(jobsDuring {
      s.sql("INSERT INTO picked SELECT id + 100, upper(name) FROM users WHERE department_id = 10")
      assert(s.sql("SELECT changes()").head().getLong(0) == 2)
    } == 0)
    assert(s.sql("SELECT id, name FROM picked ORDER BY id").collect().map(_.mkString("|")).toSeq ==
      Seq("101|ALICE", "103|CAROL"))
    s.close()
  }

  test("a point SELECT after ROLLBACK and after ROLLBACK TO launches no job") {
    val dir = tmpDir("jobs-restore")
    fixtures(dir)
    val s = GraftSession.open(spark, dir.toString)
    s.sql("UPDATE users SET role = 'admin' WHERE id = 2")
    val point = "SELECT name, role FROM users WHERE id = 2"
    s.sql("BEGIN")
    s.sql("UPDATE users SET role = 'user' WHERE id = 2")
    s.sql("ROLLBACK")
    assert(collectJobs(s, point) == 0)
    assert(s.sql(point).head().toSeq == Seq("Bob", "admin"))
    s.sql("SAVEPOINT sp")
    s.sql("DELETE FROM users WHERE id = 2")
    s.sql("ROLLBACK TO sp")
    assert(collectJobs(s, point) == 0)
    assert(s.sql(point).head().toSeq == Seq("Bob", "admin"))
    s.sql("RELEASE sp")
    s.close()
  }
}
