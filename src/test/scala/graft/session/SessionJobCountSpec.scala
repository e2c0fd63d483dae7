package graft.session

import graft.SparkSpec

/** The frames a session builds itself (`changes()`, `last_insert_rowid()`,
  * the pragmas, `sqlite_master`) are local relations, and a mutated table
  * below the version size bound is held on the driver, so answering
  * them, mutating such a table and reading one row of it launch no Spark
  * job. */
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
    assert(s.sql("SELECT id FROM users ORDER BY id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 4L, 5L))
    s.close()
  }
}
