package graft.session

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Session-scoped conf pins (UTC timezone, NTZ-inference off) must be
  * restored on close() so an embedding application's unrelated queries
  * keep their pre-session semantics, and close() must leave no view or
  * cached version of the session behind in the shared SparkSession. */
class SessionConfScopeSpec extends SparkSpec {

  test("close() restores timeZone and parquet NTZ-inference confs") {
    val tzKey = "spark.sql.session.timeZone"
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val (prevTz, prevNtz) = (spark.conf.get(tzKey), spark.conf.get(ntzKey))
    spark.conf.set(tzKey, "America/New_York")
    spark.conf.set(ntzKey, "true")
    try {
      val dir = tmpDir("confscope")
      writeFile(dir, "t.csv", "a,b\n1,x\n")
      val sess = GraftSession.open(spark, dir.toString)
      assert(spark.conf.get(tzKey) == "UTC")
      assert(spark.conf.get(ntzKey) == "false")
      assert(sess.sql("SELECT COUNT(*) AS n FROM t").collect().head.getLong(0) == 1L)
      sess.close()
      assert(spark.conf.get(tzKey) == "America/New_York")
      assert(spark.conf.get(ntzKey) == "true")
    } finally {
      // hand the shared session back exactly as this test found it
      spark.conf.set(tzKey, prevTz)
      spark.conf.set(ntzKey, prevNtz)
    }
  }

  test("close() drops sqlite_master and unpersists every version; ROLLBACK releases its own") {
    val dir = tmpDir("versionscope")
    writeFile(dir, "t.csv", "a,b\n1,x\n2,y\n")
    // a bound of -1 persists every version, so each one is a CacheManager entry
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val sess = GraftSession.open(spark, dir.toString)
      sess.sql("UPDATE t SET b = 'z' WHERE a = 1")
      val committed = sess.table("t")
      assert(committed.storageLevel == StorageLevel.MEMORY_AND_DISK)
      sess.sql("BEGIN")
      sess.sql("DELETE FROM t WHERE a = 2")
      val discarded = sess.table("t")
      assert(discarded.storageLevel == StorageLevel.MEMORY_AND_DISK)
      sess.sql("ROLLBACK")
      assert(discarded.storageLevel == StorageLevel.NONE)
      assert(committed.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(sess.sql("SELECT COUNT(*) FROM t").head().getLong(0) == 2L)
      assert(spark.catalog.tableExists("sqlite_master"))
      sess.close()
      assert(committed.storageLevel == StorageLevel.NONE)
      assert(!spark.catalog.tableExists("sqlite_master"))
    }
  }
}
