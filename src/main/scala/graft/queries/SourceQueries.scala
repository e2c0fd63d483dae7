package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.session.GraftSession
import graft.sinks.{Dump, DumpOptions}
import graft.sources.{Compression, CsvSource, JsonlSource, LtsvSource, XlsxSource}

/** Source/sink operators (SURVEY §2.1 S1–S17) driven end-to-end through
  * the oracle gate: a driver table is exported with our sink, re-read with
  * our source (string data → type inference → casts), and the result must
  * hash-match DuckDB reading the ORIGINAL parquet — proving the full
  * write→read→infer→cast cycle is lossless for these schemas.
  *
  * (Int32 columns come back as BIGINT after inference — the reference
  * types all integers as 64-bit SQLite INTEGER, `types.go:601-613` — so
  * oracles cast to BIGINT to match.)
  */
object SourceQueries {

  private def roundTrip(s: SparkSession, dir: String, table: String,
      format: String, codec: Option[Compression.Codec] = None): DataFrame = {
    val tmp = graft.Paths.scratchDir(s"graft-rt-$format-")
    val df = Tables.load(s, dir, table)
    Dump.writeTable(df, table, tmp.toString, DumpOptions(format, codec))
    val path = tmp.resolve(s"$table.$format${codec.map(_.ext).getOrElse("")}").toString
    format match {
      case "csv" => CsvSource.readCsv(s, path)
      case "tsv" => CsvSource.readTsv(s, path)
      case "ltsv" => LtsvSource.read(s, path)
      case "xlsx" => XlsxSource.readFirstSheet(s, path)
      case "parquet" => s.read.parquet(path)
      case "orc" => s.read.orc(path)
      case "jsonl" => JsonlSource.read(s, path)
    }
  }

  val gates: Seq[Gate] = Seq(
    // S1 + S11: CSV sink → CSV scan → inference
    Gate("src_csv_roundtrip", Some(
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin))((s, dir) =>
      roundTrip(s, dir, "nation", "csv")
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")),

    // S2 + S11: TSV
    Gate("src_tsv_roundtrip", Some(
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin))((s, dir) =>
      roundTrip(s, dir, "region", "tsv")
        .select("r_regionkey", "r_name").orderBy("r_regionkey")),

    // S3 + S12: LTSV (note: LTSV columns come back key-sorted)
    Gate("src_ltsv_roundtrip", Some(
      """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin))((s, dir) =>
      roundTrip(s, dir, "supplier", "ltsv")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").orderBy("s_suppkey")),

    // S5 + S14: XLSX writer → zip/XML reader
    Gate("src_xlsx_roundtrip", Some(
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin))((s, dir) =>
      roundTrip(s, dir, "region", "xlsx")
        .select("r_regionkey", "r_name").orderBy("r_regionkey")),

    // S4 + S13: single-file parquet sink → native parquet scan (typed superset)
    Gate("src_parquet_roundtrip", Some(
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"""))((s, dir) =>
      roundTrip(s, dir, "nation", "parquet")
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")),

    // Superset: single-file ORC sink → native ORC scan (typed columnar
    // alternative to parquet; int32/double/string survive untouched)
    Gate("src_orc_roundtrip", Some(
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin))((s, dir) =>
      roundTrip(s, dir, "supplier", "orc")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").orderBy("s_suppkey")),

    // Superset: JSONL sink → JSONL scan (typed: numbers come back
    // BIGINT/DOUBLE natively, no string-cast pipeline)
    Gate("src_jsonl_roundtrip", Some(
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin))((s, dir) =>
      roundTrip(s, dir, "orders", "jsonl")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")),

    // S6 + S15: zstd-compressed CSV (exercises the non-Hadoop-native codec shim)
    Gate("src_zstd_csv_roundtrip", Some(
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin))((s, dir) =>
      roundTrip(s, dir, "nation", "csv", Some(Compression.Zstd))
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")),

    // S7 + session facade: directory open → temp views → SQL join
    Gate("src_session_join", Some(
      """SELECT r_name, COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin))((s, dir) => {
      val tmp = graft.Paths.scratchDir("graft-sess-")
      Dump.writeTable(Tables.load(s, dir, "nation"), "nation_f", tmp.toString, DumpOptions("csv"))
      Dump.writeTable(Tables.load(s, dir, "region"), "region_f", tmp.toString, DumpOptions("tsv"))
      val sess = GraftSession.open(s, tmp.toString)
      val out = sess.sql(
        """SELECT r.r_name, COUNT(*) AS n_nations
          |FROM nation_f n JOIN region_f r ON n.n_regionkey = r.r_regionkey
          |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin)
      out.cache().count() // materialize before views are dropped
      sess.close()
      out
    }),

    // Mutation layer: INSERT … SELECT (positional mapping, SQLite
    // semantics) on a view
    Gate("m04_insert_select", Some(
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey + 100, upper(n_name), n_regionkey
        |  FROM nation WHERE n_regionkey = 0)
        |ORDER BY n_nationkey""".stripMargin))((s, dir) => {
      val sess = GraftSession.open(s, s"$dir/nation.parquet")
      sess.sql("""INSERT INTO nation
        SELECT n_nationkey + 100, upper(n_name), n_regionkey
        FROM nation WHERE n_regionkey = 0""")
      val out = sess.sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")
      out.cache().count()
      sess.close()
      out
    }),

    // Mutation layer: INSERT on a view
    Gate("m01_insert", Some(
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT * FROM nation UNION ALL SELECT 25, 'ATLANTIS', 0)
        |ORDER BY n_nationkey""".stripMargin))((s, dir) => {
      val sess = GraftSession.open(s, s"$dir/nation.parquet")
      sess.sql("INSERT INTO nation VALUES (25, 'ATLANTIS', 0)")
      val out = sess.sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")
      out.cache().count()
      sess.close()
      out
    }),

    // Mutation layer: UPDATE on a view
    Gate("m02_update", Some(
      """SELECT o_orderkey, 'X' AS o_orderstatus FROM orders
        |WHERE o_totalprice > 400000 ORDER BY o_orderkey""".stripMargin))((s, dir) => {
      val sess = GraftSession.open(s, s"$dir/orders.parquet")
      sess.sql("UPDATE orders SET o_orderstatus = 'X' WHERE o_totalprice > 400000")
      val out = sess.sql(
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'X' ORDER BY o_orderkey")
      out.cache().count()
      sess.close()
      out
    }),

    // Merge tier: whole-row upsert (anti-join + union — one key shuffle,
    // batch side broadcastable)
    Gate("m05_upsert", Some(
      """WITH src AS (
        |  SELECT c_custkey, c_name, c_acctbal * 2 AS c_acctbal,
        |    'REFRESHED' AS c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey <= 50
        |)
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        |  UNION ALL
        |  SELECT * FROM src
        |) ORDER BY c_custkey""".stripMargin))((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val updates = c.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
        .withColumn("c_mktsegment", lit("REFRESHED"))
      val inserts = c.filter(col("c_custkey") <= 50)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
      graft.ops.Merge.upsert(c, updates.unionByName(inserts), Seq("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Merge tier: CDC apply — latest change per key wins, deletes net out
    Gate("m06_cdc_apply", Some(
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 21 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |) ORDER BY o_orderkey""".stripMargin))((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val u = o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("op", lit("U")).withColumn("seq", lit(2L))
      val d = o.filter(col("o_orderkey") % 21 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(3L))
      val i = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      graft.ops.Merge.applyChanges(o, u.unionByName(d).unionByName(i), Seq("o_orderkey"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // Merge tier: column-level upsert — matched rows refresh ONLY the
    // listed columns, inserts land whole
    Gate("m07_upsert_columns", Some(
      """SELECT c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 5.0 ELSE c_acctbal END
        |      AS c_acctbal
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, c_acctbal FROM customer
        |  WHERE c_custkey <= 20
        |) ORDER BY c_custkey""".stripMargin))((s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val src = c.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 5.0)
        // non-update column: must NOT reach matched target rows
        .withColumn("c_name", lit("IGNORED"))
        .unionByName(c.filter(col("c_custkey") <= 20)
          .withColumn("c_custkey", col("c_custkey") + 2000000L))
      graft.ops.Merge.upsertColumns(c, src, Seq("c_custkey"), Seq("c_acctbal"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // Trigger tier: AFTER INSERT / AFTER UPDATE OF … WHEN / BEFORE DELETE
    // row triggers maintaining an audit table, all on the set-based
    // (INSERT … VALUES body) execution path — one audit row per affected
    // row at any mutation size, no driver loop
    Gate("m08_trigger", Some(
      """SELECT CAST(uid AS BIGINT) AS uid, act FROM (
        |  SELECT 25 AS uid, 'I' AS act UNION ALL SELECT 26, 'I'
        |  UNION ALL
        |  SELECT n_nationkey, 'U:' || n_name FROM nation
        |  WHERE n_nationkey % 3 = 0 AND n_regionkey >= 2
        |  UNION ALL
        |  SELECT n_nationkey, 'D' FROM nation WHERE n_regionkey = 4
        |) ORDER BY uid, act""".stripMargin))((s, dir) => {
      val sess = GraftSession.open(s, s"$dir/nation.parquet")
      sess.sql("CREATE TABLE audit (uid INTEGER, act TEXT)")
      sess.sql("""CREATE TRIGGER ni AFTER INSERT ON nation BEGIN
        |  INSERT INTO audit VALUES (NEW.n_nationkey, 'I'); END""".stripMargin)
      sess.sql("""CREATE TRIGGER nu AFTER UPDATE OF n_name ON nation
        |WHEN NEW.n_regionkey >= 2 BEGIN
        |  INSERT INTO audit VALUES (NEW.n_nationkey, 'U:' || OLD.n_name); END""".stripMargin)
      sess.sql("""CREATE TRIGGER nd BEFORE DELETE ON nation BEGIN
        |  INSERT INTO audit VALUES (OLD.n_nationkey, 'D'); END""".stripMargin)
      sess.sql("INSERT INTO nation VALUES (25, 'ATLANTIS', 2), (26, 'LEMURIA', 1)")
      sess.sql("UPDATE nation SET n_name = n_name || '_X' WHERE n_nationkey % 3 = 0")
      sess.sql("DELETE FROM nation WHERE n_regionkey = 4")
      val out = sess.sql("SELECT uid, act FROM audit ORDER BY uid, act")
      out.cache().count()
      sess.close()
      out
    }),

    // Trigger tier: INSTEAD OF triggers — the SQLite view-DML mechanism.
    // INSERT/UPDATE/DELETE on a two-table join view route through
    // INSTEAD OF bodies that rewrite the base tables (the INSERT body is
    // vectorized set-based; UPDATE/DELETE bodies run per-row over the
    // small affected sets); the gate output is the final joined state
    // replay of the three view-DML statements' END STATE: inserts land
    // whole, the region-2 rename applies to the inserted row too (it
    // preceded the UPDATE), the %7 delete removes inserted id 31
    Gate("m09_instead_of", Some(
      """WITH base AS (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL SELECT 30, 'ATLANTIS', 0
        |  UNION ALL SELECT 31, 'AVALON', 2
        |),
        |upd AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_regionkey = 2 THEN n_name || '_V' ELSE n_name END AS n_name,
        |    n_regionkey FROM base
        |),
        |fin AS (SELECT * FROM upd WHERE n_nationkey % 7 <> 3)
        |SELECT f.n_nationkey AS nkey, f.n_name AS nname, r.r_name AS rname
        |FROM fin f JOIN region r ON r.r_regionkey = f.n_regionkey
        |ORDER BY nkey""".stripMargin))((s, dir) => {
      val sess = GraftSession.open(s, s"$dir/nation.parquet", s"$dir/region.parquet")
      sess.sql("""CREATE VIEW nations_v AS
        |  SELECT n.n_nationkey AS nkey, n.n_name AS nname,
        |         n.n_regionkey AS rkey, r.r_name AS rname
        |  FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey""".stripMargin)
      sess.sql("""CREATE TRIGGER vi INSTEAD OF INSERT ON nations_v BEGIN
        |  INSERT INTO nation VALUES (NEW.nkey, NEW.nname, NEW.rkey); END""".stripMargin)
      sess.sql("""CREATE TRIGGER vu INSTEAD OF UPDATE OF nname ON nations_v BEGIN
        |  UPDATE nation SET n_name = NEW.nname WHERE n_nationkey = OLD.nkey; END""".stripMargin)
      sess.sql("""CREATE TRIGGER vd INSTEAD OF DELETE ON nations_v BEGIN
        |  DELETE FROM nation WHERE n_nationkey = OLD.nkey; END""".stripMargin)
      sess.sql("INSERT INTO nations_v VALUES (30, 'ATLANTIS', 0, 'AFRICA'), (31, 'AVALON', 2, 'ASIA')")
      sess.sql("UPDATE nations_v SET nname = nname || '_V' WHERE rkey = 2")
      sess.sql("DELETE FROM nations_v WHERE nkey % 7 = 3")
      val out = sess.sql(
        "SELECT nkey, nname, rname FROM nations_v ORDER BY nkey")
      out.cache().count()
      sess.close()
      out
    }),

    // Mutation layer: DELETE on a view
    Gate("m03_delete", Some(
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))((s, dir) => {
      val sess = GraftSession.open(s, s"$dir/orders.parquet")
      sess.sql("DELETE FROM orders WHERE o_orderstatus = 'F'")
      val out = sess.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
      out.cache().count()
      sess.close()
      out
    })
  )
}
