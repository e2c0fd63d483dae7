package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.session.GraftSession

/** One long filesql session over seven parquet tables: a closed loop of
  * SELECTs of six classes interleaved with INSERT/UPDATE/DELETE (each
  * followed by `SELECT changes()`) and BEGIN/ROLLBACK/COMMIT. Every
  * answer is checked against a plain-Scala model of the same tables that
  * applies the same DML. */
final class SqlSession(a: Args, spark: SparkSession) extends Workload {
  private val sizes = if (a.smoke) Data.smoke else Data.full
  private val tables = Seq(Data.lineitem(a.seed, sizes), Data.orders(a.seed, sizes),
    Data.customer(a.seed, sizes), Data.part(a.seed, sizes), Data.supplier(a.seed, sizes),
    Data.nation, Data.region)

  private val dir: Path = Inputs.prepare(a, "sql_session") { d =>
    Inputs.parallel(tables)(t => Data.writeParquet(spark, t, d.resolve(s"${t.name}.parquet")))
  }
  Inputs.manifest(dir, tables.map(t => s"${t.name}.parquet" -> t.rows.length), dir)
  private val paths = tables.map(t => dir.resolve(s"${t.name}.parquet").toString)

  // ------------------------------------------------------------------ model

  private final case class Order(cust: Long, status: String, cents: Long, date: String)
  private var model = mutable.TreeMap.empty[Long, Order]
  private var saved: Option[mutable.TreeMap[Long, Order]] = None
  tables(1).rows.foreach(r => model(r(0).asInstanceOf[Long]) = Order(r(1).asInstanceOf[Long],
    r(2).asInstanceOf[String], r(3).asInstanceOf[Long], r(4).asInstanceOf[String]))
  private val custNation: Map[Long, Long] =
    tables(2).rows.map(r => r(0).asInstanceOf[Long] -> r(2).asInstanceOf[Long]).toMap
  private val regionOfNation: Map[Long, String] = Data.nation.rows.map(r =>
    r(0).asInstanceOf[Long] -> Data.region.rows(r(2).asInstanceOf[Long].toInt)(1).asInstanceOf[String]).toMap
  /** orderkey -> (lines, summed extended price in cents) */
  private val lineAgg: Map[Long, (Long, Long)] =
    tables.head.rows.groupBy(_(0).asInstanceOf[Long]).map { case (k, rs) =>
      k -> (rs.length.toLong, rs.map(_(5).asInstanceOf[Long]).sum)
    }
  private var nextKey = model.lastKey + 1
  private val epoch = java.time.LocalDate.of(1992, 1, 1)

  private var gs: GraftSession = _

  def setupOnce(s: SparkSession): Unit = {
    val g = GraftSession.open(s.newSession(), paths: _*)
    g.sql("SELECT count(*) FROM sqlite_master").collect()
    g.close()
  }

  def start(s: SparkSession): Unit = gs = GraftSession.open(s, paths: _*)

  private def fail(want: Any, got: Any): Option[String] =
    if (a.wrongExpected || want != got) Some(s"got $got, expected $want") else None

  private def cents(r: Row, i: Int): Long =
    r.getDecimal(i).movePointRight(2).longValueExact

  private def select(cls: String, sql: String)(want: => Any)(got: Array[Row] => Any): Op =
    Op(cls, write = false, () => {
      val df = Trace.span("session.sql_call")(gs.sql(sql))
      val rows = Trace.span("session.collect")(df.collect())
      () => fail(want, got(rows))
    })

  /** A DML statement and its `SELECT changes()`, timed together. */
  private def dml(cls: String, sql: String)(apply: => Long): Op = Op(cls, write = true, () => {
    Trace.span("session.sql_call")(gs.sql(sql))
    val n = Trace.span("session.collect")(gs.sql("SELECT changes()").collect().head.getLong(0))
    () => fail(apply, n)
  })

  private def txn(stmt: String)(apply: => Unit): Op = Op("txn", write = true, () => {
    Trace.span("session.sql_call")(gs.sql(stmt))
    () => { apply; None }
  })

  private def pointSql(k: Long) =
    s"SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) " +
      s"FROM orders WHERE o_orderkey = $k"
  private def point(cls: String, k: Long): Op = select(cls, pointSql(k))(
    model.get(k).map(o => Seq(k, o.cust, o.status, o.cents)).toSeq)(
    _.toSeq.map(r => Seq(r.getLong(0), r.getLong(1), r.getString(2), cents(r, 3))))

  def pass(n: Int): Seq[Op] = {
    val r = new SplittableRandom(a.seed * 1000 + n)
    def anyKey = 1L + r.nextLong(nextKey)
    val status = Seq("F", "O", "P")(r.nextInt(3))
    val c0 = 1L + r.nextInt(math.max(1, sizes.customer - 60))
    val threshold = 500000L + r.nextInt(1500000) // cents
    val meta = n % 2 == 0
    val reads = Seq(
      point("point", anyKey),
      select("join_agg",
        "SELECT r_name, count(*), sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM lineitem " +
          "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
          s"WHERE o_orderstatus = '$status' GROUP BY r_name ORDER BY r_name") {
        val acc = mutable.TreeMap.empty[String, (Long, Long)]
        model.foreach { case (k, o) =>
          if (o.status == status) lineAgg.get(k).foreach { case (ln, c) =>
            val reg = regionOfNation(custNation(o.cust))
            val (n0, c1) = acc.getOrElse(reg, (0L, 0L))
            acc(reg) = (n0 + ln, c1 + c)
          }
        }
        acc.toSeq.map { case (k, (x, y)) => (k, x, y) }
      }(_.toSeq.map(r => (r.getString(0), r.getLong(1), cents(r, 2)))),
      select("window",
        "SELECT o_custkey, o_orderkey FROM (SELECT o_custkey, o_orderkey, row_number() OVER " +
          "(PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS rn " +
          s"FROM orders WHERE o_custkey BETWEEN $c0 AND ${c0 + 9}) t WHERE rn = 1 ORDER BY o_custkey") {
        model.toSeq.filter { case (_, o) => o.cust >= c0 && o.cust <= c0 + 9 }
          .groupBy(_._2.cust).toSeq.sortBy(_._1)
          .map { case (c, os) => (c, os.minBy { case (k, o) => (-o.cents, k) }._1) }
      }(_.toSeq.map(r => (r.getLong(0), r.getLong(1)))),
      select("cte",
        "WITH t AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s, count(*) AS n " +
          s"FROM orders GROUP BY o_custkey) SELECT count(*), sum(n) FROM t WHERE s > " +
          java.math.BigDecimal.valueOf(threshold, 2).toPlainString) {
        val per = model.values.groupBy(_.cust).values.map(os => (os.map(_.cents).sum, os.size.toLong))
        val big = per.filter(_._1 > threshold)
        (big.size.toLong, if (big.isEmpty) None else Some(big.map(_._2).sum))
      }(rows => (rows.head.getLong(0), Option(rows.head.get(1)).map(_.asInstanceOf[Long]))),
      select("shim",
        "SELECT strftime('%Y', o_orderdate) AS y, count(*), " +
          "CAST(sum(julianday(o_orderdate) - julianday('1992-01-01')) AS BIGINT), " +
          "length(group_concat(o_orderstatus, '')) FROM orders " +
          s"WHERE o_custkey BETWEEN $c0 AND ${c0 + 49} GROUP BY y ORDER BY y") {
        model.values.filter(o => o.cust >= c0 && o.cust <= c0 + 49).groupBy(_.date.take(4))
          .toSeq.sortBy(_._1).map { case (y, os) =>
            val days = os.map(o => java.time.temporal.ChronoUnit.DAYS.between(epoch,
              java.time.LocalDate.parse(o.date))).sum
            (y, os.size.toLong, days, os.size)
          }
      }(_.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))),
      if (meta) select("meta", "SELECT name FROM sqlite_master WHERE type = 'table' ORDER BY name")(
        tables.map(_.name).sorted)(_.toSeq.map(_.getString(0)))
      else select("meta", "PRAGMA table_info(orders)")(tables(1).cols.map(_.name))(
        _.toSeq.map(_.getAs[String]("name"))))

    val k = nextKey
    val insert = dml("insert",
      "INSERT INTO orders (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate) " +
        s"VALUES ($k, ${c0 + 1}, 'O', 1234.56, '1996-01-02'), (${k + 1}, $c0, 'O', 99.5, '1997-03-04')") {
      model(k) = Order(c0 + 1, "O", 123456, "1996-01-02")
      model(k + 1) = Order(c0, "O", 9950, "1997-03-04")
      2
    }
    nextKey += 2
    val u0 = anyKey
    val update = dml("update",
      "UPDATE orders SET o_totalprice = o_totalprice + 1.5, o_orderstatus = 'P' " +
        s"WHERE o_orderkey BETWEEN $u0 AND ${u0 + 3}") {
      val hit = model.range(u0, u0 + 4).keys.toSeq
      hit.foreach(k => model(k) = model(k).copy(cents = model(k).cents + 150, status = "P"))
      hit.size.toLong
    }
    val d0 = anyKey
    val delete = dml("delete", s"DELETE FROM orders WHERE o_orderkey BETWEEN $d0 AND ${d0 + 2}") {
      val hit = model.range(d0, d0 + 3).keys.toSeq
      hit.foreach(model.remove)
      hit.size.toLong
    }
    val t0 = anyKey
    val commit = n % 2 == 0
    val inTxn = Seq(
      txn("BEGIN") { saved = Some(model.clone()) },
      dml("update", s"UPDATE orders SET o_orderstatus = 'F' WHERE o_orderkey BETWEEN $t0 AND ${t0 + 1}") {
        val hit = model.range(t0, t0 + 2).keys.toSeq
        hit.foreach(k => model(k) = model(k).copy(status = "F"))
        hit.size.toLong
      },
      txn(if (commit) "COMMIT" else "ROLLBACK") {
        if (!commit) saved.foreach(m => model = m)
        saved = None
      })
    val raw = point("raw", u0 + 1)

    val order = new java.util.ArrayList[Op]()
    (reads :+ delete).foreach(order.add)
    java.util.Collections.shuffle(order, new java.util.Random(a.seed * 7919 + n))
    val shuffled = scala.jdk.CollectionConverters.ListHasAsScala(order).asScala.toSeq
    // writes sit between reads; the read-after-write follows its update
    val (head, tail) = shuffled.splitAt(3)
    head ++ Seq(insert, update, raw) ++ tail ++ inTxn
  }

  def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    def p50(cls: String) = Main.median(traced.filter(_.op.cls == cls).map(_.seconds))
    def mean(cls: String) = {
      val xs = traced.filter(_.op.cls == cls).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Layers.selectClasses.foreach(c => m(s"session.query.${c}_p50_s") = p50(c))
    m("session.txn_s") = mean("txn")
    m("mutate.insert_s") = mean("insert")
    m("mutate.update_s") = mean("update")
    m("mutate.delete_s") = mean("delete")
    m("mutate.read_after_write_s") = mean("raw")
    // the session cuts a table's lineage every 50 mutations of it, so one
    // of any 50 consecutive inserts is the cut; the slowest is reported
    m("mutate.checkpoint_stmt_s") = (0 until 50).map { i =>
      Main.time(gs.sql(s"INSERT INTO orders (o_orderkey) VALUES (${nextKey + i})"))._2
    }.max
    val spans = Trace.all.filter(_.name == "session.sql_call")
    m("session.sql_call_s") = if (spans.isEmpty) 0.0 else spans.map(_.seconds).sum / spans.size
    m("session.open_s") = Main.time(GraftSession.open(spark.newSession(), paths: _*))._2
    val n = traced.size.max(1)
    m("session.plan_s") = traced.map(_.counters.getOrElse("plan_s", 0.0)).sum / n
    m("session.exec_s") = traced.map(_.counters.getOrElse("exec_s", 0.0)).sum / n
    m.toMap
  }
}
