package graft.mutate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

import graft.InvalidSqlError

/** DML-on-views mutation layer (SURVEY §2.2 ⚠ rows, §7 step 6).
  *
  * Temp views are immutable in Spark, so INSERT / UPDATE / DELETE are
  * translated to DataFrame rewrites and the view is re-registered by
  * [[graft.session.GraftSession.sql]]:
  *   - `INSERT INTO t VALUES (…)` → `df.unionByName(newRows)`
  *     (reference: `README.md:221-222`, `builder_test.go:774`)
  *   - `UPDATE t SET c = e WHERE p` → `withColumn(c, when(p, e).otherwise(c))`
  *     (reference: `example_test.go:1573`)
  *   - `DELETE FROM t WHERE p` → `df.filter(!p)`
  *     (reference: `filesql_integration_test.go:741-1010`)
  *
  * Statement recognition is a lightweight SQL-shape parser (identifier +
  * balanced-paren/quote-aware splitting); SET/WHERE/VALUES expressions are
  * handed to Catalyst's own expression parser via `expr(...)`, so the full
  * Spark SQL expression language is available inside them.
  *
  * Each rewrite is one narrow transformation of the table's current
  * version; the session materialises its result as the next version
  * (`GraftSession.materialise`), so every later read and the next
  * statement start from stored rows, however long the mutation chain.
  */
object Mutations {

  sealed trait Mutation {
    def table: String
    /** The rewritten table, lazily over `current`. `materialise` freezes
      * any rows the rewrite must see identically more than once. */
    def apply(current: DataFrame, materialise: DataFrame => DataFrame): DataFrame
  }

  final case class Insert(table: String, columns: Option[Seq[String]],
      tuples: Seq[Seq[String]]) extends Mutation {
    // memoized per base plan (reference equality): rowid assignment runs
    // an EAGER max(rowid) job over the table, and one statement binds
    // these rows up to three times (BEFORE trigger, apply, AFTER
    // trigger) — all against the same base unless a BEFORE body mutated
    // the table, in which case the rebuild is exactly what SQLite's
    // assign-at-insert-time rowid semantics want
    @transient private var cached: Option[(DataFrame, DataFrame)] = None

    def apply(current: DataFrame, materialise: DataFrame => DataFrame): DataFrame =
      current.unionByName(plannedRows(current))

    /** The aligned to-be-inserted rows (pre-union) — a driver-resident
      * local relation; the trigger layer binds NEW to it. */
    private[graft] def plannedRows(current: DataFrame): DataFrame =
      cached match {
        case Some((base, rows)) if base eq current => rows
        case _ =>
          val rows = buildRows(current)
          cached = Some((current, rows))
          rows
      }

    private def buildRows(current: DataFrame): DataFrame = {
      val spark = current.sparkSession
      val targetCols = current.columns.toSeq
      val givenCols = resolveColumns(columns.getOrElse(targetCols), targetCols,
        s"INSERT INTO $table")
      // fresh implicit rowids: a table built withRowId() whose INSERT omits
      // the rowid column — or passes a literal NULL for it, which SQLite
      // also treats as "assign one" — gets max+1, max+2, …; NULL values
      // would collapse all inserted rows to one key in any downstream
      // dedup keyed on rowid. The max is computed EAGERLY (one tiny
      // aggregate job per rowid-assigning INSERT): embedding it lazily
      // would reference `current` twice per statement (union branch +
      // aggregate subtree), doubling the plan on every chained INSERT.
      // Guarded to LongType so a loaded column merely NAMED rowid keeps
      // plain NULL semantics. SQLite parity: first rowid on an empty
      // table is 1.
      def isNullLit(v: String): Boolean = v.trim.equalsIgnoreCase("null")
      val hasLongRowid = targetCols.contains("rowid") &&
        current.schema("rowid").dataType == org.apache.spark.sql.types.LongType
      val needsAssignment = hasLongRowid && (
        !givenCols.contains("rowid") ||
        tuples.exists(t => isNullLit(t(givenCols.indexOf("rowid")))))
      val rowIdBase: Long =
        if (needsAssignment) {
          val r = current.agg(coalesce(max(col("rowid")), lit(0L))).head()
          r.getLong(0)
        } else 0L
      // ONE local relation for the whole VALUES list: an array of struct
      // literals, evaluated once by the optimiser over a one-row local
      // relation (no Spark job), so each value — rand() included — is
      // fixed at insert time. A per-tuple union chain builds an N-node
      // plan with quadratic analyzer cost — a 1,000-tuple INSERT would
      // hang in analysis.
      val structs = tuples.zipWithIndex.map { case (tup, i) =>
        if (tup.length != givenCols.length)
          throw InvalidSqlError(s"INSERT INTO $table", "VALUES arity mismatch")
        val provided = givenCols.zip(tup).toMap
        // align to the target schema; absent columns become NULL; every
        // value is cast to the target column type
        struct(targetCols.map { c =>
          val dt = current.schema(c).dataType
          provided.get(c) match {
            case Some(v) if c == "rowid" && needsAssignment && isNullLit(v) =>
              lit(rowIdBase + 1 + i).cast(dt).as(c)
            case Some(v) => expr(v).cast(dt).as(c)
            case None if c == "rowid" && needsAssignment =>
              lit(rowIdBase + 1 + i).cast(dt).as(c)
            case None => lit(null).cast(dt).as(c)
          }
        }: _*)
      }
      val values = spark.createDataFrame(java.util.List.of(Row()), new StructType())
        .select(array(structs: _*))
      val rowType = values.schema.head.dataType.asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType]
      spark.createDataFrame(values.head().getSeq[Row](0).asJava, rowType)
    }
  }

  /** Resolve an INSERT column list against the target schema: unquote,
    * match case-insensitively (SQLite identifier semantics), return the
    * target's exact casing. Shared by both INSERT forms so identifier
    * rules can't drift between them. */
  private def resolveColumns(given: Seq[String], target: Seq[String],
      stmt: String): Seq[String] =
    given.map { g =>
      val n = unquote(g.trim)
      target.find(_.equalsIgnoreCase(n)).getOrElse(
        throw InvalidSqlError(stmt, s"unknown column $n"))
    }

  /** `INSERT INTO t [(cols)] SELECT …` — rows map to the column list BY
    * POSITION (SQLite semantics); unlisted target columns become NULL,
    * except an implicit LongType rowid, which — like SQLite's hidden
    * rowid — never participates in an absent column list and gets fresh
    * values above the current max (unique/ascending, not dense, matching
    * the builder's documented rowid semantics). */
  final case class InsertSelect(table: String, columns: Option[Seq[String]],
      select: String) extends Mutation {
    /** The aligned inserted rows (pre-union), materialised: the session
      * counts them for changes(), and the trigger layer binds NEW to
      * them. Memoized: a BEFORE trigger sees the SAME rows the statement
      * then inserts (the SELECT evaluates once, against the pre-trigger
      * catalog — SQLite calls same-table interference from BEFORE bodies
      * undefined). */
    @transient private var inserted: Option[DataFrame] = None

    private[graft] def plannedRows(current: DataFrame,
        materialise: DataFrame => DataFrame): DataFrame =
      inserted.getOrElse(buildRows(current, materialise))

    def apply(current: DataFrame, materialise: DataFrame => DataFrame): DataFrame =
      current.unionByName(plannedRows(current, materialise))

    private def buildRows(current: DataFrame, materialise: DataFrame => DataFrame): DataFrame = {
      val spark = current.sparkSession
      val targetCols = current.columns.toSeq
      val hasAutoRowid = targetCols.contains("rowid") &&
        current.schema("rowid").dataType == org.apache.spark.sql.types.LongType
      val src = spark.sql(select)
      // with no column list, the implicit rowid is hidden from the
      // positional mapping — UNLESS the SELECT's width covers the whole
      // schema including rowid, which reads as an intentional full-width
      // insert (covers tables whose rowid is a genuine loaded column)
      val defaultCols =
        if (hasAutoRowid && src.columns.length != targetCols.length)
          targetCols.filterNot(_ == "rowid")
        else targetCols
      val givenCols = resolveColumns(columns.getOrElse(defaultCols), targetCols,
        s"INSERT INTO $table")
      if (src.columns.length != givenCols.length)
        throw InvalidSqlError(s"INSERT INTO $table",
          s"SELECT yields ${src.columns.length} columns, expected ${givenCols.length}")
      val renamed = src.toDF(givenCols: _*)
      val rowIdBase: Long =
        if (hasAutoRowid) {
          val r = current.agg(coalesce(max(col("rowid")), lit(0L))).head()
          r.getLong(0)
        } else 0L
      val fresh = lit(rowIdBase) + 1L + monotonically_increasing_id()
      val aligned = targetCols.map { c =>
        val dt = current.schema(c).dataType
        if (c == "rowid" && hasAutoRowid) {
          // absent → fresh; supplied NULLs → fresh (SQLite assigns for
          // NULL rowids); supplied values win otherwise
          if (givenCols.contains(c)) coalesce(col(s"`$c`").cast(dt), fresh.cast(dt)).as(c)
          else fresh.cast(dt).as(c)
        }
        else if (givenCols.contains(c)) col(s"`$c`").cast(dt).as(c)
        else lit(null).cast(dt).as(c)
      }
      // materialise: monotonically_increasing_id over a shuffled source
      // is NOT stable across re-executions of a lazy plan — the trigger
      // bindings and the stored version could see different rowids.
      // Freezing the rows fixes the assigned rowids (and matches
      // SQLite's eager insert semantics).
      val rows = materialise(renamed.select(aligned: _*))
      inserted = Some(rows)
      rows
    }
  }

  final case class Update(table: String, sets: Seq[(String, String)],
      where: Option[String]) extends Mutation {
    /** Post-image column expressions, evaluated against the PRE-update
      * row ("UPDATE t SET a = b, b = a" swaps) — shared by apply() and
      * the trigger layer's NEW binding so the two can't drift. */
    private[graft] def newImageCols(current: DataFrame): Seq[org.apache.spark.sql.Column] = {
      val assigned = sets.toMap
      sets.foreach { case (c, _) =>
        if (!current.columns.contains(c))
          throw InvalidSqlError(s"UPDATE $table", s"unknown column $c")
      }
      current.columns.toSeq.map { c =>
        assigned.get(c) match {
          case Some(e) => expr(e).cast(current.schema(c).dataType)
          case None => col(s"`$c`")
        }
      }
    }

    def apply(current: DataFrame, materialise: DataFrame => DataFrame): DataFrame = {
      val cond = where.map(expr).getOrElse(lit(true))
      // all columns are rewritten in ONE projection, never sequentially
      val projected = current.columns.toSeq.zip(newImageCols(current)).map {
        case (c, newCol) =>
          if (sets.exists(_._1 == c)) when(cond, newCol).otherwise(col(s"`$c`")).as(c)
          else col(s"`$c`")
      }
      current.select(projected: _*)
    }
  }

  final case class Delete(table: String, where: Option[String]) extends Mutation {
    def apply(current: DataFrame, materialise: DataFrame => DataFrame): DataFrame =
      if (where.isEmpty) current.limit(0) else current.filter(!matching(where))
  }

  /** The rows an UPDATE or DELETE `where` selects. SQL acts on rows where
    * the predicate is TRUE; rows where it is NULL are not matched — so
    * `coalesce(p, false)`, and a DELETE keeps NOT of that, not NOT(p)
    * (the latter drops NULL-predicate rows). */
  private[graft] def matching(where: Option[String]): Column =
    where.fold(lit(true))(w => coalesce(expr(w), lit(false)))

  // conflict clauses (OR REPLACE/IGNORE/…) and the bare REPLACE INTO
  // alias are accepted and inert: file-backed tables carry no unique
  // constraints, so SQLite's conflict resolution could never trigger on
  // them either
  private val InsertRe =
    """(?is)^\s*(?:INSERT\s+(?:OR\s+(?:REPLACE|IGNORE|ABORT|ROLLBACK|FAIL)\s+)?|REPLACE\s+)INTO\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*(\(([^)]*)\))?\s*VALUES\s*(.+?)\s*;?\s*$""".r
  private val InsertSelectRe =
    """(?is)^\s*(?:INSERT\s+(?:OR\s+(?:REPLACE|IGNORE|ABORT|ROLLBACK|FAIL)\s+)?|REPLACE\s+)INTO\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s*(\(([^)]*)\))?\s*((?:SELECT|WITH)\b.+?)\s*;?\s*$""".r
  private val UpdateRe =
    """(?is)^\s*UPDATE\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)\s+SET\s+(.+?)\s*;?\s*$""".r
  private val DeleteRe =
    """(?is)^\s*DELETE\s+FROM\s+("[^"]+"|[A-Za-z_][A-Za-z0-9_]*)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r

  /** Strip one layer of identifier quoting — the single unquoting rule
    * shared with the trigger parser. All three SQLite-dialect forms:
    * `"x"`, `` `x` `` (both ≥2 chars) and `[x]` (brackets never nest). */
  private[graft] def unquote(ident: String): String =
    if (ident.length >= 2 &&
        ((ident.startsWith("\"") && ident.endsWith("\"")) ||
          (ident.startsWith("`") && ident.endsWith("`")) ||
          (ident.startsWith("[") && ident.endsWith("]"))))
      ident.substring(1, ident.length - 1)
    else ident

  /** Recognize a DML statement; None ⇒ pass through to `spark.sql`. */
  def intercept(statement: String): Option[Mutation] = statement match {
    case InsertRe(table, _, cols, values) =>
      val columns = Option(cols).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      Some(Insert(unquote(table), columns, parseTuples(values)))
    case InsertSelectRe(table, _, cols, select) =>
      val columns = Option(cols).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      Some(InsertSelect(unquote(table), columns, select))
    case UpdateRe(table, rest) =>
      // quote-aware WHERE split: a regex alternative would match the
      // word WHERE inside a string literal in a SET expression
      val whereIdx = indexOfTopLevelWord(rest, "WHERE")
      val (sets, where) =
        if (whereIdx < 0) (rest, None)
        else (rest.substring(0, whereIdx), Some(rest.substring(whereIdx + 5).trim))
      val assignments = splitTopLevel(sets, ',').map { a =>
        val eq = indexOfTopLevel(a, '=')
        if (eq < 0) throw InvalidSqlError(statement, "malformed SET clause")
        (unquote(a.substring(0, eq).trim), a.substring(eq + 1).trim)
      }
      Some(Update(unquote(table), assignments, where))
    case DeleteRe(table, where) =>
      Some(Delete(unquote(table), Option(where).map(_.trim)))
    case _ => None
  }

  /** `(a, 'x', 1), (b, 'y', 2)` → Seq(Seq("a","'x'","1"), …), respecting
    * nested parens and string literals. */
  private def parseTuples(values: String): Seq[Seq[String]] = {
    val tuples = splitTopLevel(values, ',').map(_.trim)
    tuples.map { t =>
      if (!t.startsWith("(") || !t.endsWith(")"))
        throw InvalidSqlError(values, "VALUES tuple must be parenthesized")
      splitTopLevel(t.substring(1, t.length - 1), ',').map(_.trim)
    }
  }

  /** Split on a separator at paren-depth 0 outside string literals and
    * quoted identifiers — double-quoted, `backtick` (Spark/MySQL form,
    * doubling escapes) and [bracket] (SQLite form, ends at the first
    * `]`, no escape) all scan as atomic spans: an apostrophe, comma or
    * paren inside `"aud'it"`, `we're` or [we're] must not open a
    * literal, split the list, or shift the depth. */
  private[graft] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var inStr = false
    var inDq = false
    var inBt = false
    var inBr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        cur += c
        if (c == '\'') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { cur += '\''; i += 1 }
          else inStr = false
        }
      } else if (inDq) {
        cur += c
        if (c == '"') {
          if (i + 1 < s.length && s.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inDq = false
        }
      } else if (inBt) {
        cur += c
        if (c == '`') {
          if (i + 1 < s.length && s.charAt(i + 1) == '`') { cur += '`'; i += 1 }
          else inBt = false
        }
      } else if (inBr) {
        cur += c
        if (c == ']') inBr = false
      } else c match {
        case '\'' => inStr = true; cur += c
        case '"' => inDq = true; cur += c
        case '`' => inBt = true; cur += c
        case '[' => inBr = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.result(); cur.clear()
        case other => cur += other
      }
      i += 1
    }
    out += cur.result()
    out.result()
  }

  /** Index of a keyword at paren-depth 0 outside string literals and
    * double-quoted identifiers, bounded by whitespace; -1 if absent.
    * (Shared with the trigger parser, which splits CREATE TRIGGER at
    * its top-level BEGIN.) */
  private[graft] def indexOfTopLevelWord(s: String, word: String): Int = {
    var depth = 0; var inStr = false; var inDq = false
    var inBt = false; var inBr = false; var i = 0
    val n = s.length; val w = word.length
    while (i < n) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (inDq) { if (c == '"') inDq = false }
      else if (inBt) { if (c == '`') inBt = false }
      else if (inBr) { if (c == ']') inBr = false }
      else c match {
        case '\'' => inStr = true
        case '"' => inDq = true
        case '`' => inBt = true
        case '[' => inBr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && i + w <= n &&
            s.regionMatches(true, i, word, 0, w) &&
            (i == 0 || s.charAt(i - 1).isWhitespace) &&
            (i + w == n || s.charAt(i + w).isWhitespace))
            return i
      }
      i += 1
    }
    -1
  }

  private def indexOfTopLevel(s: String, target: Char): Int = {
    var depth = 0; var inStr = false; var inDq = false
    var inBt = false; var inBr = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (inDq) { if (c == '"') inDq = false }
      else if (inBt) { if (c == '`') inBt = false }
      else if (inBr) { if (c == ']') inBr = false }
      else c match {
        case '\'' => inStr = true
        case '"' => inDq = true
        case '`' => inBt = true
        case '[' => inBr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case `target` if depth == 0 => return i
        case _ =>
      }
      i += 1
    }
    -1
  }
}
