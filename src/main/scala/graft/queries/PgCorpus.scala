package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ddl.Dialect

/** External conformance corpus: PostgreSQL's regression suite
  * (postgres/src/test/regress), as adapted into golden tests by the
  * reference compiler (sql-to-dbsp-compiler `compiler/sql/postgres/
  * Postgres*Tests.java`) and ported here as DATA under
  * `resources/pgcorpus/` (scripts/port_pgcorpus.py) — queries plus
  * their RECORDED expected outputs. Unlike the self-authored
  * [[SqlConformance]]/[[SltFuzz]] batteries, these queries and answers
  * were written by neither this repo nor its oracle, so they probe
  * blind spots both share.
  *
  * Execution path: fixture DDL+INSERTs become temp views (bad rows
  * dropped via try_cast, mirroring the reference's tolerance of the
  * corpus's deliberately-invalid inserts); each query runs through
  * [[graft.ddl.Dialect.normalize]] — the production view path.
  *
  * Comparison: each result row renders to a canonical `|`-joined cell
  * string (Postgres .out conventions: `t`/`f` booleans, `MM-dd-yyyy`
  * dates, `Mon Feb 10 17:32:01.4 1997` timestamps) and compares as a
  * MULTISET against the recorded output — the same Z-set semantics the
  * reference's own harness uses (SqlIoTest.java compare via Change).
  * NULL and the corpus's textual null spellings canonicalize to one
  * marker on BOTH sides, so the compare is exact up to that encoding.
  *
  * Graded rows (`pgr_*`): the Spark side emits (tid, r) rendered rows;
  * the DuckDB "oracle" is a literal VALUES relation of the
  * corpus-recorded expected rows — the driver's hash-match then grades
  * Spark against PostgreSQL's own recorded answers, a stronger anchor
  * than cross-engine agreement.
  */
object PgCorpus {

  final case class CorpusTest(id: String, query: String,
      expected: Seq[Seq[String]])
  final case class Suite(name: String, setup: Seq[String],
      tests: Seq[CorpusTest])

  /** Per-suite rendering/canonicalization mode.
    *  - interval: exact-total interval canon (ym:/dt:).
    *  - floatWide: value-canonical float compare — float-looking cells
    *    on BOTH sides collapse to the IEEE bit pattern of the value
    *    (Some(false) = float4 width, Some(true) = float8); see
    *    [[org.apache.spark.sql.graft.GraftFloatRender]].
    *  - quidemBool: Calcite-quidem-derived suites print booleans
    *    true/false where the Postgres .out suites print t/f.
    */
  final case class SuiteMode(interval: Boolean = false,
      floatWide: Option[Boolean] = None, quidemBool: Boolean = false,
      /** MySQL-.result suites: the port maps the format's tab cell
        * separators to pipes, so a tab INSIDE a value (format_date
        * '%t') renders as a pipe on the actual side to match.
        */
      mysqlTabs: Boolean = false,
      /** varbinary suite: its recorded hex cells mix cases (0000000A
        * vs abcd); every actual-side cell is lowercase hex or digits,
        * so expected hex cells lowercase to match.
        */
      hexLower: Boolean = false)

  val modes: Map[String, SuiteMode] = Map(
    "interval" -> SuiteMode(interval = true),
    // interval-valued difference cells ("1 day", "7200 seconds")
    "mysql_tsdiff" -> SuiteMode(interval = true, mysqlTabs = true),
    "mysql_date" -> SuiteMode(mysqlTabs = true),
    "varbinary" -> SuiteMode(mysqlTabs = true, hexLower = true),
    "float4" -> SuiteMode(floatWide = Some(false)),
    "float8" -> SuiteMode(floatWide = Some(true)),
    "float8p2" -> SuiteMode(floatWide = Some(true)),
    // testBitAggs#1's recorded binary cells are uppercase hex (the pg
    // .out convention elsewhere is lowercase; renderCol emits lower)
    "aggregates" -> SuiteMode(hexLower = true),
    "aggq" -> SuiteMode(quidemBool = true),
    "winagg" -> SuiteMode(quidemBool = true),
    "subquery" -> SuiteMode(quidemBool = true),
    "selectq" -> SuiteMode(quidemBool = true),
    // miscq's interval arithmetic records verbose renderings
    "miscq" -> SuiteMode(quidemBool = true, interval = true),
    "outerq" -> SuiteMode(quidemBool = true),
    "winaggpost" -> SuiteMode(quidemBool = true),
    "sortq" -> SuiteMode(quidemBool = true),
    "aggscott" -> SuiteMode(quidemBool = true),
    "sorthr" -> SuiteMode(quidemBool = true),
    "redshiftq" -> SuiteMode(quidemBool = true),
    "structq" -> SuiteMode(quidemBool = true),
    "operatorq" -> SuiteMode(quidemBool = true, interval = true),
    "foodmart" -> SuiteMode(quidemBool = true),
    "hrwinagg" -> SuiteMode(quidemBool = true),
    // interval: SAFE_CAST interval cells record Calcite's verbose
    // rendering ("1 year", "61 mins") — the exact-total canon collapses
    // both sides; it also routes actual cells through canonCell, which
    // the '1.0'-input string cells need (decimal-trim symmetry)
    "bigquery" -> SuiteMode(quidemBool = true, interval = true),
    "asof" -> SuiteMode(quidemBool = true)
  ).withDefaultValue(SuiteMode())

  private val NullMarker = "∅"

  /** Canonical cell: trimmed; the corpus's null spellings and NULL
    * itself collapse to one marker (bool cells arrive as t/f already).
    */
  private val pgDate = """^(\d{2})-(\d{2})-(\d{4,})$""".r
  private val pgTs =
    ("""^[A-Z][a-z]{2} ([A-Z][a-z]{2}) (\d{1,2}) """ +
      """(\d{2}:\d{2}:\d{2}(?:\.\d+)?) (\d{1,})$""").r
  private val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec").zipWithIndex
    .map { case (m, i) => m -> f"${i + 1}%02d" }.toMap

  def canonCell(s: String): String = canonCell(s, interval = false)

  private val clockIv =
    """^(?:(-?\d+) days? )?([+-])?(\d{1,2}):(\d{2})(?::(\d{2}))?(\.\d+)?$""".r
  private val verboseIv =
    ("""^((?:-?\d+(?:\.\d+)? """ +
      """(?:years?|mons?|months?|days?|hours?|mins?|minutes?""" +
      """|secs?|seconds?)\s*)+)(ago)?$""").r

  /** Interval-suite cells parse to exact totals — ym:<months> /
    * dt:<micros> — because the corpus mixes Postgres verbose,
    * sql-standard and clock interval renderings; renderCol emits the
    * same totals from the typed values.
    */
  private def canonInterval(t: String): Option[String] = t match {
    case clockIv(days, tsign, hh, mm, ss, frac) =>
      val micros = Option(ss).map(_.toLong).getOrElse(0L) * 1000000L +
        mm.toLong * 60000000L + hh.toLong * 3600000000L +
        Option(frac).map(f0 =>
          math.round(f0.toDouble * 1000000L)).getOrElse(0L)
      // day-ful form: the corpus prints the sign on the day component
      // only ("-1 days 02:03:00" is the NEGATIVE 1d2h3m interval)
      val total = Option(days) match {
        case Some(ds) =>
          val sign = if (ds.startsWith("-")) -1L else 1L
          sign * (math.abs(ds.toLong) * 86400000000L + micros)
        case None =>
          (if (tsign == "-") -1L else 1L) * micros
      }
      Some(s"dt:$total")
    case verboseIv(body, ago) =>
      var months = 0L
      var micros = 0L
      var ym = false
      // Calcite renders one LEADING sign for the whole interval
      // ("-4 mins 30 secs" is -(4m30s)); Postgres signs each component
      // — an unsigned component inherits the preceding sign
      var carry = 1L
      val part = """([-+]?\d+(?:\.\d+)?) ([a-z]+)""".r
      for (m <- part.findAllMatchIn(body)) {
        val n0 = m.group(1)
        // an explicit '+' resets the carry ("-1 days +02:30" forms
        // print the later components positively-signed)
        val sign =
          if (n0.startsWith("-")) { carry = -1L; -1L }
          else if (n0.startsWith("+")) { carry = 1L; 1L }
          else carry
        val n = n0.stripPrefix("-").stripPrefix("+")
        def whole = sign * n.toLong
        def us = sign * math.round(n.toDouble * 1000000L)
        m.group(2).stripSuffix("s") match {
          case "year" => months += whole * 12; ym = true
          case "mon" | "month" => months += whole; ym = true
          case "day" => micros += whole * 86400000000L
          case "hour" => micros += whole * 3600000000L
          case "min" | "minute" => micros += whole * 60000000L
          case "sec" | "second" => micros += us
          case _ =>
        }
      }
      val sgn = if (ago != null) -1L else 1L
      Some(if (ym) s"ym:${sgn * months}" else s"dt:${sgn * micros}")
    case _ => None
  }

  /** Value-canonical float cell (expected-text side): a cell that is a
    * rendered float (has `.`/`e`, Infinity/NaN, or is `-0`) collapses
    * to the SAME form [[org.apache.spark.sql.graft.GraftFloatRender]]
    * emits for the typed value — integral-below-1e15 plain, IEEE bits
    * otherwise. Pure-integer cells stay text (they are compared
    * verbatim on both sides already). Injective on distinct values of
    * the suite's float width.
    */
  private def floatCanon(t: String, wide: Boolean): Option[String] = {
    import org.apache.spark.sql.graft.GraftFloatRender
    val special = t.matches("[-+]?(Infinity|NaN)")
    val numeric =
      t.matches("""[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?""") &&
        t.exists(c => c == '.' || c == 'e' || c == 'E')
    if (!special && !numeric && t != "-0") None
    else if (wide) Some(GraftFloatRender.renderDouble(
      java.lang.Double.parseDouble(t)))
    else Some(GraftFloatRender.renderFloat(
      java.lang.Float.parseFloat(t)))
  }

  def canonCell(s: String, interval: Boolean): String =
    canonCell(s, SuiteMode(interval = interval))

  def canonCell(s: String, mode: SuiteMode): String = {
    val interval = mode.interval
    val t = if (s == null) "" else s.trim
    if (t.isEmpty || t == "null" || t == "NULL") NullMarker
    else if (mode.floatWide.isDefined &&
      floatCanon(t, mode.floatWide.get).isDefined)
      floatCanon(t, mode.floatWide.get).get
    else if (mode.hexLower && t.matches("[0-9A-Fa-f]+"))
      t.toLowerCase
    else if (t == "-0") "0" // a corpus-side negative-zero int rendering
    else if (interval && canonInterval(t).isDefined) canonInterval(t).get
    else t match {
      // the corpus mixes rendering conventions across its adaptations
      // (ISO vs MM-dd-yyyy dates, ISO vs `Mon Feb 10 ... 1997`
      // timestamps — their TableParser accepts all); both sides
      // canonicalize to ISO with trimmed fractional seconds
      case sci if sci.matches("-?\\d+(\\.\\d+)?[eE][+-]?\\d+") =>
        // exponent-notation case varies across the corpus adaptations;
        // integral small values (quidem prints stddev 0 as "0e0")
        // collapse to the plain integer form renderCol emits
        val v = java.lang.Double.parseDouble(sci)
        if (v == Math.rint(v) && Math.abs(v) < 1e15 &&
          !(v == 0d && 1 / v < 0))
          java.math.BigDecimal.valueOf(v).toBigInteger.toString
        else sci.toLowerCase.replaceFirst("e(\\d)", "e+$1")
      case dec if dec.matches("-?\\d+\\.\\d+") =>
        val trimmed = dec.replaceAll("(\\.\\d*?)0+$", "$1")
          .replaceAll("\\.$", "")
        if (trimmed == "-0") "0" else trimmed
      case pgDate(mm, dd, y) => f"${y.toInt}%04d-$mm-$dd"
      case pgTs(mon, dd, time, y) =>
        f"${y.toInt}%04d-${months(mon)}-${dd.toInt}%02d ${trimFrac(time)}"
      case other if other.matches(
        """\d{4,}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d+)?""") =>
        val Array(d, tm) = other.split(" ", 2)
        s"$d ${trimFrac(tm)}"
      case other => other
    }
  }

  private def trimFrac(time: String): String =
    if (!time.contains('.')) time
    else time.replaceAll("0+$", "").stripSuffix(".")

  // ----------------------------------------------------------- parse

  def load(name: String): Suite = {
    val in = getClass.getResourceAsStream(s"/pgcorpus/$name.txt")
    require(in != null, s"pgcorpus resource missing: $name")
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val lines = text.split("\n", -1)
    val setup = Vector.newBuilder[String]
    val tests = Vector.newBuilder[CorpusTest]
    var mode = ""
    var testId = ""
    val buf = scala.collection.mutable.Buffer[String]()
    def flush(): Unit = {
      if (mode == "SETUP") setup ++= splitStatements(
        buf.map(stripLineComment).mkString("\n"))
      else if (mode == "TEST")
        tests ++= parseTests(testId, buf.toSeq, modes(name))
      buf.clear()
    }
    for (line <- lines) {
      if (line.startsWith("== SETUP")) { flush(); mode = "SETUP" }
      else if (line.startsWith("== TEST ")) {
        flush(); mode = "TEST"
        testId = line.drop("== TEST ".length).split(" ")(0)
      } else if (!line.startsWith("-- pgcorpus") &&
        !line.startsWith("-- provenance") &&
        !line.startsWith("--   sql-to-dbsp") &&
        !line.startsWith("-- ported ")) buf += line
    }
    flush()
    Suite(name, setup.result(), tests.result())
  }

  /** Test block(s): query (up to the line ending with `;`), then the
    * .out table: header, ---- separator, data rows, optional "(N rows)"
    * fence. A block may carry several query/table units back to back;
    * units after the first get a `/k` id suffix.
    */
  private def parseTests(id: String, lines0: Seq[String],
      suiteMode: SuiteMode = SuiteMode()): Seq[CorpusTest] = {
    val out = Vector.newBuilder[CorpusTest]
    var lines = lines0.dropWhile(_.trim.isEmpty)
    var k = 0
    while (lines.exists(_.trim.nonEmpty)) {
      val uid = if (k == 0) id else s"$id/$k"
      val qEnd =
        lines.indexWhere(l => stripLineComment(l).trim.endsWith(";"))
      require(qEnd >= 0, s"pgcorpus test $uid: no query terminator")
      val query = lines.take(qEnd + 1).map(stripLineComment)
        .mkString("\n").trim.stripSuffix(";")
      val rest = lines.drop(qEnd + 1)
      val sepIdx = rest.indexWhere(l =>
        l.trim.nonEmpty && l.trim.forall(c => c == '-' || c == '+'))
      val fence: String => Boolean = _.trim.matches("""\(\d+ rows?\)""")
      // keep blank lines: a single-column empty/NULL row renders as an
      // (almost) empty line in .out; trailing blanks are trimmed only
      // when there is no "(N rows)" fence to delimit the rows exactly
      val afterSep = if (sepIdx < 0) Seq.empty else rest.drop(sepIdx + 1)
      val fenceIdx = afterSep.indexWhere(fence)
      val dataLines =
        if (fenceIdx >= 0) afterSep.take(fenceIdx)
        else {
          val untilNext = afterSep
          untilNext.reverse.dropWhile(_.trim.isEmpty).reverse
        }
      out += CorpusTest(uid, query,
        dataLines.map(_.split("\\|", -1).toSeq
          .map(canonCell(_, suiteMode))))
      lines =
        (if (fenceIdx >= 0) afterSep.drop(fenceIdx + 1) else Seq.empty)
          .dropWhile(_.trim.isEmpty)
      k += 1
    }
    out.result()
  }

  /** Drop a `--` comment outside quoted spans. */
  private def stripLineComment(l: String): String =
    Dialect.unquotedMatches(l, lineComment).nextOption()
      .fold(l)(m => l.substring(0, m.start))

  private val lineComment = "--".r

  private def splitStatements(s: String): Seq[String] =
    Dialect.splitTopLevel(s, ';').map(_.trim).filter(_.nonEmpty)

  // ----------------------------------------------------------- setup

  /** Postgres type spellings → Spark (word-boundary, case-insensitive). */
  private[queries] def mapPgTypes(sql: String): String = {
    var s = sql
    s = "(?i)\\bdouble\\s+precision\\b".r.replaceAllIn(s, "DOUBLE")
    for ((pg, spark) <- Seq("int2" -> "SMALLINT", "int4" -> "INT",
      "int8" -> "BIGINT", "float4" -> "FLOAT", "float8" -> "DOUBLE",
      "int16" -> "SMALLINT", "int32" -> "INT", "int64" -> "BIGINT",
      "bytea" -> "BINARY",
      "text" -> "STRING", "bool" -> "BOOLEAN", "numeric" -> "DECIMAL"))
      s = ("(?i)\\b" + pg + "\\b").r.replaceAllIn(s, spark)
    graft.ddl.Dialect.mapBareTypes(s) // bare VARCHAR → STRING
  }

  private val createTypeRe =
    """(?is)\s*CREATE\s+TYPE\s+(\w+)\s+AS\s*\((.*)\)\s*""".r
  private val createRe =
    """(?is)\s*CREATE\s+TABLE\s+(\w+)\s*\((.*)\)\s*""".r
  private val createViewRe =
    """(?is)\s*CREATE\s+(?:LOCAL\s+|MATERIALIZED\s+)?VIEW\s+(\w+)\s*(\([^)]*\))?\s*AS\s+(.*)""".r
  private val insertRe =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.*)""".r

  /** Build each corpus table as a temp view over VALUES with per-column
    * try_cast; rows whose non-null literals fail the cast are dropped —
    * the corpus includes deliberately-invalid inserts ('1997-02-29',
    * BC dates) whose rows the recorded outputs omit. Returns the
    * (table, columns) defs — the incremental replay reuses them as a
    * Pipeline program.
    */
  def registerSetup(spark: SparkSession,
      suite: Suite): Seq[(String, Seq[(String, String)])] = {
    graft.functions.Registry.registerAll(spark)
    val cols = scala.collection.mutable.LinkedHashMap[String,
      Seq[(String, String)]]() // table -> (colName, sparkType)
    val rows = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.Buffer[String]]() // table -> tuples text
    // CREATE TYPE name AS (fields) → STRUCT<fields> alias, substituted
    // into later column types (grammar.md:43-50; the HR fixture's
    // `employees Employee ARRAY`)
    val typeAliases = scala.collection.mutable.LinkedHashMap[String,
      String]()
    def resolveAliases(t: String): String =
      typeAliases.foldLeft(t) { case (acc, (n, struct)) =>
        // postfix `Name ARRAY` first (mapBareTypes only rewrites the
        // builtin names), then the alias itself
        val arr = ("(?i)\\b" + n + "\\s+ARRAY\\b").r
          .replaceAllIn(acc, "ARRAY<" + n + ">")
        ("(?i)\\b" + n + "\\b").r.replaceAllIn(arr,
          java.util.regex.Matcher.quoteReplacement(struct))
      }
    for (stmt <- suite.setup) stmt match {
      case createTypeRe(name, body) =>
        val fields = Dialect.splitTopLevel(body).map(_.trim)
          .filter(_.nonEmpty).map { d =>
            val parts = d.split("\\s+", 2)
            s"${parts(0).toLowerCase}: ${mapPgTypes(parts(1).trim)}"
          }
        typeAliases(name.toLowerCase) =
          fields.mkString("STRUCT<", ", ", ">")
      case createRe(name, body) =>
        val defs = Dialect.splitTopLevel(body).map(_.trim).filter(_.nonEmpty)
          .filterNot(_.toUpperCase.startsWith("PRIMARY "))
          .map { d =>
            val parts = d.split("\\s+", 2)
            // column defs erase [VAR]BINARY widths (Spark's BINARY is
            // unparameterized); query-path casts keep them — the
            // Dialect lowers those onto graft_to_binary
            (parts(0).toLowerCase,
              resolveAliases(mapPgTypes(parts(1)
                .replaceAll(
                  "(?i)\\b(not\\s+null|primary\\s+key|unique)\\b", "")
                .replaceAll("(?i)\\b(?:var)?binary\\s*\\(\\s*\\d+\\s*\\)",
                  "BINARY")
                .replaceAll("(?i)\\bvarbinary\\b", "BINARY")
                .trim)))
          }
        cols(name.toLowerCase) = defs
        rows.getOrElseUpdate(name.toLowerCase,
          scala.collection.mutable.Buffer[String]())
      case insertRe(name, colList, values) =>
        val t = name.toLowerCase
        val tuples = Dialect.splitTopLevel(values.trim).map(_.trim)
        val targetCols = Option(colList)
          .map(_.split(",").map(_.trim.toLowerCase).toSeq)
        val allCols = cols(t).map(_._1)
        rows.getOrElseUpdate(t, scala.collection.mutable.Buffer[String]())
        for (tup <- tuples if tup.nonEmpty) {
          // Postgres typed bool literals (`bool 't'`) in fixture rows
          val inner0 = tup.stripPrefix("(").stripSuffix(")")
          val inner1 = """(?i)\bbool(?:ean)?\s+('(?:[^']|'')*')""".r
            .replaceAllIn(inner0, "CAST($1 AS BOOLEAN)")
          // the SQL-standard UNKNOWN boolean literal IS NULL (the
          // quidem EMPS fixture uses it); Spark has no such literal
          val inner = mapOutsideLiterals(inner1)(run =>
            """(?i)\bUNKNOWN\b""".r.replaceAllIn(run, "NULL"))
          // quote bare numeric literals destined for DECIMAL/STRING
          // columns — Spark's inline tables refuse mixed INT/STRING
          def normalized(values: Seq[String]): Seq[String] =
            cols(t).map(_._2).zipAll(values, "STRING", "NULL").map {
              case (tpe, v)
                if v.matches("-?[\\d.]+") &&
                  (tpe.toUpperCase.startsWith("DECIMAL") ||
                    tpe.toUpperCase.startsWith("STRING")) => s"'$v'"
              case (_, v) => v
            }
          targetCols match {
            case None =>
              rows(t) += normalized(Dialect.splitTopLevel(inner)
                .map(_.trim)).mkString("(", ", ", ")")
            case Some(tc) => // reorder/pad to the full column list
              val vals = Dialect.splitTopLevel(inner).map(_.trim)
              val byCol = tc.zip(vals).toMap
              rows(t) += normalized(
                allCols.map(byCol.getOrElse(_, "NULL")))
                .mkString("(", ", ", ")")
          }
        }
      case createViewRe(name, colList, body) =>
        // fixture views (the interval suite) go straight through the
        // dialect path like any program view; normalize already
        // escapes literal backslashes — a second pass would quadruple
        spark.sql(
          s"CREATE OR REPLACE TEMPORARY VIEW ${name.toLowerCase}" +
            s"${Option(colList).getOrElse("")} AS " +
            graft.ddl.Dialect.normalize(body))
      case other =>
        System.err.println(s"pgcorpus: ignoring setup statement: " +
          other.take(60))
    }
    for ((t, defs) <- cols) {
      val vnames = defs.indices.map(i => s"v$i")
      val casts = defs.zip(vnames).map { case ((c, tpe), v) =>
        s"TRY_CAST($v AS $tpe) AS $c" }.mkString(", ")
      val guards = defs.zip(vnames).map { case ((_, tpe), v) =>
        // DATE casts in Spark tolerate trailing junk ('2040-04-10 BC'
        // parses); a round-trip equality makes the bad-row drop exact
        if (tpe.toUpperCase.startsWith("DATE"))
          s"($v IS NULL OR CAST(TRY_CAST($v AS $tpe) AS STRING) = " +
            s"trim(CAST($v AS STRING)))"
        else s"($v IS NULL OR TRY_CAST($v AS $tpe) IS NOT NULL)" }
        .mkString(" AND ")
      val body =
        if (rows(t).isEmpty) {
          val schema = defs
            .map { case (c, tpe) => s"CAST(NULL AS $tpe) AS $c" }
            .mkString(", ")
          s"SELECT $schema WHERE 1 = 0"
        } else
          s"SELECT $casts FROM (VALUES ${rows(t).mkString(", ")}) AS " +
            s"_v(${vnames.mkString(", ")}) WHERE $guards"
      // fixture literals are standard-conforming; protect backslashes
      // from Spark's C-style literal escapes, like Dialect.normalize
      spark.sql(graft.ddl.Dialect.escapeLiteralBackslashes(
        s"CREATE OR REPLACE TEMPORARY VIEW $t AS $body"))
    }
    cols.toSeq
  }

  // ------------------------------------------------------------- run

  /** Corpus-dialect pre-rewrites the production Dialect does not carry
    * (they are Postgres-testfile idioms, not reference grammar):
    * quoted/keyword column aliases and Postgres type names. All
    * rewrites are quote-aware — a literal 'text' must never be read as
    * the type text. Double-quoted aliases are replaced with generated
    * names: the corpus headers are not compared (only cells are), and
    * several carry parens/commas the identifier map rejects by design.
    */
  private[queries] def preRewrite(q: String): String = {
    var n = 0
    val mapped = mapOutsideLiterals(q) { run =>
      var s = run
      s = """(?i)\bAS\s+(?:U&)?"([^"]*)"(\s+UESCAPE)?""".r.replaceAllIn(s,
        m => {
          // simple-word quoted aliases stay (backticked later by the
          // quoted-ident rewrite): a PIVOT agg alias is REFERENCEABLE
          // through the generated column names (pivotq testPivot#3);
          // only weird content (parens/commas/escapes) gets renamed
          if (m.group(2) == null && m.group(1).matches("[A-Za-z_]\\w*"))
            scala.util.matching.Regex.quoteReplacement(m.matched)
          else {
            n += 1
            if (m.group(2) == null) s"AS _qa$n" else s"AS _qa$n UESCAPE"
          }
        })
      s = """(?i)\bAS\s+(true|false|year|month|day|case|end|from|to)\b""".r
        .replaceAllIn(s, m => "AS `" + m.group(1) + "`")
      mapPgTypes(s)
    }
    // a dropped quoted alias may have carried a UESCAPE clause whose
    // escape-char literal sat outside the rewritten run
    val noUe = """(?i)\bAS\s+(_qa\d+) UESCAPE\s*'[^']*'""".r
      .replaceAllIn(mapped, "AS $1")
    // Postgres's typed bool literal (`bool 't'`) has no Spark typed-
    // literal form; CAST accepts the same spellings. The single-quoted
    // alias form (`AS 'one'`) also sits across the literal boundary.
    val noBool = """(?i)\bBOOLEAN\s+('(?:[^']|'')*')""".r
      .replaceAllIn(noUe, "CAST($1 AS BOOLEAN)")
    """(?i)\bAS\s+'([^']+)'""".r
      .replaceAllIn(noBool, m => "AS `" + m.group(1) + "`")
  }

  /** Apply `f` to the text between single-quoted literals, leaving the
    * literals themselves untouched ('' is the embedded-quote escape).
    */
  private def mapOutsideLiterals(s: String)(f: String => String): String = {
    val out = new StringBuilder
    val run = new StringBuilder
    var i = 0
    var inQ = false
    def flushRun(): Unit = { out ++= f(run.toString); run.clear() }
    while (i < s.length) {
      val c = s.charAt(i)
      if (!inQ && c == '\'') { flushRun(); inQ = true; out += c }
      else if (inQ && c == '\'') {
        if (i + 1 < s.length && s.charAt(i + 1) == '\'') {
          out ++= "''"; i += 1
        } else { inQ = false; out += c }
      } else if (inQ) out += c
      else run += c
      i += 1
    }
    flushRun()
    out.toString
  }

  def runQuery(spark: SparkSession, q: String): DataFrame =
    org.apache.spark.sql.graft.IntegerDivision(
      spark.sql(graft.ddl.Dialect.normalize(preRewrite(q))))

  /** One query result as a single rendered column `r`: columns renamed
    * positionally first — corpus queries may emit duplicate names
    * (`SELECT *` over a join) that a by-name render would find
    * ambiguous.
    */
  private[graft] def renderedRows(df: DataFrame,
      mode: SuiteMode = SuiteMode()): DataFrame = {
    val rn = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cells = rn.schema.fields.map(renderCol(_, mode)).toSeq
    // the interval suite's expected cells canonicalize through
    // canonInterval; STRING results (CAST(interval AS VARCHAR)) must
    // take the same path so "+2:03" and "dt:7380000000" compare equal
    val canon =
      if (!mode.interval) cells
      else {
        val u = udf((x: String) =>
          if (x == null) null else canonCell(x, interval = true))
        cells.map(u(_))
      }
    rn.select(concat_ws("|", canon: _*).as("r"))
  }

  private[graft] def renderCol(f: StructField): Column =
    renderCol(f, SuiteMode())

  /** Render one column to its canonical Postgres-.out cell string. */
  private[graft] def renderCol(f: StructField,
      mode: SuiteMode): Column = {
    val c = col(f.name)
    // value-canonical float compare (float4/float8 suites): every
    // float-valued column — incl. Spark's DOUBLE sum over FLOAT and
    // DECIMAL averages — collapses to the suite width's bit pattern,
    // mirroring floatCanon on the expected text exactly
    def bits(wide: Boolean): Column = expr(
      s"graft_float_render(CAST(${f.name} AS " +
        s"${if (wide) "DOUBLE" else "FLOAT"}), $wide)")
    val rendered = f.dataType match {
      case BooleanType if mode.quidemBool =>
        when(c, "true").otherwise("false")
      case BooleanType => when(c, "t").otherwise("f")
      case FloatType | DoubleType | _: DecimalType
        if mode.floatWide.isDefined => bits(mode.floatWide.get)
      // the corpus renders binary as bare lowercase hex (TableParser)
      case BinaryType => lower(hex(c))
      // canonical ISO forms — expected cells canonicalize to the same
      // (see canonCell; the corpus mixes rendering conventions)
      case DateType => date_format(c, "yyyy-MM-dd")
      case TimestampType | TimestampNTZType =>
        val frac = regexp_replace(
          regexp_replace(date_format(c, ".SSSSSS"), "0+$", ""),
          "^\\.$", "")
        // negative (BC) years render unsigned like the corpus (its
        // datestyle prints "0097 BC"; canonCell keeps only the digits)
        concat(regexp_replace(
          date_format(c, "yyyy-MM-dd HH:mm:ss"), "^-", ""), frac)
      case DoubleType | FloatType =>
        // Postgres float output: plain below 1e15 (integral values
        // without the .0), lowercase e+NN scientific above — Java's
        // repr maps onto it ("4.0E15" → "4e+15"); the heavily
        // format-sensitive float4/float8 suites are not ported
        val sci = regexp_replace(regexp_replace(
          c.cast(StringType), "\\.0E", "E"), "E(-?)", "e+$1")
        when(c === floor(c) && abs(c) < 1e15,
          c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
            .cast(StringType))
          .otherwise(regexp_replace(
            regexp_replace(sci, "e\\+-", "e-"), "\\.0$", ""))
      case StringType if mode.mysqlTabs =>
        // tab-in-value → pipe, mirroring the port's separator mapping
        regexp_replace(regexp_replace(c, "\u0000", "\\\\0"), "\t", "|")
      case StringType =>
        // the corpus renders an embedded NUL as the 2-char "\0"
        regexp_replace(c, "\u0000", "\\\\0")
      case ArrayType(_, _) if mode.quidemBool =>
        // quidem records arrays "{1, 2}" (no leading space)
        when(size(c) === 0, "{}").otherwise(concat(lit("{"),
          array_join(transform(c, e => e.cast(StringType)), ", ",
            "NULL"), lit("}")))
      case ArrayType(_, _) =>
        // the corpus renders arrays "{ a, b, }" (leading space, comma-
        // joined, NULL spelled out)
        when(size(c) === 0, "{}").otherwise(concat(lit("{ "),
          array_join(transform(c, e => e.cast(StringType)), ", ",
            "NULL"), lit("}")))
      case _: DecimalType =>
        // Postgres trims trailing fractional zeros
        regexp_replace(regexp_replace(
          c.cast(StringType), "(\\.\\d*?)0+$", "$1"), "\\.$", "")
      case t if t.typeName == "time" || t.typeName.startsWith("time(") =>
        regexp_replace(regexp_replace(
          c.cast(StringType), "(\\.\\d*?)0+$", "$1"), "\\.$", "")
      case _: YearMonthIntervalType | _: DayTimeIntervalType =>
        // canonical exact total (months / micros) via the RAW stored
        // value: the end-field numeric cast would truncate the
        // denormalized values GraftIntervalCast preserves
        val prefix =
          if (f.dataType.isInstanceOf[YearMonthIntervalType]) "ym:"
          else "dt:"
        concat(lit(prefix), expr(s"graft_interval_total(${f.name})")
          .cast(StringType))
      case _ => c.cast(StringType)
    }
    when(c.isNull, NullMarker).otherwise(
      when(trim(rendered).isin("", "null", "NULL"), NullMarker)
        .when(trim(rendered) === "-0", "0") // mirrors canonCell
        .otherwise(trim(rendered)))
  }

  /** Run every (non-skipped) test of a suite; returns (tid, r) rendered
    * actual rows — the graded-row relation. Units evaluate EAGERLY
    * with a scoped single-partition shuffle: the fixtures are a few
    * hundred rows,
    * and a lazy union of ~100 grouped subplans at the bench's 32
    * shuffle partitions prices as thousands of empty tasks
    * (pgr_aggscott read 126 task-s before this).
    */
  def runSuite(spark: SparkSession, suite: Suite,
      skip: Set[String]): DataFrame = {
    val spKey = "spark.sql.shuffle.partitions"
    val wsKey = "spark.sql.codegen.wholeStage"
    val fmKey = "spark.sql.codegen.factoryMode"
    val aqKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(spKey)
    val prevWs = spark.conf.get(wsKey, "true")
    val prevFm = spark.conf.get(fmKey, "FALLBACK")
    val prevAq = spark.conf.get(aqKey, "true")
    spark.conf.set(spKey, "1")
    // interpreted mode for the suite: hundreds of DISTINCT fixture-sized
    // plans thrash the 100-entry codegen cache and janino-compile inside
    // tasks (measured 12x task-time inflation under the concurrent
    // runner); interpreted eval is the right regime at corpus size
    spark.conf.set(wsKey, "false")
    spark.conf.set(fmKey, "NO_CODEGEN")
    // AQE off at fixture size: one job per query instead of one per
    // shuffle stage (see StreamCorpus.runSuite)
    spark.conf.set(aqKey, "false")
    try {
      // tests are independent reads over the suite's fixture temp
      // views; each one's cost is driver-side analysis plus a tiny job,
      // so evaluate them CONCURRENTLY from a bounded pool (optimization
      // guide §2.6) — the grade is a multiset, order is free
      val collected = Par.map(suite.tests.filterNot(t => skip(t.id)),
        Par.width(spark)) { t =>
        renderedRows(runQuery(spark, t.query), modes(suite.name))
          .collect().toSeq.map(r => (t.id, r.getString(0)))
      }.flatten
      import spark.implicits._
      collected.toDF("tid", "r")
    } finally {
      spark.conf.set(spKey, prev)
      spark.conf.set(wsKey, prevWs)
      spark.conf.set(fmKey, prevFm)
      spark.conf.set(aqKey, prevAq)
    }
  }

  // ------------------------------------------- incremental replay

  /** Fixture table names, statically (no session needed). */
  def tableNames(suite: Suite): Seq[String] =
    suite.setup.collect { case createRe(name, _) => name.toLowerCase }

  /** The incremental replay's query subset: table-referencing (a pure
    * literal SELECT has no deltas to maintain) and LIMIT-free (a limit
    * without a total order picks nondeterministic rows, so batch-vs-
    * incremental equality is not a contract for them).
    */
  def incEligible(suite: Suite): Seq[CorpusTest] = {
    val tables = tableNames(suite)
    suite.tests.filterNot(t => skips(suite.name)(t.id))
      .filter(t => tables.exists(n =>
        ("(?i)\\b" + n + "\\b").r.findFirstIn(t.query).isDefined))
      .filterNot(t => "(?i)\\b(LIMIT|FETCH|OFFSET)\\b".r
        .findFirstIn(t.query).isDefined)
      // a view needs unique output names; some corpus selects repeat
      // an alias (legal for a plain SELECT) — both the AS form and the
      // bare `expr alias` form (aggq testGrouping#7's two `gd`s)
      .filterNot { t =>
        val kw = Set("from", "where", "group", "order", "having",
          "union", "over", "filter", "as", "on", "join", "window",
          "and", "or", "then", "else", "end", "in")
        val names = ("""(?i)\bAS\s+(\w+)""".r
          .findAllMatchIn(t.query).map(_.group(1)) ++
          """(?m)\)\s+([A-Za-z_]\w*)\s*(?=,|$)""".r
            .findAllMatchIn(t.query).map(_.group(1)))
          .map(_.toLowerCase).filterNot(kw).toSeq
        names.distinct.size != names.size
      }
      // correlated scalar subqueries decorrelate into plans the
      // Pipeline's leaf-substitution surgery does not support as
      // standing views yet (foodmart testScalar) — batch-graded only
      .filterNot(t =>
        """(?i)\(\s*select\b""".r.findFirstIn(t.query).isDefined)
      // `SELECT *` over a join duplicates join-key column names —
      // legal for a SELECT, not for a standing view's schema
      .filterNot(t => t.query.contains("*") &&
        """(?i)\bjoin\b""".r.findFirstIn(t.query).isDefined)
  }

  /** The reference's SLT `-inc` contract (sql-to-dbsp-compiler
    * README.md:147,186-192): feed the inputs as MULTIPLE delta steps
    * through the incremental path and assert the final view state
    * equals the batch answer — here the anchor is the corpus's
    * RECORDED output, so incremental maintenance is graded on queries
    * authored by neither this repo nor its oracle.
    *
    * One Pipeline program per suite (fixture tables + a materialized
    * view per eligible query); the fixture rows arrive in three steps
    * — thirds by row hash, with the first third RETRACTED in step 2
    * and re-inserted in step 3, so every view maintains real deletions,
    * not just inserts.
    */
  def runSuiteIncremental(spark: SparkSession,
      suite: Suite): DataFrame =
    runSuiteIncremental(spark, suite, Int.MaxValue)

  def runSuiteIncremental(spark: SparkSession,
      suite: Suite, cap: Int): DataFrame = {
    // constraint propagation explodes combinatorially on the stitched
    // delta plans over the wide foodmart fixtures (OOM inside
    // getAllValidConstraints); it buys nothing on few-row programs
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val prevCp = spark.conf.get(cpKey, "true")
    // few-hundred-row fixtures through many steps: single-partition
    // shuffles keep the per-step task count (and the row's task-time
    // price) at the data's size (guide §2.2; r16 A/B vs 4-way: equal or
    // better wall, 3x lower replay task time)
    val spKey = "spark.sql.shuffle.partitions"
    val prevSp = spark.conf.get(spKey)
    spark.conf.set(cpKey, "false")
    spark.conf.set(spKey, "1")
    try runSuiteIncremental0(spark, suite, cap)
    finally {
      spark.conf.set(cpKey, prevCp)
      spark.conf.set(spKey, prevSp)
    }
  }

  private def runSuiteIncremental0(spark: SparkSession,
      suite: Suite, cap: Int): DataFrame = {
    import graft.zset.ZSets
    val defs = registerSetup(spark, suite)
    val eligible = incSample(incEligible(suite), cap)
    // SqlTypes spellings for the Pipeline DDL (FLOAT is Spark-only;
    // bare DECIMAL defaults differ — pin the scale on both sides)
    def pipeType(t: String): String = t.toUpperCase match {
      case "FLOAT" => "REAL"
      case "DECIMAL" => "DECIMAL(38, 10)"
      case other => other
    }
    val ddl = defs.map { case (n, cs) =>
      s"CREATE TABLE $n (${cs.map { case (c, t) =>
        s"$c ${pipeType(t)}" }.mkString(", ")});" }
    // materialize the fixture rows ONCE on the driver (they are a few
    // hundred rows); each chunk rebuilds them as LocalRelations in its
    // own session — cheaper than per-table localCheckpoint jobs, and
    // session-portable. INTERNAL rows, not collect(): the external-row
    // converter cannot carry every SQL type (TIME — the foodmart
    // fixture's time_by_day)
    val localFrames = defs.map { case (n, cs) =>
      val df = spark.table(n).selectExpr(cs.map { case (c, t) =>
        s"CAST($c AS ${pipeType(t)}) AS $c" }: _*)
      val (attrs, rows) =
        org.apache.spark.sql.graft.Shims.internalRows(df)
      (n, attrs, rows)
    }
    def slice(df: DataFrame, k: Int): DataFrame =
      df.where(pmod(hash(df.columns.map(col): _*), lit(3)) === k)
    // chunked into SMALL independent pipelines run CONCURRENTLY from a
    // bounded pool (guide §2.6), each in a child session (a Pipeline
    // registers temp views under the fixture table names and incv*,
    // which collide across chunks in one catalog). The replay's cost is
    // the serial per-view-per-step driver floor (plan analysis + job
    // latency; task time is a fraction of wall), so small chunks * wide
    // pool parallelizes the floor; width * chunk size bounds the live
    // trace state at ~24 views — same heap envelope as the previous
    // serial 16-view chunks. Each chunk feeds only the tables its views
    // reference: the per-step table-integration floor then scales with
    // the chunk, not the whole fixture catalog.
    val chunks = eligible.grouped(4).toSeq
    val collected = Par.map(chunks,
      math.min(6, Par.width(spark))) { chunk =>
      val s = Par.childSession(spark,
        "spark.sql.constraintPropagation.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "1",
        // interpreted-mode children: see StreamCorpus.runSuite — the
        // replay's distinct per-view plans otherwise janino-compile
        // inside tasks through a thrashed global codegen cache
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        // AQE off in fixture-sized children: one job per query instead
        // of one per shuffle stage (see StreamCorpus.runSuite)
        "spark.sql.adaptive.enabled" -> "false")
      val used = localFrames.map(_._1).filter(n => chunk.exists(t =>
        ("(?i)\\b" + n + "\\b").r.findFirstIn(t.query).isDefined)).toSet
      val frames = localFrames.filter(f => used(f._1))
        .map { case (n, attrs, rows) =>
          n -> org.apache.spark.sql.graft.Shims.fromInternalRows(
            s, attrs, rows)
        }
      val views = chunk.zipWithIndex.map { case (t, i) =>
        s"CREATE MATERIALIZED VIEW incv$i AS ${preRewrite(t.query)};" }
      val pipe = graft.runtime.Pipeline(s,
        (ddl ++ views).mkString("\n"))
      pipe.step(frames.map { case (n, f) =>
        n -> ZSets.lift(slice(f, 0).unionByName(slice(f, 1))) }.toMap)
      pipe.step(frames.map { case (n, f) =>
        n -> ZSets.lift(slice(f, 2)).unionByName(
          ZSets.negate(ZSets.lift(slice(f, 0)))) }.toMap)
      pipe.step(frames.map { case (n, f) =>
        n -> ZSets.lift(slice(f, 0)) }.toMap)
      chunk.zipWithIndex.flatMap { case (t, i) =>
        renderedRows(pipe.adHoc(s"SELECT * FROM incv$i"),
          modes(suite.name))
          .collect().toSeq.map(r => (t.id, r.getString(0)))
      }
    }.flatten
    import spark.implicits._
    collected.toDF("tid", "r")
  }

  /** Replayed suites: the window/aggregate/join/grouping-set shapes —
    * the classes where a wrong delta rule shows.
    */
  def incSuites: Seq[String] = Seq("window", "aggregates", "aggq",
    "int4", "groupingsets", "foodmart", "outerq")

  /** Deterministic subset for the GRADED rows: the replay's cost is
    * the ~25 ms/job driver floor times views x steps x chunks, so the
    * bench rows replay a stable hash-chosen sample per suite while
    * PgCorpusIncSpec keeps the FULL breadth (r14 verdict's accepted
    * trade — identical unit coverage stays in the tree).
    */
  private[graft] def incSample(ts: Seq[CorpusTest],
      cap: Int): Seq[CorpusTest] =
    if (ts.size <= cap) ts
    else ts.sortBy(t => (t.id.hashCode & 0x7fffffff, t.id)).take(cap)
      .sortBy(t => ts.indexOf(t))

  private val incGradedCap = 24

  def incQueries: Seq[Q] = incSuites.map { name =>
    val suite = load(name)
    val keep = incSample(incEligible(suite), incGradedCap)
      .map(_.id).toSet
    val skip = suite.tests.map(_.id).toSet -- keep
    Q(s"pgr_inc_$name", expectedSql(suite, skip)) { (s, _) =>
      runSuiteIncremental(s, suite, incGradedCap)
    }
  }

  /** The corpus-recorded expected rows of a suite as literal SQL —
    * the driver's DuckDB "oracle" for the graded rows.
    */
  def expectedSql(suite: Suite, skip: Set[String]): String = {
    val rows = for {
      t <- suite.tests if !skip(t.id)
      row <- if (t.expected.isEmpty) Seq.empty else t.expected
    } yield s"('${t.id}', '${row.mkString("|").replace("'", "''")}')"
    require(rows.nonEmpty, s"suite ${suite.name}: no expected rows")
    s"SELECT tid, r FROM (VALUES ${rows.mkString(", ")}) AS t(tid, r)"
  }

  /** Expected rows as in-memory pairs (for the ScalaTest harness). */
  def expectedRows(suite: Suite, skip: Set[String]): Seq[(String, String)] =
    for {
      t <- suite.tests if !skip(t.id)
      row <- t.expected
    } yield (t.id, row.mkString("|"))

  // ------------------------------------------------- graded surface

  /** Per-suite skip lists: corpus tests exercising features with no
    * equivalent here, each with its reason. Kept small and explicit —
    * every skip is a documented divergence, not a silent drop.
    */
  val skips: Map[String, Set[String]] = Map(
    // a double-quoted alias containing parens/commas ("NULLIF(a.i,b.i)")
    // — Dialect's quoted-identifier map rejects such identifiers loudly
    // by design (they would derail the statement scanners)
    "case" -> Set("testCases2#10"),
    // (testBitAggs#1 closed in r14: BIT_AND/OR/XOR now type-dispatch
    // to the bytewise aggregators — builders see resolved children)
    // FLOAT4 rendering: Postgres prints the true shortest round-trip
    // decimal ("4.56789e+15"); the JVM's Float.toString is not
    // shortest ("4.5678899E15") — same float value, formatting-only
    "int8" -> Set("testSelect#51"),
    // error-contract units: the corpus records these as raising (zero
    // output rows); this engine follows string.md's documented
    // behavior instead — negative count/repeat yield '' (the docs and
    // the reference's own test disagree here)
    "strings" -> Set("testNegativeSubstringLength#0",
      "testNegativeSubstringLength#1", "testRepeat#1"),
    // Spark's TimeType is MICROsecond precision; these two units need
    // the reference's nanosecond TIME payload
    "time" -> Set("testConstants#1", "testUnits#2"),
    // decimal-domain transcendentals (exp/ln/log10 over NUMERIC): the
    // reference computes in decimal, we in binary double — last-ulp
    // differences on two units
    "numeric" -> Set("testExp#2", "testLog#0"),
    "float8" -> Set(
      // the reference's recorded `1.12::DOUBLE % 0.3::DOUBLE` is
      // EXACTLY 0.22 — Calcite constant-folds the literal modulo in
      // BigDecimal; IEEE fmod of the nearest doubles is 2^-52 off
      "testModulo#0", "testModulo#1", "testModulo#2", "testModulo#3",
      // glibc's cbrt is neither correctly rounded nor reproducible
      // from the JVM: recorded cbrt(1.2345678901234e+200) is
      // ...b682df, the exactly-rounded result is ...b682dd (BigDecimal
      // cube verified), the JVM gives ...b682dd±0 — algorithm-specific
      // last-ulps on 3 of 5 rows
      "testSelect#63"),
    // GROUP BY DISTINCT over a cube×rollup product needs grouping-set
    // DEDUPLICATION (Calcite); this engine drops the DISTINCT keyword
    // (correct whenever the product is duplicate-free, Dialect run
    // rewrite) — testRollup#11's product has duplicates by
    // construction. testGrouping#3/#4 reference GROUPING() from
    // HAVING/ORDER BY over grouping columns absent from the select
    // list — Spark's ResolveGroupingAnalytics only resolves grouping
    // functions against the aggregate list
    "aggq" -> Set("testRollup#11", "testGrouping#3", "testGrouping#4"),
    // a UNION whose branches cast to INT / VARCHAR / DATE / … in the
    // same column: Calcite's lenient mode coerces the union to one
    // type; Spark's UNION is strictly typed by design
    "bigquery" -> Set("testSafeCast#0"),
    // recorded answers that pin the REFERENCE ENGINE'S arbitrary row
    // order, not a semantic: row_number/first_value over ties or over
    // an unordered window — any engine's answer is one of many valid
    // multisets, and the corpus recorded theirs
    "winaggpost" -> Set("test0#0", "test2#0", "test2#0/1", "test2#1",
      "testRowDifferentPartitions#0", "testWindows2#0",
      "testWindows2#1"),
    "aggscott" -> Set(
      // scalar subqueries returning >1 row: Calcite's lenient mode
      // picks a row; we raise per the standard (and the reference's
      // own strict mode)
      "testAggregates4#16", "testAggregates4#17",
      // the recorded avg cell (733.3333333333333) comes from a
      // DOUBLE-typed execution; the decimal-typed avg both Calcite's
      // typing and this engine produce is 733.333333
      "testAvg#0",
      // DUPLICATE grouping sets (deptno, (), ()) disambiguated by
      // GROUP_ID() ordinals — this engine pins GROUP_ID()=0 and
      // dedupes; Calcite enumerates the duplicates
      "testGrouping2#0", "testGrouping2#1", "testGrouping2#4",
      "testGrouping2#7", "testGrouping2#10", "testComplexGrouping#0",
      // ARG_MIN/ARG_MAX ties: the reference docs leave the pick
      // unspecified ("the rule … is not specified"); the recording
      // pins THEIR pick
      "testArgMax#0", "testArgMax#1", "testArgMax#2"),
    // (testPairs#0 closed in r15: rewriteTupleIn expands row-valued
    // IN lists to pairwise equalities with scalar coercion)
    // DISTINCT above an aggregate ordered by the aggregate — Spark
    // cannot place the ORDER BY between them
    "sorthr" -> Set("testSort#1"),
    // ordinal STRUCT access `x[2]` — Spark extracts struct fields by
    // NAME; the grammar collides with array indexing, so a textual
    // lowering would be unsound
    "structq" -> Set.empty[String],
    "operatorq" -> Set.empty[String],
    // (the 6 interval-to-interval cast skips closed in r14:
    // GraftIntervalCast keeps the VALUE, GraftIntervalTotal renders
    // the raw total) — what remains: EXTRACT over intervals outside
    // Spark's span rules; DECADE/CENTURY over intervals divide
    // truncating (no date era)
    "interval" -> Set(
      "checkExtract#0", "checkExtract#1", "testLongExtract#2",
      "testLongExtract#5")
  ).withDefaultValue(Set.empty)

  def gradedSuites: Seq[String] = Seq("window", "case", "limit", "bool",
    "groupingsets", "aggregates", "int4", "int8", "strings", "date",
    "timestamp", "time", "numeric", "interval", "asof", "array",
    // round-14 wave: float suites (value-canonical compare), the
    // remaining Postgres suites, the Calcite quidem suites, and the
    // MySQL-derived suites
    "float4", "float8", "float8p2", "int2", "collate",
    "aggq", "foodmart", "hrwinagg", "bigquery",
    "mysql_date", "mysql_tsdiff", "varbinary",
    // second quidem wave: scott window/subquery suites, POST outer-
    // join + window batteries, foodmart sorts, misc (UUID/interval/
    // ROW-cast grammar)
    "winagg", "subquery", "selectq", "miscq", "outerq", "winaggpost",
    "sortq",
    // third quidem wave: the large scott aggregate battery, HR sorts,
    // Redshift-dialect forms, ROW/STRUCT values, operator misc
    "aggscott", "sorthr", "redshiftq", "structq", "operatorq",
    // fourth wave: the five remaining quidem suites — the reference's
    // quidem directory is fully ported with these
    "pivotq", "sessionq", "streamq", "calcitejdbc", "postgresq")

  def queries: Seq[Q] =
    gradedSuites.map { name =>
      val suite = load(name)
      Q(s"pgr_$name", expectedSql(suite, skips(name))) { (s, _) =>
        registerSetup(s, suite)
        runSuite(s, suite, skips(name))
      }
    }
}
