package graft.ddl

import scala.collection.mutable
import scala.util.matching.Regex

/** Feldera program DDL → schema model (SURVEY §1.2, §3.1; reference
  * grammar: docs.feldera.com/docs/sql/grammar.md — CREATE TABLE :59-131,
  * CREATE VIEW :295-319; runtime model
  * crates/feldera-types/src/program_schema.rs:209 Relation / :293 Field).
  *
  * Spark-first split: the TABLE side (columns, PRIMARY KEY, LATENESS,
  * connector properties) is parsed here into [[Program]]; VIEW bodies are
  * standard SQL handed to Catalyst untouched — we do not re-implement a
  * query parser, only the Feldera-specific DDL envelope.
  */
object Ddl {

  final case class ColumnDef(
      name: String,
      sqlType: String,
      notNull: Boolean,
      primaryKey: Boolean,
      lateness: Option[String],     // e.g. "INTERVAL 10 MINUTES" or "100"
      default: Option[String] = None, // DEFAULT expr (grammar.md:135-151)
      /** WATERMARK expr — rows are BUFFERED until the column waterline
        * (max observed − watermark) passes them (time-series docs;
        * streaming/StreamingTests.java watermarkTest).
        */
      watermark: Option[String] = None)

  final case class TableDef(
      name: String,
      columns: Seq[ColumnDef],
      properties: Map[String, String]) {
    def primaryKey: Seq[String] = columns.filter(_.primaryKey).map(_.name)
    def materialized: Boolean =
      properties.get("materialized").contains("true")
    def appendOnly: Boolean =
      properties.get("append_only").contains("true")
  }

  final case class ViewDef(
      name: String,
      sql: String,
      kind: ViewKind,
      /** `WITH ('connectors' = …)` clause — output connectors etc. */
      properties: Map[String, String] = Map.empty)

  /** `CREATE INDEX name ON view(col, …)` — a unique-key declaration for a
    * view (connectors/unique_keys.md): output connectors referencing the
    * index by name merge each key's delete+insert pair into one atomic
    * update.
    */
  final case class IndexDef(name: String, view: String, columns: Seq[String])

  sealed trait ViewKind
  case object LocalView extends ViewKind         // not an output
  case object OutputView extends ViewKind
  case object MaterializedView extends ViewKind  // ad-hoc queryable

  /** SQL-bodied or external user-defined function (grammar.md:278-285;
    * udf.md): body = None means an external-body UDF that must already be
    * registered with the session.
    */
  final case class FunctionDef(name: String, params: String,
      returnType: String, body: Option[String])

  /** CREATE TYPE name AS typedef (grammar.md:43-50). */
  final case class TypeDef(name: String, typedef: String)

  /** CREATE [LINEAR] AGGREGATE (grammar.md:287-293); implementations are
    * supplied via graft.functions.WeightedAggs.
    */
  final case class AggregateDef(name: String, linear: Boolean,
      params: String, returnType: String)

  /** DECLARE RECURSIVE VIEW name (cols) — forward declaration marking the
    * subsequent CREATE VIEW of the same name as self- or mutually
    * recursive (docs recursion.mdx:14-60; DBSPNestedOperator.java:30).
    */
  final case class RecursiveDecl(name: String, columns: Seq[ColumnDef])

  /** Standalone `LATENESS view.column INTERVAL ...` statement
    * (tutorials/time-series.md:113-127): lateness for a column computed
    * in a view — e.g. a timestamp parsed out of a raw payload — where no
    * input-table column can carry the annotation.
    */
  final case class LatenessDecl(view: String, column: String,
      interval: String)

  final case class Program(tables: Seq[TableDef], views: Seq[ViewDef],
      functions: Seq[FunctionDef] = Nil, types: Seq[TypeDef] = Nil,
      aggregates: Seq[AggregateDef] = Nil,
      recursive: Seq[RecursiveDecl] = Nil,
      viewLateness: Seq[LatenessDecl] = Nil,
      indexes: Seq[IndexDef] = Nil,
      /** `SET name = ON|OFF|literal` options (grammar.md "Setting
        * options") — name lowercased, ON/OFF normalized to true/false.
        * Options apply globally regardless of position in the program.
        */
      options: Map[String, String] = Map.empty) {
    def optionOn(name: String): Boolean =
      options.get(name.toLowerCase).contains("true")
  }

  private val tableRe: Regex =
    """(?is)CREATE\s+TABLE\s+(\w+)\s*\((.*?)\)\s*(?:WITH\s*\((.*?)\))?\s*$""".r
  private val viewRe: Regex =
    """(?is)CREATE\s+(LOCAL\s+|MATERIALIZED\s+)?VIEW\s+(\w+)\s*(?:\(([\w\s,]*)\)\s*)?(?:WITH\s*\((.*?)\)\s*)?AS\s+(.*)$""".r
  private val indexRe: Regex =
    """(?is)CREATE\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*\((.*?)\)\s*$""".r
  // LATENESS/WATERMARK take any constant expression matching the column
  // type (INTERVAL for temporal columns, a numeric literal for numeric
  // ones — StreamingTests `TS INT LATENESS 100`); FOREIGN KEY REFERENCES
  // is informational in the reference and parsed-and-dropped here
  private val colRe: Regex =
    ("""(?is)^("(?:[^"]|"")+"|\w+)\s+(.+?)(\s+DEFAULT\s+(.+?))?""" +
      """(\s+NOT\s+NULL)?(\s+PRIMARY\s+KEY)?""" +
      """(\s+FOREIGN\s+KEY\s+REFERENCES\s+\w+\s*\([^)]*\))?""" +
      """(\s+LATENESS\s+(.+?))?(\s+WATERMARK\s+(.+?))?$""").r
  private val funcRe: Regex =
    """(?is)CREATE\s+FUNCTION\s+(\w+)\s*\((.*?)\)\s*RETURNS\s+(.+?)(?:\s+AS\s+(.+))?$""".r
  private val typeRe: Regex =
    """(?is)CREATE\s+TYPE\s+(\w+)\s+AS\s+(.+)$""".r
  private val aggRe: Regex =
    """(?is)CREATE\s+(LINEAR\s+)?AGGREGATE\s+(\w+)\s*\((.*?)\)\s*RETURNS\s+(.+)$""".r
  private val recRe: Regex =
    """(?is)DECLARE\s+RECURSIVE\s+VIEW\s+(\w+)\s*\((.*)\)\s*$""".r
  private val latenessStmtRe: Regex =
    """(?is)LATENESS\s+(\w+)\.(\w+)\s+(INTERVAL\s+.+)$""".r
  private val setOptionRe: Regex =
    """(?is)SET\s+(\w+)\s*=\s*(.+)$""".r

  /** Split a program text into statements on top-level semicolons
    * outside quoted spans. Comments are stripped FIRST
    * ([[Dialect.stripComments]]) so a semicolon, quote, or keyword
    * inside a comment never derails the split or a later rewriter.
    */
  private[graft] def statements(program0: String): Seq[String] =
    Dialect.splitTopLevel(Dialect.stripComments(program0), ';')
      .map(_.trim).filter(_.nonEmpty)

  def parseColumn(s: String): ColumnDef = s.trim match {
    case colRe(name, tpe, _, default, notNull, pk, _, _, lateness,
        _, watermark) =>
      // quoted column names keep their exact spelling (identifiers.md:
      // "Quoted identifiers are left unchanged"); unquoted fold to
      // lowercase, the reference's own rule
      val n =
        if (name.startsWith("\""))
          name.stripPrefix("\"").stripSuffix("\"").replace("\"\"", "\"")
        else name.toLowerCase
      ColumnDef(n, tpe.trim,
        notNull != null || pk != null, pk != null,
        Option(lateness).map(_.trim),
        Option(default).map(_.trim),
        Option(watermark).map(_.trim))
    case other =>
      throw new IllegalArgumentException(s"cannot parse column: $other")
  }

  /** Split a column, type or property list on `sep` at depth 0 outside
    * quoted spans ([[Dialect.quotedEnd]]); a blank last piece is
    * dropped. Unlike [[Dialect.splitTopLevel]], `<…>` nests here: type
    * lists spell `ARRAY<T>`/`MAP<K, V>`, while SQL expressions use `<`
    * as an operator.
    */
  private[graft] def splitTop(s: String, sep: Char): Seq[String] = {
    val out = mutable.Buffer[String]()
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      val e = Dialect.quotedEnd(s, i)
      if (e > i) i = e
      else {
        s.charAt(i) match {
          case '(' | '<' => depth += 1
          case ')' | '>' => depth -= 1
          case `sep` if depth == 0 =>
            out += s.substring(start, i); start = i + 1
          case _ => ()
        }
        i += 1
      }
    }
    if (s.substring(start).trim.nonEmpty) out += s.substring(start)
    out.toSeq
  }

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.startsWith("'") && t.endsWith("'"))
      t.substring(1, t.length - 1).replace("''", "'")
    else t
  }

  /** Connector properties: comma/quote-aware, so values containing commas
    * or escaped quotes survive.
    */
  private def parseProps(s: String): Map[String, String] =
    if (s == null || s.trim.isEmpty) Map.empty
    else splitTop(s, ',').filter(_.trim.nonEmpty).map { kv =>
      val Array(k, v) = {
        val parts = splitTop(kv, '=')
        require(parts.length == 2, s"cannot parse property: $kv")
        parts.toArray
      }
      unquote(k) -> unquote(v)
    }.toMap

  def parse(program: String): Program = {
    val tables = mutable.Buffer[TableDef]()
    val views = mutable.Buffer[ViewDef]()
    val functions = mutable.Buffer[FunctionDef]()
    val types = mutable.Buffer[TypeDef]()
    val aggregates = mutable.Buffer[AggregateDef]()
    val recursive = mutable.Buffer[RecursiveDecl]()
    val viewLateness = mutable.Buffer[LatenessDecl]()
    val indexes = mutable.Buffer[IndexDef]()
    val options = mutable.Map[String, String]()
    statements(program).foreach {
      case setOptionRe(name, value) =>
        // SET name = ON|OFF|literal (grammar.md:778): recorded on the
        // Program. Compiler-side options with no Spark analogue
        // (warnings-are-errors, FELDERA_IGNORE_WARNING_*,
        // FELDERA_AVOID_STAR_JOINS, FELDERA_FLAT_VARIANT) are accepted
        // as no-ops — Catalyst owns those decisions here; options with
        // runtime semantics (ENFORCE_POSITIVE_INPUTS) are consumed by
        // the Pipeline. Unknown names are accepted with a note, never
        // an error — the reference treats them the same way.
        val v = unquote(value.trim) match {
          case on if on.equalsIgnoreCase("ON") ||
            on.equalsIgnoreCase("TRUE") => "true"
          case off if off.equalsIgnoreCase("OFF") ||
            off.equalsIgnoreCase("FALSE") => "false"
          case lit => lit
        }
        val known = Set("enforce_positive_inputs", "asof_lateral_fallback",
          "feldera_warnings_are_errors", "feldera_avoid_star_joins",
          "feldera_flat_variant", "feldera_use_multi_joins")
        val n = name.toLowerCase
        if (!known.contains(n) && !n.startsWith("feldera_ignore_warning_"))
          System.err.println(s"graft: unknown SET option '$name' " +
            "recorded but unused")
        options(n) = v
      case latenessStmtRe(view, column, interval) =>
        viewLateness += LatenessDecl(view.toLowerCase,
          column.toLowerCase, interval.trim)
      case recRe(name, cols) =>
        recursive += RecursiveDecl(name.toLowerCase,
          splitTop(cols, ',').map(parseColumn))
      case tableRe(name, cols, props) =>
        val (pkClauses, colDefs) = splitTop(cols, ',').map(_.trim)
          .partition(_.toUpperCase.startsWith("PRIMARY KEY"))
        // table-level PRIMARY KEY (a, b) marks the named columns, same as
        // the inline form (grammar.md's table constraint)
        val pkCols = pkClauses.flatMap { c =>
          c.drop("PRIMARY KEY".length).trim
            .stripPrefix("(").stripSuffix(")")
            .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty)
        }.toSet
        tables += TableDef(name.toLowerCase,
          colDefs.map(parseColumn).map(c =>
            if (pkCols(c.name)) c.copy(primaryKey = true) else c),
          parseProps(props))
      case viewRe(kind, name, colList, props, sql) =>
        val k = Option(kind).map(_.trim.toUpperCase) match {
          case Some("LOCAL") => LocalView
          case Some("MATERIALIZED") => MaterializedView
          case _ => OutputView
        }
        // declared view column list (`CREATE VIEW v(a, b) AS …`,
        // grammar.md) — positional rename via a subquery column-alias
        // wrapper, so the body's own aliases need not match
        val body = Option(colList).map(_.trim).filter(_.nonEmpty) match {
          case Some(cl) =>
            s"SELECT * FROM (${sql.trim}) AS __vcols(" +
              cl.split(",").map(_.trim.toLowerCase)
                .mkString(", ") + ")"
          case None => sql.trim
        }
        views += ViewDef(name.toLowerCase,
          Dialect.normalize(body, adHoc = false,
            asofLateralFallback =
              options.get("asof_lateral_fallback").contains("true")),
          k, parseProps(props))
      case indexRe(name, view, cols) =>
        indexes += IndexDef(name.toLowerCase, view.toLowerCase,
          splitTop(cols, ',').map(_.trim.toLowerCase).filter(_.nonEmpty))
      case funcRe(name, params, ret, body) =>
        functions += FunctionDef(name.toLowerCase, params.trim, ret.trim,
          Option(body).map(_.trim))
      case typeRe(name, typedef) =>
        types += TypeDef(name.toLowerCase, typedef.trim)
      case aggRe(linear, name, params, ret) =>
        aggregates += AggregateDef(name.toLowerCase, linear != null,
          params.trim, ret.trim)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported statement: ${other.take(60)}")
    }
    Program(tables.toSeq, views.toSeq, functions.toSeq, types.toSeq,
      aggregates.toSeq, recursive.toSeq, viewLateness.toSeq, indexes.toSeq,
      options.toMap)
  }
}
