package graft.runtime

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.StructType

import graft.ddl.Ddl
import graft.incremental.{IncrementalOps, Ivm}
import graft.types.SqlTypes
import graft.zset.ZSets

/** Program runner (SURVEY §3.1/§7.1 runtime/): tables + views → executed
  * pipeline. Mirrors the reference's controller step loop
  * (crates/adapters/src/controller.rs:481 — ingest deltas, evaluate once,
  * emit output deltas) as Spark micro-batches.
  *
  * Modes:
  *  - `runBatch`: evaluate every view over current table snapshots
  *    (DataFusion-ad-hoc analogue; ad-hoc.md:1-23). Views see each other
  *    (topological registration), so nested views share Catalyst-optimized
  *    subplans — the CSE the reference gets from its circuit
  *    (CircuitOptimizer CSE pass :102,156).
  *  - `step`: true incremental view maintenance. Each view is classified
  *    ONCE by [[Ivm.classify]] and maintained by the cheapest exact delta
  *    rule its shape admits (linear pass-through, multilinear join terms,
  *    touched-group re-aggregation) — recompute-and-diff only as the
  *    Opaque fallback. Per-step SHUFFLE is O(|delta|) for the non-opaque
  *    shapes: state is only broadcast-probed or rewritten scan-side, never
  *    re-shuffled (PipelineIvmSpec meters this). The
  *    final-state-equals-batch contract (README.md:67-70) is asserted in
  *    PipelineSpec.
  *
  * Scale: snapshots live as localCheckpoint'd DataFrames here; on a
  * cluster they would be key-bucketed Delta/parquet tables and the
  * scan-side state rewrite becomes a bucket-pruned MERGE. LATENESS columns
  * (Ddl.ColumnDef.lateness) map to withWatermark in the streaming path
  * (graft.streaming.Streams.withLateness).
  */
final class Pipeline(spark: SparkSession,
    program0: Ddl.Program,
    /** Relations (tables or views) whose integrated state rides the
      * LSM-tiered trace backend instead of per-step materialized frames:
      * a step APPENDS the relation's delta as a run — O(|Δ|), memtable
      * until the spill bound, bucketed parquet after — and consumers see
      * a lazy consolidated read pinned to the step's run set. Right for
      * relations whose state is large relative to the per-step deltas
      * (the 100-TB shape); the default per-step snapshot is right for
      * small hot states, where a consolidation shuffle per read would
      * cost more than it saves. PipelineStateBackendSpec asserts the two
      * backends agree step-for-step.
      */
    traceBacked: Set[String] = Set.empty,
    /** Memtable spill bound (rows) for trace-backed relation state. */
    traceMemRows: Long = 4L << 20) {

  /** The program with every view's `SELECT * REPLACE` star expanded
    * (Pipeline.resolveReplaceStars) — all downstream machinery sees
    * plain Spark-parsable SQL — and local views that sit INSIDE a
    * recursive cycle inlined into the member bodies
    * (Pipeline.inlineRecursiveLocals): the reference's recursive
    * region includes intermediate local views (recursion docs;
    * IncrementalRecursiveTests transitiveClosure routes the step
    * term through `CREATE LOCAL VIEW STEP`), but the fixpoint loop
    * here re-evaluates only the member bodies per round — a local
    * view indirection would freeze at its previous snapshot.
    */
  private[runtime] val program: Ddl.Program =
    Pipeline.inlineRecursiveLocals(
      Pipeline.resolveReplaceStars(spark, program0))

  private[runtime] def session: SparkSession = spark

  /** LSM-tiered state traces for [[traceBacked]] relations (concurrent:
    * trace-backed views may integrate from the parallel view loop; each
    * relation's trace instance is only ever touched by its own view).
    */
  private val relTraces =
    scala.collection.concurrent.TrieMap[String, graft.incremental.TieredTrace]()

  /** Release trace-backed state storage (memtable caches + any spilled
    * runs). The pipeline remains usable; state restarts empty.
    */
  def close(): Unit = {
    relTraces.values.foreach(_.delete())
    relTraces.clear()
  }

  graft.functions.Registry.registerAll(spark)
  // TIME columns (SqlTypes "TIME" → native TimeType) need the 4.1 flag
  spark.conf.set("spark.sql.timeType.enabled", "true")

  // program-declared types and functions (grammar.md:43-50, 278-285):
  // CREATE TYPE aliases resolve through SqlTypes; SQL-bodied CREATE
  // FUNCTION inlines via Spark's own SQL function support; an external
  // body (no AS clause) must already be registered with the session
  program.types.foreach(t => SqlTypes.registerType(t.name, t.typedef))

  /** Substitute program-declared type aliases inside a SQL fragment
    * (function parameter lists, RETURNS clauses and bodies — the
    * reference allows user types anywhere a type may appear, so
    * `RETURNS money` or `CAST(x AS money)` must reach Spark spelled as
    * the underlying type). Substitution is restricted to TYPE
    * positions: a string literal containing the type name, or a
    * parameter/column that happens to be named like the type, must
    * survive untouched — a blind whole-fragment regex corrupted both.
    */
  private def resolveTypeAliases(s: String): String =
    graft.ddl.Dialect.mapOutsideQuotes(s)(run =>
      graft.ddl.Dialect.mapBareTypes(
        program.types.foldLeft(run) { case (acc, t) =>
          acc.replaceAll("(?i)\\b" +
            java.util.regex.Pattern.quote(t.name) + "\\b",
            java.util.regex.Matcher.quoteReplacement(
              SqlTypes.toSpark(t.name).sql))
        }))

  /** In a body, the only type position is `CAST(expr AS <type>)` — the
    * alias name is replaced only when it directly follows AS and closes
    * a paren opened by CAST(/TRY_CAST(, so `SELECT 'money'`, a column
    * aliased `AS money` in a projection, and a scalar subquery alias
    * `(SELECT x AS money)` all keep their spelling (the last closes a
    * plain paren, not a cast — an unanchored `AS name)` rewrite
    * corrupted it). The cast-close map is computed over the WHOLE
    * statement with a quote-aware scan — a per-run scan inside the
    * quote splitter lost the `CAST(` opener when the cast operand was
    * itself a string literal (`CAST('1.5' AS money)` split the opener
    * and its `AS money)` into different runs).
    */
  private def resolveBodyTypeCasts(s: String): String = {
    if (program.types.isEmpty) return s
    val inQ = graft.ddl.Dialect.inQuoteMap(s)
    // mark every unquoted ')' that closes a CAST( / TRY_CAST( opener
    val castClose = new Array[Boolean](s.length)
    val stack = scala.collection.mutable.Stack[Boolean]()
    var i = 0
    while (i < s.length) {
      if (!inQ(i)) s(i) match {
        case '(' =>
          var j = i - 1
          while (j >= 0 && s(j).isWhitespace) j -= 1
          val e = j
          while (j >= 0 && !inQ(j) &&
            (s(j).isLetterOrDigit || s(j) == '_')) j -= 1
          val w = s.substring(j + 1, e + 1).toUpperCase
          stack.push(w == "CAST" || w == "TRY_CAST")
        case ')' => castClose(i) = stack.nonEmpty && stack.pop()
        case _ => ()
      }
      i += 1
    }
    val bySpelling = program.types
      .map(t => t.name.toLowerCase -> SqlTypes.toSpark(t.name).sql)
      .toMap
    val pat = ("(?i)\\b(AS\\s+)(" + program.types.map(t =>
      java.util.regex.Pattern.quote(t.name)).mkString("|") +
      ")(\\s*)(?=\\))").r
    pat.replaceAllIn(s, m =>
      if (!inQ(m.start) && m.end < s.length && castClose(m.end))
        java.util.regex.Matcher.quoteReplacement(
          m.group(1) + bySpelling(m.group(2).toLowerCase) + m.group(3))
      else java.util.regex.Matcher.quoteReplacement(m.matched))
  }

  /** Param list `name type, name type, …`: resolve aliases only in the
    * type slot (everything after each parameter's name token), so a
    * parameter named like a declared type keeps its name. Splits on
    * top-level commas only (DECIMAL(10,2) stays whole).
    */
  private def resolveParamTypes(params: String): String = {
    if (params.trim.isEmpty) return params
    graft.ddl.Dialect.splitTopLevel(params).map { p =>
      val t = p.trim
      val sp = t.indexWhere(_.isWhitespace)
      if (sp < 0) t
      else t.take(sp) + " " + resolveTypeAliases(t.drop(sp + 1).trim)
    }.mkString(", ")
  }

  program.functions.foreach { f =>
    f.body match {
      case Some(b) => spark.sql(
        s"CREATE OR REPLACE TEMPORARY FUNCTION ${f.name}" +
          s"(${resolveParamTypes(f.params)}) " +
          s"RETURNS ${resolveTypeAliases(f.returnType)} " +
          // bare VARCHAR/CHAR in the body's cast positions map to
          // Spark spellings, same as view bodies (types.md: the
          // reference's VARCHAR is unlimited)
          s"RETURN ${graft.ddl.Dialect.rewriteSubscript(
            graft.ddl.Dialect.mapOutsideQuotes(resolveBodyTypeCasts(b))(
              graft.ddl.Dialect.mapBareTypes))}")
      case None => require(spark.catalog.functionExists(f.name),
        s"external-body function '${f.name}' is not registered")
    }
  }
  // CREATE [LINEAR] AGGREGATE bodies are external by contract (udf.md:
  // the reference implements them in Rust; here a session-registered
  // Aggregator UDAF supplies the implementation) — fail fast if the
  // declared name is not registered
  program.aggregates.foreach { a =>
    require(spark.catalog.functionExists(a.name),
      s"aggregate '${a.name}' is not registered with the session " +
        "(CREATE AGGREGATE implementations are external — udf.md)")
  }

  /** Z-set snapshots: tables AND view outputs, consolidated.
    * Concurrent map: [[step]]'s integrate loop runs per-table from a
    * bounded pool (each table touches only its own key).
    */
  private val tableState =
    scala.collection.concurrent.TrieMap[String, DataFrame]()
  private val viewState =
    scala.collection.concurrent.TrieMap[String, DataFrame]()
  /** Hidden join-body Z-sets for AggOverMulti views (positional column
    * names `_c0.._cN` — join outputs can repeat names).
    */
  private val joinState =
    scala.collection.concurrent.TrieMap[String, DataFrame]()
  /** Presence-marked upsert state for PRIMARY KEY tables. Concurrent:
    * see [[tableState]].
    */
  private val upsertState =
    scala.collection.concurrent.TrieMap[String, DataFrame]()
  /** Indicator Z-sets for SemiAnti views: the distinct key projection of
    * the semi/anti join's right side, with derivation counts (positional
    * columns `_k0.._kn` + `_w`).
    */
  private val indicatorState =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** Integrate a consolidated delta into relation `name`'s state in
    * `states` and return the new state. A `traced` relation appends the
    * delta to its LSM-tiered trace as a run — O(|Δ|) — and reads back
    * the consolidated state, lazy and pinned to this step's runs, so a
    * later append never changes what the returned frame reads. Any other
    * state merges the delta into the previous snapshot (touching only
    * delta keys), materialized once.
    */
  private def integrate(
      states: scala.collection.concurrent.TrieMap[String, DataFrame],
      name: String, delta: DataFrame, traced: Boolean = false): DataFrame = {
    val next =
      if (traced) {
        val tr = relTraces.getOrElseUpdate(name,
          new graft.incremental.TieredTrace(delta.limit(0),
            ZSets.dataCols(delta), memRows = traceMemRows))
        tr.append(delta)
        tr.read()
      } else states.get(name)
        .fold(delta)(IncrementalOps.mergeDelta(_, delta))
        .localCheckpoint(false)
    states(name) = next
    next
  }

  /** Per-view parts of the SemiAnti delta rule, derived once from the
    * view's cached analysis ([[analyzedLeaves]]) with its predicate
    * subqueries rewritten to joins, as [[Ivm.classify]] does: (rewritten
    * plan, semi parts, left leaves, right leaves, indicator identity).
    * Safe to reuse across steps — every evaluation replaces ALL leaf
    * bindings before running.
    */
  private val semiAntiCache = scala.collection.concurrent.TrieMap[String,
    (LogicalPlan, Ivm.SemiParts, Seq[(String, LogicalPlan)],
      Seq[(String, LogicalPlan)], String)]()

  /** Analyzed-plan cache for the delta rules: ONE Catalyst analysis per
    * view for the pipeline lifetime — the per-term/per-step re-parse +
    * re-analysis of the view SQL was a measurable slice of the step's
    * driver floor. Every evaluation replaces ALL identified relation
    * leaves before running, so the cached analysis can never evaluate a
    * stale binding.
    */
  private val leafPlanCache =
    scala.collection.concurrent.TrieMap[String, Pipeline.Analyzed]()

  private def analyzedLeaves(viewName: String, sql: String)
      : Pipeline.Analyzed =
    leafPlanCache.getOrElseUpdate(viewName, computeAnalyzedLeaves(sql))

  /** One parse+analysis of a view body plus its identified relation
    * leaves — the uncached form (NOW()-bound bodies change every step).
    */
  private def computeAnalyzedLeaves(sql: String): Pipeline.Analyzed =
    evalLock.synchronized {
      // same division semantics as sqlView — IVM deltas must match batch
      val plan = org.apache.spark.sql.graft.IntegerDivision
        .transformPlan(spark.sql(sql).queryExecution.analyzed)
      val known = (tableNames ++ program.views.map(_.name)).toSet
      val leaf = Ivm.leafFn(spark, known)
      Pipeline.Analyzed(plan, Ivm.leafNodes(plan, leaf), leaf)
    }

  /** Whether an Opaque view body can be delta-evaluated by grafting
    * bindings onto its cached analyzed plan instead of re-analyzing the
    * SQL against rebound session temp views every step. Requires (a) no
    * subquery expressions (plan-surgery does not descend into them — an
    * unbound inner relation would silently read analysis-time state) and
    * (b) every known-name alias in the tree identified as a graftable
    * leaf (a derived subquery aliased to a relation name must keep the
    * re-analysis path, same collision rule as [[Ivm.leafFn]]).
    */
  private def graftableOpaque(
      plan: LogicalPlan,
      leaves: Seq[(String, LogicalPlan)])
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    val hasSubq = plan.exists(p =>
      p.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]])))
    if (hasSubq) return false
    val known = (tableNames ++ program.views.map(_.name))
      .map(_.toLowerCase).toSet
    val identified =
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]()
    leaves.foreach { case (_, n) => identified.put(n, true) }
    def check(p: LogicalPlan): Boolean =
      if (identified.containsKey(p)) true
      else p match {
        case s: SubqueryAlias =>
          var in = s
          while (in.child.isInstanceOf[SubqueryAlias])
            in = in.child.asInstanceOf[SubqueryAlias]
          if (known(in.alias.toLowerCase)) false
          else p.children.forall(check)
        // a catalog-resolved view that is NOT an identified leaf (e.g.
        // a session temp view outside the program) would be pinned to
        // its analysis-time contents by the cached plan, whereas the
        // evalWith path re-resolves it every step — never graftable
        case _: org.apache.spark.sql.catalyst.plans.logical.View => false
        case _ => p.children.forall(check)
      }
    check(plan)
  }

  /** `df`'s analyzed plan with its columns aliased onto `attrs` (names
    * and exprIds), so a cached plan that reads `attrs` reads `df`
    * instead. Fails when `what`'s arity or column types drifted from the
    * cached analysis.
    */
  private def rebind(
      attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      df: DataFrame, what: String): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val rplan = df.queryExecution.analyzed
    require(rplan.output.size == attrs.size, s"$what arity drifted")
    Project(attrs.zip(rplan.output).map { case (orig, cur) =>
      require(cur.dataType == orig.dataType,
        s"$what type drifted: $cur vs $orig")
      Alias(cur, orig.name)(exprId = orig.exprId)
    }, rplan)
  }

  /** Replacement map: each identified relation leaf → its binding,
    * rebound onto the leaf's exprIds (identity-keyed so repeated
    * relations each rebind).
    */
  private def leafReplMap(leaves: Seq[(String, LogicalPlan)],
      binds: Map[String, DataFrame])
      : java.util.IdentityHashMap[LogicalPlan, LogicalPlan] = {
    val repl = new java.util.IdentityHashMap[LogicalPlan, LogicalPlan]()
    leaves.foreach { case (rel, node) =>
      repl.put(node, rebind(node.output, binds(rel), s"binding for $rel"))
    }
    repl
  }

  /** Whether every identified leaf has a binding of the exact same arity
    * and column types. The graft substitution pins the cached plan's
    * types; a binding whose types drifted (e.g. a hand-built delta frame
    * typed TIMESTAMP where the declared column analyzed as
    * TIMESTAMP_NTZ) must take the temp-view re-analysis path, which
    * applies the session's implicit coercions exactly as batch would.
    */
  private def bindsConform(
      leaves: Seq[(String, LogicalPlan)],
      binds: Map[String, DataFrame]): Boolean =
    leaves.forall { case (rel, node) =>
      binds.get(rel).exists { df =>
        val out = df.queryExecution.analyzed.output
        out.size == node.output.size &&
          out.zip(node.output).forall { case (c, o) =>
            // a binding MORE nullable than the cached attribute must
            // also fall back: grafting nullable data onto an attribute
            // analyzed as non-nullable would let Catalyst apply
            // null-intolerant rewrites to data that can hold nulls
            c.dataType == o.dataType && (!c.nullable || o.nullable) }
      }
    }

  /** Graft bindings onto a cached analyzed plan (all leaves replaced). */
  private def graftPlan(
      plan: LogicalPlan,
      leaves: Seq[(String, LogicalPlan)],
      binds: Map[String, DataFrame])
      : LogicalPlan = {
    val repl = leafReplMap(leaves, binds)
    plan.transformUp { case p if repl.containsKey(p) => repl.get(p) }
  }

  /** Evaluate a view body under `binds`: graft them onto the cached
    * analysis `a` when every leaf binding conforms ([[bindsConform]]),
    * else re-analyze the SQL against rebound temp views ([[evalWith]]),
    * which applies the session's implicit coercions exactly as batch
    * would. Without a graft-safe analysis (`None`) it always re-analyzes.
    */
  private def evalBound(sql: String, a: Option[Pipeline.Analyzed],
      binds: Map[String, DataFrame]): DataFrame = a match {
    case Some(an) if bindsConform(an.leaves, binds) =>
      Shims.ofRows(spark, graftPlan(an.plan, an.leaves, binds))
    case _ => evalWith(sql, binds)
  }

  /** Per-step memo of each delta's weight signs (hasPositive,
    * hasNegative) — single-stage RDD fold, one job per rel per step,
    * which lets every ± telescoped rule SKIP the term for an absent sign
    * (each skipped term saves a broadcast-build job plus its share of
    * planning). Cleared at the top of [[step]].
    */
  private val stepDeltaSigns =
    scala.collection.concurrent.TrieMap[String, Pipeline.Memo[(Boolean, Boolean)]]()

  /** (any positive weight, any negative weight) over the deltas of
    * `rels`; a relation without a delta has neither.
    */
  private def signsOf(rels: Iterable[String],
      relDeltas: collection.Map[String, DataFrame]): (Boolean, Boolean) = {
    // per-key memo cell, NOT a map-wide lock: the lazy probe runs a
    // Spark job, and holding the map monitor across it convoyed every
    // concurrent view needing any sign (r15 verdict). Only same-name
    // probes serialize (on the cell's lazy init).
    def compute(name: String): (Boolean, Boolean) = relDeltas.get(name) match {
      case None => (false, false)
      case Some(d) =>
        // lazy fallback (view deltas discovered mid-loop); table deltas
        // are batch-probed by probeDeltaSigns in ONE job per step
        val r = d.groupBy().agg(
          org.apache.spark.sql.functions.max(col(ZSets.W)),
          org.apache.spark.sql.functions.min(col(ZSets.W))).head()
        (!r.isNullAt(0) && r.getLong(0) > 0,
          !r.isNullAt(1) && r.getLong(1) < 0)
    }
    def one(name: String): (Boolean, Boolean) =
      stepDeltaSigns.get(name) match {
        case Some(m) => m.value
        case None =>
          val m = new Pipeline.Memo(() => compute(name))
          stepDeltaSigns.putIfAbsent(name, m).getOrElse(m).value
      }
    rels.toSeq.map(one)
      .foldLeft((false, false))((a, b) => (a._1 || b._1, a._2 || b._2))
  }

  /** The ± terms of a delta rule, built only for the signs present in
    * this step's deltas: `term(sign)` evaluates the rule over the deltas
    * mapped through `sign` — identity for the positive part, negation
    * for the negative part, whose result is negated back. `lift` gives a
    * term's rows their signed form (Z-set weights by default) and
    * `negate` flips that form.
    */
  private def signedTerms(signs: (Boolean, Boolean),
      lift: DataFrame => DataFrame = ZSets.lift,
      negate: DataFrame => DataFrame = ZSets.negate)(
      term: (DataFrame => DataFrame) => DataFrame): Seq[DataFrame] =
    (if (signs._1) Seq(lift(term(identity))) else Nil) ++
      (if (signs._2) Seq(negate(lift(term(ZSets.negate)))) else Nil)

  /** Bindings of the linear delta rule: each of `rels` bound to its
    * `sign`-mapped delta multiset, a relation without a delta to empty.
    */
  private def deltaBinds(rels: Iterable[String],
      relDeltas: collection.Map[String, DataFrame],
      sign: DataFrame => DataFrame): Map[String, DataFrame] =
    rels.map(r => r -> relDeltas.get(r)
      .map(d => ZSets.toMultiset(sign(d)))
      .getOrElse(emptyOf(r))).toMap

  /** Relations whose deltas feed a sign-consulting delta rule
    * (multilinear / agg-over-join / semi-anti terms evaluate only the
    * sign parts actually present).
    */
  private lazy val signRels: Set[String] = shapes.values.flatMap {
    case s @ (_: Ivm.Multilinear | _: Ivm.AggOverMulti | _: Ivm.SemiAnti) =>
      s.relations
    case _ => Nil
  }.toSet

  /** Fused per-step sign probe: ONE tagged union + tiny group-by
    * resolves (has-positive, has-negative) for every delta-touched
    * sign-consulted relation — replacing one scheduling-floor probe job
    * per relation per step.
    */
  private def probeDeltaSigns(
      relDeltas: collection.Map[String, DataFrame]): Unit = {
    import org.apache.spark.sql.functions.{lit, max, min}
    val rels = relDeltas.keySet.intersect(signRels).toSeq.sorted
    if (rels.size < 2) return // one relation: the lazy path is the same cost
    val tagged = rels.map(n => relDeltas(n)
      .select(lit(n).as("_r"), col(ZSets.W)))
      .reduce(_ unionByName _)
    rels.foreach(n => // empty deltas
      stepDeltaSigns(n) = Pipeline.Memo.of((false, false)))
    tagged.groupBy("_r")
      .agg(max(col(ZSets.W)).as("mx"), min(col(ZSets.W)).as("mn"))
      .collect().foreach { r =>
        stepDeltaSigns(r.getString(0)) =
          Pipeline.Memo.of((r.getLong(1) > 0, r.getLong(2) < 0))
      }
  }

  /** Per-step memo of indicator deltas, keyed by the indicator identity
    * (canonicalized right-side plan): views sharing a subquery (the
    * common EXISTS / NOT EXISTS pair over one relation) maintain ONE
    * indicator Z-set and compute its delta once per step. Cleared at the
    * top of [[step]].
    */
  private val stepIndicatorMemo =
    scala.collection.concurrent.TrieMap[String,
      Pipeline.Memo[Option[DataFrame]]]()

  private val tableNames = program.tables.map(_.name)

  /** Empty relation per table from its DDL schema (used for binding
    * relations that have received no data yet, and for classification).
    */
  private val emptyTables: Map[String, DataFrame] = program.tables.map { t =>
    val schema = StructType(t.columns.map(c =>
      org.apache.spark.sql.types.StructField(
        c.name, SqlTypes.toSpark(c.sqlType), nullable = !c.notNull)))
    t.name -> spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }.toMap

  /** Views declared DECLARE RECURSIVE VIEW: evaluated as a joint fixpoint
    * group, never through the per-shape delta rules.
    */
  private val recursiveNames: Set[String] = program.recursive.map(_.name).toSet

  /** Bounded overlap for the per-step view loop and the table-delta
    * integrate loop: `spark.graft.pipeline.viewParallelism`, default
    * cores/4 clamped to [1, 8] (1 = the serial path).
    */
  private val viewPar: Int =
    spark.conf.getOption("spark.graft.pipeline.viewParallelism")
      .map(_.toInt).getOrElse(math.max(1,
        math.min(8, spark.sparkContext.defaultParallelism / 4)))

  /** Relation names a view body reads: every relation reference of its
    * parsed plan, including those inside subquery expressions and CTE
    * definitions (a CTE name read in the body counts too, which can only
    * over-approximate). Parsing resolves nothing, so no view needs to be
    * registered yet; a name inside a string literal or a comment is not
    * a reference.
    */
  private def referencedRelations(sql: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    def refs(p: LogicalPlan): Seq[String] = (p match {
      case r: UnresolvedRelation =>
        Seq(r.multipartIdentifier.last.toLowerCase(Locale.ROOT))
      case _ => Nil
    }) ++ (p.children ++ p.subqueries ++
      p.innerChildren.collect { case c: LogicalPlan => c }).flatMap(refs)
    refs(spark.sessionState.sqlParser.parsePlan(sql)).toSet
  }

  /** view → the program relations (tables and views) it reads directly. */
  private lazy val viewDeps: Map[String, Set[String]] = {
    val names = (tableNames ++ program.views.map(_.name)).toSet
    program.views.map(v =>
      v.name -> referencedRelations(v.sql).intersect(names)).toMap
  }

  /** Views grouped into dependency levels: a view sits one level above
    * the deepest earlier view it reads ([[viewDeps]]). Views in one
    * level never read each other's step output, so [[step]] may evaluate
    * a level concurrently. Declaration order is preserved inside each
    * level.
    */
  private lazy val viewLevels: Seq[Seq[graft.ddl.Ddl.ViewDef]] = {
    val level = mutable.Map[String, Int]()
    program.views.foreach { v =>
      level(v.name) = viewDeps(v.name).flatMap(level.get)
        .maxOption.fold(0)(_ + 1)
    }
    program.views.groupBy(v => level(v.name)).toSeq.sortBy(_._1).map(_._2)
  }

  /** Per level: relation names (tables or earlier views) read by TWO OR
    * MORE of the level's views. Before a level fans out, the current
    * frames of these names are warmed ([[Shims.warmCheckpoint]]) so
    * concurrent first consumers don't race to materialize one shared
    * lazy checkpoint — the r15 round shipped a duplicate-first-touch task
    * inflation exactly here (nexmark_q0 taskRun 255→469 s under
    * viewPar=8). A name read once is left to its single consumer (same
    * cost, no race, no extra job).
    */
  private lazy val levelSharedDeps: Seq[Seq[String]] = {
    val names = tableNames ++ program.views.map(_.name)
    viewLevels.map { level =>
      names.filter(n =>
        level.count(v => v.name != n && viewDeps(v.name)(n)) >= 2).sorted
    }
  }

  /** Built-in `ERROR_VIEW` (docs/sql/system.md): runtime-populated
    * (table_or_view_name, message, metadata) rows. Currently fed by the
    * LATENESS gate below — the same contract the reference documents
    * ("currently this view contains all late records that are filtered
    * away by LATENESS annotations").
    */
  private var errorState: DataFrame = {
    val schema = StructType(Seq("table_or_view_name", "message", "metadata")
      .map(n => org.apache.spark.sql.types.StructField(
        n, org.apache.spark.sql.types.StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  def errorView: DataFrame = errorState

  /** Guards [[errorState]] read-modify-write (view-lateness gates may
    * run concurrently in the parallel view loop).
    */
  private val errorLock = new Object

  /** (table, lateness column) → discard cutoff. The waterline is
    * max-observed(ts) − LATENESS, advanced AFTER each ingested chunk
    * (tutorials/time-series.md:154-195: "Feldera ingests input records in
    * chunks and advances the cutoff timestamp, below which inputs are
    * discarded, after processing the whole chunk" — so a chunk is judged
    * against the waterline its PREDECESSORS established, making lateness
    * the documented soft bound).
    */
  private val latenessCutoffs =
    scala.collection.concurrent.TrieMap[(String, String), Any]()

  /** Normalize a collected temporal value into one comparable domain:
    * deltas arrive with whatever timestamp flavor the producer used
    * (TIMESTAMP → java.sql.Timestamp, TIMESTAMP_NTZ → LocalDateTime,
    * declared-schema casts may flip between them step to step), and the
    * waterline must compare across all of them.
    */
  private def canonTime(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.toLocalDateTime
    case i: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(i, java.time.ZoneId.systemDefault())
    case d: java.sql.Date => d.toLocalDate
    case other => other // LocalDateTime, LocalDate, numerics
  }

  /** `column < cutoff` in the cutoff's canonical domain. */
  private def lateCmp(c: org.apache.spark.sql.Column, cut: Any):
      org.apache.spark.sql.Column = cut match {
    case ldt: java.time.LocalDateTime =>
      c.cast(org.apache.spark.sql.types.TimestampNTZType) < lit(ldt)
    case ld: java.time.LocalDate =>
      c.cast(org.apache.spark.sql.types.DateType) < lit(ld)
    case other => c < lit(other)
  }

  /** `column > cutoff` (watermark hold predicate) in the cutoff's
    * canonical domain.
    */
  private def wmHoldCmp(c: org.apache.spark.sql.Column, cut: Any):
      org.apache.spark.sql.Column = cut match {
    case ldt: java.time.LocalDateTime =>
      c.cast(org.apache.spark.sql.types.TimestampNTZType) > lit(ldt)
    case ld: java.time.LocalDate =>
      c.cast(org.apache.spark.sql.types.DateType) > lit(ld)
    case other => c > lit(other)
  }

  /** table → columns carrying a WATERMARK declaration. */
  private val watermarkCols: Map[String, Seq[(String, String)]] =
    program.tables
      .map(t => t.name -> t.columns.filter(_.watermark.isDefined)
        .map(c => c.name -> graft.ddl.Dialect
          .singularizeIntervalUnits(c.watermark.get)))
      .filter(_._2.nonEmpty).toMap

  // concurrent: written per-table from the parallel integrate loop
  // (keys are table-scoped, so writers never contend on a key)
  private val watermarkCutoffs =
    scala.collection.concurrent.TrieMap[(String, String), Any]()
  private val watermarkHeld =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** WATERMARK semantics (time-series docs; watermarkTest): a row whose
    * watermark column exceeds the column waterline (max observed −
    * WATERMARK) is BUFFERED — withheld from the circuit — and released
    * in the first step whose advanced waterline passes it. Unlike
    * LATENESS (which judges a chunk against its predecessors' waterline
    * and DISCARDS), the watermark waterline advances from the arriving
    * chunk itself before judging: a lone first insert buffers against
    * the cutoff it just established.
    */
  private def watermarkGate(name: String, raw: DataFrame): DataFrame = {
    val cols = watermarkCols.getOrElse(name, Nil)
    if (cols.isEmpty || raw.columns.isEmpty) return raw
    val stats = localChunkStats(raw, cols, "_wm_", None).getOrElse {
      val aggs = cols.map { case (cn, iv) =>
        expr(s"max($cn) - $iv").as("_wm_" + cn) }
      spark.sparkContext.setJobDescription(s"wm-probe $name")
      raw.agg(aggs.head, aggs.tail: _*).head()
    }
    cols.foreach { case (cn, _) =>
      Option(stats.getAs[Any]("_wm_" + cn)).map(canonTime).foreach {
        cand =>
          val next = watermarkCutoffs.get((name, cn)) match {
            case Some(cur) if cur.asInstanceOf[Comparable[Any]]
              .compareTo(cand) >= 0 => cur
            case _ => cand
          }
          watermarkCutoffs((name, cn)) = next
      }
    }
    val all = watermarkHeld.get(name)
      .map(b => raw.unionByName(b)).getOrElse(raw)
    val holdPred = cols.map { case (cn, _) =>
      watermarkCutoffs.get((name, cn)) match {
        case Some(cut) => wmHoldCmp(col(cn), cut)
        case None => lit(true)
      }
    }.reduce(_ || _)
    // a REMOVE of a still-held row cancels inside the buffer
    watermarkHeld(name) =
      ZSets.consolidate(all.filter(holdPred)).localCheckpoint(false)
    all.filter(!holdPred)
  }

  /** view → emit_final column (`WITH ('emit_final' = 'col')`,
    * streaming.md:46-56): the view's deltas are withheld until the
    * input waterline STRICTLY passes the column — each group then
    * emits exactly once, with its final value (StreamingTests
    * testEmitFinal: LATENESS 2, inserts up to 5 → waterline 3 emits
    * ts 0,1,2 with their accumulated counts; nothing is ever
    * retracted downstream).
    */
  private val emitFinalCol: Map[String, String] =
    program.views.flatMap(v =>
      v.properties.get("emit_final").map(v.name -> _.toLowerCase)).toMap

  /** Transitive input TABLES of each emit_final view ([[viewDeps]]
    * closed through other views — fixture programs join through local
    * views).
    */
  private lazy val emitFinalDeps: Map[String, Set[String]] = {
    def closure(seen: Set[String]): Set[String] = {
      val next = seen ++ seen.flatMap(viewDeps.getOrElse(_, Set.empty))
      if (next == seen) seen else closure(next)
    }
    emitFinalCol.keys.map(vn =>
      vn -> closure(Set(vn)).intersect(tableNames.toSet)).toMap
  }

  /** view → (input waterline value ⇒ emit-column bound): the emit
    * column's defining expression with its single source attribute
    * bound to the waterline, constant-evaluated. Identity when the
    * emit column is a bare source column or the defining expression
    * is not a function of exactly one column. Monotonicity of the
    * expression is the reference's own requirement for emit_final.
    */
  private lazy val emitFinalBound: Map[String, Any => Any] =
    evalLock.synchronized { emitFinalCol.map { case (vn, cn) =>
      import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
      val fn: Any => Any = try {
        val v = program.views.find(_.name == vn).get
        val plan = spark.sql(v.sql).queryExecution.analyzed
        plan.output.find(_.name.equalsIgnoreCase(cn))
          .flatMap { outAttr =>
            plan.collectFirst {
              case op if op.expressions.exists {
                case al: Alias => al.exprId == outAttr.exprId
                case _ => false
              } => op.expressions.collectFirst {
                case al: Alias if al.exprId == outAttr.exprId => al
              }.get
            }
          } match {
          case Some(al) if al.child.collect {
            case a: AttributeReference => a.exprId
          }.distinct.size == 1 =>
            val attrType = al.child.collect {
              case a: AttributeReference => a }.head.dataType
            (cut: Any) => {
              // cutoffs are canonTime'd (LocalDateTime/LocalDate);
              // re-shape for the attribute's exact external type
              val v = (cut, attrType) match {
                case (ldt: java.time.LocalDateTime,
                  org.apache.spark.sql.types.TimestampType) =>
                  java.sql.Timestamp.valueOf(ldt)
                case (ld: java.time.LocalDate,
                  org.apache.spark.sql.types.TimestampNTZType) =>
                  ld.atStartOfDay()
                case _ => cut
              }
              val bound = al.child.transform {
                case _: AttributeReference =>
                  Literal.create(v, attrType)
              }.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
              canonTime(org.apache.spark.sql.catalyst
                .CatalystTypeConverters
                .createToScalaConverter(al.child.dataType)(bound))
            }
          case _ => identity[Any] _
        }
      } catch { case _: Throwable => identity[Any] _ }
      vn -> fn
    } }

  private val emitFinalHold =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** TRUE (pre-gate) content of emit_final views — the state the
    * view's own delta rules diff against; `viewState` keeps only the
    * emitted (final) rows consumers see.
    */
  private val innerViewState =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** Accumulate the view's delta in a hold buffer; release the rows
    * whose emit_final column lies STRICTLY below every relevant input
    * waterline (min over the deps' lateness cutoffs). A dep whose
    * declared lateness column has not advanced a cutoff yet bounds
    * nothing — everything holds.
    */
  private def emitFinalGate(view: String, cn: String,
      delta: DataFrame): DataFrame = {
    val hold = emitFinalHold.get(view)
      .map(h => delta.unionByName(h)).getOrElse(delta)
    val declared = emitFinalDeps(view).toSeq.flatMap(t =>
      program.tables.find(_.name == t).toSeq.flatMap(
        _.columns.filter(_.lateness.isDefined).map(c => (t, c.name))))
    val empty = hold.filter(lit(false))
    if (declared.isEmpty ||
      declared.exists(k => !latenessCutoffs.contains(k))) {
      emitFinalHold(view) =
        ZSets.consolidate(hold).localCheckpoint(false)
      return empty
    }
    // the bound compares in the EMIT column's domain: each input
    // waterline maps through the emit column's defining expression
    // (TIMESTAMP_TRUNC(ts, DAY) of a LATENESS ts — issue2822: the
    // day-truncated waterline crosses a day boundary LATER than the
    // raw waterline; emitting on the raw one is a step early)
    val bounds = declared.map(latenessCutoffs)
      .map(emitFinalBound(view))
    val minCut = bounds.reduce((a, b) =>
      if (a.asInstanceOf[Comparable[Any]].compareTo(b) <= 0) a else b)
    val finalPred = lateCmp(col(cn), minCut)
    emitFinalHold(view) =
      ZSets.consolidate(hold.filter(!finalPred)).localCheckpoint(false)
    ZSets.consolidate(hold.filter(finalPred))
  }

  /** Per-connector Running/Paused state (connectors/orchestration.md):
    * seeded from each connector's `paused` attribute; flipped at runtime
    * by [[startConnector]]/[[pauseConnector]]. Keyed `table/name` (or
    * `table/<index>` for unnamed connectors).
    */
  private val connectorStates: mutable.Map[String, Boolean] = {
    val m = mutable.Map[String, Boolean]()
    program.tables.foreach { t =>
      graft.sources.Connectors.connectorsOf(t).zipWithIndex.foreach {
        case (c, i) =>
          m(s"${t.name}/${c.name.getOrElse(i.toString)}") = !c.paused
      }
    }
    m
  }

  def connectorState: Map[String, Boolean] = connectorStates.toMap

  private var stepsRun: Long = 0L

  /** Observability snapshot (the reference's pipeline /stats surface):
    * steps run, per-connector state, per-relation CURRENT row counts and
    * the error_view size. Counts are computed on demand — a stats call
    * pays its own jobs; the step loop never does.
    */
  def stats(): String = {
    def n(df: DataFrame): Long = df.count()
    val rels = (tableNames.filter(tableState.contains).map(t =>
      t -> n(multisetOf(t, tableState))) ++
      program.views.map(_.name).filter(viewState.contains).map(v =>
        v -> n(multisetOf(v, viewState))))
      .map { case (r, c) => s""""$r": $c""" }.mkString(", ")
    val conns = connectorStates.toSeq.sorted.map { case (k, run) =>
      s""""$k": "${if (run) "running" else "paused"}"""" }.mkString(", ")
    s"""{"steps": $stepsRun, "transaction": ${txnOpen.getOrElse("null")}, """ +
      s""""relations": {$rels}, """ +
      s""""connectors": {$conns}, "errors": ${n(errorState)}}"""
  }

  // --------------------------------------------------------- bootstrapping

  /** Modify the pipeline while preserving its state — BOOTSTRAPPING
    * (pipelines/modifying.md): build a new [[Pipeline]] from modified
    * program SQL without re-ingesting input data. Carried over:
    *
    *   - integrated state of every table whose column definitions are
    *     unchanged (the expensive asset at scale — the ingested history);
    *     a table whose schema changed (or was removed) drops its state,
    *     matching the reference's re-ingest requirement;
    *   - PRIMARY-KEY presence state of carried tables, so later upsert
    *     batches still resolve overwrites/deletes against history.
    *
    * Every view of the new program — new, modified, and unchanged — is
    * then rebuilt by replaying the carried table snapshots as ONE seed
    * step through the normal step machinery, which reconstructs all
    * derived state (view contents, hidden join bodies, semi/anti
    * indicators) exactly as a first step would; correctness therefore
    * never depends on surgically transplanting internal indexes. (The
    * reference additionally skips recomputing unaffected views; here
    * they cost one local batch evaluation — the part bootstrapping
    * eliminates, re-reading source history, is eliminated too.)
    *
    * Returns the new pipeline and the BOOTSTRAP OUTPUT DELTAS a restart
    * must push to sinks: full content for views new to the program, a
    * content diff (new minus old, retractions included) for views whose
    * SQL or transitive inputs changed, and nothing for stable views —
    * their sinks are already current.
    *
    * The seed step and the returned deltas reference the OLD pipeline's
    * state frames lazily; keep the old pipeline (and its trace storage,
    * if trace-backed) alive until the new pipeline has taken a step or
    * the caller has consumed the bootstrap deltas.
    */
  def migrate(newProgramSql: String): (Pipeline, Map[String, DataFrame]) = {
    require(txnOpen.isEmpty, "cannot migrate with a transaction in progress")
    val newProg = Ddl.parse(newProgramSql)
    val next = new Pipeline(spark, newProg, traceBacked, traceMemRows)

    // tables carried over: same name, identical column definitions
    val carriedTables = newProg.tables
      .filter(t => program.tables.find(_.name == t.name)
        .exists(_.columns == t.columns))
      .map(_.name)
      .filter(tableState.contains)
      .toSet

    // stability: unchanged SQL and every transitively-read input
    // carried/stable — the NEW program's view dependencies, resolved in
    // declaration order
    val oldViewSql = program.views.map(v => v.name -> v.sql).toMap
    val stable = mutable.Set[String]() ++ carriedTables
    newProg.views.foreach { v =>
      if (oldViewSql.get(v.name).contains(v.sql) &&
        next.viewDeps(v.name).subsetOf(stable))
        stable += v.name
    }

    // seed step: replay carried table snapshots (already canonical
    // Z-sets) through the new pipeline — rebuilds every view and every
    // hidden state the step machinery maintains
    val seed = carriedTables.map(n => n -> tableState(n)).toMap
    val out = if (seed.isEmpty) Map.empty[String, DataFrame]
      else next.step(seed)
    // PK presence state of carried tables survives the migration
    carriedTables.foreach(n =>
      upsertState.get(n).foreach(st => next.upsertState(n) = st))
    // lakehouse follow cursors survive too: a carried table's state
    // already CONTAINS the ingested snapshot, so the new pipeline must
    // resume following from the old cursor — resetting would re-ingest
    // the snapshot on top of the carried state (double counting)
    connectorCursors.foreach { case (key, v) =>
      if (carriedTables.contains(key.split('/').head))
        next.connectorCursors(key) = v
    }

    val bootstrap = newProg.views.flatMap { v =>
      if (stable(v.name)) None
      else out.get(v.name).map { full =>
        v.name -> (viewState.get(v.name) match {
          // modified/affected view that existed before: sinks hold the
          // OLD content — emit the diff. internalBarrier severs plan
          // constraints at this API edge: the diff unions frames from
          // TWO pipelines that share expression ids, and a caller-side
          // union over such a frame trips Catalyst's cached-constraint
          // rewrite (same sharp edge the Shims doc records)
          case Some(prev) => org.apache.spark.sql.graft.Shims
            .internalBarrier(ZSets.consolidate(
              full.unionByName(ZSets.negate(prev))))
          case None => full // new view: full content
        })
      }
    }.toMap
    (next, bootstrap)
  }

  // ---------------------------------------------------------- transactions

  /** Transactional bulk ingest (pipelines/transactions.md): between
    * [[startTransaction]] and [[commitTransaction]] every [[step]] call
    * BUFFERS its table deltas instead of maintaining views — ad-hoc reads
    * keep seeing the last committed state — and commit applies the
    * cumulative delta as ONE atomic step. This is the backfill form: N
    * ingest chunks cost one view-maintenance round instead of N, no
    * intermediate output deltas ever exist (they would largely cancel),
    * and downstream sinks see one consistent update. Z-set deltas sum
    * losslessly, so buffering is exact for plain tables; PRIMARY KEY
    * command batches are tagged with a transaction-order `_seq` so the
    * commit's upsert resolution stays last-write-wins across chunks.
    * Buffered frames stay LAZY until commit — a transaction of N chunks
    * evaluates each input source exactly once, inside the commit step.
    */
  private var txnOpen: Option[Long] = None
  private var txnNext = 1L
  private val txnChunks = mutable.Map[String, Vector[DataFrame]]()

  def transactionInProgress: Option[Long] = txnOpen

  /** Total committed steps (transactions commit as one). */
  def stepCount: Long = stepsRun

  /** Declared view names, in program order (for shells/tools). */
  def viewNames: Seq[String] = program.views.map(_.name)

  /** Begin a transaction; fails if one is already open (the reference's
    * single-transaction contract).
    */
  def startTransaction(): Long = {
    require(txnOpen.isEmpty,
      s"transaction ${txnOpen.get} already in progress")
    val id = txnNext
    txnNext += 1
    txnOpen = Some(id)
    id
  }

  /** Commit the open transaction: ONE atomic step over the cumulative
    * buffered deltas; returns its per-view output deltas. The no-arg form
    * commits whatever transaction is open (the REST surface); the id form
    * additionally checks the caller still owns the transaction it thinks
    * it does.
    */
  def commitTransaction(): Map[String, DataFrame] = {
    val id = txnOpen.getOrElse(sys.error("no transaction in progress"))
    commitTransaction(id)
  }

  def commitTransaction(id: Long): Map[String, DataFrame] = {
    require(txnOpen.contains(id),
      s"transaction $id is not in progress (open: $txnOpen)")
    val cumulative = txnChunks.toMap.map { case (name, chunks) =>
      name -> chunks.reduce(_ unionByName _)
    }
    txnChunks.clear()
    txnOpen = None
    if (cumulative.isEmpty) Map.empty else step(cumulative)
  }

  /** Discard the open transaction's buffered inputs; state is untouched. */
  def abortTransaction(id: Long): Unit = {
    require(txnOpen.contains(id),
      s"transaction $id is not in progress (open: $txnOpen)")
    txnChunks.clear()
    txnOpen = None
  }

  private def bufferTxn(deltas: Map[String, DataFrame]): Unit =
    deltas.foreach { case (name, d) =>
      val prev = txnChunks.getOrElse(name, Vector.empty)
      val pk = program.tables.find(_.name == name)
        .map(_.primaryKey).getOrElse(Nil)
      val tagged =
        if (pk.nonEmpty && d.columns.contains("_deleted")) {
          // chunk-major, caller-seq-minor ordering; caller seqs must fit
          // 32 bits for the composite to preserve their relative order
          val userSeq =
            if (d.columns.contains("_seq")) col("_seq").cast("long")
            else lit(0L)
          d.withColumn("_seq",
            lit(prev.size.toLong * (1L << 32)) + userSeq)
        } else d
      prev.headOption.foreach(h => require(
        h.columns.sorted.sameElements(tagged.columns.sorted),
        s"transaction chunks for '$name' mix shapes: " +
          s"${h.columns.sorted.mkString(",")} vs " +
          s"${tagged.columns.sorted.mkString(",")}"))
      txnChunks(name) = prev :+ tagged
    }

  /** Route a step's view output deltas through the views' declared output
    * connectors (`WITH ('connectors' = …)` on CREATE VIEW). A connector's
    * `index` property resolves against the program's CREATE INDEX
    * declarations (connectors/unique_keys.md) and switches that sink to
    * atomic-update delivery: each key's delete+insert pair lands as one
    * update envelope (json) or one keyed transactional overwrite (jdbc).
    */
  def emitOutputs(outputDeltas: Map[String, DataFrame]): Unit =
    program.views.foreach { v =>
      outputDeltas.get(v.name).foreach { d =>
        graft.sources.Connectors.connectorsOf(v).filterNot(_.paused)
          .foreach { c =>
            val keys = c.index.map { ix =>
              program.indexes
                .find(i => i.name == ix && i.view == v.name)
                .getOrElse(sys.error(s"connector on view ${v.name} " +
                  s"references unknown index '$ix' (declared: " +
                  s"${program.indexes.map(_.name).mkString(", ")})"))
                .columns
            }
            graft.sources.Connectors.writeView(d, c, keys)
          }
      }
    }

  def startConnector(key: String): Unit = setConnector(key, running = true)
  def pauseConnector(key: String): Unit = setConnector(key, running = false)

  private def setConnector(key: String, running: Boolean): Unit = {
    require(connectorStates.contains(key),
      s"unknown connector: $key (known: ${connectorStates.keys.toSeq.sorted
        .mkString(", ")})")
    connectorStates(key) = running
  }

  /** One ingestion round from the DDL-declared connectors
    * (orchestration.md): batch-read every table's ACTIVE connectors
    * (paused ones stay idle), union each table's batches, and apply as
    * ONE atomic [[step]] — the backfill-then-switch-over control flow the
    * reference drives through its connector start/pause endpoints.
    * Returns the step's per-view output deltas (empty map if every
    * connector is paused or nothing is configured).
    */
  def ingestConnectors(): Map[String, DataFrame] = {
    val ordered = mutable.Buffer[(Ddl.TableDef,
      graft.sources.Connectors.ConnectorConf, String)]()
    val deltas = program.tables.flatMap { t =>
      val batches = graft.sources.Connectors.connectorsOf(t).zipWithIndex
        .filter { case (c, i) =>
          connectorStates(s"${t.name}/${c.name.getOrElse(i.toString)}") }
        .flatMap { case (c, i) =>
          val key = s"${t.name}/${c.name.getOrElse(i.toString)}"
          if (orderedSnapshotDue(c, key)) { ordered += ((t, c, key)); None }
          else Some(graft.sources.Connectors.read(spark, t,
            advanceCursor(key, c)))
        }
      if (batches.isEmpty) None
      else Some(t.name -> batches.reduce(_ unionByName _))
    }.toMap
    val stepOut = if (deltas.isEmpty) Map.empty[String, DataFrame]
      else step(deltas)
    val chunkOuts = ordered.map { case (t, c, key) =>
      ingestOrderedSnapshot(t, c, key) }
    (stepOut +: chunkOuts.toSeq).reduceOption { (a, b) =>
      (a.keySet ++ b.keySet).map { v =>
        v -> ((a.get(v), b.get(v)) match {
          case (Some(x), Some(y)) => ZSets.consolidate(x.unionByName(y))
          case (x, y) => x.orElse(y).get
        })
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** Does this connector's FIRST ingest round need the timestamp-ordered
    * chunked snapshot (delta.md/iceberg.md `timestamp_column`)?
    */
  private def orderedSnapshotDue(
      c: graft.sources.Connectors.ConnectorConf, key: String): Boolean =
    Set("delta_table_input", "iceberg_input").contains(c.transport) &&
      c.config.contains("timestamp_column") &&
      Set("snapshot", "snapshot_and_follow")
        .contains(c.config.getOrElse("mode", "snapshot")) &&
      !connectorCursors.contains(key)

  /** Ingest a lakehouse snapshot as a series of steps, one per
    * LATENESS-width timestamp range in ascending order (delta.md
    * "Ingesting time series data"): each step's rows are at most
    * LATENESS earlier than the waterline the previous steps advanced,
    * so downstream LATENESS gates and temporal operators see the same
    * monotone stream a live ingest would deliver. Without a LATENESS
    * annotation on the column the whole snapshot is one chunk.
    */
  private def ingestOrderedSnapshot(t: Ddl.TableDef,
      c: graft.sources.Connectors.ConnectorConf,
      key: String): Map[String, DataFrame] = {
    val tsCol = c.config("timestamp_column")
    // pin the snapshot version and set the follow cursor
    val pinned = c.transport match {
      case "delta_table_input" =>
        val latest = graft.sources.DeltaLake
          .reconstruct(spark, c.config("uri")).version
        connectorCursors(key) = latest
        c.copy(config = c.config + ("mode" -> "snapshot") +
          ("version" -> latest.toString) - "datetime")
      case _ =>
        val metaLoc = graft.sources.IcebergLake.currentMetadata(spark,
          c.config.getOrElse("uri", c.config("path")))
        val cur = graft.sources.IcebergLake.readMetadata(spark, metaLoc)
          .currentSnapshotId
        cur.foreach(connectorCursors(key) = _)
        c.copy(config = c.config + ("mode" -> "snapshot") ++
          cur.map(s => "snapshot_id" -> s.toString) - "datetime")
    }
    val rows = graft.sources.Connectors.read(spark, t, pinned)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lateness = t.columns.find(_.name == tsCol).flatMap(_.lateness)
    val outs = lateness match {
      case None => Seq(step(Map(t.name -> rows)))
      case Some(iv) =>
        val secs = spark.sql("SELECT cast(timestamp'1970-01-01 00:00:00' " +
          s"+ $iv as long)").head().getLong(0)
        require(secs > 0, s"LATENESS must be positive, got $iv")
        val chunked = rows.withColumn("__chunk",
          coalesce(floor(col(tsCol).cast("long") / secs),
            lit(Long.MinValue)))
        val ids = chunked.select("__chunk").distinct()
          .orderBy("__chunk").collect().map(_.getLong(0))
        ids.toSeq.map { id =>
          step(Map(t.name ->
            chunked.where(col("__chunk") === id).drop("__chunk")))
        }
    }
    rows.unpersist()
    outs.reduceOption { (a, b) =>
      (a.keySet ++ b.keySet).map { v =>
        v -> ((a.get(v), b.get(v)) match {
          case (Some(x), Some(y)) => ZSets.consolidate(x.unionByName(y))
          case (x, y) => x.orElse(y).get
        })
      }.toMap
    }.getOrElse(Map.empty)
  }

  // lakehouse follow-mode cursors: connector key → last ingested Delta
  // version / Iceberg snapshot id (the connector-side resume point the
  // reference journals for its at-least-once delta/iceberg FT)
  private val connectorCursors = mutable.Map[String, Long]()

  /** Connector resume state for durable restarts — lakehouse
    * versions/snapshot-ids plus the Kafka partition offsets and NATS
    * stream sequences of this JVM's native transports, namespaced by
    * kind. Persist this map alongside your checkpoint and
    * [[importConnectorCursors]] before the first ingest round of a new
    * process: the offset-journaling half of the reference's connector
    * fault tolerance (its checkpoint files carry exactly these values).
    */
  def exportConnectorCursors(): Map[String, Long] =
    connectorCursors.toMap.map { case (k, v) => s"lake|$k" -> v } ++
      graft.sources.Kafka.cursorsSnapshot.map {
        case (k, v) => s"kafka|$k" -> v } ++
      graft.sources.Nats.cursorsSnapshot.map {
        case (k, v) => s"nats|$k" -> v } ++
      graft.sources.PgCdc.cursorsSnapshot.map {
        case (k, v) => s"pgcdc|$k" -> v }

  def importConnectorCursors(m: Map[String, Long]): Unit = {
    def slice(prefix: String) = m.collect {
      case (k, v) if k.startsWith(prefix) =>
        k.stripPrefix(prefix) -> v }
    slice("lake|").foreach { case (k, v) => connectorCursors(k) = v }
    graft.sources.Kafka.importCursors(slice("kafka|"))
    graft.sources.Nats.importCursors(slice("nats|"))
    graft.sources.PgCdc.importCursors(slice("pgcdc|"))
  }

  /** For Delta/Iceberg connectors in a follow mode, pin this ingest
    * round to (cursor, latest] and advance the cursor — so each
    * [[ingestConnectors]] round ingests exactly the commits that arrived
    * since the last round, and a commit racing the read is left for the
    * next round rather than half-ingested.
    */
  private def advanceCursor(key: String,
      c: graft.sources.Connectors.ConnectorConf)
      : graft.sources.Connectors.ConnectorConf = c.transport match {
    case "delta_table_input"
        if Set("follow", "snapshot_and_follow", "cdc")
          .contains(c.config.getOrElse("mode", "")) =>
      val latest = graft.sources.DeltaLake
        .reconstruct(spark, c.config("uri")).version
      val prior = connectorCursors.get(key)
      connectorCursors(key) = latest
      prior match {
        case Some(v) => c.copy(config = c.config +
          ("mode" -> (if (c.config("mode") == "cdc") "cdc" else "follow")) +
          ("version" -> v.toString) + ("end_version" -> latest.toString))
        case None => c.copy(config =
          c.config + ("end_version" -> latest.toString))
      }
    case "iceberg_input"
        if Set("follow", "snapshot_and_follow")
          .contains(c.config.getOrElse("mode", "")) =>
      val metaLoc = graft.sources.Connectors
        .resolveIcebergMetadata(spark, c.config)
      val latest = graft.sources.IcebergLake.readMetadata(spark, metaLoc)
        .currentSnapshotId
      val prior = connectorCursors.get(key)
      latest.foreach(connectorCursors(key) = _)
      prior match {
        case Some(v) => c.copy(config = c.config + ("mode" -> "follow") +
          ("snapshot_id" -> v.toString) ++
          latest.map(l => "end_snapshot_id" -> l.toString))
        case None => c.copy(config = c.config ++
          latest.map(l => "end_snapshot_id" -> l.toString))
      }
    case _ => c
  }

  /** `append_only` input contract (streaming.md): a declared-append-only
    * table must never receive a deletion — the chain-agg fast path keys
    * its state layout on it and would silently corrupt. Enforced as a
    * raise_error branch on the weight INSIDE the existing evaluation:
    * zero extra jobs per step, fails at first violating row.
    */
  /** append_only tables whose property is LOAD-BEARING: some view took
    * the chain-aggregate fast path over them (state = view output, no
    * retraction support). A deletion into those must fail loudly; for
    * the rest the reference itself processes a violating REMOVE as a
    * plain retraction (StreamingTests issue5811 records the retracted
    * join output), so the guard passes it through.
    */
  private lazy val appendOnlyLoadBearing: Set[String] =
    program.tables.filter(_.appendOnly).map(_.name).filter { tn =>
      program.views.exists(v => shapes.get(v.name).exists {
        case Ivm.GroupAgg(rel, _, _, chainCols) =>
          rel == tn && chainCols.nonEmpty
        case _ => false
      })
    }.toSet

  private def appendOnlyGuard(name: String, raw: DataFrame): DataFrame = {
    if (!appendOnlyLoadBearing.contains(name)) return raw
    val msg = s"append_only table $name received a deletion"
    val w =
      if (raw.columns.contains(ZSets.W))
        Seq(ZSets.W -> when(col(ZSets.W) < 0,
          raise_error(lit(msg)).cast("long")).otherwise(col(ZSets.W)))
      else Nil
    val del =
      if (raw.columns.contains("_deleted"))
        Seq("_deleted" -> when(col("_deleted"),
          raise_error(lit(msg)).cast("boolean")).otherwise(col("_deleted")))
      else Nil
    (w ++ del).foldLeft(raw) { case (df, (c, e)) => df.withColumn(c, e) }
  }

  /** Discard delta rows that violate a declared LATENESS bound and log
    * them to [[errorView]]. Scale shape: tables without LATENESS pay
    * nothing; a gated table pays ONE small aggregate over its delta
    * (per-column waterline candidate + late count fused into a single
    * job), and the common no-late-rows case never rescans the delta.
    */
  private def latenessGate(name: String, raw: DataFrame): DataFrame =
    latenessGateOn(name, raw,
      program.tables.find(_.name == name)
        .map(_.columns.filter(_.lateness.isDefined)
          .map(c => c.name -> graft.ddl.Dialect
            .singularizeIntervalUnits(c.lateness.get))).getOrElse(Nil))

  /** Lateness declared on VIEW columns via the standalone `LATENESS
    * view.column INTERVAL ...` statement (time-series.md:113-127) —
    * applied to the view's OUTPUT DELTAS by the same waterline rule as
    * table columns.
    */
  private val viewLateness: Map[String, Seq[(String, String)]] =
    program.viewLateness.groupBy(_.view)
      .map { case (v, ds) => v -> ds.map(d => d.column -> d.interval) }

  /** Zero-job gate stats for LITERAL chunks. A corpus `INSERT VALUES`
    * chunk optimizes to a LocalRelation, and Catalyst's own
    * `ConvertToLocalRelation` folds any Project over one at
    * OPTIMIZATION time — so `select(...).collect()` on such a frame
    * evaluates the very same expressions (casts, interval arithmetic,
    * comparisons — nothing reimplemented) without launching a job. The
    * per-chunk wm/gate probe was one driver-floor job per gated table
    * per step, the largest job class on the step-corpus rows (361 of
    * 942 traced jobs after the r16 regime change). Guide §5.
    *
    * Returns the same row shape as the probe aggregate
    * (`<prefix><col>` = max(col) − interval, plus `_late` when a
    * predicate is given), or None when the frame isn't a foldable
    * local chunk (parquet-backed deltas, watermark-held unions) or a
    * column's type has no total Comparable order (float/double NaN) —
    * callers then pay the normal aggregate job. SQL MAX semantics =
    * greatest non-null by the type's ordering; external row values of
    * the time/integral/decimal types involved are Comparable with
    * exactly that order.
    */
  private def localChunkStats(raw: DataFrame,
      cols: Seq[(String, String)], prefix: String,
      latePred: Option[org.apache.spark.sql.Column]):
      Option[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def isLocal(df: DataFrame) =
      df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    if (!isLocal(raw)) return None
    val proj = raw.select(cols.map { case (cn, _) => col(cn) } ++
      latePred.map(p => when(p, 1L).otherwise(0L).as("_late")): _*)
    if (!isLocal(proj)) return None // paranoia: never pay a job here
    if (proj.schema.take(cols.size).exists(f => f.dataType match {
      case org.apache.spark.sql.types.FloatType |
        org.apache.spark.sql.types.DoubleType => true
      case _ => false
    })) return None
    val rows = proj.collect()
    val nLate = if (latePred.isEmpty) 0L
      else rows.iterator.map(_.getLong(cols.size)).sum
    val maxes: Seq[Any] = cols.indices.map { i =>
      rows.iterator.map(_.get(i)).filter(_ != null).reduceOption {
        (a, b) =>
          if (a.asInstanceOf[Comparable[Any]].compareTo(b) >= 0) a else b
      }.orNull
    }
    // `max − interval` stays Catalyst arithmetic: a one-row local frame
    // with the maxima, projected through the same expression text,
    // folds driver-side the same way
    val schema = org.apache.spark.sql.types.StructType(
      cols.zipWithIndex.map { case ((cn, _), i) =>
        proj.schema(i).copy(name = cn) })
    val one = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(maxes: _*)), schema)
    val out = one.select(cols.map { case (cn, iv) =>
      expr(s"$cn - $iv").as(prefix + cn) } :+ lit(nLate).as("_late"): _*)
    if (!isLocal(out)) return None
    Some(out.collect().head)
  }

  private def latenessGateOn(name: String, raw: DataFrame,
      lateCols: Seq[(String, String)]): DataFrame = {
    if (lateCols.isEmpty || raw.columns.isEmpty) return raw
    val latePred = lateCols.map { case (cn, _) =>
      latenessCutoffs.get((name, cn)) match {
        case Some(cut) => lateCmp(col(cn), cut)
        case None => lit(false)
      }
    }.reduce(_ || _)
    val stats = localChunkStats(raw, lateCols, "_wl_", Some(latePred))
      .getOrElse {
        val aggs = lateCols.map { case (cn, iv) =>
          expr(s"max($cn) - $iv").as("_wl_" + cn) } :+
          sum(when(latePred, 1L).otherwise(0L)).as("_late")
        spark.sparkContext.setJobDescription(s"gate-probe $name")
        raw.agg(aggs.head, aggs.tail: _*).head()
      }
    val nLate = Option(stats.getAs[Long]("_late")).getOrElse(0L)
    val kept = if (nLate == 0L) raw else {
      val dropped = raw.filter(latePred)
      val entries = dropped.select(
        lit(name).as("table_or_view_name"),
        concat(lit("late record discarded: "),
          concat_ws(", ", lateCols.map { case (cn, _) =>
            concat(lit(cn + "="), col(cn).cast("string")) }: _*),
          lit(" violates " + lateCols.map { case (cn, iv) =>
            s"LATENESS $iv on $cn" }.mkString("; ")))
          .as("message"),
        to_json(struct(raw.columns.map(col): _*)).as("metadata"))
      // materialize now: the waterline advances below, and error rows must
      // reflect THIS chunk's verdict (constraint-safe eager snapshot)
      spark.sparkContext.setJobDescription(s"error-log $name")
      // materialize OUTSIDE the lock (it runs a job; only the state
      // splice needs the monitor — parallel integrate loop)
      val mat = graft.incremental.Trace.materialize(entries)
      errorLock.synchronized {
        errorState = errorState.unionByName(mat)
      }
      raw.filter(!latePred)
    }
    // advance waterlines from this chunk's maxima (late rows cannot raise
    // a max that already exceeds the cutoff they sit below)
    lateCols.foreach { case (cn, _) =>
      Option(stats.getAs[Any]("_wl_" + cn)).map(canonTime).foreach { cand =>
        val next = latenessCutoffs.get((name, cn)) match {
          case Some(cur)
            if cur.asInstanceOf[Comparable[Any]].compareTo(cand) >= 0 => cur
          case _ => cand
        }
        latenessCutoffs((name, cn)) = next
      }
    }
    kept
  }

  /** View shapes + empty outputs, classified once against empty bindings
    * (shape depends on plan structure, not data). Recursive views are
    * registered (from their declared schemas) BEFORE the loop so that
    * self- and forward references inside the group analyze, and are
    * pinned to Opaque — the fixpoint group replaces shape-based
    * maintenance for them.
    */
  private val (shapes: Map[String, Ivm.Shape],
      emptyViews: Map[String, DataFrame]) = {
    emptyTables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    program.recursive.foreach { r =>
      val schema = StructType(r.columns.map(c =>
        org.apache.spark.sql.types.StructField(
          c.name, SqlTypes.toSpark(c.sqlType), nullable = !c.notNull)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .createOrReplaceTempView(r.name)
    }
    val sh = mutable.Map[String, Ivm.Shape]()
    val ev = mutable.Map[String, DataFrame]()
    val known = mutable.Set[String]() ++ tableNames
    // classification is per-view Catalyst analysis (driver-bound):
    // views in one dependency level reference only lower levels, so
    // their analyses overlap (guide §2.6); registrations stay serial
    // between levels. Same-level peers are absent from `known` — a
    // level peer is never a leaf of this view by construction.
    viewLevels.foreach { level =>
      val ks = known.toSet
      val res = graft.queries.Par.map(
        level, math.min(viewPar, level.size)) { v =>
        val shape =
          if (recursiveNames(v.name)) Ivm.Opaque
          else Ivm.classify(spark, v.sql, ks)
        (v.name, shape,
          Pipeline.dedupCols(sqlView(v.sql).limit(0)).localCheckpoint(false))
      }
      res.foreach { case (n, shape, out) =>
        sh(n) = shape
        out.createOrReplaceTempView(n)
        ev(n) = out
        known += n
      }
    }
    (sh.toMap, ev.toMap)
  }

  /** Branch shapes of each recursive member's body — top-level UNION
    * branches, each Linear or Multilinear over the whole program
    * (including the group members). None → that member's body is outside
    * the sum-of-products form and the group uses recompute-diff.
    */
  private val recShapes: Map[String, Option[Seq[Ivm.Shape]]] = {
    val known = (tableNames ++ program.views.map(_.name)).toSet
    program.views.filter(v => recursiveNames(v.name))
      .map(v => v.name -> Ivm.classifyRecursive(spark, v.sql, known)).toMap
  }
  private val recIncCapable: Boolean =
    recShapes.nonEmpty && recShapes.values.forall(_.isDefined)
  /** External (non-member) relations feeding the recursive group. */
  private val recExtRels: Set[String] =
    recShapes.values.flatten.flatten.flatMap(_.relations).toSet --
      recursiveNames

  /** How the last step maintained the recursive group: "incremental"
    * (semi-naive continuation) or "recompute" (fixpoint from scratch +
    * diff). Introspection for tests.
    */
  @volatile var lastRecursiveMode: String = ""

  /** Views that read the logical clock (reference ImplementNow pass,
    * now.md: NOW() is the circuit STEP time, not row-evaluation time).
    * They re-evaluate whenever the clock advances, emitting deltas — e.g.
    * a temporal filter `ts >= NOW() - INTERVAL …` retracts rows as they
    * expire. Detected textually; evaluation substitutes the step clock as
    * a literal so Catalyst still constant-folds the window bounds.
    */
  private val nowRe = "(?i)\\bNOW\\s*\\(\\s*\\)".r
  private val nowViews: Set[String] =
    program.views.filter(v => nowRe.findFirstIn(v.sql).isDefined)
      .map(_.name).toSet
  private var clock: java.sql.Timestamp =
    new java.sql.Timestamp(System.currentTimeMillis())

  private def bindClock(sql: String): String =
    nowRe.replaceAllIn(sql, s"TIMESTAMP '${clock.toString}'")

  /** Advance the logical clock WITHOUT new data: NOW()-dependent views
    * re-evaluate against the new step time and emit their deltas
    * (DBSPNowOperator / temporal filter semantics).
    */
  def advanceClock(now: java.sql.Timestamp): Map[String, DataFrame] = {
    clock = now
    step(Map.empty)
  }

  /** Current materialized snapshot of a table (empty before first delta). */
  def snapshot(table: String): Option[DataFrame] = tableState.get(table)

  /** Rebuild the PRIMARY-KEY presence state for `table` from its
    * integrated snapshot. A snapshot-compacted restore replays the
    * snapshot as a plain Z-set delta, which bypasses [[IncrementalOps
    * .upsertStep]]; without this reconstruction a post-restart upsert of a
    * pre-snapshot key would find no liveness state and never retract the
    * old row (the table would silently diverge from the batch recompute).
    */
  def rebuildUpsertState(table: String): Unit =
    tableState.get(table).foreach { st =>
      upsertState(table) = ZSets.toMultiset(st)
        .withColumn("_present", lit(true)).localCheckpoint(false)
    }

  /** The IVM shape chosen for a view (exposed for tests/introspection). */
  def shapeOf(view: String): Ivm.Shape = shapes(view)

  /** Joint naive fixpoint of the DECLARE RECURSIVE VIEW group
    * (recursion.mdx; DBSPNestedOperator.java:30): every round re-evaluates
    * each recursive view's full SQL with the group bound to its
    * accumulated totals; [[Fixpoint.mutual]] supplies convergence checks
    * (on deltas, never the round counter), set-semantics dedup, and cache
    * rotation. Naive rather than semi-naive because the rule body is
    * arbitrary SQL — delta-linear rewriting of the body is the reference
    * compiler's incrementalization pass; callers with a known rule use
    * the semi-naive library API (graft.recursive.Fixpoint) directly.
    * Non-recursive relations must already be bound as temp views.
    */
  private def evalRecursiveGroup(): Map[String, DataFrame] = {
    val group = program.views.filter(v => recursiveNames(v.name))
    // round 0: the base terms — each member's SQL with the whole group
    // bound to empty (an empty seed would otherwise read as already
    // converged: the base case lives INSIDE the SQL body)
    group.foreach(v => emptyViews(v.name).createOrReplaceTempView(v.name))
    val bases = group.map(v => v.name -> sqlView(v.sql)).toMap
    graft.recursive.Fixpoint.mutual(
      bases,
      group.map { v =>
        v.name -> ((st: graft.recursive.Fixpoint.RoundState) => {
          st.totals.foreach { case (n, df) =>
            df.createOrReplaceTempView(n)
          }
          sqlView(v.sql)
        })
      }.toMap)
  }

  /** Evaluate view SQL with the reference's division semantics —
    * `/` over two integral operands is integer division (integer.md;
    * see org.apache.spark.sql.graft.IntegerDivision).
    */
  private def sqlView(text: String): DataFrame =
    org.apache.spark.sql.graft.IntegerDivision(spark.sql(text))

  /** Register table snapshots as temp views, then evaluate each view in
    * declaration order (later views may reference earlier ones).
    * Recursive views evaluate as one joint fixpoint group at the position
    * of the group's first member.
    */
  def runBatch(inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    inputs.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    var recResults = Map.empty[String, DataFrame]
    program.views.map { v =>
      val df = if (recursiveNames(v.name)) {
        if (recResults.isEmpty) {
          recResults = evalRecursiveGroup()
          recResults.foreach { case (n, d) => d.createOrReplaceTempView(n) }
        }
        recResults(v.name)
      } else {
        val d = sqlView(v.sql)
        d.createOrReplaceTempView(v.name)
        d
      }
      v.name -> df
    }.toMap
  }

  private def emptyOf(rel: String): DataFrame =
    emptyTables.getOrElse(rel, emptyViews(rel))

  /** Multiset form of a relation's Z-set state under `states`. */
  private def multisetOf(rel: String,
      states: collection.Map[String, DataFrame]): DataFrame =
    states.get(rel).map(ZSets.toMultiset).getOrElse(emptyOf(rel))

  /** Evaluate the view SQL with explicit relation bindings (overwrites the
    * session temp views; `step` re-registers canonical views at the end).
    */
  private def evalWith(sql: String,
      bindings: Map[String, DataFrame]): DataFrame = evalLock.synchronized {
    bindings.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    // same reference semantics as sqlView — the LINEAR delta path
    // must divide (and ceil/floor/…) exactly like batch; the foreign-
    // corpus incremental replay (pgr_inc_int4) caught the bare
    // spark.sql here diverging on `i.f1 / '2'::INT2`
    // (evalLock: bind-then-analyze must be atomic — the parallel view
    // loop may analyze other views' SQL concurrently; spark.sql
    // analyzes EAGERLY, so the returned frame is binding-independent)
    org.apache.spark.sql.graft.IntegerDivision(spark.sql(sql))
  }

  /** Serializes session temp-view rebinding with any analysis that
    * resolves relations from the session catalog (evalWith leaves its
    * bindings in place; a concurrent fresh analysis would resolve them
    * instead of the canonical state).
    */
  private val evalLock = new Object

  /** One incremental step: apply Z-set deltas (must carry `_w`) to table
    * snapshots, maintain every view by its IVM shape, and return per-view
    * OUTPUT DELTAS (Z-sets). Upsert tables (PRIMARY KEY) should
    * pre-convert via graft.streaming.Upsert.
    */
  def step(deltas: Map[String, DataFrame]): Map[String, DataFrame] = {
    // open transaction: buffer and emit nothing — views keep their last
    // committed state until commitTransaction applies the cumulative
    // delta as one step (pipelines/transactions.md)
    if (txnOpen.isDefined) {
      bufferTxn(deltas)
      return Map.empty
    }
    // pre-step snapshots ("old" side of the multilinear terms)
    val oldTables = tableState.toMap
    val oldViews = viewState.toMap
    val oldStates = oldTables ++ oldViews
    stepDeltaSigns.clear()
    stepIndicatorMemo.clear()

    // 1. integrate table deltas — mergeDelta touches only delta keys.
    // PRIMARY KEY tables accept upsert batches (rows + `_deleted` flag):
    // upsertStep converts overwrite/delete semantics into retract+insert
    // Z-set deltas against the presence-marked key state
    // (crates: upsert handling in the input controller; SURVEY §2.1).
    // phase-tagged job descriptions: every Spark job fired by a step
    // phase carries "step#N <phase>" so the per-step driver floor is
    // attributable per phase/view in the UI and `perfbench --trace`
    def tag(phase: String): Unit =
      spark.sparkContext.setJobDescription(s"step#$stepsRun $phase")
    val relDeltas =
      scala.collection.concurrent.TrieMap[String, DataFrame]()
    // tables are independent (each touches only its own state keys;
    // ERROR_VIEW appends under errorLock): integrate from the bounded
    // pool so per-table gate probes / upsert steps / checkpoint
    // materializations overlap instead of paying the per-job driver
    // floor serially (guide §2.6). viewPar=1 keeps it serial.
    graft.queries.Par.map(deltas.toSeq,
      math.min(viewPar, deltas.size)) {
      case (name, raw0) =>
      tag(s"integrate $name")
      // freeze verdicts are judged against the waterline the
      // PREDECESSOR chunks established (same rule as lateness), so
      // snapshot the cutoffs before this chunk's gate advances them
      val preCutoffs: Map[String, Any] =
        latenessCutoffs.collect {
          case ((`name`, cn), cut) => cn -> cut }.toMap
      val raw = appendOnlyGuard(name,
        latenessGate(name, watermarkGate(name, raw0)))
      val pk = program.tables.find(_.name == name)
        .map(_.primaryKey).getOrElse(Nil)
      // a command on a key whose EXISTING row is FROZEN (any lateness
      // column strictly below the waterline) is IGNORED outright — the
      // update would have to retract a row behind the lateness
      // threshold (StreamingTests gcUpsertOldRow/gcTwoLatenessColumns;
      // time-series.md: "old" records can never be updated or deleted)
      def dropFrozenKeyCmds(cmds: DataFrame): DataFrame = {
        val lateCols = program.tables.find(_.name == name)
          .map(_.columns.filter(_.lateness.isDefined).map(_.name))
          .getOrElse(Nil)
        (lateCols, upsertState.get(name)) match {
          case (lcs, Some(st)) if lcs.nonEmpty =>
            val frozenPred = lcs.map(cn =>
              preCutoffs.get(cn) match {
                case Some(cut) => lateCmp(col(cn), cut)
                case None => lit(false)
              }).reduce(_ || _)
            cmds.join(st.filter(frozenPred).select(pk.map(col): _*),
              pk, "left_anti")
          case _ => cmds
        }
      }
      // upsertStep emits key-first columns; consumers bind by position
      def declaredOrder(zd: DataFrame): DataFrame = {
        val cols = raw.columns.toSeq
          .filterNot(c => c == ZSets.W || c == "_deleted" || c == "_seq")
        zd.select(cols.map(col) :+ col(ZSets.W): _*)
      }
      val d = if (pk.nonEmpty && raw.columns.contains("_deleted")) {
        // an optional `_seq` column orders commands within the batch
        // (last-write-wins); without it duplicate keys fail fast
        val seq = if (raw.columns.contains("_seq")) Some("_seq") else None
        val (st, zd) = IncrementalOps.upsertStep(
          upsertState.get(name), dropFrozenKeyCmds(raw), pk, seqCol = seq)
        upsertState(name) = st.localCheckpoint(false)
        declaredOrder(zd)
      } else if (pk.nonEmpty) {
        // plain rows into a keyed table are still UPSERT commands (the
        // reference's input handlers: an INSERT on an existing key
        // replaces the row, emitting retract+insert — StreamingTests
        // gcUpsertBoundary); weight sign carries the command kind
        val cmds = raw
          .withColumn("_deleted", col(ZSets.W) < 0).drop(ZSets.W)
        val (st, zd) = IncrementalOps.upsertStep(
          upsertState.get(name), dropFrozenKeyCmds(cmds), pk)
        upsertState(name) = st.localCheckpoint(false)
        declaredOrder(zd)
      } else raw
      // consolidate-at-ingest is deliberate: the canonical (merged,
      // zero-free) delta is what the merge, the sign probe and every
      // delta term downstream reuse — measured against both a raw
      // lazy-barrier and a raw eager-snapshot variant, which each
      // RAISED total task time ~40% by pushing bigger unmerged frames
      // through every consumer
      val dCon = ZSets.consolidate(d).localCheckpoint(false)
      relDeltas(name) = dCon
      integrate(tableState, name, dCon, traceBacked(name))
    }

    // fused sign probe for all table deltas (one job; also warms their
    // lazy checkpoints before the delta rules scan them repeatedly)
    tag("sign-probe")
    probeDeltaSigns(relDeltas)

    // SET ENFORCE_POSITIVE_INPUTS = ON (grammar.md "Setting options"):
    // after integration, a keyless table whose accumulated integral
    // holds a negative weight received more deletions than insertions
    // for that key — invalid input; fail the step loudly (the
    // reference panics the pipeline). Documented-expensive: one scan
    // per touched table per step, so gated on the option.
    if (program.optionOn("enforce_positive_inputs")) {
      tag("enforce-positive-inputs")
      relDeltas.keys.toSeq.sorted
        .filter(n => program.tables.find(_.name == n)
          .exists(_.primaryKey.isEmpty))
        .foreach { n =>
          val neg = ZSets.consolidate(tableState(n))
            .filter(ZSets.weight < 0)
          if (!neg.isEmpty)
            throw new IllegalStateException(
              s"ENFORCE_POSITIVE_INPUTS: table '$n' accumulated a " +
                "negative weight (more deletions than insertions for " +
                "a key)")
        }
    }

    // 2. maintain views: dependency levels with bounded overlap (guide
    // §2.6 — a view's per-step cost is driver-side plan surgery,
    // physical planning at its lazy checkpoints, and broadcast-build
    // kickoffs; views in one level share no step outputs, so that work
    // overlaps). Declaration order within a level is preserved in the
    // result; pipelines with a recursive group (shared recDeltas fill)
    // or viewParallelism <= 1 keep the exact serial path.
    val newStates = scala.collection.concurrent
      .TrieMap[String, DataFrame]() ++ tableState ++ viewState
    var recDeltas = Map.empty[String, DataFrame]
    def maintainView(v: graft.ddl.Ddl.ViewDef): (String, DataFrame) = {
      tag(s"view ${v.name}")
      // an emit_final view's delta rules derive against its TRUE
      // content (innerViewState); viewState holds only EMITTED rows
      // (what consumers and ad-hoc queries see)
      val oldSelf = innerViewState.get(v.name).orElse(oldViews.get(v.name))
      val untouched = !shapes(v.name).relations.exists(relDeltas.contains)
      val rawDelta = if (nowViews(v.name))
        // clock-dependent: always recompute against the bound step time
        recomputeDiff(None, bindClock(v.sql), newStates, oldSelf)
      else if (recursiveNames(v.name)) {
        // recursive group: maintained jointly — semi-naive continuation
        // of the previous fixpoint when the bodies are sum-of-products
        // and the step is insert-only, recompute-diff otherwise
        if (recDeltas.isEmpty)
          recDeltas = evalRecursiveStep(relDeltas, oldStates, newStates,
            oldViews)
        recDeltas(v.name)
      }
      // FIRST step, view untouched by any delta: emit its initial
      // snapshot — a zero-input aggregate already has content
      // (COUNT() = 0 over an empty table, literal views) and the
      // reference's circuit emits it at step 0 with weight 1, then
      // retracts it when data arrives (StreamingTests testAggregate).
      // Touched views MUST take the normal dispatch: the stateful fast
      // paths (linear-agg partials, chain state) initialize on first
      // touch, and a recompute bypass would leave them unseeded. An
      // Opaque view reads no classified relation and recomputes anyway.
      else if (stepsRun == 0L && untouched)
        recomputeDiff(Some(v.name), v.sql, newStates, oldSelf)
      // later steps: a view no delta touched has no delta
      else if (untouched && shapes(v.name) != Ivm.Opaque)
        ZSets.lift(emptyViews(v.name))
      else shapes(v.name) match {
        case Ivm.Linear(rels) =>
          evalLinear(v.name, v.sql, rels, relDeltas)
        case Ivm.Multilinear(rels) =>
          evalMultilinear(v.name, v.sql, rels, relDeltas, oldStates,
            newStates)
        case Ivm.GroupAgg(rel, _, outCols, chainCols)
            if chainCols.nonEmpty &&
              program.tables.exists(t => t.name == rel && t.appendOnly) =>
          // append-only source + pure MIN/MAX view: chain fast path —
          // state is the view output itself, merged with least/greatest
          // (chain_aggregate.rs; no touched-group re-scan of the source)
          evalChainAgg(v.name, v.sql, rel, outCols, chainCols,
            relDeltas(rel), oldSelf)
        case Ivm.GroupAgg(rel, groupCols, outCols, _)
            if groupCols.nonEmpty &&
              linearAggInfo(v.name, v.sql).isDefined =>
          // all-SUM/COUNT view: partial-sum state, delta-only aggregation
          evalLinearAgg(v.name, v.sql, rel, outCols, relDeltas, oldSelf)
        case Ivm.GroupAgg(rel, groupCols, outCols, _) =>
          evalGroupAgg(v.name, v.sql, rel, groupCols, outCols,
            relDeltas(rel), newStates, oldSelf)
        case Ivm.AggOverMulti(rels, groupPos, outCols) =>
          evalAggOverMulti(v.sql, v.name, rels, groupPos, outCols,
            relDeltas, oldStates, newStates, oldSelf)
        case Ivm.SemiAnti(l, r, anti) =>
          evalSemiAnti(v.sql, v.name, l, r, anti, relDeltas, oldStates)
        case Ivm.Opaque =>
          recomputeDiff(Some(v.name), v.sql, newStates, oldSelf)
      }
      // plan-path deltas may carry duplicate output names (`a.*, b.*`
      // star-joins); the name-keyed Z-set machinery below needs them
      // positionally deduped (same renaming as recomputeDiff's)
      val rawDelta0 = {
        val dataCols = rawDelta.columns.filterNot(_ == ZSets.W)
        if (dataCols.distinct.length == dataCols.length &&
          !dataCols.exists(c => c.contains('.') || c.contains('`')))
          rawDelta
        else {
          val rn = rawDelta.select((dataCols.map(c =>
            rawDelta(s"`${c.replace("`", "``")}`")).toSeq :+
            col(ZSets.W)): _*)
          Pipeline.dedupCols(rn)
        }
      }
      val gatedDelta = viewLateness.get(v.name)
        .map(latenessGateOn(v.name, rawDelta0, _)).getOrElse(rawDelta0)
      val vDelta = (emitFinalCol.get(v.name) match {
        case Some(cn) =>
          val trueDelta =
            ZSets.consolidate(gatedDelta).localCheckpoint(false)
          integrate(innerViewState, v.name, trueDelta)
          emitFinalGate(v.name, cn, trueDelta)
        case None => ZSets.consolidate(gatedDelta)
      }).localCheckpoint(false)
      newStates(v.name) =
        integrate(viewState, v.name, vDelta, traceBacked(v.name))
      relDeltas(v.name) = vDelta
      v.name -> vDelta
    }
    val out: Map[String, DataFrame] =
      if (program.recursive.nonEmpty || viewPar <= 1)
        program.views.map(maintainView).toMap
      else
        viewLevels.zipWithIndex.flatMap { case (level, li) =>
          val par = math.min(viewPar, level.size)
          if (par > 1) {
            // materialize each shared lazy checkpoint ONCE before the
            // fan-out (warm jobs themselves overlap on the pool); a
            // frame a previous step or level already materialized is a
            // no-op — no job
            val frames = levelSharedDeps(li)
              .flatMap(n => newStates.get(n).toSeq ++ relDeltas.get(n))
              .foldLeft(List.empty[DataFrame])((acc, f) =>
                if (acc.exists(_ eq f)) acc else f :: acc)
            if (frames.nonEmpty) {
              tag("warm-shared")
              graft.queries.Par.map(
                frames, math.min(viewPar, frames.size))(
                Shims.warmCheckpoint)
            }
          }
          graft.queries.Par.map(level, par)(maintainView)
        }.toMap

    // 3. restore canonical temp views (multiset form) for adHoc/runBatch
    tag("restore-views")
    (tableNames ++ program.views.map(_.name)).foreach { n =>
      multisetOf(n, newStates).createOrReplaceTempView(n)
    }
    spark.sparkContext.setJobDescription(null)
    stepsRun += 1
    out
  }

  /** One step of the DECLARE RECURSIVE VIEW group, returning per-member
    * OUTPUT DELTAS. Incremental path (nested-circuit analogue,
    * recursive.rs:262): when every member body is a vector of
    * Linear/Multilinear UNION branches and this step's relevant deltas
    * are insert-only — the group is then monotone in its inputs, the new
    * fixpoint contains the old one, and [[Fixpoint.continueFrom]] extends
    * the previous totals semi-naively from delta-derived seeds instead of
    * re-running the fixpoint from scratch. Anything else (retractions,
    * non-monotone bodies) falls back to recompute-diff, which is exact
    * unconditionally.
    */
  private def evalRecursiveStep(
      relDeltas: collection.Map[String, DataFrame],
      oldStates: collection.Map[String, DataFrame],
      newStates: collection.Map[String, DataFrame],
      oldViews: Map[String, DataFrame]): Map[String, DataFrame] = {
    val group = program.views.filter(v => recursiveNames(v.name))
    val touchedExt = recExtRels.filter(relDeltas.contains)
    // ONE action for the whole check (ADVICE r3: one isEmpty per touched
    // relation added a fixed per-step job each): union limit-1 probes of
    // every touched delta's negative-weight rows
    lazy val insertOnly = touchedExt.isEmpty || touchedExt.toSeq
      .map(r => relDeltas(r).select(col(ZSets.W))
        .filter(col(ZSets.W) < 0).limit(1))
      .reduce(_ unionByName _).isEmpty
    if (recIncCapable && insertOnly) {
      lastRecursiveMode = "incremental"
      evalRecursiveIncremental(group, touchedExt, relDeltas, oldStates,
        newStates, oldViews)
    } else {
      lastRecursiveMode = "recompute"
      ((tableNames ++ program.views.map(_.name)).toSet -- recursiveNames)
        .foreach(r => multisetOf(r, newStates).createOrReplaceTempView(r))
      val totals = evalRecursiveGroup()
      group.map(m => m.name ->
        diff(ZSets.lift(totals(m.name)), oldViews.get(m.name))).toMap
    }
  }

  /** Incremental recursion: evaluate each member's UNION branches under
    * per-term relation bindings (plan split via Ivm.unionBranches +
    * Shims.ofRows so each branch sees ONLY its own bindings):
    *
    *  - seeds = Δ(branch) w.r.t. the external deltas, member slots pinned
    *    to the OLD totals (linear branches bind ext→Δ, members→∅;
    *    multilinear branches telescope over the touched ext slots);
    *  - round steps = Δ(branch) w.r.t. the newest member rows (linear:
    *    members→round deltas, ext→∅; multilinear: one term per member
    *    slot, others→totals, ext→NEW snapshots).
    *
    * Per-round shuffle is O(|new rows|): snapshots and totals are only
    * scanned or broadcast-probed (Fixpoint.continueFrom dedups against
    * totals the same way).
    */
  private def evalRecursiveIncremental(
      group: Seq[Ddl.ViewDef],
      touchedExt: Set[String],
      relDeltas: collection.Map[String, DataFrame],
      oldStates: collection.Map[String, DataFrame],
      newStates: collection.Map[String, DataFrame],
      oldViews: Map[String, DataFrame]): Map[String, DataFrame] = {
    // each member's body is analyzed ONCE per step (against the canonical
    // temp views); every seed term and every fixpoint round then GRAFTS
    // its bindings onto the cached branch plans by object-identity leaf
    // replacement (graftPlan). Re-registering temp views and re-analyzing
    // inside the round closure was the dominant driver-side cost of deep
    // recursions (ADVICE r3: analysis cost scaled rounds × members ×
    // branches).
    val analyzed: Map[String, Seq[(LogicalPlan, Seq[(String, LogicalPlan)])]] =
      group.map { m =>
        val a = computeAnalyzedLeaves(m.sql)
        val bs = Ivm.unionBranches(a.plan, a.leaf)
          .map(b => (b, Ivm.leafNodes(b, a.leaf)))
        require(bs.length == recShapes(m.name).get.length,
          s"branch structure drifted for ${m.name}: ${bs.length} branches " +
            s"now vs ${recShapes(m.name).get.length} at classification")
        m.name -> bs
      }.toMap
    def branch(m: String, bi: Int, outCols: Seq[String],
        binds: Map[String, DataFrame]): DataFrame = {
      val (b, slots) = analyzed(m)(bi)
      Shims.ofRows(spark, graftPlan(b, slots, binds)).toDF(outCols: _*)
    }
    val oldTotals = group.map(m => m.name -> multisetOf(m.name, oldViews)).toMap
    val outCols = group.map(m => m.name -> emptyViews(m.name).columns.toSeq).toMap

    val seeds: Map[String, DataFrame] = group.flatMap { m =>
      // members pinned to the old totals, external slots telescoped
      def state(states: collection.Map[String, DataFrame])(r: String) =
        Some(if (recursiveNames(r)) oldTotals(r) else multisetOf(r, states))
      val terms = recShapes(m.name).get.zipWithIndex.flatMap { case (sh, bi) =>
        sh match {
          case Ivm.Linear(rels) if rels.exists(touchedExt) =>
            val binds = rels.map(r => r -> (
              if (recursiveNames(r)) emptyOf(r)
              else relDeltas.get(r).map(ZSets.toMultiset)
                .getOrElse(emptyOf(r)))).toMap
            Seq(branch(m.name, bi, outCols(m.name), binds))
          case Ivm.Multilinear(rels) =>
            rels.zipWithIndex
              .filter { case (r, _) => !recursiveNames(r) && touchedExt(r) }
              .flatMap { case (r, i) =>
                telescope(rels, i, state(oldStates), state(newStates))
                  .map(bind => branch(m.name, bi, outCols(m.name),
                    bind(ZSets.toMultiset(relDeltas(r)))))
              }
          case _ => Nil
        }
      }
      if (terms.isEmpty) None
      else Some(m.name -> terms.reduce(_ unionByName _))
    }.toMap

    val steps: Map[String, graft.recursive.Fixpoint.RoundState => DataFrame] =
      group.map { m =>
        m.name -> ((st: graft.recursive.Fixpoint.RoundState) => {
          // one term per member slot: members read the round totals,
          // external relations their NEW snapshots
          val state = (r: String) =>
            Some(if (recursiveNames(r)) st.totals(r) else multisetOf(r, newStates))
          val terms = recShapes(m.name).get.zipWithIndex.flatMap {
            case (sh, bi) => sh match {
              case Ivm.Linear(rels) if rels.exists(recursiveNames) =>
                val binds = rels.map(r => r -> (
                  if (recursiveNames(r)) st.deltas(r) else emptyOf(r))).toMap
                Seq(branch(m.name, bi, outCols(m.name), binds))
              case Ivm.Multilinear(rels) =>
                rels.zipWithIndex.filter { case (r, _) => recursiveNames(r) }
                  .flatMap { case (r, i) =>
                    telescope(rels, i, state, state).map(bind =>
                      branch(m.name, bi, outCols(m.name), bind(st.deltas(r))))
                  }
              case _ => Nil
            }
          }
          if (terms.isEmpty) emptyViews(m.name)
          else terms.reduce(_ unionByName _)
        })
      }.toMap

    val cont = graft.recursive.Fixpoint.continueFrom(oldTotals, seeds, steps)
    // eager-checkpoint the new rows BEFORE releasing the round caches
    val out = group.map(m => m.name ->
      ZSets.lift(cont.newRows(m.name)).localCheckpoint(true)).toMap
    cont.release()
    out
  }

  /** Union of a rule's delta terms; the view's empty delta when no term
    * applies.
    */
  private def sumTerms(viewName: String, terms: Seq[DataFrame]): DataFrame =
    if (terms.isEmpty) ZSets.lift(emptyViews(viewName))
    else terms.reduce(_ unionByName _)

  /** Z-set difference `now − prev`; `now` when there is no previous
    * content.
    */
  private def diff(now: DataFrame, prev: Option[DataFrame]): DataFrame =
    prev.fold(now)(p => now.unionByName(ZSets.negate(p)))

  /** The rows of a previous output `old` in the groups a step touched
    * (`touched` holds their keys, aligned with the output key columns
    * `outCols`) — the rows a touched-group rule retracts. No key columns
    * is a global aggregate, whose one group is always touched.
    */
  private def oldTouched(old: DataFrame, touched: => DataFrame,
      outCols: Seq[String]): DataFrame =
    if (outCols.isEmpty) old
    else IncrementalOps.splitTouched(old, touched.toDF(outCols: _*),
      outCols)._1

  /** Linear: Q(Δ) directly — bind every referenced relation to its delta
    * (positive part, then negated negative part). One row in, its rows
    * out; nothing touches state. Linear bodies are subquery-free by
    * classification, so terms graft onto the ONE cached analysis.
    */
  private def evalLinear(viewName: String, sql: String, rels: Set[String],
      relDeltas: collection.Map[String, DataFrame]): DataFrame = {
    val a = Some(analyzedLeaves(viewName, sql))
    sumTerms(viewName, signedTerms(signsOf(rels, relDeltas))(sign =>
      evalBound(sql, a, deltaBinds(rels, relDeltas, sign))))
  }

  /** Bindings of telescoped term i of a multilinear body: slot j<i reads
    * `after(r_j)`, slot j>i `before(r_j)`, and slot i the term's delta,
    * broadcast so the snapshots are only probed — no state shuffle.
    * None when a state leg has never integrated a delta (no state): the
    * term is then empty by construction and is skipped with its plan and
    * jobs — common in seeding steps, where relations later in the slot
    * order pin to old state that does not exist yet. A state that exists
    * but has retracted to zero rows still evaluates, so exactness is
    * untouched.
    */
  private def telescope(rels: Seq[String], i: Int,
      before: String => Option[DataFrame],
      after: String => Option[DataFrame])
      : Option[DataFrame => Map[String, DataFrame]] = {
    val legs = rels.zipWithIndex.collect { case (rj, j) if j != i =>
      rj -> (if (j < i) after(rj) else before(rj)) }
    if (legs.exists(_._2.isEmpty)) None
    else Some(d => legs.map { case (rj, st) => rj -> st.get }.toMap +
      (rels(i) -> d.hint("broadcast")))
  }

  /** The delta terms of a multilinear body: one telescoped term per
    * relation with a delta, each split into its ± sign parts; `eval`
    * evaluates the body under one term's bindings.
    */
  private def multilinearTerms(rels: Seq[String],
      relDeltas: collection.Map[String, DataFrame],
      oldStates: collection.Map[String, DataFrame],
      newStates: collection.Map[String, DataFrame])(
      eval: Map[String, DataFrame] => DataFrame): Seq[DataFrame] = {
    def state(states: collection.Map[String, DataFrame])(r: String) =
      states.get(r).map(ZSets.toMultiset)
    rels.zipWithIndex.flatMap { case (ri, i) =>
      for {
        d <- relDeltas.get(ri).toSeq
        bind <- telescope(rels, i, state(oldStates), state(newStates)).toSeq
        term <- signedTerms(signsOf(Seq(ri), relDeltas))(sign =>
          eval(bind(ZSets.toMultiset(sign(d)))))
      } yield term
    }
  }

  /** Multilinear telescoping ([[multilinearTerms]]) over the view's
    * cached analysis.
    */
  private def evalMultilinear(viewName: String, sql: String,
      rels: Seq[String],
      relDeltas: collection.Map[String, DataFrame],
      oldStates: collection.Map[String, DataFrame],
      newStates: collection.Map[String, DataFrame]): DataFrame = {
    val a = analyzedLeaves(viewName, sql)
    sumTerms(viewName,
      multilinearTerms(rels, relDeltas, oldStates, newStates)(binds =>
        Shims.ofRows(spark, graftPlan(a.plan, a.leaves, binds))))
  }

  /** Touched-group re-aggregation: restrict the source snapshot to groups
    * present in the delta (broadcast semi-probe), re-run the view SQL over
    * the restriction, and retract the old output rows of those groups.
    * Exact for any aggregate; global aggregates (no keys) re-evaluate the
    * single group. GroupAgg bodies are single-relation and subquery-free
    * by classification, so the restriction grafts onto the ONE cached
    * analysis.
    */
  private def evalGroupAgg(viewName: String, sql: String, rel: String,
      groupCols: Seq[String],
      outCols: Seq[String], delta: DataFrame,
      newStates: collection.Map[String, DataFrame],
      oldView: Option[DataFrame]): DataFrame = {
    val snap = newStates.getOrElse(rel, ZSets.lift(emptyOf(rel)).limit(0))
    lazy val touched = delta.select(groupCols.map(col): _*).distinct()
    val restricted =
      if (groupCols.isEmpty) snap
      else IncrementalOps.splitTouched(snap, touched, groupCols)._1
    val newRows = evalBound(sql, Some(analyzedLeaves(viewName, sql)),
      Map(rel -> ZSets.toMultiset(restricted)))
    diff(ZSets.lift(newRows), oldView.map(oldTouched(_, touched, outCols)))
  }

  // ------------------------------------------------ linear group aggs

  /** Decomposition of a GroupAgg view whose aggregates are all
    * non-distinct, filter-free SUM/COUNT over exact (decimal/integral)
    * inputs — the reference's linear-aggregate fast path
    * (crates/dbsp/src/operator/dynamic/aggregate.rs aggregate_linear;
    * the Weigh + postprocess pipeline of DBSPWeighOperator.java): hidden
    * state is one row of PARTIAL SUMS per group, a step aggregates ONLY
    * the delta and merges touched groups — no touched-group re-scan of
    * the integrated source state, O(|Δ|) shuffle + O(touched) merge.
    * Float/double sums are excluded on purpose: their addition order
    * differs between partial-merge and batch recompute, and the
    * final-state-equals-batch contract is bit-exact.
    */
  private sealed trait LinearSlot {
    def ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
  }
  private final case class SumSlot(
      ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression,
      sumCol: String, cntCol: String,
      wide: org.apache.spark.sql.types.DataType) extends LinearSlot
  private final case class CountSlot(
      ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression,
      cntCol: String) extends LinearSlot
  private final case class LinearAggInfo(
      agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate,
      slots: Seq[LinearSlot])

  private val linearAggMemo =
    scala.collection.concurrent.TrieMap[String, Option[LinearAggInfo]]()
  /** Hidden partial-sum state per linear-agg view: group keys ++ one
    * (sum, non-null count) pair per SUM slot ++ one count per COUNT slot
    * ++ `_lp_w` (sum of weights — group liveness).
    */
  private val linearPartials =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  private def linearAggInfo(viewName: String, sql: String)
      : Option[LinearAggInfo] =
    linearAggMemo.getOrElseUpdate(viewName, {
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, SubqueryAlias}
      import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
      def strip(p: LogicalPlan)
          : LogicalPlan =
        p match { case s: SubqueryAlias => strip(s.child); case o => o }
      def exact(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
        case _: DecimalType | LongType | IntegerType | ShortType |
             ByteType => true
        case _ => false
      }
      strip(analyzedLeaves(viewName, sql).plan) match {
        case agg: Aggregate if agg.groupingExpressions.nonEmpty &&
            agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference]) =>
          val aes = agg.aggregateExpressions
            .flatMap(_.collect { case ae: AggregateExpression => ae })
          val ok = aes.nonEmpty && aes.forall { ae =>
            !ae.isDistinct && ae.filter.isEmpty &&
              (ae.aggregateFunction match {
                case s: Sum => exact(s.child.dataType)
                case _: Count => true
                case _ => false
              })
          }
          val keyNames = agg.groupingExpressions
            .map(_.asInstanceOf[AttributeReference].name)
          if (!ok || keyNames.distinct.size != keyNames.size) None
          else {
            val seen = mutable.LinkedHashMap[
              org.apache.spark.sql.catalyst.expressions.Expression,
              AggregateExpression]()
            aes.foreach { ae =>
              seen.getOrElseUpdate(ae.canonicalized, ae); ()
            }
            val slots = seen.values.zipWithIndex.map { case (ae, i) =>
              ae.aggregateFunction match {
                case s: Sum =>
                  // partial sums live at max decimal width so the
                  // sum-of-partials merge keeps one stable state schema
                  val wide = s.dataType match {
                    case d: DecimalType => DecimalType(38, d.scale)
                    case other => other
                  }
                  SumSlot(ae, s"_lp_s$i", s"_lp_n$i", wide)
                case _ => CountSlot(ae, s"_lp_c$i")
              }
            }.toSeq
            Some(LinearAggInfo(agg, slots))
          }
        case _ => None
      }
    })

  /** One linear-agg step: per-sign partial aggregation of the delta
    * (plan surgery over the grafted child keeps agg0's expressions
    * resolved), sign-combined and merged into the hidden partial state;
    * the view's output rows for touched groups are FINALIZED from the
    * merged partials (original output expressions with each
    * AggregateExpression swapped for its partial columns).
    */
  private def evalLinearAgg(viewName: String, sql: String, rel: String,
      outCols: Seq[String], relDeltas: collection.Map[String, DataFrame],
      oldView: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, GreaterThan, If, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
    val shims = org.apache.spark.sql.graft.Shims
    val info = linearAggMemo(viewName).get
    val agg0 = info.agg
    val childLeaves = analyzedLeaves(viewName, sql).leaves.filter { case (_, node) =>
      agg0.child.exists(_ eq node) }
    val delta = relDeltas(rel)
    val keyAttrs = agg0.groupingExpressions
      .map(_.asInstanceOf[AttributeReference])
    val keyNames = keyAttrs.map(_.name)
    val cntName = "_lp_w"
    val pcols = info.slots.flatMap {
      case SumSlot(_, s, n, _) => Seq(s, n)
      case CountSlot(_, c) => Seq(c)
    } :+ cntName

    def partials(m: DataFrame): DataFrame = {
      val pexprs: Seq[NamedExpression] = (keyAttrs: Seq[NamedExpression]) ++
        info.slots.flatMap {
          case SumSlot(ae, sCol, nCol, wide) => Seq(
            Alias(Cast(ae, wide), sCol)(),
            Alias(AggregateExpression(
              Count(Seq(ae.aggregateFunction.children.head)), Complete,
              isDistinct = false), nCol)())
          case CountSlot(ae, cCol) => Seq(Alias(ae, cCol)())
        } :+ Alias(AggregateExpression(Count(Seq(Literal(1))), Complete,
          isDistinct = false), cntName)()
      shims.ofRows(spark, Aggregate(agg0.groupingExpressions, pexprs,
        graftPlan(agg0.child, childLeaves, Map(rel -> m))))
    }
    def aggSum(df: DataFrame): DataFrame =
      df.groupBy(keyNames.map(col): _*)
        .agg(sum(col(pcols.head)).as(pcols.head),
          pcols.tail.map(c => sum(col(c)).as(c)): _*)
    def negatePartials(df: DataFrame): DataFrame =
      df.select(keyNames.map(col) ++ pcols.map(c => (-col(c)).as(c)): _*)

    val sides = signedTerms(signsOf(Seq(rel), relDeltas),
      lift = identity, negate = negatePartials)(sign =>
      partials(ZSets.toMultiset(sign(delta))))
    if (sides.isEmpty) return ZSets.lift(emptyViews(viewName))
    // one materialization of the delta partials: the touched-key
    // broadcast, the state merge and the finalize all read it — without
    // the checkpoint each consumer re-scans the delta. cachedBarrier (not
    // plain localCheckpoint) so the checkpoint's carried-over origin
    // constraints — which reference the original view plan's expression
    // ids — never reach the state-merge Union's constraint rewrite.
    val dp = shims.cachedBarrier(if (sides.size == 1) sides.head
      else aggSum(sides.head.unionByName(sides(1))))

    val touched = dp.select(keyNames.map(col): _*).distinct()
    val (mergedTouched, untouched) = linearPartials.get(viewName) match {
      case None => (dp, None)
      case Some(st) =>
        val (tOld, unt) = IncrementalOps.splitTouched(st, touched, keyNames)
        (aggSum(tOld.unionByName(dp)), Some(unt))
    }
    // a group whose multiset emptied vanishes from state AND output
    // (AggregateZero for grouped aggregates)
    // overflow guard: partials live at DECIMAL(38,s); a running total past
    // 38 digits merges to NULL, and persisting that row would silently
    // lose the accumulated state (batch recompute would recover once
    // retractions bring the sum back in range — the poisoned partial never
    // would). Fail the step instead of persisting a poisoned row.
    val guarded = info.slots.foldLeft(mergedTouched) {
      case (df, SumSlot(_, sCol, nCol, _)) => df.withColumn(sCol,
        when(col(sCol).isNull && col(nCol) > 0, org.apache.spark.sql
          .functions.raise_error(lit(s"linear-agg partial sum '$sCol' of " +
            s"view '$viewName' overflowed DECIMAL(38,_) — restart the " +
            "pipeline to rebuild the view by full recompute")))
          .otherwise(col(sCol)))
      case (df, _) => df
    }
    val liveTouched = shims.cachedBarrier(guarded.filter(col(cntName) =!= 0))
    linearPartials(viewName) = shims.cachedBarrier(untouched match {
      case Some(u) => u.unionByName(liveTouched)
      case None => liveTouched
    })

    // finalize: original output expressions over the partial columns
    val livePlan = liveTouched.queryExecution.analyzed
    val attrByName = livePlan.output.map(a => a.name -> a).toMap
    val keyAliases = keyAttrs.map(ka =>
      Alias(attrByName(ka.name), ka.name)(exprId = ka.exprId))
    val proj = Project(keyAliases ++ pcols.map(attrByName), livePlan)
    val slotByCanon = info.slots.map(s => s.ae.canonicalized -> s).toMap
    val finals = agg0.aggregateExpressions.map { ne =>
      ne.transform {
        case ae: AggregateExpression => slotByCanon(ae.canonicalized) match {
          case SumSlot(_, sCol, nCol, _) =>
            // SUM is NULL when no non-null input survives in the group
            If(GreaterThan(attrByName(nCol), Literal(0L)),
              Cast(attrByName(sCol), ae.dataType),
              Literal(null, ae.dataType))
          case CountSlot(_, cCol) => attrByName(cCol)
        }
      }.asInstanceOf[NamedExpression]
    }
    val newRows = shims.ofRows(spark, Project(finals, proj))

    // the finalize Project reuses the ORIGINAL view plan's expression ids
    // (keyAliases above) so agg0's output expressions stay resolved; a
    // caller-side union over a frame carrying those ids trips Catalyst's
    // cached-constraint rewrite (key not found: <attr>). internalBarrier
    // severs plan constraints at this API edge — same sharp edge and same
    // fix as the migrate() bootstrap diff (see Shims.internalBarrier).
    shims.internalBarrier(diff(ZSets.lift(newRows),
      oldView.map(oldTouched(_, touched, outCols))))
  }

  /** Aggregate-over-join composite (the reference's two circuit nodes,
    * derived automatically): a hidden Z-set maintains the JOIN BODY by the
    * multilinear delta rule — the Aggregate node's child is evaluated
    * under per-term bindings via plan surgery (Shims.ofRows) — and the
    * view output is re-aggregated only for touched groups by grafting the
    * restricted state back under the original Aggregate node with
    * exprId-preserving aliases.
    */
  private def evalAggOverMulti(sql: String, viewName: String,
      rels: Seq[String], groupPos: Seq[Int], outCols: Seq[String],
      relDeltas: collection.Map[String, DataFrame],
      oldStates: collection.Map[String, DataFrame],
      newStates: collection.Map[String, DataFrame],
      oldView: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val a = analyzedLeaves(viewName, sql)
    val agg0 = a.plan.collectFirst { case x: Aggregate => x }
      .getOrElse(sys.error(s"view $viewName lost its Aggregate node"))
    lazy val childLeaves = a.leaves.filter { case (_, node) =>
      agg0.child.exists(_ eq node) }

    def positional(df: DataFrame): DataFrame =
      df.toDF(df.columns.indices.map(i => s"_c$i"): _*)

    // 1. delta of the join body (telescoped multilinear terms)
    val terms = multilinearTerms(rels, relDeltas, oldStates, newStates)(
      binds => positional(Shims.ofRows(spark,
        graftPlan(agg0.child, childLeaves, binds))))
    if (terms.isEmpty) return ZSets.lift(emptyViews(viewName))
    val dJ = ZSets.consolidate(terms.reduce(_ unionByName _))
      .localCheckpoint(false)

    // 2. merge the hidden join state (scan-side; broadcast delta keys)
    val newJ = integrate(joinState, viewName, dJ)

    // 3. restrict to touched groups (positional key names)
    val posKeys = groupPos.map(p => s"_c$p")
    val touched = dJ.select(posKeys.map(col): _*).distinct()
    val restricted =
      if (posKeys.isEmpty) newJ
      else IncrementalOps.splitTouched(newJ, touched, posKeys)._1

    // 4. graft the restricted multiset back under the cached Aggregate
    val newRows = Shims.ofRows(spark, agg0.withNewChildren(Seq(rebind(
      agg0.child.output, ZSets.toMultiset(restricted),
      s"join state of $viewName"))))

    // 5. retract the old output rows of touched groups
    diff(ZSets.lift(newRows), oldView.map(oldTouched(_, touched, outCols)))
  }

  /** Semi/anti-join delta rule (shape [[Ivm.SemiAnti]]): maintain an
    * INDICATOR Z-set I — the distinct key projection of the join's right
    * side, with derivation counts (incremental DISTINCT → presence
    * transitions ΔI) — then telescope
    *   Δview = V(ΔA, I_new) + V_semi(A_old, ΔI⁺) − V_semi(A_old, ΔI⁻)
    * for semi (ΔI-term signs flipped for anti; the ΔA term keeps the
    * view's own join type). Each term evaluates the ORIGINAL view plan
    * with the join's right child grafted to a small broadcast key set
    * (Shims.ofRows plan surgery), so left-only predicates and Project/
    * Filter wrappers apply unchanged. Exact because the condition is a
    * conjunction of equalities: a left row matches at most one indicator
    * key, so ΔI maps one-to-one to match transitions (Ivm.semiParts
    * validates this at classification). Shuffle is O(|delta|): indicator
    * state and the left snapshot are broadcast-probed or scanned in place,
    * never re-shuffled.
    */
  private def evalSemiAnti(sql: String, viewName: String,
      leftRels: Set[String], rightRels: Set[String], isAnti: Boolean,
      relDeltas: collection.Map[String, DataFrame],
      oldStates: collection.Map[String, DataFrame]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}

    // derived ONCE per VIEW from its cached analysis: every term grafts
    // its own leaf bindings and indicator right side onto this plan, so
    // the cached analysis can never go stale — no term evaluates a plan0
    // leaf as-bound
    val (plan0, sp0, leftLeaves, rightLeaves, indKey) =
      semiAntiCache.getOrElseUpdate(viewName, {
        val a = analyzedLeaves(viewName, sql)
        val p0 = Ivm.rewriteSubqueries(a.plan)
        val sp = Ivm.semiParts(p0).getOrElse(
          sys.error(s"view $viewName lost its semi-join shape"))
        // indicator identity: canonicalized right subtree + key types —
        // a semi and an anti view over the SAME subquery share one
        // indicator state and one delta computation per step
        val ik = sp.join.right.canonicalized.toString + "|" +
          sp.rightKeys.map(_.dataType.catalogString).mkString(",")
        (p0, sp, Ivm.leafNodes(sp.join.left, a.leaf),
          Ivm.leafNodes(sp.join.right, a.leaf), ik)
      })
    val names = sp0.rightKeys.indices.map(i => s"_k$i")

    // 1. indicator maintenance: ΔKB = Δ(π_keys(right side)) via the linear
    //    rule on the right subtree, then incremental DISTINCT. Memoized by
    //    indicator identity, so a semi/anti PAIR over one subquery pays
    //    this once per step; only the sign parts present in the deltas are
    //    evaluated.
    val rightTouched = rightRels.exists(relDeltas.contains)
    // per-key memo cell, NOT a map-wide lock: the indicator delta
    // materializes localCheckpoints (Spark jobs) — holding the map
    // monitor across them convoyed every concurrent semi/anti view
    // (r15 verdict). Only same-indicator callers serialize, which is
    // the required semantics (one indicator state fill per step).
    def computeIndicator(): Option[DataFrame] = {
      val proj = sp0.rightKeys.zipWithIndex.map { case (a, i) =>
        Alias(a, s"_k$i")()
      }
      val kTerms = signedTerms(signsOf(rightRels, relDeltas))(sign =>
        Shims.ofRows(spark, graftPlan(Project(proj, sp0.join.right),
          rightLeaves, deltaBinds(rightRels, relDeltas, sign))))
      if (kTerms.isEmpty) None
      else {
        val dKB = ZSets.consolidate(kTerms.reduce(_ unionByName _))
        val (st, d) = IncrementalOps.distinctStep(
          indicatorState.get(indKey), dKB)
        indicatorState(indKey) = st.localCheckpoint(false)
        Some(d.localCheckpoint(false))
      }
    }
    val dI: Option[DataFrame] =
      if (!rightTouched) None
      else stepIndicatorMemo.get(indKey) match {
        case Some(m) => m.value
        case None =>
          val m = new Pipeline.Memo(() => computeIndicator())
          stepIndicatorMemo.putIfAbsent(indKey, m).getOrElse(m).value
      }

    // graft: bind the left-side leaves and replace the join's right child
    // with `rows` (aliased onto the right key attrs' exprIds, broadcast)
    // in ONE bottom-up transform of the pre-analyzed plan. The single
    // semi/anti Join is matched by type: leaf replacement rebuilds its
    // ancestors, so object identity can't anchor the join itself.
    def graft(leftBinds: Map[String, DataFrame],
        rows: DataFrame, forceSemi: Boolean): DataFrame = {
      val right = rebind(sp0.rightKeys, rows.hint("broadcast"),
        s"indicator of $viewName")
      val repl = leafReplMap(leftLeaves, leftBinds)
      Shims.ofRows(spark, plan0.transformUp {
        case p if repl.containsKey(p) => repl.get(p)
        case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
          j.copy(right = right,
            joinType = if (forceSemi) LeftSemi else sp0.join.joinType)
      })
    }

    // 2. ΔA term against I_new, restricted scan-side to the delta's own
    //    keys first so only a delta-sized key set is broadcast; only the
    //    sign parts present in the left deltas are evaluated
    val t1 = signedTerms(signsOf(leftRels, relDeltas)) { sign =>
      val binds = deltaBinds(leftRels, relDeltas, sign)
      val probe = Shims.ofRows(spark, graftPlan(Project(
        sp0.leftKeys.zipWithIndex.map { case (a, i) => Alias(a, s"_k$i")() },
        sp0.join.left), leftLeaves, binds))
      val present = indicatorState.get(indKey)
        .map(st => st.filter(col(ZSets.W) > 0).drop(ZSets.W))
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(names.zip(sp0.rightKeys).map { case (n, a) =>
            org.apache.spark.sql.types.StructField(n, a.dataType) })))
      val restricted = IncrementalOps.splitTouched(present, probe, names)._1
      graft(binds, restricted, forceSemi = false)
    }

    // 3. transition terms against the PRE-STEP left side: a key appearing
    //    INSERTS matching old-left rows into a semi view and RETRACTS them
    //    from an anti view; a vanishing key is the reverse. Both sides'
    //    presence is decided by ONE aggregate job (two isEmpty probes were
    //    two scheduling-floor jobs per step).
    val t2: Seq[DataFrame] = dI.toSeq.flatMap { d =>
      // single-stage RDD fold: one job, no shuffle (a DataFrame agg would
      // spawn one AQE job per query stage), and it materializes d's lazy
      // checkpoint for the terms below as a side effect
      val (nAppeared, nVanished) = d.select(col(ZSets.W)).rdd
        .aggregate((0L, 0L))(
          (acc, r) => {
            val w = r.getLong(0)
            (acc._1 + (if (w > 0) 1L else 0L),
              acc._2 + (if (w < 0) 1L else 0L))
          },
          (a, b) => (a._1 + b._1, a._2 + b._2))
      lazy val oldBinds = leftRels.map(r =>
        r -> multisetOf(r, oldStates)).toMap
      def term(rows: DataFrame, n: Long, negOut: Boolean): Seq[DataFrame] =
        if (n == 0L) Nil
        else {
          val res = graft(oldBinds, rows, forceSemi = true)
          Seq(if (negOut) ZSets.negate(ZSets.lift(res)) else ZSets.lift(res))
        }
      term(d.filter(col(ZSets.W) > 0).drop(ZSets.W), nAppeared,
        negOut = isAnti) ++
        term(d.filter(col(ZSets.W) < 0).drop(ZSets.W), nVanished,
          negOut = !isAnti)
    }

    sumTerms(viewName, t1 ++ t2)
  }

  /** Chain fast path: the delta's own aggregate (the view SQL over the
    * delta multiset alone) merged into the old view rows of touched
    * groups with least/greatest. O(|delta|); never consults the source
    * snapshot. Valid only for append-only sources with pure MIN/MAX
    * aggregates — extrema are monotone without retraction.
    */
  private def evalChainAgg(viewName: String, sql: String, rel: String,
      outCols: Seq[String],
      chainCols: Seq[(String, Boolean)], delta: DataFrame,
      oldView: Option[DataFrame]): DataFrame = {
    // append_only contract: a retraction here would silently corrupt the
    // monotone extremum (tableState still integrates it) — fail loudly.
    // STREAMSIDE guard (raise_error riding the delta's own evaluation)
    // instead of an eager count: the count was one extra job per chain
    // view per step, a measured slice of the step-corpus driver floor
    // (r16; the ingest-side appendOnlyGuard also fires first for plain
    // append_only tables, PipelineIvmSpec)
    val guarded = delta.withColumn(ZSets.W,
      when(col(ZSets.W) < 0, raise_error(lit(
        "Z-set contains negative weights (over-retraction)")).cast("long"))
        .otherwise(col(ZSets.W)))
    // single-relation subquery-free body (same classification as
    // GroupAgg): the delta grafts onto the cached analysis
    val contrib = evalBound(sql, Some(analyzedLeaves(viewName, sql)),
      Map(rel -> ZSets.toMultiset(guarded)))
    oldView match {
      case None => ZSets.lift(contrib)
      case Some(old) =>
        val oldT = oldTouched(old, contrib.select(outCols.map(col): _*),
          outCols)
        val mergeAggs = chainCols.map { case (n, isMax) =>
          (if (isMax) max(col(n)) else min(col(n))).as(n)
        }
        val merged = oldT.drop(ZSets.W).unionByName(contrib)
          .groupBy(outCols.map(col): _*)
          .agg(mergeAggs.head, mergeAggs.tail: _*)
          .select(contrib.columns.map(col): _*)
        diff(ZSets.lift(merged), Some(oldT))
    }
  }

  /** Opaque fallback: evaluate over full new snapshots, diff against the
    * previous output (the only shape paying O(|state|) per step).
    *
    * Evaluation grafts the new snapshots onto the view's analyzed plan
    * (cached when `viewKey` is set; NOW()-bound bodies pass None and
    * re-analyze — the clock literal changes every step). Views whose
    * plan is not graft-safe ([[graftableOpaque]]) keep the temp-view
    * re-analysis path. The graft path removes one full Catalyst
    * parse+analysis plus |relations| temp-view rebinds per view per step
    * — a measured slice of the per-step driver floor.
    */
  private def recomputeDiff(viewKey: Option[String], sql: String,
      newStates: collection.Map[String, DataFrame],
      oldView: Option[DataFrame]): DataFrame = {
    val graftable: Option[Pipeline.Analyzed] = viewKey match {
      case Some(k) =>
        val a = analyzedLeaves(k, sql)
        if (recomputeGraftable.getOrElseUpdate(k,
          graftableOpaque(a.plan, a.leaves))) Some(a) else None
      case None =>
        Some(computeAnalyzedLeaves(sql))
          .filter(a => graftableOpaque(a.plan, a.leaves))
    }
    // a graft-safe body reads only its leaves; re-analysis binds every
    // program relation
    val rels = graftable.fold(tableNames ++ program.views.map(_.name))(
      _.leaves.map(_._1).distinct)
    val now = evalBound(sql, graftable,
      rels.map(r => r -> multisetOf(r, newStates)).toMap)
    // dedup (`a.*, b.*` star-joins repeat names) BEFORE the union with
    // the previous content, whose names are already deduped
    diff(ZSets.lift(Pipeline.dedupCols(now)), oldView)
  }

  /** viewName → whether its Opaque body is graft-evaluable (memoized —
    * the check walks the cached analyzed plan).
    */
  private val recomputeGraftable =
    scala.collection.concurrent.TrieMap[String, Boolean]()

  /** Ad-hoc batch SQL over the pipeline's CURRENT state — reference entry
    * point B: `/v0/pipelines/{p}/query`, evaluated there by embedded
    * DataFusion over materialized tables/views (SURVEY §3.2;
    * docs/sql/ad-hoc.md, crates/adapters/src/adhoc/executor.rs).
    *
    * Re-registers every stepped table and view from its materialized
    * multiset snapshot first, rather than trusting whatever temp views the
    * last evaluation happened to leave in the session — ad-hoc results
    * must reflect the state as of the last `step` even if a failed or
    * partial evaluation overwrote the session bindings. Relations with no
    * stepped state (e.g. after a bare `runBatch`, which is stateless)
    * keep their current session registration.
    */
  def adHoc(sql: String): DataFrame = {
    def bindCurrent(): Unit = {
      tableNames.filter(tableState.contains).foreach(n =>
        multisetOf(n, tableState).createOrReplaceTempView(n))
      program.views.map(_.name).filter(viewState.contains).foreach(v =>
        multisetOf(v, viewState).createOrReplaceTempView(v))
      errorState.createOrReplaceTempView("error_view")
    }
    bindCurrent()
    def one(stmt0: String): DataFrame = {
      val stmt = Pipeline.rewriteReplaceStar(spark,
        graft.ddl.Dialect.normalize(stmt0, adHoc = true,
          asofLateralFallback =
            program.optionOn("asof_lateral_fallback")))
      stmt match {
        case Pipeline.InsertRe(table, source) => adHocInsert(table, source)
        case _ =>
          org.apache.spark.sql.graft.IntegerDivision(spark.sql(stmt))
      }
    }
    sql match {
      case Pipeline.PrepExecRe(pname, body, ename, argList) =>
        require(pname.equalsIgnoreCase(ename),
          s"ad-hoc EXECUTE $ename does not name the prepared statement " +
            s"$pname (names do not persist across requests; PREPARE and " +
            "its EXECUTE must arrive in the same request)")
        one(Pipeline.bindParams(body,
          Option(argList).filter(_.trim.nonEmpty)
            .fold(IndexedSeq.empty[String])(a =>
              graft.ddl.Dialect.splitTopLevel(a).map(_.trim))))
      case _ => graft.ddl.Ddl.statements(sql) match {
        case Seq() => sys.error("empty ad-hoc request")
        case Seq(single) => one(single)
        case stmts =>
          // multi-statement request (ad-hoc.md "read-after-write"): every
          // statement READS the single consistent snapshot captured at
          // request start — intermediate INSERTs apply to the pipeline
          // but are not observed by later statements in the request. The
          // captured frames are immutable, so rebinding them before each
          // statement pins the snapshot even across the INSERTs' steps.
          val snapTables = tableNames.filter(tableState.contains)
            .map(n => n -> multisetOf(n, tableState)).toMap
          val snapViews = program.views.map(_.name)
            .filter(viewState.contains)
            .map(v => v -> multisetOf(v, viewState)).toMap
          val snapErr = errorState
          def bindSnapshot(): Unit = {
            snapTables.foreach { case (n, df) =>
              df.createOrReplaceTempView(n) }
            snapViews.foreach { case (v, df) =>
              df.createOrReplaceTempView(v) }
            snapErr.createOrReplaceTempView("error_view")
          }
          val out = stmts.map { stmt =>
            bindSnapshot()
            one(stmt)
          }.last
          // leave the session on CURRENT state for later callers
          bindCurrent()
          out
      }
    }
  }

  /** Ad-hoc `INSERT INTO t VALUES ... | SELECT ...` (ad-hoc.md:23 —
    * ad-hoc supports SELECT/INSERT): the source is evaluated against the
    * CURRENT stepped state (so INSERT … SELECT can read tables and
    * views), aligned positionally to the table's declared schema, and
    * routed through a full [[step]] as a +1 Z-set delta — views update
    * through their incremental rules exactly as if the rows had arrived
    * through a connector. Returns the reference's shape: one row with the
    * inserted-row `count`.
    */
  private def adHocInsert(table: String, source: String): DataFrame = {
    require(tableNames.contains(table),
      s"ad-hoc INSERT into unknown table: $table")
    val src = spark.sql(
      if (source.trim.toUpperCase(Locale.ROOT).startsWith("VALUES"))
        s"SELECT * FROM ($source)"
      else source)
    val target = emptyTables(table).schema
    require(src.schema.size == target.size,
      s"ad-hoc INSERT arity mismatch for $table: " +
        s"${src.schema.size} columns vs ${target.size} declared")
    // positional alignment + declared-type casts (the INSERT contract)
    val aligned = src.toDF(target.fieldNames.toSeq: _*)
      .select(target.fields.map(f => col(f.name).cast(f.dataType)): _*)
      .localCheckpoint(true) // evaluate BEFORE step() rebinds temp views
    val n = aligned.count()
    step(Map(table -> ZSets.lift(aligned)))
    spark.sql(s"SELECT CAST($n AS BIGINT) AS count")
  }

  // Force [[emitFinalBound]] while construction is still single-threaded:
  // its lazy-val initializer takes the instance monitor and then
  // evalLock; a parallel view-loop thread forcing it while holding
  // evalLock would deadlock on that lock ordering (r15 ADVICE). Eager
  // init removes the ordering entirely (views are analyzable here — the
  // shape classifier registered every empty view above).
  locally {
    if (emitFinalCol.nonEmpty) { val _ = emitFinalBound }
  }
}

object Pipeline {
  /** One-shot memo cell: lazy-val init gives per-CELL synchronization —
    * concurrent same-key callers block on each other while the first
    * computes, different keys proceed. Used wherever a per-step memo
    * fill runs Spark jobs: a map-wide monitor there convoys every
    * concurrent view in the parallel view loop (r15 verdict, guide
    * §2.6).
    */
  private[runtime] final class Memo[T](f: () => T) {
    lazy val value: T = f()
  }
  private[runtime] object Memo {
    def of[T](v: T): Memo[T] = new Memo(() => v)
  }

  /** One view body's analysis: the analyzed plan with the reference
    * division semantics, its identified relation leaves, and the leaf
    * identifier that found them. The identifier compares against the
    * temp views registered at analysis time, so leaves of a plan derived
    * later from this one (the semi/anti rewrite) are identified against
    * the same registrations.
    */
  private final case class Analyzed(plan: LogicalPlan,
      leaves: Seq[(String, LogicalPlan)],
      leaf: LogicalPlan => Option[String])

  /** `INSERT INTO <table> <VALUES …|SELECT …>` (ad-hoc surface). */
  private[runtime] val InsertRe =
    "(?is)^\\s*INSERT\\s+INTO\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+(VALUES\\b.*|SELECT\\b.*)$".r

  /** `PREPARE name AS <sql>; EXECUTE name(<literals>)` — the ad-hoc
    * parameterized form (`ad-hoc.md:210-224`): both statements arrive in
    * ONE request, only the EXECUTE produces rows, and parameters are
    * positional literals bound to `$1..$n`. The statement name does not
    * persist — it only has to agree between the two halves.
    */
  private[runtime] val PrepExecRe =
    ("(?is)^\\s*PREPARE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+AS\\s+(.*?)\\s*;" +
      "\\s*EXECUTE\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\((.*)\\))?\\s*;?\\s*$").r

  /** Substitute `$k` positional parameters with the EXECUTE literals.
    * Only text OUTSIDE quoted spans is rewritten (a `$1` inside a string
    * literal is data, not a parameter — the binding contract real
    * prepared statements honor). Fails fast on an index past the supplied
    * argument list.
    */
  private[runtime] def bindParams(sql: String, args: IndexedSeq[String]): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = graft.ddl.Dialect.quotedEnd(sql, i)
      if (e > i) {
        out.append(sql.substring(i, e)); i = e
      } else if (c == '$' && i + 1 < sql.length && sql.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < sql.length && sql.charAt(j).isDigit) j += 1
        val k = sql.substring(i + 1, j).toInt
        require(k >= 1 && k <= args.length,
          s"ad-hoc EXECUTE binds ${args.length} argument(s) but the " +
            s"prepared statement references $$$k")
        out.append(args(k - 1))
        i = j
      } else {
        out.append(c); i += 1
      }
    }
    out.result()
  }

  private val ReplaceStarRe =
    """(?is)^(\s*SELECT\s+)((?:\w+\.)?\*)\s+REPLACE\s*\(""".r

  /** `SELECT [t.]* REPLACE (expr AS col, …) FROM …` (grammar.md:407-408):
    * Spark has no REPLACE star modifier, so the star is expanded to the
    * explicit column list with the replaced positions swapped IN PLACE —
    * order-preserving, the reference's (and DuckDB's) semantics — using
    * a throwaway schema-only analysis of the same query WITHOUT the
    * modifier. The relations the query reads must already be registered
    * as temp views when this runs (empty frames at pipeline
    * construction; live state in adHoc). Replaced expressions that call
    * program-declared SQL functions are resolved later than this rewrite
    * and fail the analysis loudly.
    */
  private[runtime] def rewriteReplaceStar(spark: SparkSession,
      sql: String): String =
    ReplaceStarRe.findFirstMatchIn(sql) match {
      case None => sql
      case Some(m) =>
        val open = m.end - 1
        val close = graft.ddl.Dialect.balancedClose(sql, open)
        require(close > 0, s"unbalanced REPLACE clause in: $sql")
        val rest = sql.substring(close + 1)
        val schema = spark.sql(m.group(1) + m.group(2) + rest).schema
        val byName = graft.ddl.Dialect.splitTopLevel(
            sql.substring(open + 1, close)).map(_.trim).map { item =>
          val as = graft.ddl.Dialect.lastTopLevelAsIdx(item)
          require(as > 0,
            s"REPLACE item must be 'expression AS column': $item")
          val colName = item.substring(as + 2).trim
            .stripPrefix("\"").stripSuffix("\"")
          colName.toLowerCase(Locale.ROOT) -> item.substring(0, as).trim
        }.toMap
        val known = schema.fieldNames.map(_.toLowerCase(Locale.ROOT)).toSet
        val unknown = byName.keySet.diff(known)
        require(unknown.isEmpty,
          s"REPLACE names column(s) not produced by *: ${unknown.mkString(", ")}")
        val cols = schema.fieldNames.map { n =>
          byName.get(n.toLowerCase(Locale.ROOT)) match {
            case Some(e) => s"($e) AS `$n`"
            case None => s"`$n`"
          }
        }
        m.group(1) + cols.mkString(", ") + rest
    }

  /** Expand every view's `SELECT * REPLACE` at pipeline construction:
    * empty frames of the declared tables (and recursive-view schemas)
    * plus each already-expanded view register as temp views so the
    * rewrite's throwaway analysis resolves, in declaration order. A
    * program with no REPLACE star is returned untouched (no session
    * side effects).
    */
  private[runtime] def resolveReplaceStars(spark: SparkSession,
      p: Ddl.Program): Ddl.Program =
    if (!p.views.exists(v => ReplaceStarRe.findFirstIn(v.sql).isDefined)) p
    else {
      import org.apache.spark.sql.types.{StructField, StructType}
      graft.functions.Registry.registerAll(spark)
      spark.conf.set("spark.sql.timeType.enabled", "true")
      def bindEmpty(name: String, cols: Seq[Ddl.ColumnDef]): Unit =
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(cols.map(c => StructField(c.name,
            SqlTypes.toSpark(c.sqlType), nullable = !c.notNull))))
          .createOrReplaceTempView(name)
      p.tables.foreach(t => bindEmpty(t.name, t.columns))
      p.recursive.foreach(r => bindEmpty(r.name, r.columns))
      val out = Vector.newBuilder[Ddl.ViewDef]
      p.views.foreach { v =>
        val sql2 = rewriteReplaceStar(spark, v.sql)
        spark.sql(sql2).limit(0).createOrReplaceTempView(v.name)
        out += v.copy(sql = sql2)
      }
      p.copy(views = out.result())
    }

  /** Inline LOCAL views that transitively reference a recursive member
    * into the recursive members' bodies (and into each other), so the
    * fixpoint's per-round re-evaluation sees the whole cycle. The
    * substitution is the FROM/JOIN table-factor form
    * (`FROM step` → `FROM (<step sql>) step`), quote-safe.
    */
  private[runtime] def inlineRecursiveLocals(p: Ddl.Program): Ddl.Program = {
    val recNames = p.recursive.map(_.name).toSet
    if (recNames.isEmpty) return p
    def refs(sql: String, names: Set[String]): Set[String] =
      names.filter(n =>
        ("(?i)\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
          .findFirstIn(sql).isDefined)
    // a recursive member may itself be spelled LOCAL — it is part of
    // the cycle's FIXPOINT, never an inlinable intermediate
    val localSql = p.views
      .filter(v => v.kind == Ddl.LocalView && !recNames(v.name))
      .map(v => v.name -> v.sql).toMap
    // locals in the cycle: reference a member directly or through
    // other cycle locals
    var cycle = Set.empty[String]
    var grow = true
    while (grow) {
      val next = localSql.keySet.filter(n =>
        refs(localSql(n), recNames ++ cycle).nonEmpty)
      grow = next != cycle
      cycle = next
    }
    if (cycle.isEmpty) return p
    def inline(sql0: String): String = {
      var sql = sql0
      var guard = 0
      var changed = true
      while (guard < 50 && changed) {
        guard += 1
        changed = false
        cycle.foreach { n =>
          val re = ("(?i)(\\bFROM\\b|\\bJOIN\\b|,)\\s*(" +
            java.util.regex.Pattern.quote(n) + ")\\b(?!\\s*\\()").r
          val next = re.replaceAllIn(sql, m =>
            scala.util.matching.Regex.quoteReplacement(
              s"${m.group(1)} (${localSql(n)}) ${m.group(2)}"))
          if (next != sql) { changed = true; sql = next }
        }
      }
      sql
    }
    p.copy(views = p.views.map { v =>
      if (recNames(v.name) || cycle(v.name)) v.copy(sql = inline(v.sql))
      else v
    })
  }

  /** Positionally dedup repeated column names (Calcite's `a.*, b.*`
    * view schemas: second `id` becomes `id0`), so the name-keyed Z-set
    * machinery (consolidate/merge/splitTouched) stays applicable.
    */
  private[runtime] def dedupCols(df: DataFrame): DataFrame = {
    val cols = df.columns
    // dotted/parenthesized auto-generated names (`(100.20 * C)`,
    // `count(distinct id)`) would read as nested-field paths in the
    // name-keyed Z-set machinery — sanitize positionally alongside
    // the duplicate rename
    // only DOTS (attribute-path separators) and backticks actually
    // derail name resolution; parenthesized auto-names resolve fine
    def weird(c: String) = c.contains('.') || c.contains('`')
    if (cols.distinct.length == cols.length && !cols.exists(weird)) df
    else {
      val seen = scala.collection.mutable.Map[String, Int]()
      df.toDF(cols.toSeq.zipWithIndex.map { case (c0, i) =>
        val c = if (weird(c0)) s"_vc$i" else c0
        val n = seen.getOrElse(c, -1) + 1
        seen(c) = n
        if (n == 0) c else c + (n - 1)
      }: _*)
    }
  }

  def apply(spark: SparkSession, programSql: String): Pipeline =
    new Pipeline(spark, Ddl.parse(programSql))

  /** Pipeline with the named relations' state on the LSM-tiered trace
    * backend (see the `traceBacked` constructor doc).
    */
  def apply(spark: SparkSession, programSql: String,
      traceBacked: Set[String], traceMemRows: Long): Pipeline =
    new Pipeline(spark, Ddl.parse(programSql), traceBacked, traceMemRows)
}
