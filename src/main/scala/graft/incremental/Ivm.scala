package graft.incremental

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.{PullupCorrelatedPredicates, RewritePredicateSubquery}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._

/** View-shape classifier for incremental view maintenance — the Spark
  * analogue of the reference compiler's incrementalization pass
  * (sql-to-dbsp-compiler CircuitOptimizer IncrementalizeVisitor; SURVEY
  * §4.2 D∘Q∘I). Each view's ANALYZED Catalyst plan is classified once;
  * [[graft.runtime.Pipeline.step]] then evaluates the cheapest exact
  * delta rule the shape admits:
  *
  *  - [[Linear]]   Q(S + Δ) = Q(S) + Q(Δ): project/filter/unnest/union
  *    commute with differentiation — evaluate the view SQL over the delta
  *    multisets alone (reference: linear operators stay unchanged under
  *    incrementalization, DBSPMapOperator et al.).
  *  - [[Multilinear]] join chains: Δ(r1⋈…⋈rk) telescopes into k terms,
  *    term i binding r_j→new (j<i), r_i→Δ_i, r_j→old (j>i). Each term
  *    probes big snapshots with a broadcast delta — the reference's
  *    delta-probes-trace join (crates/dbsp/src/operator/dynamic/join.rs:1358).
  *    Inner/cross only (outer joins are not bilinear); every relation must
  *    appear exactly once and no union/constant branches (the delta rule
  *    needs Q homogeneous-linear in each slot).
  *  - [[GroupAgg]]  a single Aggregate/DISTINCT over a linear single-source
  *    child: re-evaluate the view over the snapshot semi-restricted to the
  *    groups touched by the delta (aggregate-over-trace,
  *    crates/dbsp/src/operator/dynamic/aggregate.rs:209). Exact for ANY
  *    aggregate function, including MIN/MAX under retraction.
  *  - [[Opaque]]   anything else: recompute-and-diff fallback.
  *
  * Aggregates over joins classify Opaque by design: declare the join as its
  * own (multilinear) LOCAL VIEW and aggregate over that — mirroring the
  * reference where every operator is a separate circuit node.
  */
object Ivm {

  sealed trait Shape {
    /** Every relation the view reads (none for Opaque). */
    def relations: Iterable[String]
  }
  /** Relations referenced (each may appear any number of times). */
  final case class Linear(relations: Set[String]) extends Shape
  /** Relations in first-appearance order, each exactly once. */
  final case class Multilinear(relations: Seq[String]) extends Shape
  /** Single-source aggregate: `groupCols` name the grouping keys on the
    * SOURCE relation, `outCols` the same keys in the VIEW output schema
    * (positionally aligned). Empty groupCols = global aggregate (state-wide
    * re-eval; one group).
    */
  final case class GroupAgg(relation: String, groupCols: Seq[String],
      outCols: Seq[String],
      /** Non-empty iff every aggregate is MIN/MAX directly at the view's
        * output (name → isMax): with an append-only source the runner may
        * then use the chain fast path (state = the view output itself,
        * least/greatest merge) instead of touched-group re-aggregation.
        */
      chainCols: Seq[(String, Boolean)] = Nil) extends Shape {
    def relations: Set[String] = Set(relation)
  }
  /** Aggregate directly over a multilinear join body — the composite the
    * reference compiles as two circuit nodes. The runner maintains a
    * hidden Z-set for the join (by the multilinear rule) and re-aggregates
    * touched groups from it. `groupPositions` index the grouping keys in
    * the join body's output (positional, because join outputs can repeat
    * column names); `outCols` name them in the view output.
    */
  final case class AggOverMulti(relations: Seq[String],
      groupPositions: Seq[Int], outCols: Seq[String]) extends Shape

  /** Semi or anti join under linear wrappers — the reference compiles
    * EXISTS/IN to a semijoin node and incrementalizes it as
    * join-with-distinct (Calcite SEMI/ANTI; DBSP expresses semijoin via
    * distinct + join). The delta rule maintains an INDICATOR Z-set — the
    * distinct key projection of the right side — and telescopes:
    *   Δsemi = semi(ΔA, I_new) + semi(A_old, ΔI⁺) − semi(A_old, ΔI⁻)
    * (signs of the ΔI terms flipped for anti). Exactness rests on the
    * condition being a conjunction of equalities left-attr = right-attr
    * (plus any left-only conjuncts): each left row then matches AT MOST
    * ONE indicator key, so indicator sign transitions map one-to-one to
    * match transitions.
    */
  final case class SemiAnti(leftRels: Set[String], rightRels: Set[String],
      isAnti: Boolean) extends Shape {
    def relations: Set[String] = leftRels ++ rightRels
  }

  case object Opaque extends Shape {
    def relations: Set[String] = Set.empty
  }

  /** The semi/anti Join node plus the paired condition key attributes
    * (left-side and right-side, conjunct order, deduped on the right
    * attribute). Re-extracted per analysis — exprIds are analysis-local.
    */
  private[graft] final case class SemiParts(join: Join,
      leftKeys: Seq[Attribute], rightKeys: Seq[Attribute])

  /** Rewrite EXISTS / IN predicate subqueries into semi/anti joins using
    * Spark's own optimizer rules, so both spellings classify identically.
    * PullupCorrelatedPredicates must precede the rewrite (same order as
    * the optimizer's batches; the rewrite expects correlation conditions
    * already hoisted out of the subquery). NOT IN rewrites to a
    * null-tolerant OR-condition anti join, which the equality check below
    * rejects → Opaque, preserving its semantics.
    */
  private[graft] def rewriteSubqueries(plan: LogicalPlan): LogicalPlan =
    RewritePredicateSubquery(PullupCorrelatedPredicates(plan))

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Locate the single LeftSemi/LeftAnti join under Project/Filter/alias
    * wrappers and validate its condition: every conjunct either references
    * only the left side, or is an equality between one left and one right
    * attribute. Returns None (→ Opaque) otherwise.
    */
  private[graft] def semiParts(plan: LogicalPlan): Option[SemiParts] = {
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case _: Project | _: Filter if noSubquery(p) && p.children.size == 1 =>
        unwrap(p.children.head)
      case s: SubqueryAlias => unwrap(s.child)
      case x => x
    }
    unwrap(plan) match {
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        j.condition.flatMap { cond =>
          val pairs = conjuncts(cond).map {
            case e if e.references.subsetOf(j.left.outputSet) => Some(None)
            case EqualTo(l: AttributeReference, r: AttributeReference) =>
              sideOf(j, l, r)
            case EqualNullSafe(l: AttributeReference, r: AttributeReference) =>
              sideOf(j, l, r)
            case _ => None
          }
          if (!pairs.forall(_.isDefined)) None
          else {
            val keyPairs = pairs.flatMap(_.get)
            // dedupe on the right attribute (repeated conjuncts pinning the
            // same right column add constraints the grafted condition still
            // enforces; one indicator column suffices)
            val deduped = keyPairs.foldLeft(Seq.empty[(Attribute, Attribute)]) {
              case (acc, p) =>
                if (acc.exists(_._2.exprId == p._2.exprId)) acc else acc :+ p
            }
            if (deduped.isEmpty) None
            else Some(SemiParts(j, deduped.map(_._1), deduped.map(_._2)))
          }
        }
      case _ => None
    }
  }

  /** Orient an equality's attrs as (left-side, right-side), if possible. */
  private def sideOf(j: Join, a: AttributeReference,
      b: AttributeReference): Option[Option[(Attribute, Attribute)]] =
    if (j.left.outputSet.contains(a) && j.right.outputSet.contains(b))
      Some(Some((a, b)))
    else if (j.left.outputSet.contains(b) && j.right.outputSet.contains(a))
      Some(Some((b, a)))
    else None

  private def semiAntiShape(plan: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[Shape] =
    semiParts(plan).flatMap { sp =>
      for {
        l <- linearRels(sp.join.left, leaf)
        r <- linearRels(sp.join.right, leaf)
        if l.nonEmpty && r.nonEmpty
      } yield SemiAnti(l, r, sp.join.joinType == LeftAnti)
    }

  /** Classify a view body. `known` = names of program tables and earlier
    * views (all registered as temp views at call time).
    */
  def classify(spark: SparkSession, sql: String,
      known: Set[String]): Shape = {
    val plan = rewriteSubqueries(
      org.apache.spark.sql.graft.IntegerDivision.transformPlan(
        spark.sql(sql).queryExecution.analyzed))
    classifyPlan(plan, leafFn(spark, known))
  }

  /** Leaf identifier over the currently-registered temp views. A relation
    * reference analyzes as SubqueryAlias(name, <registered plan>);
    * `FROM t AS a` adds an outer rename alias above it. Resolve through
    * the alias chain to the INNERMOST alias and accept it only if it
    * wraps that name's registered plan: a derived subquery whose alias
    * merely collides with a table/view name (`FROM (…) AS t`) must NOT
    * classify as reading `t` — delta evaluation would rebind the wrong
    * relation and silently freeze or corrupt the view.
    */
  private[graft] def leafFn(spark: SparkSession,
      known: Set[String]): LogicalPlan => Option[String] = {
    // the registered plan behind each known temp view (outer alias
    // stripped) — the comparison target for leaf identification
    val registered: Map[String, LogicalPlan] = known.map { n =>
      n -> (spark.table(n).queryExecution.analyzed match {
        case s: SubqueryAlias => s.child
        case p => p
      })
    }.toMap
    val f: LogicalPlan => Option[String] = {
      case s: SubqueryAlias =>
        var in = s
        while (in.child.isInstanceOf[SubqueryAlias])
          in = in.child.asInstanceOf[SubqueryAlias]
        val n = in.alias.toLowerCase
        if (known(n) && registered.get(n).exists(in.child.sameResult))
          Some(n)
        else None
      case _ => None
    }
    f
  }

  /** Identified relation leaves of a plan in in-order (left-to-right)
    * traversal — the binding slots for plan-surgery delta evaluation.
    * Matches the slot order of [[Multilinear]] (multiRels walks join legs
    * left-to-right). The returned nodes are the ORIGINAL plan objects:
    * callers key replacement on object identity inside one transformUp,
    * so analysis happens once per step instead of once per fixpoint round
    * per term.
    */
  private[graft] def leafNodes(p: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Seq[(String, LogicalPlan)] =
    leaf(p) match {
      case Some(n) => Seq(n -> p)
      case None => p.children.flatMap(c => leafNodes(c, leaf))
    }

  /** Flatten a recursive view body into its top-level UNION (set
    * semantics) branches, descending through alias/Distinct wrappers but
    * never into an identified relation leaf. Shared by classification and
    * delta evaluation — both must split identically.
    */
  private[graft] def unionBranches(p: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Seq[LogicalPlan] = p match {
    case s: SubqueryAlias if leaf(s).isEmpty => unionBranches(s.child, leaf)
    case d: Distinct => unionBranches(d.child, leaf)
    case u: Union => u.children.flatMap(c => unionBranches(c, leaf))
    case x => Seq(x)
  }

  /** Classify a recursive view body as a vector of UNION branches, each
    * Linear or Multilinear over `known` (which includes the recursive
    * group members). This is the sum-of-products form the incremental
    * recursion path can maintain semi-naively under insert-only deltas;
    * None → the runner falls back to per-step recompute-diff.
    */
  def classifyRecursive(spark: SparkSession, sql: String,
      known: Set[String]): Option[Seq[Shape]] = {
    val plan = org.apache.spark.sql.graft.IntegerDivision
      .transformPlan(spark.sql(sql).queryExecution.analyzed)
    val leaf = leafFn(spark, known)
    val shapes = unionBranches(plan, leaf).map { b =>
      linearRels(b, leaf).filter(_.nonEmpty).map(Linear(_): Shape)
        .orElse(multiShape(b, leaf))
    }
    if (shapes.nonEmpty && shapes.forall(_.isDefined)) Some(shapes.map(_.get))
    else None
  }

  private def classifyPlan(plan: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Shape = {
    linearRels(plan, leaf) match {
      case Some(rels) if rels.nonEmpty => Linear(rels)
      case _ =>
        aggShape(plan, leaf)
          .orElse(multiShape(plan, leaf))
          .orElse(aggOverMulti(plan, leaf))
          .orElse(semiAntiShape(plan, leaf))
          .getOrElse(Opaque)
    }
  }

  /** Aggregate whose child is a pure join chain: the view body IS the
    * aggregate (only alias wrappers above), grouping keys are attributes
    * of the join output surfacing in the aggregate output.
    */
  private def aggOverMulti(plan: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[Shape] = {
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case s: SubqueryAlias if leaf(s).isEmpty => unwrap(s.child)
      case x => x
    }
    unwrap(plan) match {
      case agg: Aggregate if noSubquery(agg) =>
        multiRels(agg.child, leaf)
          .filter(rs => rs.distinct.size == rs.size && rs.size >= 2)
          .flatMap { rels =>
            val childOut = agg.child.output
            val groupAttrs = agg.groupingExpressions.map {
              case ar: AttributeReference => Some(ar)
              case _ => None
            }
            if (!groupAttrs.forall(_.isDefined)) None
            else {
              val attrs = groupAttrs.map(_.get)
              val positions =
                attrs.map(a => childOut.indexWhere(_.exprId == a.exprId))
              val outNames = attrs.map { a =>
                agg.aggregateExpressions.collectFirst {
                  case ar: AttributeReference if ar.exprId == a.exprId =>
                    ar.name
                  case al @ Alias(ar: AttributeReference, _)
                      if ar.exprId == a.exprId => al.name
                }
              }
              if (positions.forall(_ >= 0) && outNames.forall(_.isDefined))
                Some(AggOverMulti(rels, positions, outNames.map(_.get)))
              else None
            }
          }
      case _ => None
    }
  }

  /** No correlated/scalar subqueries hiding in this node's expressions. */
  private def noSubquery(p: LogicalPlan): Boolean =
    p.expressions.forall(e => !e.exists(_.isInstanceOf[PlanExpression[_]]))

  /** Subtree built only from weight-linear nodes → referenced relations. */
  private def linearRels(p: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[Set[String]] =
    leaf(p) match {
      case Some(n) => Some(Set(n))
      case None => p match {
        case _: Project | _: Filter | _: Generate | _: Union |
             _: SubqueryAlias | _: View if noSubquery(p) =>
          p.children.foldLeft(Option(Set.empty[String])) { (acc, c) =>
            acc.flatMap(s => linearRels(c, leaf).map(s ++ _))
          }
        case _ => None
      }
    }

  /** Pure inner/cross join chain over linear single-relation legs; no
    * unions or constants (homogeneous multilinearity). Returns relations
    * in first-appearance order; duplicates → None.
    */
  private def multiRels(p: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[Seq[String]] =
    leaf(p) match {
      case Some(n) => Some(Seq(n))
      case None => p match {
        case j: Join
            if (j.joinType == Inner || j.joinType == Cross) && noSubquery(j) =>
          for (l <- multiRels(j.left, leaf); r <- multiRels(j.right, leaf))
            yield l ++ r
        case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
             _: View if noSubquery(p) && p.children.size == 1 =>
          multiRels(p.children.head, leaf)
        case _ => None
      }
    }

  private def multiShape(p: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[Shape] =
    multiRels(p, leaf).filter(rs => rs.distinct.size == rs.size && rs.size >= 2)
      .map(Multilinear)

  /** Grouping-key core found under Project/Filter wrappers: source
    * relation, base-column names of the keys, and the keys' exprIds at the
    * current plan's output.
    */
  private final case class AggCore(relation: String, groupCols: Seq[String],
      outIds: Seq[ExprId], chainCols: Seq[(String, Boolean)])

  private def aggShape(plan: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[Shape] =
    findCore(plan, leaf).flatMap { core =>
      val names = core.outIds.map(id =>
        plan.output.find(_.exprId == id).map(_.name))
      if (names.forall(_.isDefined))
        Some(GroupAgg(core.relation, core.groupCols, names.map(_.get),
          core.chainCols))
      else None
    }

  private def findCore(p: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[AggCore] = p match {
    case Project(projList, child) if noSubquery(p) =>
      findCore(child, leaf).flatMap { core =>
        val remapped = core.outIds.map { id =>
          projList.collectFirst {
            case ar: AttributeReference if ar.exprId == id => ar.exprId
            case a @ Alias(ar: AttributeReference, _) if ar.exprId == id =>
              a.exprId
          }
        }
        if (remapped.forall(_.isDefined))
          Some(core.copy(outIds = remapped.map(_.get), chainCols = Nil))
        else None
      }
    case Filter(_, child) if noSubquery(p) =>
      findCore(child, leaf).map(_.copy(chainCols = Nil))
    case s: SubqueryAlias if leaf(s).isEmpty => findCore(s.child, leaf)
    case agg: Aggregate if noSubquery(agg) =>
      buildAggCore(agg.groupingExpressions, agg.aggregateExpressions,
        agg.child, leaf)
    case d: Distinct =>
      // SELECT DISTINCT = group by every output column, no agg exprs
      val attrs = d.child.output
      buildAggCore(attrs, attrs, d.child, leaf)
    case _ => None
  }

  private def buildAggCore(groupingExprs: Seq[Expression],
      resultExprs: Seq[NamedExpression], child: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[AggCore] = {
    // the child must be linear over exactly one relation
    linearRels(child, leaf).filter(_.size == 1).flatMap { rels =>
      val groupAttrs = groupingExprs.map {
        case ar: AttributeReference => Some(ar)
        case _ => None
      }
      if (!groupAttrs.forall(_.isDefined)) None
      else {
        val attrs = groupAttrs.map(_.get)
        val base = attrs.map(a => resolveDown(a, child, leaf))
        // each grouping key must surface in the aggregate output
        val outIds = attrs.map { a =>
          resultExprs.collectFirst {
            case ar: AttributeReference if ar.exprId == a.exprId => ar.exprId
            case al @ Alias(ar: AttributeReference, _)
                if ar.exprId == a.exprId => al.exprId
          }
        }
        if (base.forall(_.isDefined) && outIds.forall(_.isDefined)) {
          val groupIdSet = attrs.map(_.exprId).toSet
          val chain = resultExprs
            .filterNot {
              case ar: AttributeReference => groupIdSet(ar.exprId)
              case Alias(ar: AttributeReference, _) => groupIdSet(ar.exprId)
              case _ => false
            }
            .map {
              case al @ Alias(ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression, _) =>
                ae.aggregateFunction match {
                  case _: org.apache.spark.sql.catalyst.expressions.aggregate.Min =>
                    Some(al.name -> false)
                  case _: org.apache.spark.sql.catalyst.expressions.aggregate.Max =>
                    Some(al.name -> true)
                  case _ => None
                }
              case _ => None
            }
          Some(AggCore(rels.head, base.map(_.get), outIds.map(_.get),
            if (chain.nonEmpty && chain.forall(_.isDefined))
              chain.map(_.get) else Nil))
        } else None
      }
    }
  }

  /** Trace an attribute down a linear chain to its base-relation column
    * name (through Project aliases of plain columns; computed columns or
    * unions → None).
    */
  private def resolveDown(attr: Attribute, p: LogicalPlan,
      leaf: LogicalPlan => Option[String]): Option[String] =
    leaf(p) match {
      case Some(_) => p.output.find(_.exprId == attr.exprId).map(_.name)
      case None => p match {
        case Project(projList, child) =>
          projList.find(_.exprId == attr.exprId).flatMap {
            case ar: AttributeReference => resolveDown(ar, child, leaf)
            case Alias(ar: AttributeReference, _) => resolveDown(ar, child, leaf)
            case _ => None
          }
        case Filter(_, child) => resolveDown(attr, child, leaf)
        case g: Generate => resolveDown(attr, g.child, leaf)
        case s: SubqueryAlias => resolveDown(attr, s.child, leaf)
        case v: View => resolveDown(attr, v.child, leaf)
        case _ => None
      }
    }
}
