package graft.lineage

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._

/** Column-level lineage: map each output attribute of an analyzed plan to
  * the set of source-table columns it derives from, following ExprId
  * chains through Project/Aggregate/Window/Generate/Union/Expand/joins.
  *
  * One bottom-up pass: every plan node is visited once and yields a map
  * from each of its output ExprIds to that column's (sources, derivation).
  * Nodes are memoized by identity, so a subtree shared by the branches of
  * a self-union is walked once and the cost is linear in plan size.
  */
object ColumnLineage {

  /** Source columns ("source.column") and derivation of one attribute.
    * The derivation is the Catalyst SQL that COMPUTES the column, or None
    * for an identity read. Rename chains (Alias over a bare attribute,
    * `withColumnRenamed`) are transparent: `sum(x) AS a` later renamed to
    * `b` still reports `sum(x)`. Only the OUTERMOST non-trivial expression
    * is kept — it names the columns of the plan level it was written at,
    * which is what a catalog consumer reads alongside the source set. */
  private final case class Lin(sources: Set[String], derivation: Option[String])
  private type Lins = Map[ExprId, Lin]
  private val unknown = Lin(Set.empty, None)

  /** Lineage for every output column of `plan` (analyzed). */
  def forPlan(plan: LogicalPlan): Seq[ColumnMapping] = {
    val body = PlanExtractor.queryBody(plan)
    val lins = new Pass().of(body)
    body.output.map { attr =>
      val lin = lins.getOrElse(attr.exprId, unknown)
      ColumnMapping(attr.name, lin.sources.toSeq.sorted, lin.derivation)
    }
  }

  private final class Pass {
    private val memo = new java.util.IdentityHashMap[LogicalPlan, Lins]()

    def of(plan: LogicalPlan): Lins = {
      val hit = memo.get(plan)
      if (hit != null) hit
      else { val lins = compute(plan); memo.put(plan, lins); lins }
    }

    private def compute(plan: LogicalPlan): Lins = plan match {
      case leaf if leaf.children.isEmpty =>
        val name = PlanExtractor.leafName(leaf)
        firstById(leaf.output.map(a => a.exprId -> Lin(Set(s"$name.${a.name}"), None)))

      case p: Project => named(p.projectList, of(p.child))

      case a: Aggregate => named(a.aggregateExpressions, of(a.child))

      case w: Window =>
        val below = of(w.child)
        below ++ named(w.windowExpressions, below)

      case g: Generate =>
        val below = of(g.child)
        val gen = Lin(sources(below, g.generator.references.toSeq), Some(g.generator.sql))
        below ++ g.generatorOutput.map(_.exprId -> gen)

      case u: Union =>
        // position by position: a branch's own attribute at the same
        // index feeds each output; the derivation is the first branch's
        // that computes one (the UNION's output naming follows it)
        val branches = u.children.map(c => (c.output, of(c)))
        firstById(u.output.zipWithIndex.map { case (attr, i) =>
          val per = branches.map { case (out, lins) => lins.getOrElse(out(i).exprId, unknown) }
          attr.exprId -> Lin(per.flatMap(_.sources).toSet, per.flatMap(_.derivation).headOption)
        })

      case e: Expand =>
        // rollup/cube/grouping-sets: each output position is fed by the
        // same position of every projection row (NULLed out in some — the
        // union of references is the true source set)
        val below = of(e.child)
        firstById(e.output.zipWithIndex.map { case (attr, i) =>
          attr.exprId -> Lin(sources(below, e.projections.flatMap(_(i).references)),
            below.getOrElse(attr.exprId, unknown).derivation)
        })

      case other =>
        // pass-through nodes (Filter, Join, Sort, SubqueryAlias, Limit, ...):
        // an attribute comes from whichever children produce it
        other.children.map(of).reduceLeft { (acc, lins) =>
          lins.foldLeft(acc) { case (m, (id, lin)) =>
            m.updated(id, m.get(id).fold(lin)(seen =>
              Lin(seen.sources ++ lin.sources, seen.derivation.orElse(lin.derivation))))
          }
        }
    }

    /** Lineage of Project/Aggregate/Window outputs: the first named
      * expression with a given id defines it. */
    private def named(exprs: Seq[NamedExpression], below: Lins): Lins =
      firstById(exprs.map { ne =>
        // a column computed FROM a subquery (SELECT (SELECT max(x) FROM t))
        // derives from the subquery plan's own sources
        val fromSubqueries = ne.collect { case s: SubqueryExpression =>
          sources(of(s.plan), s.plan.output)
        }.flatten
        val derivation = ne match {
          case Alias(ar: Attribute, _) => below.getOrElse(ar.exprId, unknown).derivation
          case a: Alias                => Some(a.child.sql)
          case ar: Attribute           => below.getOrElse(ar.exprId, unknown).derivation
          case otherNe                 => Some(otherNe.sql)
        }
        ne.exprId -> Lin(sources(below, ne.references.toSeq) ++ fromSubqueries, derivation)
      })

    private def sources(lins: Lins, attrs: Seq[Attribute]): Set[String] =
      attrs.flatMap(a => lins.getOrElse(a.exprId, unknown).sources).toSet

    private def firstById(entries: Seq[(ExprId, Lin)]): Lins =
      entries.foldLeft(Map.empty[ExprId, Lin]) { case (m, (id, lin)) =>
        if (m.contains(id)) m else m.updated(id, lin)
      }
  }
}
