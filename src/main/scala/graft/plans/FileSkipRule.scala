package graft.plans

import graft.plans.PruneBounds.Bound
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** The injection core [[ZoneMapPruneRule]] and [[BloomSkipRule]]
  * share: a registry of per-file zones or filters keyed by the
  * analyzed table plan, and the rewrite that puts
  * `fileCol IN (survivors)` directly above a registered scan.
  * `fileCol` is the layout's hive-partition column, so the injected
  * IN becomes a partition filter at planning time and pruned files
  * are never opened. Each rule supplies only
  * which columns it prunes, its survivors for one conjunction's
  * [[PruneBounds]] and its file count.
  *
  * Table matching uses `sameResult` on the project-stripped child, so
  * a rule still fires after column pruning puts a Project over the
  * scan. The rule re-applied to its own output is a no-op: the
  * injected IN bounds only `fileCol`, which is never a pruned column.
  */
trait FileSkipRule extends Rule[LogicalPlan] {

  /** The rule's registration type. */
  type E <: FileSkipRule.Registered

  private val entries =
    new java.util.concurrent.CopyOnWriteArrayList[E]()

  /** The columns of `e` this rule prunes by. */
  protected def prunes(e: E)(a: Attribute): Boolean

  /** Files of `e` that can hold a row meeting one conjunction's
    * bounds; None when the bounds say nothing this rule prunes by.
    */
  protected def conjunctionSurvivors(e: E,
      bounds: Map[String, Bound]): Option[Set[Long]]

  protected def fileCount(e: E): Int

  /** The full per-condition decision ([[PruneBounds.survivors]]),
    * shared with the declared files-read receipts so the number a
    * query reports IS the pruning the plan performs. None when
    * nothing is recognized.
    */
  def survivorsForCond(e: E, cond: Expression): Option[Seq[Long]] =
    PruneBounds.survivors(cond, prunes(e))(conjunctionSurvivors(e, _))
      .map(_.toSeq.sorted)

  /** Registers `e`, REPLACING any entry for the same table plan — the
    * freshness hook after a store delta or rewrite: stale
    * registrations are gone, never stacked.
    */
  protected def put(e: E): E = {
    entries.removeIf((p: E) => p.tablePlan.sameResult(e.tablePlan))
    entries.add(e)
    e
  }

  def clear(): Unit = entries.clear()

  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // cheap rejects, because the rules run GLOBALLY (the extensions
    // path) inside the main optimizer: no registrations means no work
    // at all, and a registered table is an analyzed raw relation (a
    // LEAF after project-stripping) — paying sameResult's full
    // canonicalization of an arbitrary query subtree under every
    // Filter measurably taxed the big vector/retrieval plans (q250
    // 1.7x) for matches that could never succeed.
    if (entries.isEmpty) return plan
    plan.transformUp {
      case f @ Filter(cond, child)
          if stripProjects(child).isInstanceOf[LeafNode] =>
        val stripped = stripProjects(child)
        val it = entries.iterator()
        var done: Option[Filter] = None
        while (done.isEmpty && it.hasNext) {
          val e = it.next()
          if (stripped.sameResult(e.tablePlan)) {
            for {
              surv <- survivorsForCond(e, cond)
              if surv.length < fileCount(e)
              fa <- stripped.output.find(_.name == e.fileCol)
            } {
              val lits: Seq[Expression] = fa.dataType match {
                case IntegerType => surv.map(v => Literal(v.toInt))
                case _ => surv.map(v => Literal(v))
              }
              // rows with a NULL file column belong to no file's
              // registration and must survive (IN alone yields NULL)
              val keep: Expression =
                if (e.hasNullFile) Or(In(fa, lits), IsNull(fa))
                else In(fa, lits)
              val pruned = Filter(keep, stripped)
              done = Some(Filter(cond, child.transformUp {
                case p if p eq stripped => pruned
              }))
            }
          }
        }
        done.getOrElse(f)
    }
  }
}

object FileSkipRule {

  /** What the injection core needs of a registration: the table plan
    * it matches, the integral file column it injects on, and whether
    * some rows have a NULL file column.
    */
  trait Registered {
    def tablePlan: LogicalPlan
    def fileCol: String
    def hasNullFile: Boolean
  }
}
