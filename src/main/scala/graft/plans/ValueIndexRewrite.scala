package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.BinaryType

import graft.operators.ValueIndex
import graft.sources.CellStoreScan

/**
 * Index-served predicate rewrite — the secondary-index twin of
 * [[RollupRewrite]]: a `value = <bytes>` equality filter over a
 * registered cell-store scan is answered from the table's
 * [[ValueIndex]] instead of a full scan, WITHOUT the user query
 * changing. HBase deployments do exactly this with Phoenix: the client
 * writes `WHERE value = x` against the data table and the planner swaps
 * in the index table; here the swap is a Catalyst [[Rule]] on the
 * optimized plan.
 *
 * The rewritten shape is [[ValueIndex.candidateJoin]]: one pushed GET on
 * the index store (bucket pruning + bloom elision — kilobytes), then the
 * base store joined on the recovered rowKeys (the scan's
 * `SupportsRuntimeFiltering` turns the join into |matches| GETs), with
 * the ORIGINAL filter condition re-applied on top. Re-applying the
 * condition does two jobs: it restores exactness under index-hash
 * collisions (candidates are a superset), and it keeps every OTHER
 * conjunct of the filter (rowKey ranges, family predicates) behaving
 * bit-identically to the unrewritten plan. At 100 TB the difference is
 * reading the corpus vs reading one index bucket slice plus the matches.
 *
 * Matching is conservative, as [[RollupRewrite]]: the filter must sit
 * DIRECTLY over a plain [[CellStoreScan]] relation (post-pushdown shape
 * — this source returns every value predicate as a residual, so the
 * equality is always still present in the Filter; a small key-pinned read
 * plans a `CellStoreLocalScan` instead, which a point GET answers more
 * cheaply than the index would), the scan's path must be
 * registered, and one conjunct must be `value = <binary literal>`.
 * Output attributes keep their exprIds, so downstream operators bind
 * unchanged. `spark.graft.valueindex.enabled=false` is the kill switch.
 *
 * Why the rewrite terminates: the spliced subtree re-applies the
 * condition over a Project of a JOIN — no Filter directly over a scan
 * relation — so the fixed-point batch sees no further match.
 */
object ValueIndexRewrite {

  private val registry = new ConcurrentHashMap[String, String]()

  private def norm(p: String): String = p.stripSuffix("/")

  /** Register `indexPath` as the [[ValueIndex]] of the cell store at
    * `basePath` (the exact path queries load). */
  def register(basePath: String, indexPath: String): Unit =
    registry.put(norm(basePath), indexPath)

  def unregister(basePath: String): Unit = registry.remove(norm(basePath))

  def clear(): Unit = registry.clear()

  private[plans] def indexFor(basePath: String): Option[String] =
    Option(registry.get(norm(basePath)))

  /** Idempotently append the rule to the session's user optimizations. */
  def ensureInjected(spark: SparkSession): Unit = synchronized {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[ValueIndexRewriteRule]))
      spark.experimental.extraOptimizations =
        existing :+ ValueIndexRewriteRule(spark)
  }
}

final case class ValueIndexRewriteRule(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.valueindex.enabled", "true") == "true"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case f @ Filter(_, sr: DataSourceV2ScanRelation) =>
        rewrite(f, sr).getOrElse(f)
    }

  /** The value the filter pins, if one conjunct is `value = <literal>`
    * (either operand order) with no other reference to shadowed state. */
  private def pinnedValue(cond: Expression): Option[Array[Byte]] =
    splitConjunctivePredicates(cond).collectFirst {
      case EqualTo(a: AttributeReference, Literal(v: Array[Byte], BinaryType))
          if a.name == "value" => v
      case EqualTo(Literal(v: Array[Byte], BinaryType), a: AttributeReference)
          if a.name == "value" => v
    }

  private def rewrite(f: Filter, sr: DataSourceV2ScanRelation): Option[LogicalPlan] =
    for {
      scan <- sr.scan match {
        // graft.noRewrite marks the probe's own internals ([[ValueIndex
        // .candidateJoin]]'s base read): without it, a directly-built
        // lookup() plan — whose value filter pushdown lands right back
        // on the base scan — would be re-spliced into a redundant
        // nested double probe
        case cs: CellStoreScan if !cs.noRewrite => Some(cs)
        case _ => None // agg/group scans carry no value column
      }
      indexPath <- ValueIndexRewrite.indexFor(scan.path)
      bytes <- pinnedValue(f.condition)
      // a fresh optimized subplan: its own scans are already pushed, since
      // this rule runs after the early scan-pushdown batch
      spliced = ValueIndex.candidateJoin(spark, indexPath, scan.path, bytes)
        .queryExecution.optimizedPlan
      byName = spliced.output.map(a => a.name -> a).toMap
      if sr.output.forall(o => byName.contains(o.name))
    } yield {
      // restore the relation's exprIds so the re-applied condition and
      // every downstream operator bind unchanged
      val restored = Project(
        sr.output.map(o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId)), spliced)
      Filter(f.condition, restored)
    }
}
