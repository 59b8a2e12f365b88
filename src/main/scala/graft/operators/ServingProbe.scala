package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * THE autotuned-serving decision — one module for every index family.
 * Before round 17, `IvfIndex.servingNprobe` and the media index's
 * serving cache each hand-rolled the same memoize/cap/fallback logic
 * per root; a third index kind would have copied it a third time.
 *
 * A decision is derived ONCE per (index root, recall target) from the
 * root's MEASURED recall/cost curve — [[IvfIndex.autotuneNprobe]]'s
 * choice (the cheapest ladder step meeting the target), bounded by the
 * scale contract ([[IvfIndex.servingDecision]]: heuristic ⌊√nlist⌋
 * fallback when no step qualifies, 2×⌊√nlist⌋ cap — a curve that needs
 * more than twice the heuristic to hit its target is a rebuild signal,
 * not a serving budget) — and memoized, so the served probe is
 * query-order-independent and the oracle generators can replay the
 * capstone legs at exactly the probe the engine served.
 *
 * The recall target is PER INDEX (default 0.9): deployments trade probe
 * cost against leg recall per corpus — the media index's measured curve
 * pays ~√decade more probe cost at 0.9 than the pack index's, so a
 * deployment preferring the cheaper probe lowers the target for that
 * root alone (thread `targetMicro` through the index's serving entry
 * point; the decision cache keys on it, so two targets never alias).
 */
object ServingProbe {

  /** Default per-index recall target in micro-units: 0.9. */
  val DefaultTargetMicro = 900000L

  private val decisions = new graft.Memo[String, Int]

  /** The serving probe for the index root `key` at `targetMicro`,
    * computed once from `curve` — callers pass their memoized curve, so
    * the curve's exact scan-bound baseline is paid once per root and
    * the decision never depends on which query ran first. */
  def decide(key: String, nlist: Int,
      targetMicro: Long = DefaultTargetMicro)(curve: => DataFrame): Int =
    decisions(s"$key@t$targetMicro")(
      IvfIndex.servingDecision(curve, nlist, targetMicro))

  /** The probe an ORACLE replay should use for roots under `prefix`:
    * the one cached decision when it is unambiguous; the heuristic when
    * the session never served under the prefix (engine and oracle then
    * agree — no served results exist to diverge from); None when
    * SEVERAL decisions exist — the `cachedModel` by-omission contract,
    * probe flavor: silently replaying the heuristic while the engine
    * served each corpus at its own autotuned probe would be a
    * value-level oracle/engine divergence, so the caller omits the
    * oracle entry (rows-only check) instead. */
  def oracleProbe(prefix: String, heuristic: Int): Option[Int] = {
    // DISTINCT decisions, matched at the key boundary: cache keys are
    // `<name>@t<target>`, and a raw startsWith let (a) a root that is a
    // proper prefix of another ("/idx" vs "/idx2") count both roots'
    // decisions, and (b) one root decided at two targets that landed on
    // the SAME nprobe read as ambiguous — both degraded the oracle to
    // rows-only for no reason. A name matches `prefix` only exactly, or
    // past a ':' namespace boundary ("pack:" matches every corpus under
    // the kind — the category callers' contract).
    val hits = decisions.built.collect {
      case (k, v) if {
        val name = k.lastIndexOf("@t") match {
          case -1 => k
          case i  => k.substring(0, i)
        }
        name == prefix || (prefix.endsWith(":") && name.startsWith(prefix))
      } => v
    }.distinct
    hits.size match {
      case 0 => Some(heuristic)
      case 1 => Some(hits.head)
      case _ => None
    }
  }
}
