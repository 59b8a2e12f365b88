package graft

import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CellStoreSource
import graft.sources.CellStoreSource.BlockInfo

/** The cell store's pruning decisions over footer-statistics fixtures: which
  * pushed filters the scan accepts (`prunable`), which row groups a filter
  * set keeps (`boundsSetOf(...).keep`) and which key set it pins
  * (`exactKeys`). Pure planning functions, no session. */
class PruningDecisionSpec extends AnyFunSuite {

  private def k(n: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(n).array()
  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def block(
      key: Option[(Long, Long)] = None, ts: Option[(Long, Long)] = None,
      fam: Option[(String, String)] = None,
      qual: Option[(String, String)] = None): BlockInfo =
    BlockInfo(0, 10L, 100L, Map(
      "rowKey" -> key.map { case (lo, hi) => (k(lo), k(hi)) },
      "ts" -> ts.map { case (lo, hi) => (CellStoreSource.tsBytes(lo), CellStoreSource.tsBytes(hi)) },
      "family" -> fam.map { case (lo, hi) => (b(lo), b(hi)) },
      "qualifier" -> qual.map { case (lo, hi) => (b(lo), b(hi)) })
      .collect { case (c, Some(range)) => c -> range })

  /** The row groups every case is decided over; a case's `kept` string has
    * one digit per block, in this order. */
  private val blocks = Seq(
    block(Some((0L, 99L)), Some((1000L, 1999L)), Some(("a", "a")), Some(("q1", "q3"))),
    block(Some((100L, 199L)), Some((2000L, 2999L)), Some(("a", "c")), Some(("q4", "q6"))),
    block(Some((200L, 299L)), Some((3000L, 3999L)), Some(("d", "d")), Some(("q7", "q9"))),
    block(),                        // no statistics at all
    block(key = Some((150L, 250L))) // key statistics only
  )

  private def rk(n: Long) = EqualTo("rowKey", k(n))
  private val opaque = EqualTo("value", b("BUILDING"))
  private val allTs = Or(GreaterThanOrEqual("ts", 0L), LessThan("ts", 0L))

  /** (name, filters, per-filter prunable, kept blocks, exact key ids). */
  private val cases: Seq[(String, Seq[Filter], String, String, Option[Seq[Long]])] = Seq(
    ("no filters", Nil, "", "11111", None),
    ("rowKey =", Seq(rk(50)), "1", "10010", Some(Seq(50L))),
    ("rowKey = on a block's max", Seq(rk(99)), "1", "10010", Some(Seq(99L))),
    ("rowKey >", Seq(GreaterThan("rowKey", k(199))), "1", "00111", None),
    ("rowKey >=", Seq(GreaterThanOrEqual("rowKey", k(199))), "1", "01111", None),
    ("rowKey <", Seq(LessThan("rowKey", k(100))), "1", "10010", None),
    ("rowKey <=", Seq(LessThanOrEqual("rowKey", k(100))), "1", "11010", None),
    // an IN prunes by membership, not by the [min, max] envelope of its values
    ("rowKey IN", Seq(In("rowKey", Array(k(50), k(250)))), "1", "10111", Some(Seq(50L, 250L))),
    ("rowKey IN of one", Seq(In("rowKey", Array(k(50)))), "1", "10010", Some(Seq(50L))),
    ("rowKey IN of none", Seq(In("rowKey", Array.empty[Any])), "0", "11111", None),
    ("rowKey = of a string", Seq(EqualTo("rowKey", "50")), "0", "11111", None),
    ("ts =", Seq(EqualTo("ts", 2500L)), "1", "01011", None),
    ("ts = of an int", Seq(EqualTo("ts", 2500)), "1", "01011", None),
    ("ts >", Seq(GreaterThan("ts", 2999L)), "1", "00111", None),
    ("ts >=", Seq(GreaterThanOrEqual("ts", 2999L)), "1", "01111", None),
    ("ts <", Seq(LessThan("ts", 1000L)), "1", "00011", None),
    ("ts <=", Seq(LessThanOrEqual("ts", 1000L)), "1", "10011", None),
    ("ts > a negative", Seq(GreaterThan("ts", -1L)), "1", "11111", None),
    ("ts < a negative", Seq(LessThan("ts", -1L)), "1", "00011", None),
    ("ts IN", Seq(In("ts", Array(1500L, 3500L))), "1", "10111", None),
    ("family =", Seq(EqualTo("family", "a")), "1", "11011", None),
    ("family = inside a block's range", Seq(EqualTo("family", "b")), "1", "01011", None),
    ("family IN", Seq(In("family", Array("b", "e"))), "1", "01011", None),
    ("family IN with a null", Seq(In("family", Array("a", null))), "0", "11111", None),
    ("family >", Seq(GreaterThan("family", "c")), "1", "00111", None),
    ("family <", Seq(LessThan("family", "b")), "1", "11011", None),
    ("qualifier =", Seq(EqualTo("qualifier", b("q5"))), "1", "01011", None),
    ("qualifier >=", Seq(GreaterThanOrEqual("qualifier", b("q7"))), "1", "00111", None),
    ("qualifier IN", Seq(In("qualifier", Array(b("q2"), b("q8")))), "1", "10111", None),
    ("unknown leaf", Seq(opaque), "0", "11111", None),
    ("Not of a key leaf", Seq(Not(rk(50))), "0", "11111", None),
    ("two conjuncts on one column",
      Seq(GreaterThanOrEqual("rowKey", k(100)), LessThan("rowKey", k(200))), "11", "01011", None),
    ("And across columns",
      Seq(And(GreaterThanOrEqual("rowKey", k(100)), LessThan("ts", 3000L))), "1", "01011", None),
    ("And with an unknown side", Seq(And(rk(50), opaque)), "1", "10010", Some(Seq(50L))),
    ("And of unknown sides", Seq(And(opaque, opaque)), "0", "11111", None),
    ("Or of key ranges",
      Seq(Or(LessThan("rowKey", k(50)), GreaterThan("rowKey", k(250)))), "1", "10110", None),
    ("Or with an unknown branch", Seq(Or(rk(50), opaque)), "0", "11111", None),
    ("Or of nested Ands",
      Seq(Or(And(GreaterThanOrEqual("rowKey", k(0)), LessThan("rowKey", k(100))),
        And(GreaterThanOrEqual("ts", 3000L), EqualTo("family", "d")))), "1", "10111", None),
    ("Or across columns", Seq(Or(EqualTo("family", "d"), EqualTo("ts", 1500L))), "1", "10111", None),
    ("16 branches expand",
      Seq(allTs, allTs, allTs, allTs, LessThan("rowKey", k(50))), "11111", "10010", None),
    ("a filter past 16 branches is dropped",
      Seq(allTs, allTs, allTs, allTs, Or(LessThan("rowKey", k(50)), GreaterThan("rowKey", k(250)))),
      "11111", "11111", None),
    ("unsatisfiable key set", Seq(rk(50), rk(250)), "11", "00010", Some(Nil)),
    ("intersected key sets",
      Seq(In("rowKey", Array(k(50), k(150))), In("rowKey", Array(k(150), k(250)))),
      "11", "01011", Some(Seq(150L)))
  )

  cases.foreach { case (name, filters, prunable, kept, keys) =>
    test(s"pruning decision: $name") {
      assert(filters.map(f => if (CellStoreSource.prunable(f)) '1' else '0').mkString == prunable)
      val bounds = CellStoreSource.boundsSetOf(filters)
      assert(blocks.map(bl => if (bounds.keep(bl)) '1' else '0').mkString == kept)
      assert(CellStoreSource.exactKeys(filters).map(_.map(java.nio.ByteBuffer.wrap(_).getLong)) == keys)
    }
  }
}
