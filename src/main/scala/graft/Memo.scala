package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/**
 * Build-once memo for the artifacts an engine session builds once and then
 * reuses: trained models, built indexes and stores, truth sets, tuning
 * decisions. Builds are deterministic, so a memoized value equals a fresh
 * one; the memo only saves the rebuild. Every memo site owns its instance,
 * keyed by what its build reads (corpus dir, parameters). The policies:
 *
 *  - (a) Build once per key. `apply(key)(build)` records the value only
 *    after `build` returns, so a build that throws leaves no entry and the
 *    next call rebuilds. Concurrent callers of one key wait for the running
 *    build. No map lock is held while building, so a build may call any
 *    memo's `apply`, this one included, for another key.
 *  - (b) Exactly one value. [[only]] is the value when exactly one key has
 *    been built. The oracle generators embed the one model the session's
 *    queries used; a session over two corpora gets None, never the wrong
 *    model.
 *  - (c) Rebuild stale values. An entry for which `stale` holds is rebuilt
 *    on the next call. [[Memo.frames]] marks a DataFrame stale once its
 *    SparkContext has stopped: checkpoint blocks die with their context.
 *  - (d) Cache collected rows. [[Memo.Collected]] collects a result's
 *    `(schema, rows)` to the driver once and serves a local DataFrame over
 *    them, which stays valid across session restarts in one JVM.
 */
final class Memo[K, V](stale: V => Boolean) {
  def this() = this(_ => false)

  private final class Cell { @volatile var value: Option[V] = None }

  private val cells = new ConcurrentHashMap[K, Cell]()

  private def fresh(cell: Cell): Option[V] = cell.value.filterNot(stale)

  def apply(key: K)(build: => V): V = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    fresh(cell).getOrElse(cell.synchronized {
      fresh(cell).getOrElse {
        val v = build
        cell.value = Some(v)
        v
      }
    })
  }

  /** The value when exactly one key has been built, else None. */
  def only: Option[V] = built.map(_._2) match {
    case Seq(v) => Some(v)
    case _ => None
  }

  /** Every built (key, value) pair. */
  def built: Seq[(K, V)] =
    cells.asScala.toSeq.flatMap { case (k, c) => c.value.map(k -> _) }

  /** Forget `key`: the next call rebuilds it. */
  def remove(key: K): Unit = { cells.remove(key); () }
}

object Memo {

  /** True once the SparkContext that `df` was built on has stopped. */
  def stopped(df: DataFrame): Boolean = df.sparkSession.sparkContext.isStopped

  /** A memo of DataFrames, rebuilt once their SparkContext has stopped. */
  def frames[K]: Memo[K, DataFrame] = new Memo[K, DataFrame](stopped)

  /** A memo of results held as collected driver rows. */
  final class Collected[K] {
    private val rows = new Memo[K, (StructType, Seq[Row])]

    /** `df`'s rows, collected once per key, as a DataFrame of `spark`. */
    def apply(spark: SparkSession, key: K)(df: => DataFrame): DataFrame = {
      val (schema, rs) = rows(key) { val d = df; (d.schema, d.collect().toSeq) }
      spark.createDataFrame(rs.asJava, schema)
    }
  }
}
