package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.Tables

/** One cross-query memo: a map from key to a per-key cell holding the
  * value's build. Built only through [[Memos.memo]], which registers it
  * for [[Memos.clearAll]].
  *
  * Every entry carries the validity token `token(key)` computed when it
  * was installed. A lookup whose token no longer matches REPLACES the
  * entry (the stale value becomes unreachable, so the blocks it pinned
  * with `localCheckpoint` are released) and builds afresh. */
final class Memo[K, V] private[operators] (token: K => Any) {
  private final class Cell(val token: Any) {
    val result: Promise[V] = Promise[V]()
    val owner: Thread = Thread.currentThread()
  }
  private val cells = new ConcurrentHashMap[K, Cell]()

  /** The value for `key`, running `build` at most once per key (and
    * token) however many threads ask. */
  def apply(key: K)(build: => V): V = {
    val t = token(key)
    val hit = cells.get(key)
    val cell =
      if (hit != null && hit.token == t) hit
      else {
        val mine = new Cell(t)
        // the map lock covers only this swap; the build runs outside it
        val installed = cells.compute(key, (_, old) =>
          if (old != null && old.token == t) old else mine)
        if (installed eq mine) {
          try mine.result.success(build)
          catch {
            case e: Throwable =>
              cells.remove(key, mine)
              mine.result.failure(e)
              throw e
          }
        }
        installed
      }
    if (!cell.result.isCompleted && (cell.owner eq Thread.currentThread()))
      throw new IllegalStateException(s"memo build for $key asked for its own key")
    Await.result(cell.result.future, Duration.Inf)
  }

  private[operators] def clear(): Unit = cells.clear()
}

/** The engine's cross-query memos (cluster labels, IVF index, PQ
  * codebooks, trained tokenizers, stage frames, table scan frames).
  * Every memo is a [[Memo]] made here, and the rules are the same for
  * all of them:
  *  - per-key cell: the first caller of a key installs a cell and runs
  *    the build; concurrent callers of that key wait for its result,
  *    callers of other keys do not wait at all;
  *  - no lock across a build: the map is locked only to install or
  *    replace a cell, so a build may call other memos (nested memos
  *    are the norm: v4 quality → v4 stages, semantic keep → IVF index
  *    → embeddings count);
  *  - failures are not cached: a build that throws rethrows to every
  *    waiter and drops its cell, so the next call rebuilds;
  *  - fingerprint invalidation: a memo keyed on (session, data dir, …)
  *    is valid only while [[Tables.fingerprint]] of the dir is
  *    unchanged, so a directory rewritten in place is rebuilt, never
  *    served stale; a memo keyed on a plan uses the fingerprint of the
  *    plan's file scans ([[planToken]]);
  *  - `clearAll` drops every entry: `Bench` and the benchmark's cold
  *    mode call it so every timed run pays full build cost, and
  *    long-lived JVMs that cycle SparkSessions call it to release the
  *    `localCheckpoint`ed frames (the keys hold session references, so
  *    stopped sessions otherwise pin executor blocks). */
object Memos {
  private val memos = new CopyOnWriteArrayList[Memo[_, _]]()
  private def register[K, V](m: Memo[K, V]): Memo[K, V] = { memos.add(m); m }

  /** A memo whose entries stay valid while `token(key)` is unchanged
    * (by default, until [[clearAll]]). */
  def memo[K, V](token: K => Any = (_: Any) => ()): Memo[K, V] =
    register(new Memo[K, V](token))
  /** A memo keyed on (session, data dir). */
  def dirMemo[V]: Memo[(SparkSession, String), V] =
    memo[(SparkSession, String), V](k => Tables.fingerprint(k._1, k._2))
  /** A memo keyed on (session, canonicalized plan). */
  def planMemo[V]: Memo[(SparkSession, LogicalPlan), V] =
    memo[(SparkSession, LogicalPlan), V](k => planToken(k._1, k._2))

  /** The fingerprints of every file-scan root under `plan`: a plan
    * canonicalizes identically before and after its files are
    * rewritten, so its key alone cannot tell them apart. */
  private def planToken(s: SparkSession, plan: LogicalPlan): Seq[Any] =
    plan.collect { case r: LogicalRelation => r.relation }.flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(p => Tables.fingerprint(s, p.toString))
      case _ => Nil
    }

  def clearAll(): Unit = memos.forEach(_.clear())
}
