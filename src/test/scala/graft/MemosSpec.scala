package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Memos

/** The memo layer's rules, on plain values (no Spark): one build per
  * key however many threads ask, failures rethrown and not cached,
  * builds free to call other memos, token changes and `clearAll`
  * forcing a rebuild. */
class MemosSpec extends AnyFunSuite {
  private def onThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val start = new CountDownLatch(1)
      val fs = (0 until n).map(i => Future { start.await(); body(i) })
      start.countDown()
      Await.result(Future.sequence(fs), 60.seconds)
    } finally pool.shutdownNow()
  }

  test("8 threads on one key run the build exactly once") {
    val m = Memos.memo[String, Int]()
    val builds = new AtomicInteger()
    val got = onThreads(8) { _ =>
      m("k") { Thread.sleep(200); builds.incrementAndGet() }
    }
    assert(builds.get == 1)
    assert(got.toSet == Set(1))
  }

  test("a failed build is rethrown to every waiter and the next call rebuilds") {
    val m = Memos.memo[String, Int]()
    val builds = new AtomicInteger()
    val waiting = new CountDownLatch(1)
    val outcomes = onThreads(4) { i =>
      if (i > 0) waiting.await(5, TimeUnit.SECONDS)
      scala.util.Try(m("k") {
        builds.incrementAndGet()
        waiting.countDown()
        Thread.sleep(300)
        throw new IllegalStateException("boom")
      })
    }
    assert(builds.get == 1, "waiters must share the one failing build")
    assert(outcomes.forall(_.failed.toOption.exists(_.getMessage == "boom")))
    assert(m("k") { builds.incrementAndGet(); 42 } == 42)
    assert(builds.get == 2)
    assert(m("k")(-1) == 42, "the successful rebuild is cached")
  }

  test("a build that calls a second memo (and its own memo on another key) completes") {
    val outer = Memos.memo[Int, Int]()
    val inner = Memos.memo[Int, Int]()
    val got = onThreads(8) { i =>
      outer(i % 2) {
        inner(i % 2)(10 * (i % 2)) + outer(100 + i % 2)(1)
      }
    }
    assert(got.toSet == Set(1, 11))
  }

  test("a build that asks for its own key fails loudly instead of hanging") {
    val m = Memos.memo[Int, Int]()
    def self(): Int = m(1)(self() + 1)
    val e = intercept[IllegalStateException](self())
    assert(e.getMessage.contains("own key"))
    assert(m(1)(5) == 5, "the failed cell is dropped")
  }

  test("a changed token replaces the entry; clearAll makes every memo rebuild") {
    val token = new AtomicReference[String]("v1")
    val a = Memos.memo[String, String](_ => token.get)
    val b = Memos.memo[String, Int]()
    val builds = new AtomicInteger()
    def readA() = a("k") { builds.incrementAndGet(); token.get }
    assert(readA() == "v1" && readA() == "v1" && builds.get == 1)
    token.set("v2")
    assert(readA() == "v2" && builds.get == 2)
    assert(b("k")(1) == 1)
    Memos.clearAll()
    assert(readA() == "v2" && builds.get == 3)
    assert(b("k")(2) == 2)
  }
}
