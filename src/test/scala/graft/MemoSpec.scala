package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Memo

/** The session artifact memo's concurrency contract, made deterministic:
  * every key hashes to one bin, so a memo that held the map's bin lock
  * while evaluating would fail each case below every time. */
class MemoSpec extends AnyFunSuite {

  /** Equal by name, but every key collides in one hash bin. */
  private case class Key(name: String) {
    override def hashCode: Int = 0
  }

  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** Spin until `t` waits on a monitor or a park (bounded). */
  private def awaitParked(t: Thread): Unit = {
    val deadline = System.nanoTime() + 10.seconds.toNanos
    while (t.getState != Thread.State.BLOCKED &&
        t.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(t.getState == Thread.State.BLOCKED ||
      t.getState == Thread.State.WAITING, s"thread never parked: ${t.getState}")
  }

  test("a nested lookup of another key from inside an evaluation returns") {
    // control: the computeIfAbsent idiom the memo replaces throws here
    val chm = new ConcurrentHashMap[Key, Integer]()
    val e = intercept[IllegalStateException](
      chm.computeIfAbsent(Key("outer"), _ =>
        chm.computeIfAbsent(Key("inner"), _ => 2) + 1))
    assert(e.getMessage.contains("Recursive update"))

    val memo = new Memo[Key, Int]
    assert(memo(Key("outer"))(memo(Key("inner"))(2) + 1) == 3)
    assert(memo(Key("inner"))(fail("inner was memoized")) == 2)
    assert(memo(Key("outer"))(fail("outer was memoized")) == 3)
  }

  test("while one key's evaluation is blocked, another key still completes") {
    val memo = new Memo[Key, Int]
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = Future(memo(Key("a")) { started.countDown(); release.await(); 1 })
    try {
      assert(started.await(10, TimeUnit.SECONDS))
      assert(Await.result(Future(memo(Key("b"))(2)), 10.seconds) == 2)
    } finally release.countDown()
    assert(Await.result(a, 10.seconds) == 1)
  }

  test("two concurrent callers of one key share one evaluation") {
    val memo = new Memo[Key, Int]
    val evals = new AtomicInteger()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def slow(): Int = {
      evals.incrementAndGet(); started.countDown(); release.await(); 42
    }
    @volatile var second = -1
    val first = Future(memo(Key("k"))(slow()))
    assert(started.await(10, TimeUnit.SECONDS))
    val t = new Thread(() => second = memo(Key("k"))(slow()))
    t.start()
    try awaitParked(t) finally release.countDown()
    t.join(10000)
    assert(Await.result(first, 10.seconds) == 42)
    assert(second == 42)
    assert(evals.get == 1)
  }

  test("an evaluation that throws is retried by the next call") {
    val memo = new Memo[Key, Int]
    val evals = new AtomicInteger()
    val e = intercept[RuntimeException](memo(Key("k")) {
      evals.incrementAndGet(); throw new RuntimeException("first attempt")
    })
    assert(e.getMessage == "first attempt")
    assert(memo(Key("k")) { evals.incrementAndGet(); 7 } == 7)
    assert(memo(Key("k")) { evals.incrementAndGet(); 8 } == 7)
    assert(evals.get == 2)
  }
}
