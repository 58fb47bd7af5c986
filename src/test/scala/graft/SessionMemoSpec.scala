package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class SessionMemoSpec extends AnyFunSuite {

  private def sparkFor(tag: String) =
    GraftSession.builder(master = "local[2]", shufflePartitions = 2)
      .appName(s"memo-$tag")
      .getOrCreate()

  test("same (session, dir) computes once; distinct dirs compute separately") {
    val spark = sparkFor("a")
    val memo = new SessionMemo[String]
    val calls = new AtomicInteger(0)
    def get(dir: String) =
      memo.getOrCompute(spark, dir) { calls.incrementAndGet(); s"model-$dir" }
    assert(get("d1") == "model-d1")
    assert(get("d1") == "model-d1")
    assert(calls.get() == 1, "second lookup must hit the memo")
    assert(get("d2") == "model-d2")
    assert(calls.get() == 2)
  }

  test("training runs OUTSIDE the global lock: a slow key does not serialize another key") {
    // the round-12 advice scenario: key A's training blocks until key B's
    // training has COMPLETED. If compute ran under the global monitor
    // (the pre-r12 shape), this deadlocks: A holds the lock while
    // waiting on B, and B can never enter. With the lazy-cell design the
    // lock covers only map insertion, so both proceed.
    val spark = sparkFor("b")
    val memo = new SessionMemo[String]
    val bDone = new CountDownLatch(1)
    val aEntered = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val ta = new Thread(() => {
      results.put("a", memo.getOrCompute(spark, "slow") {
        aEntered.countDown()
        // waits for the OTHER key's training — only possible when the
        // global monitor is not held across compute
        assert(bDone.await(30, TimeUnit.SECONDS), "deadlock: global lock held during compute")
        "A"
      })
    })
    val tb = new Thread(() => {
      assert(aEntered.await(30, TimeUnit.SECONDS))
      results.put("b", memo.getOrCompute(spark, "fast") { "B" })
      bDone.countDown()
    })
    ta.start(); tb.start()
    ta.join(60000); tb.join(60000)
    assert(!ta.isAlive && !tb.isAlive, "threads must terminate")
    assert(results.get("a") == "A" && results.get("b") == "B")
  }

  test("same-key racers serialize on the cell and both observe one computation") {
    val spark = sparkFor("c")
    val memo = new SessionMemo[Int]
    val calls = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val got = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val threads = (1 to 4).map(_ => new Thread(() => {
      start.await()
      got.add(memo.getOrCompute(spark, "shared") {
        Thread.sleep(50); calls.incrementAndGet()
      })
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(30000))
    assert(calls.get() == 1, s"model must train once, trained ${calls.get()} times")
    assert(got.size == 4 && got.toArray.forall(_ == 1))
  }
}
