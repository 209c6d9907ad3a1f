package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.SessionMemo
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The shared-build cache behind every query-module memo. */
class SessionMemoSpec extends AnyFunSuite {

  test("two concurrent callers of one key build it once and share the value") {
    val memo = new SessionMemo[String, AnyRef](2)
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          go.await()
          memo("k") { builds.incrementAndGet(); Thread.sleep(200); new Object }
        }
      }))
      go.countDown()
      val values = calls.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values(0) eq values(1))
    } finally pool.shutdownNow()
  }

  test("a hit refreshes the entry's place in the LRU order") {
    val memo = new SessionMemo[String, String](2)
    memo("a")("A"); memo("b")("B")
    assert(memo("a")(fail("a hit must not rebuild")) == "A")
    memo("c")("C")
    assert(memo.keySet.asScala == Set("a", "c"), "b was least recently used")
  }

  test("the memo holds at most capacity entries, evicting the eldest") {
    val memo = new SessionMemo[Int, String](4)
    for (i <- 1 to 6) memo(i)(i.toString)
    assert(memo.size == 4)
    assert(memo.keySet.asScala.toSeq == Seq(3, 4, 5, 6))
    var rebuilt = false
    memo(1) { rebuilt = true; "1" }
    assert(rebuilt, "an evicted key is built again")
  }
}
