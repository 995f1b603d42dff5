package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TrainingData

/** The session-artifact memo under nested builds: the registry's real
  * shape is an artifact whose build reads another memoized artifact
  * (`tokenized` inside the signature/index/pair builds), keyed per
  * application id.
  */
class MemoSpec extends AnyFunSuite {

  private def daemonPool(n: Int) = Executors.newFixedThreadPool(n, new ThreadFactory {
    def newThread(r: Runnable): Thread = { val t = new Thread(r); t.setDaemon(true); t }
  })

  test("nested memo builds over 200 keys from 4 threads: no Recursive update, one build per key") {
    val run = UUID.randomUUID().toString
    val builds = new ConcurrentHashMap[String, AtomicInteger]()
    def built(key: String): Unit =
      builds.computeIfAbsent(key, _ => new AtomicInteger()).incrementAndGet()
    def inner(app: Int): String = {
      val key = s"tokenized|$run-$app|dir"
      TrainingData.memo(key) { built(key); s"toks-$app" }
    }
    def outer(app: Int): String = {
      val key = s"signatures|$run-$app|dir"
      TrainingData.memo(key) { built(key); inner(app) + "-sig" }
    }

    val apps = 0 until 200
    val pool = daemonPool(4)
    val ec = ExecutionContext.fromExecutor(pool)
    try {
      val work = (0 until 4).map { w =>
        // Each thread walks the keys in its own order, so threads meet on
        // both cold keys and keys another thread is building.
        val order = new scala.util.Random(w).shuffle(apps.toVector)
        Future(order.map(app => app -> outer(app)))(ec)
      }
      val results = work.map(Await.result(_, 60.seconds))
      results.foreach(_.foreach { case (app, v) => assert(v == s"toks-$app-sig") })
      assert(builds.size == 2 * apps.size)
      builds.forEach((k, n) => assert(n.get == 1, s"$k built ${n.get} times"))
    } finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("a failed build is not cached; the next call rebuilds") {
    val key = s"flaky|${UUID.randomUUID()}"
    val attempts = new AtomicInteger()
    val boom = intercept[IllegalStateException] {
      TrainingData.memo(key) { attempts.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(boom.getMessage == "boom")
    assert(TrainingData.memo(key) { attempts.incrementAndGet(); "ok" } == "ok")
    assert(TrainingData.memo(key) { attempts.incrementAndGet(); "stale" } == "ok")
    assert(attempts.get == 2)
  }
}
