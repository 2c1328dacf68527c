package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class StagedSpec extends SparkSpec {

  // every test keys its entries on a dir of its own, so no test sees
  // another's memo
  private def key(test: String): String = s"staged-spec/$test"

  test("8 concurrent callers of one key run its build exactly once") {
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val builds = new AtomicInteger(0)
      val start = new CountDownLatch(1)
      val calls = (1 to 8).map(_ => Future {
        start.await()
        Staged(spark, key("once"), "n") {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          42
        }
      })
      start.countDown()
      assert(Await.result(Future.sequence(calls), 60.seconds) == Seq.fill(8)(42))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a build may call another key's build (no deadlock, no " +
    "recursive-update error), also with concurrent callers") {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val inner = new AtomicInteger(0)
      def outer(): Int = Staged(spark, key("nested"), "outer") {
        Staged(spark, key("nested"), "inner") { inner.incrementAndGet(); 1 } + 1
      }
      val calls = (1 to 4).map(_ => Future(outer()))
      assert(Await.result(Future.sequence(calls), 60.seconds) == Seq.fill(4)(2))
      assert(Staged(spark, key("nested"), "inner")(-1) == 1)
      assert(inner.get == 1)
    } finally pool.shutdownNow()
  }

  test("a build that throws is not memoized: the next call retries") {
    val builds = new AtomicInteger(0)
    def call(): String = Staged(spark, key("retry"), "flaky") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("boom")
      "ok"
    }
    assert(intercept[IllegalStateException](call()).getMessage == "boom")
    assert(call() == "ok")
    assert(call() == "ok")
    assert(builds.get == 2)
  }

  test("different dirs and different names are different entries") {
    val builds = new AtomicInteger(0)
    def call(dir: String, name: String): Int =
      Staged(spark, dir, name)(builds.incrementAndGet())
    val a = call(key("a"), "x")
    assert(call(key("a"), "x") == a)
    val b = call(key("b"), "x")
    val c = call(key("a"), "y")
    assert(Set(a, b, c).size == 3)
    assert(builds.get == 3)
  }

  test("readCached returns the same handle for the same path") {
    val p = s"$sfDir/orders.parquet"
    assert(Tables.readCached(spark, p) eq Tables.readCached(spark, p))
    assert(!(Tables.readCached(spark, p) eq
      Tables.readCached(spark, s"$sfDir/customer.parquet")))
  }

  test("evicting a context deletes its scratch dirs and drops its memo") {
    val d = Staged.scratch(spark, "graft_staged_spec")
    val inMemo = Staged(spark, key("evict"), "table") {
      val t = Staged.scratch(spark, "graft_staged_spec_memo") + "/t"
      spark.range(3).write.parquet(t)
      t
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "f"), "x")
    val dirs = Seq(d, inMemo)
    assert(dirs.forall(p => new java.io.File(p).exists))
    // the suite-shared context stays up: evict exactly what its stop
    // would, without stopping it
    Staged.evict(spark.sparkContext)
    assert(dirs.forall(p => !new java.io.File(p).exists))
    val rebuilt = Staged(spark, key("evict"), "table")("rebuilt")
    assert(rebuilt == "rebuilt")
  }

  test("scratch dirs are unique and live under the given base") {
    val base = java.nio.file.Files.createTempDirectory("graft_staged_base")
    try {
      val a = Staged.scratch(spark, "graft_x", base.toString)
      val b = Staged.scratch(spark, "graft_x", base.toString)
      assert(a != b)
      assert(Seq(a, b).forall(p => java.nio.file.Paths.get(p).getParent == base))
      assert(new java.io.File(a).getName.startsWith("graft_x"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      ()
    }
  }
}
