package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[IndexCache.artifact]], the one entry point to the per-JVM artifact
  * cache: one build per key under concurrency, no cached failures,
  * invalidation by the data dir's content, and build seconds per family.
  * Each test uses its own family names, so the JVM-wide cache other
  * suites fill cannot serve them. */
class IndexCacheSpec extends AnyFunSuite {

  private def dataDir(content: String): Path = {
    val d = Files.createTempDirectory("idx_cache_spec")
    Files.writeString(d.resolve("part-0"), content)
    d
  }

  /** A build that counts its runs and leaves its directory behind. */
  private def counted(builds: AtomicInteger, sleepMs: Long = 0L): String => Unit = { p =>
    builds.incrementAndGet()
    Thread.sleep(sleepMs)
    Files.createDirectories(Paths.get(p))
  }

  test("concurrent callers of one key run its build once") {
    val d = dataDir("a").toString
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(6)
    try {
      val calls = (1 to 6).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          IndexCache.artifact("spec_once", d)(counted(builds, sleepMs = 300))
        }
      }))
      start.countDown()
      val paths = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(paths.toSet.size == 1, paths)
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a failed build rethrows to its caller, and the next caller rebuilds") {
    val d = dataDir("b").toString
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException](IndexCache.artifact("spec_fail", d) { _ =>
      builds.incrementAndGet()
      throw new IllegalStateException("build failed")
    })
    assert(e.getMessage == "build failed")
    val p = IndexCache.artifact("spec_fail", d)(counted(builds))
    assert(builds.get == 2 && Files.isDirectory(Paths.get(p)))
    assert(IndexCache.artifact("spec_fail", d)(counted(builds)) == p)
    assert(builds.get == 2, "a built artifact is served, not rebuilt")
  }

  test("rewriting a data dir at the same path rebuilds the artifact") {
    val d = dataDir("version 1")
    val builds = new AtomicInteger()
    val p1 = IndexCache.artifact("spec_data", d.toString)(counted(builds))
    assert(IndexCache.artifact("spec_data", d.toString)(counted(builds)) == p1)
    Files.writeString(d.resolve("part-0"), "version 2, longer")
    val p2 = IndexCache.artifact("spec_data", d.toString)(counted(builds))
    assert(p2 != p1)
    assert(builds.get == 2)
  }

  test("different params give different artifacts, and their build seconds accrue under the family") {
    val d = dataDir("c").toString
    val builds = new AtomicInteger()
    val before = IndexCache.buildSeconds.getOrElse("spec_params", 0.0)
    val a = IndexCache.artifact("spec_params", d, 8, "x")(counted(builds, sleepMs = 100))
    val b = IndexCache.artifact("spec_params", d, 16, "x")(counted(builds, sleepMs = 100))
    assert(a != b)
    assert(IndexCache.artifact("spec_params", d, 8, "x")(counted(builds)) == a)
    assert(builds.get == 2)
    Seq(a, b).foreach(p => assert(Paths.get(p).getFileName.toString.startsWith("spec_params_"), p))
    val secs = IndexCache.buildSeconds
    assert(secs("spec_params") - before >= 0.2, secs)
    assert(secs.keySet.filter(_.startsWith("spec_params")) == Set("spec_params"), secs)
  }
}
