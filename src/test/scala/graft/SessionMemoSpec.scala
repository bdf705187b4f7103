package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SessionMemo

/** The per-(session, key) memo behind SparkEntry's shared builds.
  *
  * Eviction of a stopped session's entries is not exercised here: it
  * needs a stopped session, and stopping the shared test session would
  * break every other suite in the JVM. */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark

  test("a second call with the same session and key returns the cached instance without rebuilding") {
    val memo = new SessionMemo[String, Object]
    val builds = new AtomicInteger
    val a = memo(spark, "dir") { builds.incrementAndGet(); new Object }
    val b = memo(spark, "dir") { builds.incrementAndGet(); new Object }
    assert(a eq b)
    assert(builds.get == 1)
  }

  test("different keys build separately") {
    val memo = new SessionMemo[(String, Boolean), String]
    val builds = new AtomicInteger
    def get(k: (String, Boolean)) = memo(spark, k) { builds.incrementAndGet(); s"$k" }
    assert(get(("dir", true)) == "(dir,true)")
    assert(get(("dir", false)) == "(dir,false)")
    assert(get(("other", true)) == "(other,true)")
    assert(get(("dir", true)) == "(dir,true)")
    assert(builds.get == 3)
  }

  test("a build that throws caches nothing, so the next call builds again") {
    val memo = new SessionMemo[String, String]
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      memo(spark, "dir") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(memo(spark, "dir") { builds.incrementAndGet(); "built" } == "built")
    assert(memo(spark, "dir") { builds.incrementAndGet(); "rebuilt" } == "built")
    assert(builds.get == 2)
  }

  test("a build may call another memo (the docPairs -> docShingles shape)") {
    val inner = new SessionMemo[String, String]
    val outer = new SessionMemo[String, String]
    val innerBuilds = new AtomicInteger
    def shingles(dir: String) = inner(spark, dir) { innerBuilds.incrementAndGet(); s"shingles($dir)" }
    def pairs(dir: String) = outer(spark, dir) { s"pairs(${shingles(dir)})" }
    assert(pairs("dir") == "pairs(shingles(dir))")
    assert(shingles("dir") == "shingles(dir)")
    assert(innerBuilds.get == 1, "the nested build is cached in its own memo")
  }
}
