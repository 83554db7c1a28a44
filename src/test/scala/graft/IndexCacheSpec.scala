package graft

import graft.operators.IndexCache
import org.scalatest.funsuite.AnyFunSuite

class IndexCacheSpec extends AnyFunSuite {

  private def rmdirs(paths: Iterable[String]): Unit =
    paths.foreach(p => new java.io.File(p).delete())

  test("a build may nest getOrBuild for other keys; each key builds exactly once") {
    // one chain of 300 nested builds: every key's build runs inside its
    // parent's. With the builds under the map's bin locks, any two keys
    // of the chain sharing a bin threw "Recursive update".
    val n = 300
    val builds = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    def chain(i: Int): String =
      IndexCache.getOrBuild("spec_nested", s"dir$i") { _ =>
        builds.merge(s"dir$i", 1, (a: Integer, b: Integer) => a + b)
        if (i + 1 < n) chain(i + 1)
      }
    val first = (0 until n).map(i => chain(i))
    assert(builds.size == n)
    assert((0 until n).forall(i => builds.get(s"dir$i") == 1))
    // every later call is a hit on the same path
    assert((0 until n).map(i => chain(i)) == first)
    assert((0 until n).forall(i => builds.get(s"dir$i") == 1))
    rmdirs(first)
  }

  test("a failed build is not cached: the next call builds again") {
    var attempts = 0
    val boom = intercept[IllegalStateException] {
      IndexCache.getOrBuild("spec_failing", "dir") { _ =>
        attempts += 1
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage == "build failed")
    val p = IndexCache.getOrBuild("spec_failing", "dir")(_ => attempts += 1)
    assert(attempts == 2)
    assert(IndexCache.getOrBuild("spec_failing", "dir")(_ => attempts += 1) == p)
    assert(attempts == 2)
    rmdirs(Seq(p))
  }
}
