package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionMemo

/** The per-session LRU memo behind the queries' shared builds — plain
  * JVM, no Spark session. */
class SessionMemoSpec extends AnyFunSuite {

  private final class Box(val key: String)

  test("a hit returns the same instance and does not build again") {
    val memo = new SessionMemo[String, Box](2)
    var builds = 0
    val a = memo("a") { builds += 1; new Box("a") }
    val b = memo("a") { builds += 1; new Box("a") }
    assert(a eq b)
    assert(builds == 1)
  }

  test("capacity 2 evicts the least recently accessed key") {
    val memo = new SessionMemo[String, Box](2)
    var built = Vector.empty[String]
    def get(k: String) = memo(k) { built :+= k; new Box(k) }
    get("a"); get("b")
    get("a") // refreshes a, so b is now the eldest
    get("c") // evicts b
    get("a") // still cached
    assert(built == Vector("a", "b", "c"))
    get("b") // rebuilt after its eviction
    assert(built == Vector("a", "b", "c", "b"))
  }

  test("release runs exactly once, on the evicted value only") {
    var released = Vector.empty[Box]
    val memo = new SessionMemo[String, Box](2, v => released :+= v)
    val a = memo("a")(new Box("a"))
    memo("b")(new Box("b"))
    memo("a")(new Box("a")); memo("b")(new Box("b"))
    assert(released.isEmpty)
    memo("c")(new Box("c"))
    assert(released.size == 1 && (released.head eq a))
    memo("b")(new Box("b")); memo("c")(new Box("c"))
    assert(released.size == 1)
  }

  test("a release that throws does not propagate") {
    val memo = new SessionMemo[String, Box](1, _ => throw new IllegalStateException("boom"))
    memo("a")(new Box("a"))
    val b = memo("b")(new Box("b"))
    assert(memo("b")(new Box("other")) eq b)
  }

  test("a build that throws caches nothing") {
    val memo = new SessionMemo[String, Box](2)
    intercept[RuntimeException](memo("a")(throw new RuntimeException("build failed")))
    var builds = 0
    val a = memo("a") { builds += 1; new Box("a") }
    assert(memo("a")(new Box("other")) eq a)
    assert(builds == 1)
  }
}
