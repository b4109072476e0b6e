package graft.runtime

import org.scalatest.funsuite.AnyFunSuite

class BoundedCacheSpec extends AnyFunSuite {
  /** a cache of strings whose weight is their length */
  def cache(maxEntries: Int, maxBytes: Long) =
    new BoundedCache[String, String](maxEntries, maxBytes, (_, v) => v.length.toLong)

  test("an insert past the entry count clears the cache first") {
    val c = cache(3, 1000)
    Seq("a", "b", "c").foreach(k => c.put(k, k))
    assert(c.size == 3 && c.evictions == 0 && c.get("a") == "a")
    c.put("d", "d")
    assert(c.size == 1 && c.evictions == 3 && c.bytes == 1)
    assert(c.get("d") == "d" && Seq("a", "b", "c").forall(c.get(_) == null))
  }

  test("evicts by bytes; an entry heavier than the bound is returned, not stored") {
    val c = cache(100, 10)
    c.put("x", "xxxx"); c.put("y", "yyyy")
    assert(c.bytes == 8 && c.size == 2)
    c.put("w", "ww") // 10 bytes: exactly at the bound, nothing goes
    assert(c.bytes == 10 && c.evictions == 0)
    c.put("z", "zzzz") // 14 bytes > 10: the cache is cleared first
    assert(c.bytes == 4 && c.size == 1 && c.evictions == 3)
    assert(c.get("x") == null && c.get("y") == null && c.get("z") == "zzzz")
    val big = "b" * 11
    assert(c.put("big", big) eq big)
    assert(c.get("big") == null && c.size == 1 && c.bytes == 4 && c.evictions == 3)
  }

  test("a second put of a present key keeps the first value") {
    val c = cache(4, 100)
    val first = new String("v")
    c.put("k", first)
    assert(c.put("k", new String("v")) eq first)
    assert(c.size == 1 && c.bytes == 1)
  }
}
