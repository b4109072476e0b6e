package graft.runtime

import org.scalatest.funsuite.AnyFunSuite

class BoundedCacheSpec extends AnyFunSuite {
  /** a cache of strings whose weight is their length */
  def cache(maxEntries: Int, maxBytes: Long) =
    new BoundedCache[String, String](maxEntries, maxBytes, (_, v) => v.length.toLong)

  test("evicts the least recently used entry beyond the entry count") {
    val c = cache(3, 1000)
    Seq("a", "b", "c").foreach(k => c.put(k, k))
    assert(c.get("a") == "a") // a is now more recent than b and c
    c.put("d", "d")
    assert(c.size == 3 && c.evictions == 1)
    assert(c.get("b") == null)
    assert(Seq("a", "c", "d").forall(k => c.get(k) == k))
  }

  test("evicts by bytes; an entry heavier than the bound is returned, not stored") {
    val c = cache(100, 10)
    c.put("x", "xxxx"); c.put("y", "yyyy")
    assert(c.bytes == 8)
    c.get("x")
    c.put("z", "zzzz") // 12 bytes > 10: the oldest, y, goes
    assert(c.bytes == 8 && c.get("y") == null && c.get("x") == "xxxx" && c.get("z") == "zzzz")
    val big = "b" * 11
    assert(c.put("big", big) eq big)
    assert(c.get("big") == null && c.size == 2 && c.bytes == 8)
  }

  test("a scan over more distinct keys than fit evicts in batches, keeping a hot key") {
    val c = cache(100, 1L << 20)
    c.put("hot", "hot")
    var evictionsSeen = Set(0L)
    val sizes = (0 until 1000).map { i =>
      assert(c.get("hot") == "hot")
      c.put(s"k$i", "v")
      evictionsSeen += c.evictions
      c.size
    }
    // once full, each overflow frees down to 90 entries: 11 at a time, not 1
    val full = sizes.drop(99)
    assert(full.max == 100 && full.min == 90)
    assert(evictionsSeen.size <= 1 + 1000 / 11 && c.evictions == 1001 - c.size)
    assert(c.get("hot") == "hot" && c.get("k999") == "v" && c.get("k0") == null)
  }

  test("a byte overflow frees down to 90% of the byte bound") {
    val c = cache(1000, 100)
    (0 until 10).foreach(i => c.put(s"k$i", "x" * 10)) // 100 bytes: full
    assert(c.evictions == 0 && c.bytes == 100)
    c.put("k10", "x" * 10)
    assert(c.bytes == 90 && c.size == 9 && c.evictions == 2)
    assert(c.get("k0") == null && c.get("k1") == null && c.get("k10") == "xxxxxxxxxx")
  }

  test("a second put of a present key keeps the first value") {
    val c = cache(4, 100)
    val first = new String("v")
    c.put("k", first)
    assert(c.put("k", new String("v")) eq first)
    assert(c.size == 1 && c.bytes == 1)
  }
}
