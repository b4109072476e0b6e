package graft.perfbench

import java.nio.file.Files

/** The benchmark's own checks, without Spark: a job that throws and a job
  * whose result is wrong both count as failures and get no time; the
  * tail percentile keeps ten samples beyond it; artifacts land whole;
  * interrupted tables are removed. Returns the process exit code. */
object SelfTest {
  private var failures = 0
  private def expect(cond: Boolean, what: String): Unit =
    if (cond) println(s"ok   $what") else { failures += 1; println(s"FAIL $what") }

  def run(): Int = {
    val loop = new Loop("selftest")
    val want = 42
    def check(r: Int) = if (r == want) None else Some(s"$r != $want")
    val good = loop.runOne(() => 42, check)
    val thrown = loop.runOne(() => throw new IllegalStateException("boom"), check)
    val wrong = loop.runOne(() => 41, check)
    expect(good.isDefined && loop.times.size == 1, "a correct job is timed")
    expect(thrown.isEmpty && wrong.isEmpty, "a thrown job and a wrong job return no time")
    expect(loop.attempted == 3 && loop.failed == 2, "both count as failed attempts")
    expect(loop.times.size == 1, "only the correct job's time is recorded")
    expect(loop.failures.exists(_.contains("boom")) && loop.failures.exists(_.contains("41 != 42")),
      "each failure keeps its message")
    val badCheck = new Loop("selftest")
    badCheck.runOne(() => 1, (_: Int) => throw new RuntimeException("check broke"))
    expect(badCheck.failed == 1 && badCheck.times.isEmpty, "a check that throws counts as a failure")

    val xs = (1 to 30).map(_.toDouble)
    expect(Stats.tail(xs) == ((20.0, 100.0 * 20 / 30)), "tail of 30 samples is the 20th, 10 beyond")
    expect(Stats.tail(xs.take(12)) == ((12.0, 100.0)), "tail of 12 samples is the slowest")
    expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")

    val dir = Files.createTempDirectory("perfbench-selftest")
    try {
      val target = Store.runStamped(dir, "artifact")
      Store.writeAtomic(target, Json(Map("a" -> 1.5, "b" -> "x\"y")))
      val again = Store.runStamped(dir, "artifact")
      expect(again != target, "a second run gets its own artifact name")
      expect(dir.toFile.list().toSeq == Seq(target.getFileName.toString), "no temp file is left behind")
      expect(Json.numbers(new String(Files.readAllBytes(target))) == Map("a" -> 1.5), "artifact reads back")

      val cache = new TableCache(dir.resolve("data").toFile, keep = 1)
      val partial = cache.dirFor("w", 1, 10, 1); partial.mkdirs()
      new java.io.File(partial, "_SUCCESS").createNewFile()
      cache.removeIncomplete()
      expect(!partial.exists(), "a table without its metadata is removed")
      val done = Seq(1L, 2L).map { s =>
        val d = cache.dirFor("w", s, 10, 1); d.mkdirs()
        new java.io.File(d, "_SUCCESS").createNewFile()
        Store.writeAtomic(new java.io.File(d, cache.MetaFile).toPath, "{}")
        cache.touchAndEvict("w", d)
        Thread.sleep(20) // distinct last-use times
        d
      }
      expect(cache.complete(done(1)) && !done(0).exists(), "older tables beyond the limit are evicted")
    } finally Store.deleteTree(dir.toFile)

    println(if (failures == 0) "selftest passed" else s"selftest: $failures check(s) failed")
    if (failures == 0) 0 else 1
  }
}
