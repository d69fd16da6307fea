package graft

import java.nio.file.Files

/** The bench driver's own guards: the headline that nulls instead of
  * shrinking on failure, the exclusivity lock and the co-tenancy probe. */
class BenchSpec extends GraftSuite {

  test("bench headline: any failure nulls value instead of shrinking it") {
    assert(Bench.headlineJson(0, 12.3456) == "\"value\":12.346")
    val failed = Bench.headlineJson(2, 9.9)
    assert(failed.contains("\"value\":null") &&
      failed.contains("\"total_ok_queries\":9.900"))
  }

  test("bench exclusivity lock: held-by-live-pid refuses, dead-pid lock is " +
      "stale and replaced") {
    // serialize with any real bench via the same primitive under test
    val (ok, stale1) = Bench.acquireLock()
    assume(ok, "a real bench run holds the lock — skip")
    assert(!stale1)
    try {
      // second acquire while the holder (this JVM) is alive: refused
      val (again, _) = Bench.acquireLock()
      assert(!again)
      // dead-pid lock: stale → replaced
      java.nio.file.Files.write(Bench.LockPath,
        "999999999".getBytes("UTF-8"))
      val (reacquired, stale2) = Bench.acquireLock()
      assert(reacquired && stale2)
    } finally java.nio.file.Files.deleteIfExists(Bench.LockPath)
  }

  test("co-tenancy probe: loadSample reads real host state; cotenancyClean " +
      "flags the r6 double-run shape (a co-tenant JVM, or load1 past the " +
      "all-core ceiling) and passes a clean window") {
    val s = Bench.loadSample("test")
    assert(s.load1 >= 0.0) // /proc/loadavg parsed
    // this JVM and its sbt ancestor chain are excluded from the count, so
    // a quiet box reads 0 co-tenants; never negative on this platform
    assert(s.otherJava >= 0)
    val clean = Seq(Bench.LoadSample("a", 30.0, 28.0, 0))
    val cotenantJvm = clean :+ Bench.LoadSample("b", 33.0, 30.0, 1)
    val steadyOversub = clean :+ Bench.LoadSample("c", 64.0, 61.0, 0)
    assert(Bench.cotenancyClean(clean))
    assert(!Bench.cotenancyClean(cotenantJvm))  // the r6 failure, directly
    assert(!Bench.cotenancyClean(steadyOversub)) // even if the JVM scan missed
  }

  test("co-tenancy dry run: a LIVE co-tenant JVM (the r6 double-run " +
      "scenario) is seen by the probe and flags the window") {
    val baseline = Bench.loadSample("before").otherJava
    // a real second java process (single-file source launch), NOT an
    // ancestor of this JVM — exactly what a concurrent bench looks like
    val hog = Files.createTempFile("CoTenant", ".java")
    Files.write(hog, ("public class CoTenant { public static void main" +
      "(String[] a) throws Exception { Thread.sleep(30000); } }").getBytes)
    val proc = new ProcessBuilder("java", hog.toString).start()
    try {
      // the process image is `java` from exec; give the fork a moment
      Thread.sleep(1000)
      val during = Bench.loadSample("during")
      assert(during.otherJava >= baseline + 1,
        s"probe missed the co-tenant: before=$baseline during=${during.otherJava}")
      assert(!Bench.cotenancyClean(Seq(during)))
    } finally {
      proc.destroyForcibly()
      Files.deleteIfExists(hog)
    }
  }

  test("bench lock staleness is start-time-exact: a lock whose pid was " +
      "recycled by another live process is stale, not a permanent refusal") {
    val (ok, _) = Bench.acquireLock()
    assume(ok, "a real bench run holds the lock — skip")
    java.nio.file.Files.deleteIfExists(Bench.LockPath)
    try {
      // pid 1 is alive on any Linux box, but the recorded start time can
      // never match it — the pre-fix liveness check (/proc/<pid> exists)
      // would refuse forever; the start-time check sees a recycled pid
      java.nio.file.Files.write(Bench.LockPath, "1 999999999".getBytes("UTF-8"))
      val (reacquired, stale) = Bench.acquireLock()
      assert(reacquired && stale)
    } finally java.nio.file.Files.deleteIfExists(Bench.LockPath)
  }
}
