package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The write-once fixture protocol every registry fixture goes through
  * ([[SparkEntry.stamped]]): a hit reuses the directory untouched, a miss
  * rebuilds it from empty, and only a completed build is stamped. The
  * fixture dirs carry a space on purpose — the protocol must not depend on
  * the path being a valid raw URI.
  */
class StampedFixtureSpec extends SparkSpec {

  private def fixtureDir(): String =
    Files.createTempDirectory("graft stamped").resolve("fx").toString

  private def put(fixture: String, name: String, body: String): Unit = {
    val p = Paths.get(fixture, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, body)
  }

  /** Every file under the fixture with its size and mtime. */
  private def state(fixture: String): Set[(String, Long, Long)] = {
    val s = Files.walk(Paths.get(fixture))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toSet
    finally s.close()
  }

  private def stampOf(fixture: String): Option[String] = {
    val p = Paths.get(fixture, "_GRAFT_STAMP")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  test("a stamp hit runs no build and touches no file") {
    val fx = fixtureDir()
    assert(SparkEntry.stamped(spark, fx, "v1")(put(fx, "data/a.txt", "a")) == fx)
    assert(stampOf(fx).contains("v1"))
    val before = state(fx)
    Thread.sleep(20) // a rewrite inside the same millisecond would hide
    val out = SparkEntry.stamped(spark, fx, "v1")(fail("a matching stamp must not rebuild"))
    assert(out == fx)
    assert(state(fx) == before, "a hit must leave every file as it was")
  }

  test("a stamp miss deletes the whole fixture before the rebuild") {
    val fx = fixtureDir()
    SparkEntry.stamped(spark, fx, "v1")(put(fx, "data/a.txt", "a"))
    // debris no build writes: an older generation, a leftover manifest
    put(fx, "data/stale.parquet", "stale")
    put(fx, "_ingest_applied", "7")
    SparkEntry.stamped(spark, fx, "v2")(put(fx, "data/b.txt", "b"))
    assert(!Files.exists(Paths.get(fx, "data/stale.parquet")), "stale file must be gone")
    assert(!Files.exists(Paths.get(fx, "_ingest_applied")), "stale manifest must be gone")
    assert(!Files.exists(Paths.get(fx, "data/a.txt")), "the old build's output must be gone")
    assert(Files.readString(Paths.get(fx, "data/b.txt")) == "b")
    assert(stampOf(fx).contains("v2"))
  }

  test("a build that throws leaves no stamp, and the next call rebuilds") {
    val fx = fixtureDir()
    val e = intercept[IllegalStateException] {
      SparkEntry.stamped(spark, fx, "v1") {
        put(fx, "data/partial.txt", "half")
        throw new IllegalStateException("build died")
      }
    }
    assert(e.getMessage == "build died")
    assert(stampOf(fx).isEmpty, "a failed build must not be stamped")
    var builds = 0
    SparkEntry.stamped(spark, fx, "v1") {
      builds += 1
      put(fx, "data/whole.txt", "whole")
    }
    assert(builds == 1, "the unstamped fixture must be rebuilt")
    assert(!Files.exists(Paths.get(fx, "data/partial.txt")), "the failed build's debris must be gone")
    assert(stampOf(fx).contains("v1"))
  }
}
