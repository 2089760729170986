package graft

import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier}
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.MlQueries

/** The artifact memo's three guarantees: one build per key under
  * concurrent first readers, builds that may read other keys (even ones
  * whose hash collides), and no caching of a build that throws.
  */
class ArtifactSpec extends SparkSpec {

  test("8 threads constructing m4_als_recommend at once trigger exactly 1 ALS build") {
    MlQueries.clearCaches()
    val before = MlQueries.als.builds
    val start = new CyclicBarrier(8)
    val frames = graft.harness.Par.inParallel(1 to 8, width = 8) { _ =>
      start.await()
      SparkEntry.queries("m4_als_recommend")(spark, sfDir)
    }
    assert(frames.size == 8)
    assert(MlQueries.als.builds - before == 1,
      s"${MlQueries.als.builds - before} ALS builds for 8 concurrent constructions")
  }

  test("a build may read a second key whose hash collides with its own") {
    assert("Aa".hashCode == "BB".hashCode)
    // the hazard: a nested computeIfAbsent into the same bin throws
    val raw = new ConcurrentHashMap[String, String]()
    intercept[IllegalStateException](
      raw.computeIfAbsent("Aa", _ => raw.computeIfAbsent("BB", _ => "x")))

    lazy val nested: Artifact[String] = Artifact("_spec_nested") { (s, d) =>
      if (d == "Aa") nested.get(s, "BB") + "<-Aa" else d
    }
    assert(nested.get(spark, "Aa") == "BB<-Aa")
    assert(nested.builds == 2)
    assert(nested.get(spark, "BB") == "BB" && nested.builds == 2)
  }

  test("a build that throws is not cached: the next get retries it") {
    val calls = new AtomicInteger()
    val flaky = Artifact("_spec_flaky") { (_, d) =>
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("cold failure")
      d
    }
    intercept[IllegalStateException](flaky.get(spark, "k"))
    assert(flaky.get(spark, "k") == "k" && calls.get == 2)
    assert(flaky.get(spark, "k") == "k" && calls.get == 2, "a success is cached")
  }
}
