package graft

import org.apache.spark.storage.StorageLevel

/** The shared-artifact registry: build once per (session, dir), release
  * everything in one call, and release per timing repetition only what that
  * repetition built. */
class ArtifactSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** An artifact that counts its builds and releases. */
  private final class Counted(name: String) {
    var builds, releases = 0
    val artifact: Artifact[String] =
      Artifact.withRelease[String](name, _ => releases += 1) { (_, d) => builds += 1; d }
  }

  test("releaseCaches leaves no registered artifact holding an entry") {
    SparkEntry.semanticStoreTable(spark, dir)
    SparkEntry.bpeMergeTable(spark, dir)
    assert(Set("semanticStoreTable", "bpeMergeTable").subsetOf(Artifact.live.toSet))
    SparkEntry.releaseCaches()
    assert(Artifact.live.isEmpty)
  }

  test("two calls with the same session and dir build once") {
    val c = new Counted("spec.once")
    try {
      assert(c.artifact(spark, "a") === "a")
      assert(c.artifact(spark, "a") === "a")
      assert(c.builds === 1)
      c.artifact(spark, "b")
      assert(c.builds === 2)
      assert(SparkEntry.bpeMergeTable(spark, dir) eq SparkEntry.bpeMergeTable(spark, dir))
    } finally SparkEntry.releaseCaches()
    assert(c.releases === 2)
    c.artifact(spark, "a")
    assert(c.builds === 3)
    SparkEntry.releaseCaches()
  }

  test("releasing an IVF index unpersists its cached projection") {
    val cached = SparkEntry.ivfIdx(spark, dir).cached.get
    assert(cached.storageLevel !== StorageLevel.NONE)
    SparkEntry.releaseCaches()
    assert(cached.storageLevel === StorageLevel.NONE)
  }

  test("repeated releases what the previous repetition built, nothing else") {
    val own = new Counted("spec.own")
    val other = new Counted("spec.other")
    try {
      other.artifact(spark, "d") // built by an earlier key
      val reps = Artifact.repeated(3) { r =>
        own.artifact(spark, "d"); other.artifact(spark, "d"); r
      }
      assert(reps === Seq(1, 2, 3))
      assert(own.builds === 3 && own.releases === 2)
      assert(other.builds === 1 && other.releases === 0)
      assert(Set("spec.own", "spec.other").subsetOf(Artifact.live.toSet))
    } finally SparkEntry.releaseCaches()
  }
}
