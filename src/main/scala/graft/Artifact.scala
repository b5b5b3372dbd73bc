package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** A value built at most once per (session, scale dir) and shared by every
  * query that reads it: a fitted model, a materialized pair table, an index,
  * a bucketed store. Keying by session keeps a restarted session from
  * receiving plans bound to a stopped one.
  *
  * Every artifact registers itself when it is declared, so
  * [[Artifact.releaseAll]] frees all of them and [[Artifact.repeated]] can
  * free exactly what one timing repetition built; no caller keeps a list. */
final class Artifact[A] private (val name: String,
                                 build: (SparkSession, String) => A,
                                 release: A => Unit) {
  // Each entry carries its build number, the order in which it finished.
  private val built =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (A, Long)]

  def apply(s: SparkSession, d: String): A =
    built.getOrElseUpdate((s, d),
      { val a = build(s, d); (a, Artifact.builds.incrementAndGet()) })._1

  /** Drops, and runs the release hook on, every entry built after build
    * number `mark`. Iteration reads a snapshot, so removal is safe. */
  private def releaseBuiltAfter(mark: Long): Unit =
    built.foreach { case (k, (a, n)) =>
      if (n > mark && built.remove(k).isDefined) release(a)
    }
}

object Artifact {
  private val registered =
    new java.util.concurrent.CopyOnWriteArrayList[Artifact[_]]()
  private val builds = new AtomicLong()

  /** Declares an artifact whose value GC alone frees. */
  def apply[A](name: String)(build: (SparkSession, String) => A): Artifact[A] =
    withRelease[A](name, (_: A) => ())(build)

  /** Declares an artifact whose value pins something GC cannot free (an
    * index's persisted projection): `release` frees it. */
  def withRelease[A](name: String, release: A => Unit)(
      build: (SparkSession, String) => A): Artifact[A] = {
    val a = new Artifact(name, build, release)
    registered.add(a)
    a
  }

  private def releaseBuiltAfter(mark: Long): Unit =
    registered.asScala.foreach(_.releaseBuiltAfter(mark))

  /** Releases every entry of every registered artifact. */
  def releaseAll(): Unit = releaseBuiltAfter(0L)

  /** Names of the registered artifacts that hold at least one entry. */
  private[graft] def live: Seq[String] =
    registered.asScala.filter(_.built.nonEmpty).map(_.name).toSeq

  /** Runs `body(1)` … `body(reps)` and returns the results. Before each
    * repetition after the first it releases what the previous repetition
    * built, so every repetition pays for its own builds; the last
    * repetition's artifacts stay for the queries that share them, and
    * artifacts built before the first repetition are never released. */
  def repeated[T](reps: Int)(body: Int => T): IndexedSeq[T] =
    (1 to reps).map { r =>
      val mark = builds.get()
      try body(r) finally if (r < reps) releaseBuiltAfter(mark)
    }
}
