package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The build-once contract every cached artifact relies on: a directory
  * is named by (name, input, recipe, id fingerprint), committed by one
  * atomic rename, built at most once per key, and never deleted under a
  * reader. */
class ArtifactsSpec extends SparkSpec {

  private def ids(n: Long): DataFrame = spark.range(n).toDF("id")

  private def freshRoot(): String =
    Files.createTempDirectory("graft-artifacts").toString

  /** Every entry under `root`, committed or staging. */
  private def entries(root: String): Set[String] = {
    val ls = Files.list(Paths.get(root))
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  /** An artifact holding `rows` under `recipe`, counting body runs. */
  private def build(root: String, recipe: String, rows: DataFrame,
      runs: AtomicInteger): Path =
    Artifacts.buildOnceIn(root, "spec", recipe, "spec-input", rows,
        "id") { dir =>
      runs.incrementAndGet()
      rows.write.parquet(dir.resolve("data").toString)
    }

  private def read(dir: Path): DataFrame =
    spark.read.parquet(dir.resolve("data").toString)

  test("a second call runs no build") {
    val root = freshRoot()
    val runs = new AtomicInteger
    val first = build(root, "v1", ids(10), runs)
    val second = build(root, "v1", ids(10), runs)
    assert(runs.get == 1, "the second call must serve the committed dir")
    assert(first == second)
    assert(entries(root) == Set(first.getFileName.toString))
    assert(read(second).count() == 10)
  }

  test("a recipe change rebuilds") {
    val root = freshRoot()
    val runs = new AtomicInteger
    val v1 = build(root, "v1", ids(10), runs)
    val v2 = build(root, "v2", ids(10), runs)
    assert(runs.get == 2, "a new recipe must run the builder again")
    assert(v1 != v2)
    assert(entries(root) == Set(v1, v2).map(_.getFileName.toString))
  }

  test("a build that throws midway commits nothing and the previous " +
      "artifact still reads") {
    val root = freshRoot()
    val runs = new AtomicInteger
    val v1 = build(root, "v1", ids(10), runs)
    val before = read(v1).collect().map(_.getLong(0)).sorted.toSeq
    val err = intercept[IllegalStateException] {
      Artifacts.buildOnceIn(root, "spec", "v2", "spec-input", ids(10),
          "id") { dir =>
        ids(10).write.parquet(dir.resolve("data").toString)
        throw new IllegalStateException("build died after a partial write")
      }
    }
    assert(err.getMessage.contains("partial write"))
    assert(entries(root) == Set(v1.getFileName.toString),
      "a failed build must leave neither a committed nor a staging dir")
    assert(read(v1).collect().map(_.getLong(0)).sorted.toSeq == before)
    // the failed key is still absent, so the next call builds it
    val v2 = build(root, "v2", ids(10), runs)
    assert(runs.get == 2 && v2 != v1 && read(v2).count() == 10)
  }

  test("two threads asking for one key run the body exactly once") {
    val root = freshRoot()
    val runs = new AtomicInteger
    val go = new CountDownLatch(1)
    val dirs = new ConcurrentLinkedQueue[Path]()
    val threads = (1 to 2).map(_ => new Thread(() => {
      go.await()
      dirs.add(Artifacts.buildOnceIn(root, "spec", "v1", "spec-input",
          ids(10), "id") { dir =>
        runs.incrementAndGet()
        Thread.sleep(300) // hold the build open while the other asks
        ids(10).write.parquet(dir.resolve("data").toString)
      })
      ()
    }))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    assert(dirs.size == 2, "both callers must get the artifact")
    assert(dirs.asScala.toSet.size == 1)
    assert(runs.get == 1, s"body ran ${runs.get} times for one key")
    assert(read(dirs.peek()).count() == 10)
  }

  test("a build that loses the commit to another JVM serves the " +
      "winner's directory and leaves no staging dir") {
    val runs = new AtomicInteger
    // the key does not depend on the root: learn the committed name
    val name = build(freshRoot(), "v1", ids(10), runs).getFileName
    val root = freshRoot()
    val got = Artifacts.buildOnceIn(root, "spec", "v1", "spec-input",
        ids(10), "id") { dir =>
      ids(10).write.parquet(dir.resolve("data").toString)
      // the other JVM commits the same key while this build runs
      Files.createDirectories(Paths.get(root).resolve(name).resolve("won"))
    }
    assert(got == Paths.get(root).resolve(name))
    assert(entries(root) == Set(name.toString))
    assert(entries(got.toString) == Set("won"))
  }

  test("changed input ids build a new artifact while a DataFrame on " +
      "the old one still counts") {
    val root = freshRoot()
    val runs = new AtomicInteger
    val old = build(root, "v1", ids(10), runs)
    val oldRead = read(old) // lazy: resolved, not yet scanned
    val grown = build(root, "v1", ids(20), runs)
    assert(runs.get == 2 && grown != old)
    assert(oldRead.count() == 10,
      "a rebuild must not delete files an earlier reader holds")
    assert(read(grown).count() == 20)
  }
}
