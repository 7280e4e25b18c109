package graft

import org.scalatest.funsuite.AnyFunSuite

/** One artifact-build primitive: every build-once artifact in main
  * source goes through `graft.sources.Artifacts.buildOnce`, which owns
  * the key, the lock and the atomic commit. A hand-rolled
  * check-marker-then-overwrite build (a `_built` marker, a
  * `GRAFT_INDEX_REBUILD`-style force knob, a bare build lock) anywhere
  * else fails `sbt test`, so the copies cannot grow back. */
class ArtifactBuildLintSpec extends AnyFunSuite {

  private val banned = Seq("_built", "GRAFT_INDEX_REBUILD", "withBuildLock")

  test("no artifact-build marker, knob or lock outside Artifacts.scala") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath.toString)
    val owner = Paths.get("src/main/scala/graft/sources/Artifacts.scala")
    val walk = Files.walk(root)
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .flatMap { p =>
        new String(Files.readAllBytes(p), "UTF-8").linesIterator
          .zipWithIndex
          .filter { case (line, _) => banned.exists(line.contains) }
          .map { case (line, i) => s"$p:${i + 1}: ${line.trim}" }
      }.toList
    finally walk.close()
    assert(hits.isEmpty,
      s"artifact builds must go through Artifacts.buildOnce:\n" +
        hits.mkString("\n"))
  }
}
