package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Comments in `src/main` state invariants; they do not tell the
  * project's round history (`★r18`, `VERDICT r22`, `ADVICE r17`). A
  * round tag tells a reader when a line changed, not what must hold,
  * and goes stale as soon as the next change lands. */
class SourceCommentSpec extends AnyFunSuite {

  test("no src/main file carries a round-history tag") {
    val roundTag = """★r[0-9]+|VERDICT r[0-9]+|ADVICE r[0-9]+""".r
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"$root missing")
    val walk = java.nio.file.Files.walk(root)
    val hits = try {
      walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p,
              java.nio.charset.StandardCharsets.UTF_8).asScala
            .zipWithIndex
            .filter { case (line, _) => roundTag.findFirstIn(line).isDefined }
            .map { case (line, i) => s"$p:${i + 1}: ${line.trim}" }
        }.toList
    } finally walk.close()
    assert(hits.isEmpty,
      s"${hits.size} round-history comment(s); rewrite each as the " +
        s"invariant it protects:\n${hits.mkString("\n")}")
  }
}
