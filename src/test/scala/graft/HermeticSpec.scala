package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The test suite is hermetic: no spec source names a file-system
  * path outside the repository except the shared test-data directory.
  * A spec that read such a path would pass or fail by what one
  * machine happens to hold (its fixtures belong under
  * `src/test/resources`). Checked on string literals that start with
  * an absolute path under a host directory, or a `file:` URI. */
class HermeticSpec extends AnyFunSuite {
  private val testData = "/root/testdata/"
  private val hostDirs = Seq("root", "home", "opt", "usr", "etc", "var",
    "mnt", "srv", "tmp", "data", "media", "Users")
  private val absPath =
    ("\"(?:file:)?(/(?:" + hostDirs.mkString("|") + ")(?:/[^\"]*)?)").r

  test("no spec source reads a path outside the repo and the test-data directory") {
    val root = Paths.get("src/test/scala")
    assert(Files.isDirectory(root), "run from the repository root")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector finally walk.close()
    assert(sources.size > 50)
    val outside = for {
      src <- sources
      (line, n) <- Files.readAllLines(src).asScala.zipWithIndex
      m <- absPath.findAllMatchIn(line)
      p = m.group(1)
      if !(p + "/").startsWith(testData)
    } yield s"$src:${n + 1}: $p"
    assert(outside.isEmpty, outside.mkString("paths outside the repo:\n", "\n", ""))
  }
}
