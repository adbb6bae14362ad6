package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every frame the program persists or caches is pinned through the pin
  * scope (`Traversals.Pins`), which releases it before the algorithm
  * returns: a `.persist(` or `.cache()` anywhere else in `src/main` is a
  * frame nothing releases. */
class PinScopeSpec extends AnyFunSuite {
  test("src/main persists and caches only inside the pin scope's definition") {
    val call = """\.persist\(|\.cache\(\)""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val found = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      // the scope's definition: `final class Pins` through its closing brace
      val start = lines.indexWhere(_.contains("final class Pins"))
      val end = if (start < 0) -1 else lines.indexWhere(_ == "  }", start)
      lines.indices.collect {
        case i if (i < start || i > end) && call.findFirstIn(lines(i)).isDefined &&
            !Seq("//", "*", "/*").exists(lines(i).trim.startsWith) =>
          s"$f:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}
