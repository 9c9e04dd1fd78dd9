package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every staged write, swap, rename and sweep in the engine goes
  * through `graft/core/Publish.scala`, which alone states and keeps the
  * crash contract. This guard fails when any other main source renames
  * or spells a hidden staging/trash dir prefix of its own — the way
  * each verb used to hand-roll its publish. */
class PublishLintSpec extends AnyFunSuite {

  private val forbidden = Seq(
    """\.rename\(""".r,
    // hidden-dir prefixes: the publish module's own and the ones it replaced
    """\.graft_(stage|trash)_""".r,
    """\.[a-z_]*(staging|trash)_""".r,
    """\.(pre_)?rebucket_|\.vbuild_""".r,
    """/\._(graft|rollup)_""".r)

  test("only Publish.scala renames or names hidden staging/trash dirs") {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repository root")
    val st = Files.walk(root)
    val offenders =
      try st.iterator().asScala.toList
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Publish.scala")
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.exists(_.findFirstIn(line).isDefined) =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }
      finally st.close()
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
