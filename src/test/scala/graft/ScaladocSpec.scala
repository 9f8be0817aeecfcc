package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc attaches only the block directly above a definition, so a
  * block followed directly by another block is dropped from the docs: its
  * text documents nothing.
  */
class ScaladocSpec extends AnyFunSuite {

  /** 1-based first lines of the Scaladoc blocks in `lines` whose closing
    * line is directly followed by the opening line of another block.
    */
  private def orphanedBlocks(lines: IndexedSeq[String]): Seq[Int] = {
    val found = Seq.newBuilder[Int]
    var i = 0
    while (i < lines.length) {
      if (lines(i).trim.startsWith("/**")) {
        var j = i
        var from = lines(i).indexOf("/**") + 3
        while (j < lines.length && lines(j).indexOf("*/", from) < 0) { j += 1; from = 0 }
        if (j + 1 < lines.length && lines(j + 1).trim.startsWith("/**")) found += i + 1
        i = j + 1
      } else i += 1
    }
    found.result()
  }

  test("orphanedBlocks: a block directly followed by another is found; a blank line or a definition in between is not") {
    val src = IndexedSeq(
      "  /** one-liner */",
      "  /** first line", // 2: orphaned, line 4 opens another block
      "    */",
      "  /** attached */",
      "  def f = 1",
      "  /** followed by a blank line",
      "    */",
      "",
      "  /** attached */",
      "  val g = 2")
    assert(orphanedBlocks(src) == Seq(1, 2))
  }

  test("no Scaladoc block in src/main is directly followed by another block") {
    val files = Using.resource(Files.walk(Paths.get("src/main/scala"))) { s =>
      s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
    }
    assert(files.nonEmpty, "src/main/scala not found from " + Paths.get("").toAbsolutePath)
    val orphans = files.flatMap { f =>
      orphanedBlocks(Files.readAllLines(f).asScala.toIndexedSeq).map(l => s"$f:$l")
    }
    assert(orphans.isEmpty,
      orphans.mkString("Scaladoc blocks that the next block hides (merge or move them): ", ", ", ""))
  }
}
