package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** `graft.ext.Pin` is the one place that decides between a local and a
  * reliable checkpoint. A direct `localCheckpoint` or `checkpoint` call
  * anywhere else in `src/main` pins locally whatever the context's
  * checkpoint directory says, so its state is lost with its executor.
  */
class PinBoundarySpec extends AnyFunSuite {

  private val Call = """localCheckpoint\(|\.checkpoint\(""".r

  /** 1-based lines of `lines` that call a checkpoint API, comment lines
    * skipped. */
  private def checkpointCalls(lines: IndexedSeq[String]): Seq[Int] =
    lines.indices.filter { i =>
      val t = lines(i).trim
      !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
        Call.findFirstIn(t).isDefined
    }.map(_ + 1)

  test("checkpointCalls: a call is found, a comment line mentioning the API is not") {
    val src = IndexedSeq(
      "  /** pins with `localCheckpoint(eager)` per round",
      "    * then `df.checkpoint()`",
      "    */",
      "  val a = df.localCheckpoint(true)", // 4
      "  // df.checkpoint(eager = true)",
      "  val b = df.checkpoint(eager = true) // reliable", // 6
      "  val c = df.pin() // one-shot: read twice",
      "    .option(\"checkpointLocation\", dir)")
    assert(checkpointCalls(src) == Seq(4, 6))
  }

  test("no src/main file outside ext/Pin.scala calls localCheckpoint or checkpoint") {
    val pin = Paths.get("src/main/scala/graft/ext/Pin.scala")
    val files = Using.resource(Files.walk(Paths.get("src/main/scala"))) { s =>
      s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
    }
    assert(files.contains(pin), "src/main/scala not found from " + Paths.get("").toAbsolutePath)
    val calls = files.filterNot(_ == pin).flatMap { (f: Path) =>
      checkpointCalls(Files.readAllLines(f).asScala.toIndexedSeq).map(l => s"$f:$l")
    }
    assert(calls.isEmpty,
      calls.mkString("direct checkpoint calls (pin through graft.ext.Pin instead): ", ", ", ""))
  }
}
