package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `graft.operators.Refs` is the only main source that
  * names the ref store's files — the `_latest` head, the `_refs`
  * directory and its `.lock.` commit locks — so every head move, ref
  * write and lock goes through it. */
class RefsLayoutSpec extends AnyFunSuite {

  private val Literal = """"(?:_latest|_refs)["/]|"\.lock\.""".r

  /** (file, line number, line) of every ref-store literal outside `Refs.scala`. */
  private def offenders(src: Path): Seq[(Path, Int, String)] = {
    val files = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Refs.scala")
      .toSeq.sorted
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if Literal.findFirstIn(line).isDefined => (f, i + 1, line.trim)
      }
    }
  }

  test("only Refs.scala names the ref store's files") {
    val src = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(src.resolve("graft/operators")), src.toAbsolutePath)
    assert(Files.exists(src.resolve("graft/operators/Refs.scala")))
    val found = offenders(src)
    assert(found.isEmpty, found.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n"))
  }

  test("the lint catches each literal form") {
    val dir = Files.createTempDirectory("graft-refs-lint")
    Seq("""MetaIO.join(root, "_latest")""", """MetaIO.join(root, "_refs")""",
      """s"_refs/tag.$name"""", """MetaIO.join(d, s".lock.$name")""").zipWithIndex
      .foreach { case (line, i) => Files.writeString(dir.resolve(s"F$i.scala"), line) }
    Files.writeString(dir.resolve("Ok.scala"),
      """val t = "price_latest"; val v = s"${name}_refs" // the `_latest` head""")
    assert(offenders(dir).map(_._1.getFileName.toString) ===
      Seq("F0.scala", "F1.scala", "F2.scala", "F3.scala"))
  }
}
