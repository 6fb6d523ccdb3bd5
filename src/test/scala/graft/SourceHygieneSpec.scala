package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source files are plain text: no control byte other than tab, LF
  * and CR (a literal NUL makes git and grep treat a file as binary —
  * spell such characters as escapes).
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("no literal control bytes in src/**/*.scala") {
    val root = new java.io.File("src").toPath
    assert(Files.isDirectory(root), s"no src/ under ${root.toAbsolutePath}")
    val sources: Seq[Path] = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(sources.size > 100, s"only ${sources.size} scala files under $root")
    val bad = sources.flatMap { p =>
      val bytes = Files.readAllBytes(p)
      val at = bytes.indexWhere(b => b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r')
      if (at < 0) None else Some(f"$p: byte 0x${bytes(at)}%02x at offset $at")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
