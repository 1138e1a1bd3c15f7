package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One formulation per operator in the shipped library: the interpreted
  * forms the native expressions replaced live in [[ParityRefs]], next
  * to the specs that pin them.
  */
class ParityRefsSpec extends AnyFunSuite {
  test("src/main defines no *Hof/*Spark parity reference and links to none") {
    val main = Paths.get("src/main/scala").toAbsolutePath
    val files = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"source scan found only ${files.size} files under $main")
    val refs = """def \w+Hof\b|def \w+Spark\(|\[\[[^\]]*(Hof|Spark)\]\]""".r
    val hits = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (l, i) =>
        refs.findAllIn(l).map(m => s"${main.relativize(f)}:${i + 1}: $m")
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
