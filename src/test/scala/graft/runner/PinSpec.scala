package graft.runner

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Checks over the main sources. One pin idiom: [[Pin]] is the only main
  * code that materializes a frame, so the pin policy, its release and the
  * metrics observed on a pin live in one place. And every doc comment
  * stands on what it describes.
  */
class PinSpec extends AnyFunSuite {
  /** Every main source file with its lines. */
  private def mainSources: List[(java.nio.file.Path, IndexedSeq[String])] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f -> Files.readAllLines(f).asScala.toIndexedSeq).toList
    finally walk.close()
  }

  /** (file name, file:line) of every main source line containing `needle`. */
  private def mainLinesWith(needles: String*): List[(String, String)] =
    mainSources.flatMap { case (f, lines) =>
      lines.zipWithIndex.collect {
        case (line, i) if needles.exists(line.contains) => (f.getFileName.toString, s"$f:${i + 1}")
      }
    }

  test("no main file other than Pin.scala calls localCheckpoint") {
    val calls = mainLinesWith("localCheckpoint(")
    assert(calls.exists(_._1 == "Pin.scala"), "Pin.scala no longer pins: is src/main readable?")
    val others = calls.filter(_._1 != "Pin.scala").map(_._2)
    assert(others.isEmpty, s"localCheckpoint outside Pin:\n${others.mkString("\n")}")
  }

  test("no main file caches or persists a frame") {
    // a cache registers its plan in the session's CacheManager, which no
    // query releases and later plans silently match
    val sites = mainLinesWith(".cache()", ".persist(").map(_._2)
    assert(sites.isEmpty, s"cache/persist in main, pin instead:\n${sites.mkString("\n")}")
  }

  test("no main doc comment is followed by another: scaladoc keeps only the second") {
    // a doc comment that stands over another describes nothing: scaladoc
    // attaches the last one before a definition, and the first is lost
    val docOpen = mainLinesWith("/**").size
    assert(docOpen > 0, "no doc comment found: is src/main readable?")
    val stacked = mainSources.flatMap { case (f, lines) =>
      val code = lines.map(_.trim)
      code.indices.filter(i => code(i).startsWith("/**")).flatMap { i =>
        val end = code.indexWhere(_.contains("*/"), i)
        val next = code.indexWhere(_.nonEmpty, end + 1)
        if (end >= 0 && next >= 0 && code(next).startsWith("/**")) Some(s"$f:${i + 1}") else None
      }
    }
    assert(stacked.isEmpty, s"doc comments stacked on another:\n${stacked.mkString("\n")}")
  }
}
