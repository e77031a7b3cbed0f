package graft.runner

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One pin idiom: [[Pin]] is the only main code that materializes a frame,
  * so the pin policy, its release and the metrics observed on a pin live
  * in one place.
  */
class PinSpec extends AnyFunSuite {
  /** (file name, file:line) of every main source line containing `needle`. */
  private def mainLinesWith(needles: String*): List[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if needles.exists(line.contains) => (f.getFileName.toString, s"$f:${i + 1}")
      }
    }.toList
    finally walk.close()
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
}
