package graft.runner

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One pin idiom: [[Pin]] is the only main code that materializes a frame
  * with `localCheckpoint`, so the pin policy and the metrics observed on
  * a pin live in one place.
  */
class PinSpec extends AnyFunSuite {
  test("no main file other than Pin.scala calls localCheckpoint") {
    val walk = Files.walk(Paths.get("src/main"))
    val calls =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(") => (f.getFileName.toString, s"$f:${i + 1}")
        }
      }.toList
      finally walk.close()
    assert(calls.exists(_._1 == "Pin.scala"), "Pin.scala no longer pins: is src/main readable?")
    val others = calls.filter(_._1 != "Pin.scala").map(_._2)
    assert(others.isEmpty, s"localCheckpoint outside Pin:\n${others.mkString("\n")}")
  }
}
