package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Where a frame is pinned is decided in one place: `.localCheckpoint(`
  * appears once under `src/main`, inside `Dedup.stage`, and no code
  * releases pins by unpersisting every persisted RDD (which would drop
  * a concurrent owner's live pins). */
class PinCensusSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, Seq[String])] = {
    val files = Files.walk(Paths.get(root))
    try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).asScala.toSeq).toSeq
    finally files.close()
  }

  test(".localCheckpoint( appears once under src/main, inside Dedup.stage") {
    val hits = for {
      (p, lines) <- sources("src/main")
      (line, i) <- lines.zipWithIndex if line.contains(".localCheckpoint(")
    } yield (p, i)
    assert(hits.size == 1, hits)
    val (p, i) = hits.head
    assert(p.endsWith(Paths.get("graft", "operators", "Dedup.scala")), p)
    val enclosing = sources("src/main").find(_._1 == p).get._2.take(i + 1)
      .map(_.trim).findLast(_.startsWith("def "))
    assert(enclosing.exists(_.startsWith("def stage(")), enclosing)
  }

  test("no code unpersists every persisted RDD") {
    val hammer = """getPersistentRDDs\s*\.values\s*\.foreach\s*\(\s*_\.unpersist""".r
    val hits = for {
      (p, lines) <- sources("src/main") ++ sources("src/test")
      if hammer.findFirstIn(lines.mkString("\n")).isDefined
    } yield p
    assert(hits.isEmpty, hits)
  }
}
