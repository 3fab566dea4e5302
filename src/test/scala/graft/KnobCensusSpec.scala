package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The README's "Operating knobs" table and the code agree: every
  * `spark.graft.*` key literal under `src/main` has a row of its own,
  * and every `spark.graft.*` row names a key the code reads. */
class KnobCensusSpec extends AnyFunSuite {

  private val keyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val knobRow = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]+)` \\|".r

  private def codeKeys: Set[String] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap((p: Path) => keyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    finally files.close()
  }

  private def readmeKeys: Seq[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala
    val table = lines.dropWhile(_ != "## Operating knobs").drop(1)
      .takeWhile(l => !l.startsWith("## "))
    table.flatMap(l => knobRow.findFirstMatchIn(l).map(_.group(1))).toSeq
  }

  test("every spark.graft key in src/main has a README knob row, and every row names a read key") {
    val code = codeKeys
    val rows = readmeKeys
    assert(code.nonEmpty && rows.nonEmpty)
    assert(rows.distinct === rows, "a key has two rows")
    assert((code -- rows).isEmpty, s"keys with no README row: ${code -- rows}")
    assert((rows.toSet -- code).isEmpty, s"README rows for keys no code reads: ${rows.toSet -- code}")
  }
}
