package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** How a document becomes term counts is decided in one place: the
  * (id, tok) count aggregate over `tokens(fold(…))` appears under
  * `src/main` only inside `Curation.termCounts`. Every other token
  * signal reads that table. */
class TermCountCensusSpec extends AnyFunSuite {

  /** A count aggregate keyed by an id column and `tok`, with any
    * further keys between them (dsir's `is_target` once was one). */
  private val idTokCount = ("""\.groupBy\(col\((idCol|"[a-z_]*id")\)(, col\("[a-z_]+"\))*, """ +
    """col\("tok"\)\)\s*\.agg\(count\(lit\(1\)\)""").r

  /** Each (file, enclosing `def` line) whose body counts (id, tok)
    * pairs of word tokens: the body folds and tokenizes text, and the
    * last `tok` alias before the aggregate is not a shingle list (a
    * shingle table keyed `tok` is not a term count). */
  private def builders(root: String): Seq[(Path, String)] = {
    val files = Files.walk(Paths.get(root))
    try files.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        idTokCount.findAllMatchIn(src).toList.flatMap { m =>
          val before = src.substring(0, m.start).split("\n", -1).toSeq
          val body = before.drop(before.lastIndexWhere(_.trim.startsWith("def ")).max(0))
          val alias = body.findLast(_.contains(".as(\"tok\")"))
          if (body.mkString("\n").contains("tokens(fold(") &&
              alias.exists(!_.contains("tokenShingles(")))
            Some(p -> body.head.trim)
          else None
        }
      }
    finally files.close()
  }

  test("the (id, tok) count over tokens(fold(...)) is built only in Curation.termCounts") {
    val hits = builders("src/main")
    assert(hits.size == 1, hits)
    val (p, decl) = hits.head
    assert(p.endsWith(Paths.get("graft", "operators", "Curation.scala")), p)
    assert(decl.startsWith("def termCounts("), decl)
  }
}
