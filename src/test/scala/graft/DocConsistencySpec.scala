package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the doc-visible query counts to the authoritative registry
  * (`SparkEntry.queries`) — three rounds of ADVICE flagged stale
  * "NNN-query inventory" strings, so the count is now derived, not
  * hand-maintained: README's inventory pointer and SURVEY §8's header
  * must state the actual registry size, and queries/oracleSql must stay
  * key-identical (every declared query has its DuckDB twin). Also pins
  * `Tables.load` as the one parquet reader of `src/main`.
  */
class DocConsistencySpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  test("queries and oracleSql are key-identical") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("src/main reads parquet only through source/Tables.scala") {
    // a loader of its own would skip Tables.load's schema catalog and pay
    // a schema-inference job on every call
    val root = Paths.get("src/main")
    val stream = Files.walk(root)
    val readers = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("graft/source/Tables.scala"))
      .filter(p => """read\s*\.\s*parquet\s*\(""".r.findFirstIn(read(p.toString)).isDefined)
      .map(root.relativize(_).toString).toSeq.sorted
      finally stream.close()
    assert(readers.isEmpty, s"read.parquet( outside source/Tables.scala: $readers")
  }

  test("README states the registry's actual query count") {
    val n = SparkEntry.queries.size
    assert(read("README.md").contains(s"$n-query inventory"),
      s"README.md must say '$n-query inventory' (registry holds $n)")
  }

  test("SURVEY §8 header states the registry's actual query count") {
    val n = SparkEntry.queries.size
    assert(read("SURVEY.md").contains(s"**$n declared queries**"),
      s"SURVEY.md §8 must say '**$n declared queries**' (registry holds $n)")
  }
}
