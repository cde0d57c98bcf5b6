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
  * `Tables.load` as the one parquet reader of `src/main`, `GraftSession`
  * as the one session factory of `src/main` and `src/test`,
  * `Lineage` as the one reader of a `spark.graft.*` conf key, the
  * `blaze` source as the one builder of FHIR search URLs,
  * `Reconcile` as the one module that decides sync actions,
  * `Lineage` as the one place that cuts lineage, that
  * `src/main` starts no Structured Streaming query, that each query's
  * oracle SQL is declared once, in its `Query`, that shingle sets are
  * intersected only in `TextDedup`'s one verification join, and that
  * every scaladoc block in `src/main` attaches to a definition.
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

  /** `.scala` files under `roots`, other than `allowed` (none if empty),
    * whose text matches `re`. */
  private def sourcesMatching(roots: Seq[String], allowed: String, re: String): Seq[String] =
    roots.flatMap { r =>
      val stream = Files.walk(Paths.get(r))
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && (allowed.isEmpty || !p.endsWith(allowed)))
        .filter(p => re.r.findFirstIn(read(p.toString)).isDefined)
        .map(_.toString).toSeq
      finally stream.close()
    }.sorted

  test("src/main reads parquet only through source/Tables.scala") {
    // a loader of its own would skip Tables.load's schema catalog and pay
    // a schema-inference job on every call
    val readers = sourcesMatching(Seq("src/main"), "graft/source/Tables.scala",
      """read\s*\.\s*parquet\s*\(""")
    assert(readers.isEmpty, s"read.parquet( outside source/Tables.scala: $readers")
  }

  test("src/main and src/test build sessions only through GraftSession.scala") {
    // a builder of its own drifts from the factory's settings
    val builders = sourcesMatching(Seq("src/main", "src/test"), "graft/GraftSession.scala",
      """SparkSession\s*\.\s*builder\b""")
    assert(builders.isEmpty, s"session builders outside GraftSession.scala: $builders")
  }

  test("src/main names a spark.graft conf key only in util/Lineage.scala") {
    // the engine's tuning values are constants; the one key is the
    // deployment's checkpoint directory
    val keys = sourcesMatching(Seq("src/main"), "graft/util/Lineage.scala",
      "\"spark\\.graft\\.")
    assert(keys.isEmpty, s"spark.graft.* conf keys outside util/Lineage.scala: $keys")
  }

  test("src/main cuts lineage only in util/Lineage.scala") {
    // one cut: a checkpoint of its own would skip the reliable-checkpoint
    // escape that spark.graft.checkpointDir gives clusters
    val cuts = sourcesMatching(Seq("src/main"), "graft/util/Lineage.scala",
      """\b(localCheckpoint|checkpoint)\(""")
    assert(cuts.isEmpty, s"lineage cuts outside util/Lineage.scala: $cuts")
  }

  test("src/main builds FHIR search URLs only in source/v2/BlazeTableProvider.scala") {
    // one page reader: a second one would drift from the blaze source's
    // Bundle checks. Only string literals count, so a comment that
    // describes the `_count=0` probe elsewhere does not trip the guard.
    val builders = sourcesMatching(Seq("src/main"),
      "graft/source/v2/BlazeTableProvider.scala", "\"[^\"\n]*_count=")
    assert(builders.isEmpty, s"FHIR search URLs outside BlazeTableProvider.scala: $builders")
  }

  test("src/main decides sync actions only in diff/Reconcile.scala") {
    // a second when-chain over the action values drifts from the one
    // classifier: its insert/update/delete rules go unguarded by ReconcileSpec
    val action = """(Reconcile\s*\.\s*)?(Insert|Update|Delete|Noop)\b|"(insert|update|delete|noop)""""
    val deciders = sourcesMatching(Seq("src/main"), "graft/diff/Reconcile.scala",
      raw"""\bwhen\s*\([^\n]*,\s*($action)\s*\)|\botherwise\s*\(\s*($action)\s*\)""")
    assert(deciders.isEmpty, s"action-valued when/otherwise outside diff/Reconcile.scala: $deciders")
  }

  test("src/main declares each query's oracle SQL once, in its Query") {
    // a second name-keyed map beside a module's `all` can drift from it
    val maps = sourcesMatching(Seq("src/main"), "", raw"\bval oracle\b")
    assert(maps.isEmpty, s"oracle maps beside the Query lists: $maps")
  }

  test("src/main starts no Structured Streaming query") {
    // the sync is a batch daemon on a daily timer; a stream runner no
    // production path starts is code nothing runs
    val streams = sourcesMatching(Seq("src/main"), "", """\b(writeStream|readStream)\b""")
    assert(streams.isEmpty, s"Structured Streaming in src/main: $streams")
  }

  test("src/main intersects shingle sets only in TextDedup's verification join") {
    // a second join-back scores Jaccard its own way; the one helper holds
    // the empty-set guard (two empty sets score NULL, not DIVIDE_BY_ZERO)
    val pattern = """array_intersect\(col\(""".r
    val sites = sourcesMatching(Seq("src/main"), "", pattern.regex)
      .map(p => p -> pattern.findAllIn(read(p)).size)
    assert(sites.map(_._1).forall(_.endsWith("graft/ops/TextDedup.scala")) &&
      sites.map(_._2).sum == 1, s"array_intersect(col( sites, want 1 in TextDedup.scala: $sites")
  }

  test("src/main has no scaladoc block that attaches to nothing") {
    // a `/** ... */` directly followed by another `/**` documents nothing:
    // scaladoc keeps only the last block before a definition
    val orphans = sourcesMatching(Seq("src/main"), "", raw"\*/\s*/\*\*")
    assert(orphans.isEmpty, s"scaladoc blocks followed directly by another: $orphans")
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
