package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must plan and execute on the smallest driver
  * testdata — the same contract Verify runs at sf0.01. Core queries must
  * be non-empty; pair-mining queries may legitimately thin out at tiny
  * scale but must still execute.
  */
class RegistrySmokeSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val mayBeEmpty = Set(
    "dedup_minhash_pairs", "dedup_ngram_jaccard", "dedup_embedding_cosine")

  Registry.all.foreach { q =>
    test(s"${q.name} executes at sf0.001" +
        (if (q.oracle.isDefined) " (oracle-backed)" else "")) {
      val n = q.fn(spark, sfDir).count()
      if (!mayBeEmpty(q.name)) assert(n > 0)
    }
  }

  test("every query has an oracle — no exceptions since round 10") {
    // the manifest queries (rendered SVG/markdown) carry committed
    // per-SF golden-hash VALUES oracles since round 10, so the
    // rows-only escape hatch is CLOSED: a query without an oracle is
    // a registration bug
    val missing = Registry.all.filter(_.oracle.isEmpty)
    assert(missing.isEmpty, s"queries missing oracles: ${missing.map(_.name)}")
  }

  test("every query's output schema is hash-compare safe") {
    // the driver's DuckDB compare sorts columns by name and matches
    // dtypes — duplicate or case-unstable names break it silently
    Registry.all.foreach { q =>
      val names = q.fn(spark, sfDir).schema.fieldNames.toSeq
      assert(names.distinct.size == names.size, s"${q.name}: dup columns $names")
      assert(names.forall(n => n == n.toLowerCase),
        s"${q.name}: non-lowercase columns $names")
    }
  }

  test("query names are unique") {
    // SparkEntry.queries is built with toMap: a duplicate name would
    // silently drop a query from both Bench and Verify
    val dups = Registry.all.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("every *_loaded query has a stored Bench tier") {
    // a loaded twin probes a stored artifact: without a stored tier
    // Bench would time its one-time artifact build
    val loaded = Registry.all.filter(_.name.endsWith("_loaded"))
    assert(loaded.nonEmpty)
    val wrong = loaded.filterNot(_.tier.stored).map(q => q.name -> q.tier)
    assert(wrong.isEmpty, s"loaded queries without a stored tier: $wrong")
  }

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
