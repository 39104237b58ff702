package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry ↔ docs synchronization gate (round 13).
  *
  * Twice in a row (q307 in round 11, q326/q327 in round 12) new registry
  * queries landed without their SURVEY §2.B′ / COVERAGE.md rows and with a
  * stale README count — drift a verdict item kept catching one round late.
  * This spec makes the drift a TEST failure at commit time instead:
  *
  *  - every `SparkEntry.queries` key must appear in COVERAGE.md, either as
  *    the full key (`q326_sequence_trigrams`) or as its bare id (`q326`,
  *    word-bounded — the Tier A/B tables cite gate queries by id);
  *  - every key's bare id must appear in SURVEY.md OR the full key in
  *    COVERAGE.md must sit on a row that names it (the §2.B′ addendum keys
  *    rows by id; Tier A/B rows are descriptive, so the id-level check runs
  *    only for q90+ — the addendum range — where one row per query is the
  *    documented contract);
  *  - README's stated query count must equal `SparkEntry.queries.size` and
  *    its stated id range must end at the actual max id;
  *  - every registered name must be distinct: `queries` and `oracleSql`
  *    are maps built from `SparkEntry.specs`, so a second spec with the
  *    same name would silently replace the first. (Each spec carries its
  *    own oracle, so a query without an oracle, or an oracle without a
  *    query, cannot be written.)
  *
  * The spec reads the repo files relative to the working directory, which
  * is the repo root under sbt — the same convention BenchGateSpec uses for
  * bench.json.
  */
class DocsSyncSpec extends AnyFunSuite {

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  private lazy val keys: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
  private def idOf(k: String): Int = k.drop(1).takeWhile(_.isDigit).toInt

  test("every registry key is named in COVERAGE.md (full key or bare id)") {
    val cov = read("COVERAGE.md")
    val missing = keys.filterNot { k =>
      cov.contains(k) ||
        ("""(?<![0-9a-zA-Z_])q""" + idOf(k) + """(?![0-9])""").r
          .findFirstIn(cov).isDefined
    }
    assert(missing.isEmpty,
      s"COVERAGE.md has no row naming: ${missing.mkString(", ")}")
  }

  test("every addendum-tier (q90+) registry id is named in SURVEY.md §2") {
    val sur = read("SURVEY.md")
    val missing = keys.filter(idOf(_) >= 90).filterNot { k =>
      ("""(?<![0-9a-zA-Z_])q""" + idOf(k) + """(?![0-9])""").r
        .findFirstIn(sur).isDefined
    }
    assert(missing.isEmpty,
      s"SURVEY.md §2.B' has no row naming: ${missing.mkString(", ")}")
  }

  test("README's stated count and id range match the registry") {
    val readme = read("README.md")
    val m = """(\d+) verifiable queries \(q01[–-]q(\d+)""".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README.md no longer states 'NNN verifiable queries (q01–qMMM'"))
    val statedCount = m.group(1).toInt
    val statedMax = m.group(2).toInt
    val actualMax = keys.map(idOf).max
    assert(statedCount == keys.size,
      s"README says $statedCount queries; registry has ${keys.size}")
    assert(statedMax == actualMax,
      s"README says range ends at q$statedMax; registry max is q$actualMax")
  }

  test("every registered query name is distinct") {
    val dups = SparkEntry.specs.groupBy(_.name).collect {
      case (name, specs) if specs.size > 1 => name
    }
    assert(dups.isEmpty,
      s"names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("near-dup cascade consumers stay within the round-14 frozen " +
    "inventory (PLANS.md gate-cost policy)") {
    // POLICY (PLANS.md §Round-14 decisions): the 18 gate queries that
    // re-derive the shingle→MinHash→band→confirm cascade from raw cost
    // 21% of the bench sweep — priced and accepted, but CAPPED. A new
    // `confirmedNearDupPairs(` call site means a new consumer of the
    // pair cascade: it must route through the conf-aware helper (it does,
    // if this greps it) AND its gate row must not re-derive content a
    // q350 stage checksum already pins. If you add one deliberately,
    // read the policy, justify the row in COVERAGE.md, then update this
    // inventory.
    // Round-15 optimization split the conf-aware helper in two:
    // `confirmedNearDupPairs` (lazy — single-consumer queries) and
    // `sharedNearDupPairs` (localCheckpoint'd once — queries that feed
    // the pair frame into several subtrees). BOTH are cascade consumers
    // under the round-14 policy; the combined per-file inventory stays
    // frozen. The consumer set itself is unchanged from round 14 — only
    // which helper each site routes through moved (multi-consumer sites
    // went shared so one invocation derives the cascade once).
    val expected = Map(
      "EvalQueries.scala" -> 1,
      "GraphQueries.scala" -> 9,
      "MiningQueries.scala" -> 2,
      "SimilarityQueries.scala" -> 7)
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    // Files.list holds a directory handle until closed (round-15 advice)
    val listed = scala.util.Using.resource(java.nio.file.Files.list(dir)) {
      _.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
    }
    val actual = listed
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val txt = read(p.toString)
        p.getFileName.toString ->
          ("(confirmedNearDupPairs|sharedNearDupPairs)\\(".r
            .findAllIn(txt).length)
      }.filter(_._2 > 0).toMap
    assert(actual === expected,
      "cascade consumer inventory changed — see PLANS.md round-14 " +
        "gate-cost policy before adding a re-derivation site")
  }
}
