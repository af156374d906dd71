package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Sensitivity meta-check over the committed parameter-grid fuzz
  * expectations (LLM / graph / ML — the surfaces whose case ids encode
  * an operator family plus parameters; the relational grammar fuzz has
  * no family axis and is excluded).
  *
  * A differential grid whose cases ALL hash to the same DuckDB
  * expectation is vacuous: the parameters never moved the output, so
  * the grid re-proves one point N times. This test asserts every
  * multi-case family has at least two distinct expected hashes, except
  * families on the allowlist below where single-hash grids are the
  * SEMANTICS being proven, not a gap. It caught two real instances
  * when first written: the vocab grid's cuts (50/200/1000) all sat
  * above the corpus's 31-token vocabulary (re-gridded to 5/15/31), and
  * the cc grid's drop-one-slice subgraphs stayed connected (a keep-only
  * slice variant was added to fragment them).
  */
class FuzzSensitivitySpec extends AnyFunSuite {

  /** family -> why a single-hash grid is correct there */
  private val allowlist: Map[(String, String), String] = Map(
    ("llm", "contain") ->
      ("containmentPairs equals the exhaustive ground truth BY " +
        "CONSTRUCTION on the contract domain; (k, w) size the sketch, " +
        "never the answer — identical hashes ARE the guarantee"),
    ("llm", "groups") ->
      ("the connected-component closure absorbs pair-set variation " +
        "between (shingle, threshold) points on near-identical dups; " +
        "pair-level sensitivity is covered by the neardup family"),
    ("llm", "groupsizes") ->
      "downstream histogram of the groups closure (same reason)",
    ("graph", "kcore") ->
      ("the oracle is a CONVERGED peeling, the kernel peels exactly " +
        "and the grid varies only the reader (lineitem transitions or " +
        "the canonical undirected frame) — both must land on one peeling"))

  private def expectations(resource: String): Map[String, String] = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream(s"/$resource"), "UTF-8")
    try {
      // {"id": {"hash": "...", "rows": N}, ...} — flat, regex-parsable
      val re = """(?s)"(\w+)":\s*\{\s*"hash":\s*"([0-9a-f]+)"""".r
      re.findAllMatchIn(src.mkString)
        .map(m => m.group(1) -> m.group(2)).toMap
    } finally src.close()
  }

  private def families(ids: Map[String, String]): Map[String, Seq[String]] =
    ids.toSeq.groupBy { case (id, _) => id.split("_")(1) }
      .map { case (f, kv) => f -> kv.map(_._2) }

  test("relational fuzz grid: every grammar template is " +
      "parameter-sensitive across its 7 corpus draws") {
    // ids are fuzz_NNN with template = NNN % numTemplates — the family
    // axis is the template, the parameters are the per-draw predicate/
    // aggregate/column picks
    val byTemplate = expectations("fuzz_expected.json").toSeq
      .groupBy { case (id, _) =>
        id.split("_")(1).toInt % graft.fuzz.FuzzGen.numTemplates
      }
      .map { case (t, kv) => t -> kv.map(_._2) }
    assert(byTemplate.size == graft.fuzz.FuzzGen.numTemplates)
    val vacuous = byTemplate.collect {
      case (t, hashes) if hashes.size > 1 && hashes.distinct.size == 1 =>
        s"template $t (${hashes.size} cases, 1 hash)"
    }
    assert(vacuous.isEmpty,
      "vacuous relational templates — the draws never moved the " +
        "output: " + vacuous.mkString(", "))
  }

  for ((surface, resource) <- Seq(
      "llm" -> "llm_fuzz_expected.json",
      "graph" -> "graph_fuzz_expected.json",
      "ml" -> "ml_fuzz_expected.json")) {
    test(s"$surface fuzz grid: every multi-case family is " +
        "parameter-sensitive (or allowlisted with its reason)") {
      val fams = families(expectations(resource))
      assert(fams.nonEmpty, s"no cases parsed from $resource")
      val vacuous = fams.collect {
        case (f, hashes)
            if hashes.size > 1 && hashes.distinct.size == 1 &&
              !allowlist.contains((surface, f)) =>
          s"$f (${hashes.size} cases, 1 hash)"
      }
      assert(vacuous.isEmpty,
        s"vacuous $surface fuzz families — parameters never moved the " +
          s"output; fix the grid or allowlist with a reason: " +
          vacuous.mkString(", "))
      // the allowlist must not rot: every entry still names a family
      // that exists and is still single-hash (else the reason is stale)
      allowlist.keys.filter(_._1 == surface).foreach { case (_, f) =>
        assert(fams.contains(f),
          s"allowlisted $surface family '$f' no longer exists")
        assert(fams(f).distinct.size == 1,
          s"allowlisted $surface family '$f' is now multi-hash — " +
            "remove it from the allowlist")
      }
    }
  }
}
