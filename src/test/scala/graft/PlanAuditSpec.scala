package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Cross-scale plan-shape gate: the ONLY keys allowed to change physical
  * plan shape between audited scale factors are the ones PlanAudit
  * declares intended (with a reason, emitted into the artifact) — an
  * unlisted diff is scale drift and fails here.
  */
class PlanAuditSpec extends AnyFunSuite {

  test("unintendedDiffs flags unlisted diffs and excuses intended ones") {
    val a = Map(
      "q01_pricing_summary" -> Map("HashAggregate" -> 2),
      "d_ann_ivf" -> Map("BatchScan" -> 1),
      "only_in_a" -> Map("Window" -> 1))
    val b = Map(
      "q01_pricing_summary" -> Map("HashAggregate" -> 3),
      "d_ann_ivf" -> Map("BatchScan" -> 2),
      "only_in_b" -> Map("Window" -> 1))
    // q01 drifted (flagged); d_ann_ivf is declared intended (excused);
    // keys missing from either audit are not comparable
    assert(PlanAudit.unintendedDiffs(a, b) == Seq("q01_pricing_summary"))
    assert(PlanAudit.unintendedDiffs(a, a).isEmpty)
  }

  test("every intended diff carries a non-empty reason") {
    assert(PlanAudit.IntendedDiffs.nonEmpty)
    assert(PlanAudit.IntendedDiffs.values.forall(_.trim.nonEmpty))
  }

  test("committed sf0.1 vs sf1 artifacts diff only on intended keys") {
    // relative to the forked test JVM's working directory, which sbt sets
    // to the project base dir (Test / fork := true) — so the gate reads
    // THIS checkout's artifacts wherever it lives
    val p01 = Paths.get("PLAN_AUDIT_sf0.1.json")
    val p1 = Paths.get("PLAN_AUDIT_sf1.json")
    assume(Files.exists(p01) && Files.exists(p1),
      "plan-audit artifacts not present in this checkout")
    val a = PlanAudit.parse(Files.readString(p01))
    val b = PlanAudit.parse(Files.readString(p1))
    assert(a.nonEmpty && b.nonEmpty)
    val bad = PlanAudit.unintendedDiffs(a, b)
    assert(bad.isEmpty,
      s"unlisted cross-scale plan diffs: $bad — fix the drift or declare " +
        "it in PlanAudit.IntendedDiffs with a one-line reason")
  }
}
