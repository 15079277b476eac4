package graft

import org.scalatest.funsuite.AnyFunSuite

/** The late-registration gate (round-9, after x152 shipped dark in r8):
  * every registered query MUST carry a DuckDB oracle or sit on the
  * documented rows-only allowlist — the sets must tile the registry
  * exactly, so a query can never again be registered without entering the
  * correctness gate. Pure set arithmetic; no SparkSession needed. */
class RegistrationGateSpec extends AnyFunSuite {

  test("queries.keySet == oracleSql.keySet ∪ rowsOnly (exact tiling, no overlap)") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val ro = SparkEntry.rowsOnly
    val unoracled = qs -- os -- ro
    assert(unoracled.isEmpty,
      s"registered queries with NEITHER a DuckDB oracle NOR a rows-only waiver: ${unoracled.toSeq.sorted.mkString(", ")}")
    val danglingOracle = os -- qs
    assert(danglingOracle.isEmpty,
      s"oracle SQL for unregistered queries: ${danglingOracle.toSeq.sorted.mkString(", ")}")
    val danglingWaiver = ro -- qs
    assert(danglingWaiver.isEmpty,
      s"rows-only waivers for unregistered queries: ${danglingWaiver.toSeq.sorted.mkString(", ")}")
    val overlap = ro & os
    assert(overlap.isEmpty,
      s"queries both oracled and waived (drop the waiver): ${overlap.toSeq.sorted.mkString(", ")}")
  }

  test("rows-only allowlist stays small and justified") {
    // growing this set requires a documented necessity in SparkEntry.rowsOnly's
    // Scaladoc AND an exact ScalaTest oracle — review before raising the bound.
    // r11: dropped 3 → 2 after x187 hash-oracled the Reservoir stack's
    // deterministic priority-queue leg, leaving only x22's JVM-RNG draw and
    // x141's Deflater replay as genuinely un-oraclable logic.
    assert(SparkEntry.rowsOnly.size <= 2)
  }

  test("each query is registered once, and a repeated name fails the registry check") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 246)
    assert(names.distinct.size == 246)
    assert(SparkEntry.unique(SparkEntry.registry) eq SparkEntry.registry)
    val again = SparkEntry.registry(7).copy(oracle = None)
    val e = intercept[IllegalArgumentException](SparkEntry.unique(SparkEntry.registry :+ again))
    assert(e.getMessage.contains(again.name))
  }
}
