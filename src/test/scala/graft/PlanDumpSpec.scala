package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanDump.canonical]]: plan dumps of the same code compare
  * byte-equal across runs and code moves. */
class PlanDumpSpec extends AnyFunSuite {
  test("canonical masks plan ids, RDD ids and call sites, and renumbers expression ids") {
    val a =
      """(3) Scan ExistingRDD [codegen id : 1]
        |Output [2]: [c_id#412L, shingle#415L]
        |Arguments: [c_id#412L, shingle#415L], MapPartitionsRDD[87] at localCheckpoint at Dedup.scala:546
        |(4) HashAggregate
        |Keys [1]: [shingle#415L]
        |Results [2]: [shingle#415L, count(1)#420L AS df#421L]
        |AdaptiveSparkPlan isFinalPlan=false, plan_id=1203""".stripMargin
    val b =
      """(3) Scan ExistingRDD [codegen id : 1]
        |Output [2]: [c_id#9L, shingle#77L]
        |Arguments: [c_id#9L, shingle#77L], MapPartitionsRDD[3] at localCheckpoint at Graph.scala:71
        |(4) HashAggregate
        |Keys [1]: [shingle#77L]
        |Results [2]: [shingle#77L, count(1)#5L AS df#6L]
        |AdaptiveSparkPlan isFinalPlan=false, plan_id=7""".stripMargin
    assert(PlanDump.canonical(a) === PlanDump.canonical(b))
    assert(PlanDump.canonical(a).contains(
      "Results [2]: [shingle#1L, count(1)#2L AS df#3L]"))
    // a real difference (a different column feeding the aggregate)
    // survives canonicalization
    val c = b.replace("Keys [1]: [shingle#77L]", "Keys [1]: [c_id#9L]")
    assert(PlanDump.canonical(a) !== PlanDump.canonical(c))
  }

  test("canonical masks lambda class names a plan prints") {
    val a = "MapElements graft.ops.EventStreams$$$Lambda$5189/0x00007f2fd1424b40@5623354e, obj#371: int"
    val b = "MapElements graft.ops.EventStreams$$$Lambda$4977/0x00007f8b1c3a9d58@1b2c3d4e, obj#12: int"
    assert(PlanDump.canonical(a) === PlanDump.canonical(b))
    assert(PlanDump.canonical(a) ===
      "MapElements graft.ops.EventStreams$$$Lambda<id>, obj#0: int")
    // a lambda of another class still reads as a difference
    assert(PlanDump.canonical(a) !==
      PlanDump.canonical(b.replace("EventStreams", "TextQueries")))
  }

  test("canonical masks byte-array identities a plan prints") {
    val a = "Filter (bloom_filter_agg#55 might_contain [B@7447e4aa)"
    val b = "Filter (bloom_filter_agg#9 might_contain [B@4f48e01f)"
    assert(PlanDump.canonical(a) === PlanDump.canonical(b))
    assert(PlanDump.canonical(a) === "Filter (bloom_filter_agg#0 might_contain [B@<id>)")
  }
}
