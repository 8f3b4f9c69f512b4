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
}
