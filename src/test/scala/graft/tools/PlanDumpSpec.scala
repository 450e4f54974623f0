package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** `PlanDump.canonical` masks every id a run draws afresh, so two dumps of
  * the same plans compare byte for byte. No Spark session.
  */
class PlanDumpSpec extends AnyFunSuite {

  private def line(expr: Int, plan: Int, hash: String, lambda: Int, rdd: Int, rel: Int): String =
    s"Project [id#${expr}L, static_invoke(VectorOps.norm(v#${expr + 1}, false)) AS vec_norm(v)#${expr + 2}]" +
      s" BroadcastExchange HashedRelationBroadcastMode(List(id#${expr}L)), [plan_id=$plan]" +
      s" MapPartitionsRDD[$rdd] graft.gates.Gate$$$$Lambda$$$lambda/0x00007f3c4c2b3d48@$hash" +
      s" Location: InMemoryFileIndex [file:/tmp/graft_shared_rel_$rel/edges]"

  test("canonical masks expression, plan, object, lambda, RDD and shared-relation ids") {
    val masked = PlanDump.canonical(line(12, 311, "6f1d2e3a", 1234, 17, 4711))
    assert(masked ==
      "Project [id#N, static_invoke(VectorOps.norm(v#N, false)) AS vec_norm(v)#N]" +
      " BroadcastExchange HashedRelationBroadcastMode(List(id#N)), [plan_id=N]" +
      " MapPartitionsRDD[N] graft.gates.Gate$$Lambda$N@H" +
      " Location: InMemoryFileIndex [file:/tmp/graft_shared_rel_N/edges]")
    assert(PlanDump.canonical(line(907, 5, "a0b1c2d3e4", 88, 3, 2)) == masked)
    assert(PlanDump.canonical(masked) == masked)
  }
}
