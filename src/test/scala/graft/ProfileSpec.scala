package graft

import graft.run.Profile

import java.nio.file.Files

/** `Profile query` harness: cold/warm timing per query, one plan file per
  * query, and no persisted RDD left behind after any rep (q20 persists
  * its MinHash signatures, q3 persists nothing).
  */
class ProfileSpec extends SparkSpec {

  test("query mode times cold and warm reps, writes plans, frees persisted RDDs") {
    val plans = Files.createTempDirectory("graft-profile-plans")
    val names = Seq("q3_filter_pushdown", "q20_minhash_lsh")
    val runs = names.map(Profile.query(spark, sf0, _, reps = 2, Some(plans.toString)))
    runs.foreach { r =>
      assert(r.ok, s"${r.name} failed")
      assert(r.secs.size == 2)
      assert(r.coldS > 0 && r.coldS.isFinite, s"${r.name} cold_s ${r.coldS}")
      assert(r.warmS > 0 && r.warmS.isFinite, s"${r.name} warm_s ${r.warmS}")
      // one reading after the plan capture plus one per rep, all empty
      assert(r.persisted == Seq(0, 0, 0), s"${r.name} left persisted RDDs: ${r.persisted}")
      assert(Files.size(plans.resolve(s"${r.name}.txt")) > 0)
    }
    assert(plans.toFile.list().toSet == names.map(_ + ".txt").toSet)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
