package graft.operators

import graft.{Graft, SparkSpec}

/** Long-lived-session storage lifecycle: a session that runs the
  * heaviest report operators in sequence (the frames they memoize/track
  * are the library's largest pinned storage — pair streams, LM scored
  * frames, shingle caches, iteration checkpoints) must return to its
  * storage baseline after `Graft.release`, instead of accumulating
  * pinned blocks until eviction pressure (VERDICT r6 item 4 / task 6). */
class LifecycleSpec extends SparkSpec {

  test("storage returns to baseline after the heaviest report operators + release") {
    // the session is shared across suites — other suites' leftovers are
    // the baseline, NOT a failure of release; measure growth beyond it
    Graft.release(spark) // start from this suite's own clean slate
    val baseline = spark.sparkContext.getPersistentRDDs.keySet

    val heavies = Seq(
      "d19_dedup_report", "d22_dedup_funnel", "d10_dup_clusters",
      "d47_dup_pagerank", "d54_cap_sweep", "p01_corpus_pipeline",
      "p14_curation_ledger", "t13_source_overlap", "t14_ppl_buckets",
      "s43_power_iteration",
      // un-memoized connectedComponents callers: each CC generation is a
      // checkpoint release must free, the final one included
      "d18_minhash_clusters", "m07_payload_clusters", "p31_split_stability")
    heavies.foreach { name =>
      assert(Graft.run(spark, sf, name).count() >= 0L, name)
    }
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.diff(baseline)
    assert(pinned.nonEmpty,
      "expected the heavy operators to pin shared frames (memo/checkpoints)")

    Graft.release(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(baseline)
    assert(leaked.isEmpty,
      s"${leaked.size} RDDs still pinned after release: ${leaked.toSeq.sorted.take(10)}")

    // and the library still works afterwards — released frames rebuild
    assert(Graft.run(spark, sf, "d19_dedup_report").count() > 0L)
    Graft.release(spark)
  }
}
