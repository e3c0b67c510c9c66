package graft.streaming

import graft.SparkSpec
import java.nio.file.Files

class ForeachBatchUpsertSpec extends SparkSpec {
  import spark.implicits._

  test("dedupeLatest keeps the newest version per key") {
    val batch = Seq((1L, 10L, "old"), (1L, 20L, "new"), (2L, 5L, "only"))
      .toDF("id", "version", "payload")
    val out = ForeachBatchUpsert.dedupeLatest(batch, "id", "version")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 20L, "new"), (2L, 5L, "only")))
  }

  test("re-running the same batch converges (idempotent upsert)") {
    val dir = Files.createTempDirectory("upsert").toString
    val handler = ForeachBatchUpsert.handler(dir, "id", "version", buckets = 4)
    val batch = Seq((1L, 1L, "a"), (2L, 1L, "b"), (1L, 2L, "a2")).toDF("id", "version", "payload")
    handler(batch, 0L)
    handler(batch, 0L) // redelivery of the same epoch
    val result = spark.read.parquet(dir).select("id", "version", "payload")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(result.toSeq == Seq((1L, 2L, "a2"), (2L, 1L, "b")))
  }

  test("later batches merge with stored keys sharing a bucket (no cross-batch loss)") {
    val dir = Files.createTempDirectory("upsert2").toString
    // buckets = 1: every key lands in the same partition, the worst case
    // for overwrite-by-bucket semantics
    val handler = ForeachBatchUpsert.handler(dir, "id", "version", buckets = 1)
    handler(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "version", "payload"), 0L)
    handler(Seq((3L, 1L, "c"), (2L, 2L, "b2")).toDF("id", "version", "payload"), 1L)
    val result = spark.read.parquet(dir).select("id", "version", "payload")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // key 1 from batch 0 survives batch 1's bucket rewrite; key 2 upgraded
    assert(result.toSeq == Seq((1L, 1L, "a"), (2L, 2L, "b2"), (3L, 1L, "c")))
  }

  test("the handler pins no storage across micro-batches") {
    val dir = Files.createTempDirectory("upsert3").toString
    val handler = ForeachBatchUpsert.handler(dir, "id", "version", buckets = 2)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    handler(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "version", "payload"), 0L)
    handler(Seq((2L, 2L, "b2")).toDF("id", "version", "payload"), 1L)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(pinned.isEmpty, s"${pinned.size} RDDs pinned by two upsert batches")
  }

  test("dedupeLatest breaks (key, version) ties deterministically") {
    val batch = Seq((1L, 1L, "x"), (1L, 1L, "y")).toDF("id", "version", "payload")
    val out = ForeachBatchUpsert.dedupeLatest(batch, "id", "version")
      .as[(Long, Long, String)].collect()
    assert(out.toSeq == Seq((1L, 1L, "y"))) // payload desc — stable across runs
  }
}
