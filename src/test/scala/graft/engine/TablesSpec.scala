package graft.engine

import java.nio.file.Files

import graft.SparkSpec

class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a rewritten input's scan width is probed again after release") {
    val dir = Files.createTempDirectory("tables").toString
    val path = s"$dir/documents.parquet"
    def write(files: Int): Unit =
      (1L to 64L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
        .repartition(files).write.mode("overwrite").parquet(path)
    def width: Int = spark.read.parquet(path).rdd.getNumPartitions

    write(1)
    Tables.documents(spark, dir)
    assert(Tables.probedWidth(spark, s"$dir/documents") == Some(1))

    write(8)
    assert(width > 1, "eight files must scan wider than one")
    Tables.documents(spark, dir)
    // within a release the input is immutable: the probe holds
    assert(Tables.probedWidth(spark, s"$dir/documents") == Some(1))

    Frames.release(spark)
    assert(Tables.probedWidth(spark, s"$dir/documents").isEmpty)
    Tables.documents(spark, dir)
    assert(Tables.probedWidth(spark, s"$dir/documents") == Some(width))
  }
}
