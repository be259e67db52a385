package graft

import java.nio.file.Files

/** [[Rehearsal.landedPart]], the glob behind the rehearsal and q106c
  * batch landings: an empty batch fails naming the batch. */
class LandedPartSpec extends SparkSpec {

  test("a batch that wrote no part file fails naming the batch") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val empty = Files.createTempDirectory("graft_landing_empty").toString
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(s"$empty/written")
    assert(Rehearsal.landedPart(fs, s"$empty/written", "1").getName.startsWith("part-"))
    for (dir <- Seq(empty, s"$empty/__b=2")) {
      val e = intercept[IllegalStateException](Rehearsal.landedPart(fs, dir, "2"))
      assert(e.getMessage.contains("batch 2"), e.getMessage)
    }
  }
}
