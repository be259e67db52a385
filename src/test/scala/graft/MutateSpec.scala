package graft

import graft.operators.Mutate
import org.apache.spark.sql.functions._

/** Copy-on-write mutations over a partitioned layout: correctness of
  * delete/update, and the pruning guarantee — untouched partitions'
  * files are byte-identical (same path, size, mtime) after a
  * mutation that doesn't reach them. */
class MutateSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): String = {
    val path = java.nio.file.Files.createTempDirectory(s"graft_mut_$tag")
      .resolve("t").toString
    Seq.tabulate(400) { i => (i.toLong, i % 4, s"u${i % 10}", i.toDouble) }
      .toDF("id", "p", "owner", "v")
      .write.partitionBy("p").parquet(path)
    path
  }

  private def fileState(path: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(path)
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    java.nio.file.Files.walk(root).forEach { p =>
      val f = p.toFile
      if (f.isFile && f.getName.endsWith(".parquet"))
        out(root.relativize(p).toString) = (f.length, f.lastModified)
    }
    out.toMap
  }

  test("delete removes matching rows and rewrites only affected partitions") {
    val path = freshTable("del")
    val before = fileState(path)
    // owner u3 rows live in p = 3 % 4 ∈ {3} only when i%10==3 → i%4 cycles…
    // choose a predicate confined to partition 1: id % 4 == 1 ∧ id < 100
    val rep = Mutate.delete(spark, path, "p", $"p" === 1 && $"id" < 100)
    assert(rep.partitionsTotal == 4 && rep.partitionsRewritten == 1)
    assert(rep.rowsChanged == 25)
    val left = spark.read.parquet(path)
    assert(left.count() == 375)
    assert(left.where($"p" === 1 && $"id" < 100).count() == 0)
    // untouched partitions: identical files (size + mtime)
    val after = fileState(path)
    val untouched = before.keys.filter(k => !k.contains("p=1"))
    untouched.foreach { k => assert(after(k) == before(k), s"$k was rewritten") }
    // the affected partition WAS rewritten
    assert(before.keys.filter(_.contains("p=1")).forall(k => after.get(k) != Some(before(k))))
  }

  test("a delete runs three jobs: the per-partition stats aggregate is one, with no shuffle") {
    val path = freshTable("jobs")
    // stats (one job; two with a shuffle on the partition column) + write (two)
    assert(jobsOf(Mutate.delete(spark, path, "p", $"p" === 2 && $"id" < 200)) == 3)
  }

  test("timestamp partition column: full-partition delete removes the directory (writer-format path)") {
    // java.sql.Timestamp.toString ends in ".0" where Spark's writer
    // formats the directory from Cast(v, String) — a toString-built
    // path would miss the dir and deleted rows would resurrect on read
    val path = java.nio.file.Files.createTempDirectory("graft_mut_ts").resolve("t").toString
    Seq.tabulate(40) { i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"2026-0${1 + i % 2}-01 00:00:00"))
    }.toDF("id", "ts").write.partitionBy("ts").parquet(path)
    val rep = Mutate.delete(spark, path, "ts",
      $"ts" === java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))
    assert(rep.partitionsRewritten == 1 && rep.rowsChanged == 20)
    val left = spark.read.parquet(path)
    assert(left.count() == 20)
    assert(left.where($"ts" === java.sql.Timestamp.valueOf("2026-02-01 00:00:00")).count() == 0)
    // dropPartition formats the same way
    Mutate.dropPartition(spark, path, "ts", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    val dirs = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
    assert(!dirs.exists(_.startsWith("ts=")), s"partition dirs survived: $dirs")
  }

  test("update applies assignments to matching rows only, pre-update RHS") {
    val path = freshTable("upd")
    // swap semantics check: v := v + id uses PRE-update v for the flag
    val rep = Mutate.update(spark, path, "p",
      $"p" === 2 && $"v" < 50, Seq("v" -> ($"v" * 100), "owner" -> lit("redacted")))
    assert(rep.partitionsRewritten == 1)
    val t = spark.read.parquet(path)
    // matching rows: p==2, original v < 50 → ids 2,6,…,46 (12 rows)
    assert(rep.rowsChanged == 12)
    assert(t.where($"owner" === "redacted").count() == 12)
    assert(t.where($"p" === 2 && $"v" === 200.0).count() == 1) // id=2 → 2*100
    // non-matching rows in the rewritten partition are unchanged
    assert(t.where($"p" === 2 && $"id" === 50).head().getAs[Double]("v") == 50.0)
    // row count is stable under update
    assert(t.count() == 400)
  }

  test("a delete emptying an entire partition removes its directory") {
    val path = freshTable("empty")
    val rep = Mutate.delete(spark, path, "p", $"p" === 2)
    assert(rep.partitionsRewritten == 1 && rep.rowsChanged == 100)
    // dynamic overwrite alone would have left p=2's old files in place
    assert(!new java.io.File(s"$path/p=2").exists())
    val t = spark.read.parquet(path)
    assert(t.count() == 300)
    assert(t.select("p").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 3))
  }

  test("updating the partition column is refused") {
    val path = freshTable("pkey")
    intercept[IllegalArgumentException] {
      Mutate.update(spark, path, "p", $"id" < 10, Seq("p" -> lit(9)))
    }
  }

  test("a predicate matching nothing rewrites nothing") {
    val path = freshTable("noop")
    val before = fileState(path)
    val rep = Mutate.delete(spark, path, "p", $"id" < 0)
    assert(rep.partitionsRewritten == 0 && rep.rowsChanged == 0)
    assert(fileState(path) == before)
    assert(spark.read.parquet(path).count() == 400)
  }

  test("dropPartition removes exactly one part, untouched parts stay byte-identical") {
    val path = freshTable("drop")
    val before = fileState(path)
    Mutate.dropPartition(spark, path, "p", 2)
    val after = fileState(path)
    assert(spark.read.parquet(path).select("p").distinct().collect().map(_.getInt(0)).sorted.toSeq
      == Seq(0, 1, 3))
    assert(spark.read.parquet(path).count() == 300)
    // every surviving file untouched (no rewrite happened at all)
    assert(after.forall { case (f, st) => before.get(f).contains(st) })
    // dropping a missing partition is a loud error
    intercept[IllegalArgumentException] { Mutate.dropPartition(spark, path, "p", 99) }
  }

  test("ttl drops wholly-expired partitions as units and rewrites only the boundary") {
    // range-partitioned table (p = id / 100), so partition predicates
    // are consistent with the row TTL — the MergeTree layout shape
    val path = java.nio.file.Files.createTempDirectory("graft_mut_ttl")
      .resolve("t").toString
    Seq.tabulate(400) { i => (i.toLong, i / 100, i.toDouble) }
      .toDF("id", "p", "v")
      .write.partitionBy("p").parquet(path)
    val before = fileState(path)
    // retention cutoff at id 250: partitions 0 and 1 wholly expired,
    // partition 2 is the boundary, partition 3 is entirely live
    val rep = Mutate.ttl(spark, path, "p",
      rowExpired = $"id" < 250, partitionWhollyExpired = $"p" < 2)
    assert(rep.partitionsDropped == 2)
    assert(rep.partitionsRewritten == 1) // only the boundary partition
    // dropped parts are never read, hence never counted; row-level
    // deletions are the boundary's expired half: ids 200…249
    assert(rep.rowsDeleted == 50)
    // dropped directories are gone from disk
    assert(!new java.io.File(s"$path/p=0").exists())
    assert(!new java.io.File(s"$path/p=1").exists())
    // surviving table is exactly the TTL filter
    val t = spark.read.parquet(path)
    assert(t.count() == 150)
    assert(t.where($"id" < 250).count() == 0)
    assert(t.select(sum($"id")).head().getLong(0) == (250L until 400L).sum)
    // the fully-live partition was not rewritten: files byte-identical
    val after = fileState(path)
    before.keys.filter(_.contains("p=3")).foreach { k =>
      assert(after(k) == before(k), s"$k was rewritten")
    }
    // …and the boundary partition's files actually changed
    assert(before.keys.filter(_.contains("p=2")).forall(k => after.get(k) != Some(before(k))))
  }
}
