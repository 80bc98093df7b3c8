package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

class CompactionSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def fragmented(files: Int, rows: Int): String = {
    val dir = TempDirs.make("graft_compact_in").toString
    spark.range(rows).select(col("id"),
        concat(lit("payload-"), col("id")).as("text"))
      .repartition(files).write.mode("overwrite").parquet(dir)
    dir
  }

  test("compaction reduces file count to ceil(bytes/target) and preserves content exactly") {
    val in = fragmented(files = 32, rows = 10000)
    assert(Compaction.dataFileCount(spark, in) == 32)
    val out = TempDirs.make("graft_compact_out").toString
    val total = Compaction.dataBytes(spark, in)
    val compacted = Compaction.compact(spark, in, out,
      targetFileBytes = (total + 3) / 4)
    val n = Compaction.dataFileCount(spark, out)
    assert(n <= 8 && n >= 1, s"expected ~4 files, got $n")
    // content identity, not just counts
    val a = spark.read.parquet(in)
    assert(compacted.except(a).count() == 0 && a.except(compacted).count() == 0)
    assert(compacted.count() == 10000)
  }

  test("clusterBy range-clusters: per-file id ranges are disjoint") {
    val in = fragmented(files = 16, rows = 10000)
    val out = TempDirs.make("graft_compact_cl").toString
    val total = Compaction.dataBytes(spark, in)
    Compaction.compact(spark, in, out, targetFileBytes = (total + 3) / 4,
      clusterBy = Seq("id"))
    // min/max id per physical file must not overlap — that disjointness is
    // what makes parquet min/max skipping effective on the cluster key
    val ranges = spark.read.parquet(out)
      .select(col("id"), input_file_name().as("f"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .orderBy("lo").as[(String, Long, Long)].collect()
    assert(ranges.length >= 2, "need >=2 files to check disjointness")
    ranges.sliding(2).foreach { case Array((_, _, hi1), (_, lo2, _)) =>
      assert(hi1 < lo2, s"file ranges overlap: hi=$hi1 vs next lo=$lo2")
    }
  }

  test("partitionBy keeps the Hive layout, targets files per partition, pruning survives") {
    // hot/cold skew: status A ~10x the bytes of B/C
    val in = TempDirs.make("graft_compact_part_in").toString
    spark.range(11000).select(col("id"),
        when(col("id") < 10000, "A").otherwise(when(col("id") < 10500, "B")
          .otherwise("C")).as("status"),
        concat(lit("payload-"), col("id")).as("text"))
      .repartition(16).write.partitionBy("status").mode("overwrite").parquet(in)
    // the fragmented input wrote ~16 files per partition value
    assert(Compaction.dataFileCount(spark, in) > 30)
    val out = TempDirs.make("graft_compact_part_out").toString
    val aBytes = Compaction.partitionBytes(spark, in)("status=A")
    // target = A/4: the hot partition should land ~4 files, cold ones 1 each
    val compacted = Compaction.compact(spark, in, out,
      targetFileBytes = (aBytes + 3) / 4, partitionBy = Seq("status"))
    // layout preserved: key=value directories on the output
    Seq("A", "B", "C").foreach { v =>
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(out, s"status=$v")), s"missing status=$v dir")
    }
    // per-partition-value file targeting, not a global round-robin (which
    // would write a sliver of every value from every task)
    val perDir = Seq("A", "B", "C").map(v =>
      v -> Compaction.dataFileCount(spark, s"$out/status=$v")).toMap
    assert(perDir("B") == 1 && perDir("C") == 1,
      s"cold partitions must compact to one file, got $perDir")
    assert(perDir("A") >= 2 && perDir("A") <= 8,
      s"hot partition should split toward ~4 right-sized files, got $perDir")
    // content identity
    val a = spark.read.parquet(in)
    assert(compacted.except(a).count() == 0 && a.except(compacted).count() == 0)
    // partition pruning still works on the compacted copy — the property
    // flattening silently destroyed before partitionBy existed
    val pruned = compacted.where(col("status") === "B")
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    val pfIdx = plan.indexOf("PartitionFilters")
    assert(pfIdx >= 0 && plan.substring(pfIdx).takeWhile(_ != ']').contains("status"),
      s"no partition filter on compacted output:\n$plan")
  }

  test("multi-column partitionBy: colliding concatenations stay distinct (separator) and no row duplicates") {
    // ("ab","c") and ("a","bc") concatenate identically without a
    // separator — if the __pv join key collided, filesDf would hold
    // duplicate keys and the broadcast left join would DUPLICATE every
    // data row in those partitions. The  separator keeps the
    // tuples apart; this pins row-exact output on exactly that shape.
    val in = TempDirs.make("graft_compact_mc_in").toString
    spark.range(2000).select(col("id"),
        when(col("id") % 2 === 0, "ab").otherwise("a").as("k1"),
        when(col("id") % 2 === 0, "c").otherwise("bc").as("k2"),
        concat(lit("payload-"), col("id")).as("text"))
      .repartition(8).write.partitionBy("k1", "k2").mode("overwrite").parquet(in)
    val out = TempDirs.make("graft_compact_mc_out").toString
    val compacted = Compaction.compact(spark, in, out,
      targetFileBytes = 1L << 30, partitionBy = Seq("k1", "k2"))
    assert(compacted.count() == 2000,
      "collided __pv keys would duplicate rows through the left join")
    val a = spark.read.parquet(in)
    assert(compacted.except(a).count() == 0 && a.except(compacted).count() == 0)
    Seq(("ab", "c"), ("a", "bc")).foreach { case (v1, v2) =>
      assert(Compaction.dataFileCount(spark, s"$out/k1=$v1/k2=$v2") == 1,
        s"partition k1=$v1/k2=$v2 should compact to one file")
    }
  }

  test("a dataset already below target compacts to one file") {
    val in = fragmented(files = 8, rows = 100)
    val out = TempDirs.make("graft_compact_one").toString
    Compaction.compact(spark, in, out, targetFileBytes = 1L << 30)
    assert(Compaction.dataFileCount(spark, out) == 1)
    assert(spark.read.parquet(out).count() == 100)
  }
}
