package graft

import org.apache.spark.sql.functions._
import graft.api.Maintenance

/** Table maintenance: targeted backfill and small-file compaction — layout
  * transforms whose contracts are "untouched data provably untouched" and
  * "content preserved", asserted at the FILE level, not just read-back. */
class MaintenanceSpec extends SparkSpec {

  private def fileSigs(dir: java.io.File): Map[String, (Long, String)] = {
    def walk(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty).toIndexedSeq
      kids.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(dir).map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      f.getPath.stripPrefix(dir.getPath) -> (f.length, md.map("%02x".format(_)).mkString)
    }.toMap
  }

  test("backfillPartitions replaces only the targeted partition, byte-identical elsewhere") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("backfill").toString + "/t"
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
                 (4L, "a", 11.0), (5L, "b", 21.0)).toDF("id", "day", "v")
    v1.coalesce(1).write.partitionBy("day").parquet(dir)
    val before = fileSigs(new java.io.File(dir))
    // correction arrives for day=b ONLY
    val fix = Seq((2L, "b", 99.0)).toDF("id", "day", "v")
    Maintenance.backfillPartitions(fix, dir, "day")
    val after = fileSigs(new java.io.File(dir))
    // day=a and day=c files: same paths, same bytes
    for ((p, sig) <- before if !p.contains("day=b"))
      assert(after.get(p).contains(sig), s"untouched partition file changed: $p")
    // day=b was swapped whole: old row 5 gone, corrected row 2 present
    val b = spark.read.parquet(dir).filter(col("day") === "b")
      .select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(b == Set((2L, 99.0)), s"day=b must hold exactly the backfill rows, got $b")
    // the rest of the table reads back unchanged
    val rest = spark.read.parquet(dir).filter(col("day") =!= "b").count()
    assert(rest == 3)
  }

  test("compactFiles collapses small files, preserves rows and content, and is crash-honest") {
    implicit val s = spark
    val dir = java.nio.file.Files.createTempDirectory("compactf").toString + "/t"
    val df = spark.range(10000).select(col("id"), (col("id") % 97).as("k"))
    df.repartition(64).write.parquet(dir)
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val total = {
      def sz(d: java.io.File): Long =
        Option(d.listFiles()).getOrElse(Array.empty)
          .map(f => if (f.isDirectory) sz(f)
                    else if (f.getName.endsWith(".parquet")) f.length else 0L).sum
      sz(new java.io.File(dir))
    }
    val (nBefore, nAfter) = Maintenance.compactFiles(dir, targetBytes = total / 4 + 1)
    assert(nBefore == 64, s"expected 64 input files, got $nBefore")
    assert(nAfter <= 8, s"compaction must collapse the layout, got $nAfter files")
    val got = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, "compaction must preserve content exactly")
    // no staging/retired residue after a clean swap
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(f => f.getName.startsWith(".compact_") ||
                                           f.getName.startsWith(".retired_")),
      "clean compaction leaves no temp dirs")
  }

  test("compactFiles preserves hive-partitioned layouts and their pruning") {
    implicit val s = spark
    val dir = java.nio.file.Files.createTempDirectory("compactp").toString + "/t"
    val base = spark.range(2000).select(
      col("id"), (col("id") % 2).as("cv"), (col("id") % 3).as("cid"))
    // simulate streaming appends: 4 batches × repartition(3) → up to 3 small
    // files per (cv,cid) directory per batch
    (0 until 4).foreach { b =>
      base.filter(col("id") % 4 === b).repartition(3)
        .write.mode("append").partitionBy("cv", "cid").parquet(dir)
    }
    val want = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString)).toSet
    val (nBefore, nAfter) = Maintenance.compactFiles(dir, targetBytes = 1L << 30)
    assert(nAfter < nBefore, s"must collapse files: $nBefore -> $nAfter")
    assert(nAfter == 6, s"expected one file per (cv,cid) partition, got $nAfter")
    // the partition DIRECTORIES survive — the regression this test pins was
    // a flat rewrite that demoted cv/cid to plain data columns
    val cvDirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
    assert(cvDirs == Set("cv=0", "cv=1"), s"partition layout destroyed: $cvDirs")
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString)).toSet
    assert(got == want, "partitioned compaction must preserve content exactly")
    // and the layout still prunes at the storage layer
    val read1 = graft.api.Bucketing.filesRead(
      spark.read.parquet(dir).filter(col("cv") === 0 && col("cid") === 1))
    assert(read1 == 1, s"pruned scan must read exactly 1 file, read $read1")
  }
}
