package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Pins for the cross-epoch dedup index: the row-local MinHash
  * signature/banding must be BIT-IDENTICAL to the UDAF the batch LSH
  * route uses (same permutation arithmetic — a divergence would
  * silently change recall), the persisted round-trip must serve the
  * same pairs the in-session operators find, and the append path must
  * make later batches dedup against earlier keepers.
  */
class DedupIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)

  test("rowBands == the MinHashSig UDAF banding, byte for byte") {
    val viaRows = DedupOps.rowBands(DedupOps.shingleSets(docs))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val M = 2147483647L
    val minhashSig = udaf(
      graft.functions.SketchAggregators.MinHashSig, Encoders.scalaLong)
    val viaUdaf = DedupOps.hashedShingles(docs)
      .withColumn("x", col("h") % M)
      .groupBy("doc_id").agg(minhashSig(col("x")).as("sig"))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(15))).as("band"), col("sig"))
      .withColumn("bsig", expr(
        "concat_ws(',', transform(slice(sig, band*4 + 1, 4), v -> CAST(v AS STRING)))"))
      .select("doc_id", "band", "bsig")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(viaRows == viaUdaf,
      s"banding arithmetic diverged on ${(viaRows -- viaUdaf).size + (viaUdaf -- viaRows).size} rows")
  }

  test("saved-index serve == in-session cross-epoch pairs; self-pairs impossible") {
    val path = java.nio.file.Files.createTempDirectory("dedup-idx").toString
    val old = docs.filter(col("doc_id") % 2 === 0)
    val nw = docs.filter(col("doc_id") % 2 === 1)
    DedupOps.saveDedupIndex(old, path)
    val served = DedupOps.dedupAgainstIndex(nw, path, minJaccard = 0.5)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // in-session reference: whole-corpus LSH pairs restricted cross-epoch
    val ref = DedupOps.minhashNearDups(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (a % 2 == 1 && b % 2 == 0) Some((a, b, j))
        else if (b % 2 == 1 && a % 2 == 0) Some((b, a, j))
        else None
      }.toSet
    assert(served == ref,
      s"persisted serve diverged: extra=${served -- ref} missing=${ref -- served}")
    assert(served.forall { case (a, b, _) => a % 2 == 1 && b % 2 == 0 })
  }

  test("append: the next batch dedups against earlier keepers") {
    val path = java.nio.file.Files.createTempDirectory("dedup-idx-app").toString
    // epoch 1: thirds 0; batch A: thirds 1; batch B: thirds 2
    DedupOps.saveDedupIndex(docs.filter(col("doc_id") % 3 === 0), path)
    val batchA = docs.filter(col("doc_id") % 3 === 1)
    DedupOps.appendToDedupIndex(batchA, path)
    val batchB = docs.filter(col("doc_id") % 3 === 2)
    val served = DedupOps.dedupAgainstIndex(batchB, path, minJaccard = 0.5)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuilt = java.nio.file.Files.createTempDirectory("dedup-idx-reb").toString
    DedupOps.saveDedupIndex(docs.filter(col("doc_id") % 3 =!= 2), rebuilt)
    val want = DedupOps.dedupAgainstIndex(batchB, rebuilt, minJaccard = 0.5)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == want, "append-maintained index != rebuilt index")
    assert(want.nonEmpty, "fixture must contain cross-epoch pairs at 0.5")
  }

  test("delete path: tombstones mask, re-crawl serves without compaction, compaction preserves") {
    val path = java.nio.file.Files.createTempDirectory("dedup-idx-del").toString
    val old = docs.filter(col("doc_id") % 2 === 0)
    val nw = docs.filter(col("doc_id") % 2 === 1)
    DedupOps.saveDedupIndex(old, path)
    def serve() = DedupOps.dedupAgainstIndex(nw, path, minJaccard = 0.5)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = serve()
    assert(before.nonEmpty, "fixture must contain cross-epoch pairs")
    // take down every indexed doc that currently serves as a match
    val doomedIds = before.map(_._2).toSeq
    val sp = spark
    import sp.implicits._
    DedupOps.deleteFromDedupIndex(doomedIds.toDF("doc_id"), path)
    assert(serve().isEmpty, "tombstoned docs must stop serving")
    // re-crawl ONE of them: it must serve again with ZERO compaction
    // (its re-append epoch outranks the tombstone)
    val back = doomedIds.head
    DedupOps.appendToDedupIndex(docs.filter(col("doc_id") === back), path)
    val after = serve()
    assert(after == before.filter(_._2 == back),
      s"re-crawled doc must serve immediately: $after")
    // compaction folds the masked rows out and PRESERVES the re-crawl
    DedupOps.compactDedupIndex(spark, path)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(path, "tombstones")))
    // the rewrite keeps both tables' partition layouts
    Seq("bands" -> "band", "sets" -> "bkt").foreach { case (tbl, part) =>
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(path, tbl))
      val names = try ls.iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
        finally ls.close()
      assert(names.nonEmpty && names.forall(_.startsWith(s"$part=")),
        s"compaction must keep $tbl/ partitioned by $part: $names")
    }
    assert(serve() == after, "compaction changed the served pairs")
    // a SECOND delete outranks the re-crawl
    DedupOps.deleteFromDedupIndex(Seq(back).toDF("doc_id"), path)
    assert(serve().isEmpty, "newer tombstone must mask the re-crawl")
    // and an append after compaction still serves: a third crawl of
    // the same doc outranks the second delete
    DedupOps.appendToDedupIndex(docs.filter(col("doc_id") === back), path)
    assert(serve() == after, "an append after compaction must serve")
  }

  test("rebuild-in-place after deletes serves fresh rows (stale tombstones reset)") {
    val path = java.nio.file.Files.createTempDirectory("dedup-idx-rebuild").toString
    val old = docs.filter(col("doc_id") % 2 === 0)
    val nw = docs.filter(col("doc_id") % 2 === 1)
    DedupOps.saveDedupIndex(old, path)
    def serve() = DedupOps.dedupAgainstIndex(nw, path, minJaccard = 0.5)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = serve()
    assert(fresh.nonEmpty, "fixture must contain cross-epoch pairs")
    // delete everything that serves, then REBUILD the index in place:
    // without the bulk build resetting tombstones/ + epochs/, the old
    // tombstones (epoch >= 1) would mask every fresh epoch-0 row and
    // the rebuilt index would silently serve nothing
    val sp = spark
    import sp.implicits._
    DedupOps.deleteFromDedupIndex(fresh.map(_._2).toSeq.toDF("doc_id"), path)
    assert(serve().isEmpty)
    DedupOps.saveDedupIndex(old, path)
    assert(serve() == fresh,
      "in-place rebuild must serve exactly what a fresh-path build serves")
  }

  test("lake layout: bands/ partitioned by band, sets/ by doc_id hash bucket; a slice prunes the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = java.nio.file.Files.createTempDirectory("dedup-idx-layout").toString
    DedupOps.saveDedupIndex(docs, path)
    def dirNames(p: String): Seq[String] = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      try {
        val b = Seq.newBuilder[String]
        ls.iterator().forEachRemaining(f => b += f.getFileName.toString)
        b.result()
      } finally ls.close()
    }
    assert(dirNames(s"$path/bands").count(_.startsWith("band=")) == 16,
      "bands/ must be laid out as 16 band= partition dirs")
    assert(dirNames(s"$path/sets").exists(_.startsWith("bkt=")),
      "sets/ must be laid out as bkt= partition dirs")
    def prunedFiles(tbl: String, filter: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(s"$path/$tbl").filter(filter)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f }
        .map(_.metrics("numFiles").value)
        .getOrElse(fail(s"no file scan for $tbl"))
    }
    def totalFiles(tbl: String): Long = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$path/$tbl"))
      try walk.iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally walk.close()
    }
    assert(prunedFiles("bands", col("band") === 3) < totalFiles("bands"),
      "a 1-band filter must partition-prune bands/")
    assert(prunedFiles("sets", col("bkt") === 0) < totalFiles("sets"),
      "a 1-bucket filter must partition-prune sets/")
    // compaction preserves the layout
    val sp = spark
    import sp.implicits._
    DedupOps.deleteFromDedupIndex(Seq(0L).toDF("doc_id"), path)
    DedupOps.compactDedupIndex(spark, path)
    assert(dirNames(s"$path/bands").count(_.startsWith("band=")) == 16,
      "compaction must keep bands/ band-partitioned")
    assert(dirNames(s"$path/sets").exists(_.startsWith("bkt=")),
      "compaction must keep sets/ bucket-partitioned")
  }

  test("bucketed-bands serve: same pairs as plain, ZERO corpus-side exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val old = docs.filter(col("doc_id") % 2 === 0)
    val nw = docs.filter(col("doc_id") % 2 === 1)
    val plainPath = java.nio.file.Files.createTempDirectory("dedup-bb-p").toString
    DedupOps.saveDedupIndex(old, plainPath)
    val bucketPath = java.nio.file.Files.createTempDirectory("dedup-bb-b").toString
    DedupOps.saveDedupIndexBucketed(old, "spec_bands_bucketed", bucketPath)
    // pin the plan shape in the no-broadcast regime (at corpus scale
    // nothing fits a broadcast) with a static plan (no AQE re-plan)
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plain = DedupOps.dedupAgainstIndex(nw, plainPath, minJaccard = 0.5)
      val bucketed = DedupOps.dedupAgainstIndexBucketed(nw,
        "spec_bands_bucketed", bucketPath, minJaccard = 0.5)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairs(bucketed) == pairs(plain),
        "the fused-bkey join must form exactly the (band, bsig) pairs")
      def scans(p: SparkPlan, frag: String): Boolean = p.collectFirst {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(frag)) => f
      }.isDefined
      def corpusOnly(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
          .count(e => scans(e.child, "/bands") &&
            !scans(e.child, "documents.parquet"))
      assert(corpusOnly(plain) >= 1,
        "plain serve re-shuffles the corpus bands table (the trade)")
      assert(corpusOnly(bucketed) == 0,
        "bucketed serve must plan NO exchange over the corpus bands " +
          "table — its bucketing IS the join distribution")
    } finally {
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql("DROP TABLE IF EXISTS spec_bands_bucketed")
    }
  }

  test("append refuses a legacy UNPARTITIONED index layout, loudly") {
    val path = java.nio.file.Files.createTempDirectory("dedup-idx-legacy").toString
    // simulate a pre-partitioning index: band/bkt as plain data columns,
    // parquet files at the table root
    val sets = DedupOps.shingleSets(docs.limit(20))
    DedupOps.rowBands(sets).withColumn("epoch", lit(0L))
      .write.mode("overwrite").parquet(s"$path/bands")
    sets.withColumn("epoch", lit(0L))
      .withColumn("bkt", pmod(hash(col("doc_id")), lit(16)))
      .write.mode("overwrite").parquet(s"$path/sets")
    val e = intercept[IllegalArgumentException] {
      DedupOps.appendToDedupIndex(docs.limit(5), path)
    }
    assert(e.getMessage.contains("UNPARTITIONED") &&
      e.getMessage.contains("saveDedupIndex"),
      s"error must name the legacy layout and the rebuild route: ${e.getMessage}")
    // and nothing was appended half-way: the legacy table still reads
    assert(spark.read.parquet(s"$path/bands").count() > 0)
  }
}
