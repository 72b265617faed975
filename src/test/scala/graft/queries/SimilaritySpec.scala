package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The IVF-style ANN (no SQL oracle — engine-specific pruning) is held
  * to the exact brute force by recall. With 16 cells / 4 probes over a
  * near-isotropic synthetic embedding space, pruning is aggressive; the
  * bound asserts the plumbing finds a meaningful share of true
  * neighbors, and [[SimilarityQueries.knnIvf]]'s scaladoc carries the
  * 100 TB scaling rationale.
  */
class SimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def pairs(key: String): Set[(Long, Long)] =
    SparkEntry.queries(key)(spark, sf)
      .select("qid", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("IVF ANN returns 10 neighbors per query with recall vs brute force") {
    val exact = pairs("llm_knn_cosine")
    val approx = pairs("llm_knn_ivf")
    assert(approx.groupBy(_._1).forall(_._2.size == 10), "10 neighbors per query")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low — IVF probe routing broken")
  }

  test("deterministic IVF matches the float-Lloyd IVF's recall class") {
    val exact = pairs("llm_knn_cosine")
    val det = pairs("llm_knn_ivf_det")
    assert(det.groupBy(_._1).forall(_._2.size == 10), "10 neighbors per query")
    val recall = (exact & det).size.toDouble / exact.size
    // same 16-cell/4-probe geometry as llm_knn_ivf — the exact-BIGINT
    // re-centering must not cost recall (it changes centroids by ~1e-10)
    assert(recall >= 0.3, s"recall $recall too low — det training diverged")
  }

  test("PQ ANN returns 10 neighbors per query with recall vs brute force") {
    val exact = pairs("llm_knn_cosine")
    val approx = pairs("llm_knn_pq")
    assert(approx.groupBy(_._1).forall(_._2.size == 10), "10 neighbors per query")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low — PQ codebooks/ADC broken")
  }

  test("deterministic PQ: exact-rerank shortlist recall vs brute force") {
    val exact = pairs("llm_knn_cosine")
    val det = pairs("llm_knn_pq_det")
    assert(det.groupBy(_._1).forall(_._2.size == 10), "10 neighbors per query")
    val recall = (exact & det).size.toDouble / exact.size
    // 40-deep ADC shortlist + exact rerank on a 500-vector corpus —
    // the det codebooks must stay in the float-Lloyd recall class
    assert(recall >= 0.3, s"recall $recall too low — det codebooks diverged")
  }

  test("deterministic IVF-PQ composes both det trainings at the stack's recall class") {
    val exact = pairs("llm_knn_cosine")
    val det = pairs("llm_knn_ivfpq_det")
    assert(det.nonEmpty && det.groupBy(_._1).forall(_._2.size <= 10))
    val recall = (exact & det).size.toDouble / exact.size
    // cells prune to 4/16 and PQ shortlists within them — compounded
    // pruning; the gate guards plumbing, the oracle guards every value
    assert(recall >= 0.2, s"recall $recall too low — det IVF-PQ composition broken")
  }

  test("deterministic IVF-SQ8 composes det cells with the int8 tier at the stack's recall class") {
    val exact = pairs("llm_knn_cosine")
    val det = pairs("llm_knn_ivfsq8_det")
    assert(det.nonEmpty && det.groupBy(_._1).forall(_._2.size <= 10))
    val recall = (exact & det).size.toDouble / exact.size
    // 4/16-cell pruning bounds recall (SQ8 scan error is near-zero);
    // the gate guards plumbing, the oracle guards every value
    assert(recall >= 0.2, s"recall $recall too low — det IVF-SQ8 composition broken")
  }

  test("ANN delete path: tombstone serve == post-compaction serve; deleted ids gone") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val path = graft.Scratch.dirString("graft-ivf-del-spec")
    graft.operators.SimilarityOps.saveIvfIndex(emb, path,
      nCells = 16, iters = 2)
    graft.operators.SimilarityOps.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 10 === 7).select("vec_id"), path)
    def serve() = graft.operators.SimilarityOps.knnIvfSaved(emb, path,
        isQuery = col("vec_id") < 5, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val tombstoned = serve()
    assert(tombstoned.nonEmpty && !tombstoned.exists(_._2 % 10 == 7),
      "a deleted id must never be served as a neighbor")
    graft.operators.SimilarityOps.compactIvfIndex(spark, path)
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(path, "tombstones")),
      "compaction must truncate the tombstone log")
    // the rewrite keeps the cid= layout serve pruning and appends rely on
    def assignedDirs() = {
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(path, "assigned"))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
      finally ls.close()
    }
    assert(assignedDirs().nonEmpty && assignedDirs().forall(_.startsWith("cid=")),
      s"compaction must keep assigned/ partitioned by cid: ${assignedDirs()}")
    assert(serve() == tombstoned,
      "folding tombstones into assigned/ must not change any answer")
    // the in-memory serving kernel honors tombstones identically:
    // re-delete and compare against the already-compacted join form
    graft.operators.SimilarityOps.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"), path)
    val mem = graft.operators.SimilarityOps.knnLookupIvf(
        emb.filter(col("vec_id") < 5), path, nprobe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    graft.operators.SimilarityOps.compactIvfIndex(spark, path)
    assert(mem == serve(), "in-memory and join-form serves disagree")
    assert(assignedDirs().forall(_.startsWith("cid=")),
      s"compaction must keep assigned/ partitioned by cid: ${assignedDirs()}")
    // an append after compaction lands in the same layout and serves:
    // re-inserting the second delete's rows restores the first
    // compaction's index, answer for answer
    graft.operators.SimilarityOps.appendToIvfIndex(
      graft.operators.SimilarityOps.ivfAssignSaved(
        emb.filter(col("vec_id") % 10 === 3), path), path)
    assert(serve() == tombstoned,
      "an append after compaction must serve like the pre-delete index")
  }

  test("SQ8 ANN: int8 shortlist + exact rerank reaches recall >= 0.95") {
    val exact = pairs("llm_knn_cosine")
    val approx = pairs("llm_knn_sq8")
    assert(approx.groupBy(_._1).forall(_._2.size == 10), "10 neighbors per query")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.95,
      s"recall $recall — 8-bit-per-dim codes at shortlist 4k must be near-exact")
    // and the final cosines are EXACT: every returned (qid,nbr) pair's
    // cos matches the brute-force value (rerank uses full vectors)
    val bf = SparkEntry.queries("llm_knn_cosine")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    SparkEntry.queries("llm_knn_sq8")(spark, sf).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bf.get(key).foreach(c => assert(c == r.getDouble(2), s"$key cos mismatch"))
    }
  }

  test("PQ shortlist + exact rerank recovers most of the recall ADC loses") {
    import graft.operators.SimilarityOps
    import graft.Tables
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val exact = pairs("llm_knn_cosine")
    val adc = SimilarityOps.knnPq(emb, col("vec_id") < 5)
    val rr = SimilarityOps.knnPq(emb, col("vec_id") < 5, rerank = 100)
    def p(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rAdc = (exact & p(adc)).size.toDouble / exact.size
    val rRr = (exact & p(rr)).size.toDouble / exact.size
    assert(rRr >= rAdc, s"rerank must not lose recall ($rRr < $rAdc)")
    assert(rRr >= 0.6, s"reranked recall $rRr too low (measured 0.92 at sf0.01)")
  }

  test("IVF-PQ (prune + compress + rerank) clears the recall gate") {
    val exact = pairs("llm_knn_cosine")
    val approx = pairs("llm_knn_ivfpq")
    assert(approx.groupBy(_._1).forall(_._2.size == 10), "10 neighbors per query")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"recall $recall below gate (measured 0.92 at sf0.01, 1.00 at sf0.1)")
  }

  test("IVF-SQ8 (prune + int8 scan + exact rerank) clears the recall gate") {
    val exact = pairs("llm_knn_cosine")
    val approx = pairs("llm_knn_ivfsq8")
    assert(approx.groupBy(_._1).forall(_._2.size == 10), "10 neighbors per query")
    val recall = (exact & approx).size.toDouble / exact.size
    // SQ8 scan error is near-zero, so recall is bounded by IVF routing
    // alone — must match llm_knn_ivf's probe quality at the same
    // nprobe, and the IVF-PQ gate transfers
    assert(recall >= 0.9, s"recall $recall below gate")
    // returned cosines are EXACT (rerank touches full vectors)
    val bf = SparkEntry.queries("llm_knn_cosine")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    SparkEntry.queries("llm_knn_ivfsq8")(spark, sf).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bf.get(key).foreach(c => assert(c == r.getDouble(2), s"$key cos mismatch"))
    }
  }

  test("broadcast all-pairs kernel equals the declarative theta join exactly") {
    import graft.operators.SimilarityOps
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
    val kernel = SimilarityOps.cosineNearDups(emb, minCosine = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val join = SimilarityOps.cosineNearDupsJoin(emb, minCosine = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(kernel.nonEmpty, "planted near-dups should surface")
    assert(kernel == join, "kernel must reproduce the join form bit-for-bit")
  }

  test("cosineNearDups fails loudly BEFORE the collect when the corpus exceeds the broadcast cap") {
    import graft.operators.SimilarityOps
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.cosineNearDups(emb, minCosine = 0.45, maxBroadcastRows = 10L)
    }
    assert(e.getMessage.contains("cosineNearDupsBlocked"),
      s"the guard must name the scale-safe route, got: ${e.getMessage}")
  }

  test("cosineNearDupsBlocked fails loudly past its quadratic-regime cap") {
    import graft.operators.SimilarityOps
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.cosineNearDupsBlocked(emb, minCosine = 0.45, maxRows = 10L)
    }
    assert(e.getMessage.contains("rhpNearDups") && e.getMessage.contains("knnIvf"),
      s"the guard must name the sub-quadratic routes, got: ${e.getMessage}")
  }

  test("triangular block-grid all-pairs equals the broadcast kernel") {
    import graft.operators.SimilarityOps
    import graft.Tables
    val emb = Tables.embeddings(spark, sf)
    val kernel = SimilarityOps.cosineNearDups(emb, minCosine = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (b <- Seq(1, 4, 7)) { // 1 = degenerate single cell; 7 ∤ id space
      val grid = SimilarityOps.cosineNearDupsBlocked(emb, minCosine = 0.45, nBlocks = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(grid == kernel, s"nBlocks=$b grid diverged")
    }
  }

  test("RHP-LSH: exact precision vs the kernel; recall 1.0 on strong near-dups") {
    import graft.operators.SimilarityOps
    import graft.Tables
    import spark.implicits._
    // (a) on the fixture every emitted pair is a true pair (the exact
    // verify makes precision structural, not probabilistic)
    val emb = Tables.embeddings(spark, sf)
    val exact = SimilarityOps.cosineNearDups(emb, minCosine = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.rhpNearDups(emb, minCosine = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact kernel rejects")
    // (b) production regime: cosine ≥ ~0.99 dups (tiny perturbation of a
    // seeded base vector) must ALL be found — the angle is small enough
    // that each pair matches some 4-bit band essentially surely
    val dim = 32
    def vec(seed: Long): Seq[Float] =
      (0 until dim).map(d => (((seed * 31 + d) * 2654435761L % 1997L)
        - 998L).toFloat / 998f)
    val rows = (0L until 50L).flatMap { i =>
      val base = vec(i)
      val dup = base.zipWithIndex.map { case (x, d) =>
        x + (if (d % 7 == 0) 0.01f else 0f) }
      Seq((i * 2, base), (i * 2 + 1, dup.toSeq))
    }
    val df = rows.toDF("vec_id", "embedding")
    val found = SimilarityOps.rhpNearDups(df, minCosine = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until 50L).map(i => (i * 2, i * 2 + 1)).toSet
    assert(planted.subsetOf(found),
      s"missed ${(planted -- found).size} of 50 planted strong dups")
  }

  test("normed drops vectors whose norm is zero, NaN or infinite") {
    import spark.implicits._
    // Spark orders NaN above every double, so a `nrm > 0` filter alone
    // keeps the NaN and Inf norms and their cosines come out NaN
    val df = Seq(
      (1L, Seq(1.0f, 2.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(Float.NaN, 1.0f)), (4L, Seq(Float.PositiveInfinity, 1.0f)),
      (5L, Seq(Float.NegativeInfinity, 0.0f)), (6L, Seq(3.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    val kept = graft.operators.SimilarityOps.normed(df)
      .select("vec_id", "nrm").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kept.keySet == Set(1L, 6L))
    assert(kept(6L) == 5.0)
  }

  test("cell router: -0.0 ties 0.0 with the lower cid first; NaN never wins; all-NaN goes to the lowest cid") {
    import graft.operators.SimilarityOps.{nearestCell, probedCells}
    def route(cs: Array[(Long, Array[Double], Double)], v: Array[Double],
        nr: Double): (Long, Seq[Long]) =
      (cs(nearestCell(cs, v, nr))._1, probedCells(cs, v, nr, cs.length).toSeq)
    // v = (-1, -0.0) against (0, 1) and (0, -1): both dot products sum
    // from +0.0, so both cosines are +0.0 — a tie the lower cid takes
    val v = Array(-1.0, -0.0)
    assert(route(Array((1L, Array(0.0, 1.0), 1.0), (2L, Array(0.0, -1.0), 1.0)),
      v, 1.0) == (1L, Seq(1L, 2L)))
    // a real -0.0 cosine needs a negative norm: cid 1 scores -0.0, cid 2
    // +0.0; Spark's ordering calls them equal, so cid 1 still leads
    // (Scala's Double ordering alone would put cid 2 first)
    val up = Array(0.0, 1.0)
    val signed = Array((1L, Array(1.0, 0.0), -1.0), (2L, Array(1.0, 0.0), 1.0))
    assert(route(signed, up, 1.0) == (1L, Seq(1L, 2L)))
    // a NaN cosine ranks below every number, and all-NaN keeps cid order
    val nanFirst = Array((1L, Array(0.0, 1.0), Double.NaN), (2L, Array(0.0, 1.0), 1.0))
    assert(route(nanFirst, up, 1.0) == (2L, Seq(2L, 1L)))
    assert(route(nanFirst, up, Double.NaN) == (1L, Seq(1L, 2L)))
  }

  test("Lloyd trainer: ragged vectors average each dimension over the vectors that have it") {
    import spark.implicits._
    val typed = graft.operators.SimilarityOps.normed(Seq(
        (1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(3.0, 4.0)), (3L, Seq(5.0)),
        (4L, Seq(-7.0, 0.5)))
      .toDF("vec_id", "embedding").repartition(3))
      .as[(Long, Seq[Double], Double)]
    // one cell of all four: dimension 0 sums over 4 vectors, 1 over 3
    // and 2 over 1 (10⁻⁹-unit sums, mean = sum / count / 1e9); one count
    // per cell would give 6.5/4 and 3/4 for the last two
    val Array((cid, cv, cnrm)) =
      graft.operators.SimilarityOps.lloydCells(typed, nCells = 1, iters = 2)
    assert(cid == 1L)
    assert(cv.toSeq == Seq(2.0e9 / 4 / 1e9, 6.5e9 / 3 / 1e9, 3.0e9 / 1 / 1e9))
    assert(cnrm == math.sqrt(cv(0) * cv(0) + cv(1) * cv(1) + cv(2) * cv(2)))
  }

  test("Lloyd trainer: a cell sum past Long.MaxValue fails instead of wrapping") {
    import spark.implicits._
    // round(5e9 · 1e9) = 5e18 per vector; two of them pass 9.22e18
    val typed = graft.operators.SimilarityOps.normed(
        Seq((1L, Seq(5.0e9)), (2L, Seq(5.0e9))).toDF("vec_id", "embedding"))
      .as[(Long, Seq[Double], Double)]
    val e = intercept[Exception] {
      graft.operators.SimilarityOps.lloydCells(typed, nCells = 1, iters = 1)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[ArithmeticException]), e)
  }
}
