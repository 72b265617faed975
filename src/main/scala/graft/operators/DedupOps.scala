package graft.operators

import graft.functions.{Hashes, SketchAggregators}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parameterized document-dedup operators — the library surface behind
  * the fixture-bound `llm_dedup_*` query keys (which the DuckDB oracle
  * regression-tests end to end).
  *
  * Inputs: any DataFrame with a unique id column (integral) and a text
  * column. Pair outputs use columns `(ai, bi, <metric>)` with ai < bi.
  * Scale notes live on each method and in SCALE.md.
  */
object DedupOps {

  import Norm.normalized

  /** Exact integer `ceil`-style division on a long Column — Spark's
    * `div` (IntegralDivide), so the prefix-length bounds are integer
    * arithmetic end to end, never a double floor. */
  private def idiv(a: org.apache.spark.sql.Column, b: Int): org.apache.spark.sql.Column =
    call_function("div", a, lit(b.toLong))

  /** Distinct n-token shingles per doc: `(doc_id, sh)`. */
  def shingles(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame =
    normalized(df, idCol, textCol)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))"))).as("sh"))

  /** Shingle rows with the cross-engine 57-bit hash: `(doc_id, sh, h)`. */
  def hashedShingles(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    shingles(df, idCol, textCol, n).withColumn("h", Hashes.polyHash(col("sh")))

  /** Exact dedup: content-hash groups with deterministic keep-first by
    * id — `(kept, h, dup_count)`.
    * @note scale: one shuffle on the content hash; window state is one
    *   group at a time. */
  def exactDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val hashed = normalized(df, idCol, textCol)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val wCnt = Window.partitionBy(col("h"))
    val wRn = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    hashed
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .withColumn("rn", row_number().over(wRn))
      .filter(col("rn") === 1)
      .select(col("doc_id").as("kept"), col("h"), col("cnt").as("dup_count"))
  }

  /** Exact pairwise n-gram Jaccard over pairs sharing a NON-HOT shingle:
    * `(ai, bi, jac)`. Candidate pairs come from a self-join on the
    * shingle hash (cheap key compare; collision term ~|shingles|²/2^57)
    * restricted to shingles whose document frequency is ≤ `maxShingleDf`
    * — a shingle in more docs than that is boilerplate, carries no dedup
    * signal, and would contribute up to df²/2 joined rows on ONE shuffle
    * key (the classic 100 TB skew killer). The Jaccard value itself is
    * then computed EXACTLY over each candidate pair's FULL shingle sets
    * (hot shingles included), so reported `jac` is true n-gram Jaccard;
    * the cap only bounds candidate generation. A pair is missed only if
    * every shingle it shares is hot — such pairs share only boilerplate.
    * @note scale: candidate shuffle on the shingle hash, never doc×doc,
    *   with per-key join fan-out bounded by maxShingleDf²; the verify
    *   join is ∝ |candidates|. The hot-shingle set is found with one
    *   groupBy on the same key. `maxShingleDf = Long.MaxValue` disables
    *   the cap (spec cross-check only — never at scale). */
  def jaccardPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      maxShingleDf: Long = 1000L): DataFrame =
    overlapCore(df, idCol, textCol, n, maxShingleDf)
      .select(col("ai"), col("bi"),
        round(col("c") / (col("na") + col("nb") - col("c")), 6).as("jac"))

  /** Shared candidate+intersection core of [[jaccardPairs]] /
    * [[containmentPairs]]: `(ai, bi, c, na, nb)` — exact full-set
    * intersection count per shared-cold-shingle candidate pair via the
    * join-count form (NOT per-pair array_intersect, which re-touches
    * every element per candidate — measured 159 s → join-count parity
    * with the ngram key at 10× stress). */
  private def overlapCore(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Long): DataFrame = {
    val sh = hashedShingles(df, idCol, textCol, n).persist()
    val shf = sh.withColumn("dfc",
      count(lit(1)).over(Window.partitionBy(col("h"))))
    val cold = shf.filter(col("dfc") <= maxShingleDf)
    val hot = shf.filter(col("dfc") > maxShingleDf)
      .groupBy("doc_id").agg(collect_list(col("h")).as("hs"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cold.as("a").hint("shuffle_hash")
      .join(cold.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"))
      .agg(count(lit(1)).as("cc"))
    inter
      .join(sz.as("sa"), col("ai") === col("sa.doc_id"))
      .join(sz.as("sb"), col("bi") === col("sb.doc_id"))
      .join(hot.as("ha"), col("ai") === col("ha.doc_id"), "left")
      .join(hot.as("hb"), col("bi") === col("hb.doc_id"), "left")
      .withColumn("c", col("cc").cast("double") +
        when(col("ha.hs").isNotNull && col("hb.hs").isNotNull,
          size(array_intersect(col("ha.hs"), col("hb.hs"))).cast("double"))
          .otherwise(lit(0.0)))
      .select(col("ai"), col("bi"), col("c"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
  }

  /** Asymmetric CONTAINMENT pairs: for every shared-shingle candidate
    * pair, `cont_a = |A∩B|/|A|` and `cont_b = |A∩B|/|B|` — the
    * directional overlap Jaccard blurs: a short document fully quoted
    * inside a long one has cont_short ≈ 1 while its Jaccard is tiny
    * (≈ |short|/|long|), so symmetric dedup never sees it. This is the
    * quote / subset-duplication / boilerplate-inclusion detector.
    * Returns `(ai, bi, cont_a, cont_b)` for candidates sharing a
    * df ≤ `maxShingleDf` shingle (the same hot-shingle candidate
    * contract as [[jaccardPairs]]; intersections are over FULL sets).
    *
    * @note scale: identical shape to [[jaccardPairs]] — candidate
    *   equi-join on cold shingles bounded by Σ min(df,cap)², then one
    *   array-intersect pass per candidate against the per-doc hash
    *   arrays. */
  def containmentPairs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      maxShingleDf: Long = 1000L): DataFrame =
    overlapCore(df, idCol, textCol, n, maxShingleDf)
      .select(col("ai"), col("bi"),
        round(col("c") / col("na"), 6).as("cont_a"),
        round(col("c") / col("nb"), 6).as("cont_b"))

  /** Exact Jaccard for GIVEN candidate pairs `(ai, bi)` via per-doc
    * shingle-hash arrays + array_intersect — cost ∝ |candidates|. */
  def jaccardFor(cands: DataFrame, df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    jaccardForHashed(cands, hashedShingles(df, idCol, textCol, n))

  /** [[jaccardFor]] over ALREADY-HASHED shingles `(doc_id, sh, h)` —
    * lets callers that built the shingle set for another stage (LSH
    * signatures) avoid a second tokenize+hash pass over the corpus. */
  def jaccardForHashed(cands: DataFrame, hashedSh: DataFrame): DataFrame = {
    val sets = hashedSh
      .groupBy("doc_id")
      .agg(collect_list(col("h")).as("xs"), count(lit(1)).as("n"))
    cands
      .join(sets.as("sa"), col("ai") === col("sa.doc_id"))
      .join(sets.as("sb"), col("bi") === col("sb.doc_id"))
      .withColumn("c", size(array_intersect(col("sa.xs"), col("sb.xs"))).cast("double"))
      .select(col("ai"), col("bi"),
        round(col("c") / (col("sa.n") + col("sb.n") - col("c")), 6).as("jac"))
  }

  /** Exact CONTAINMENT for GIVEN candidate pairs `(ai, bi)` — the
    * directional twin of [[jaccardForHashed]]: `(ai, bi, cont_a,
    * cont_b)` over the pairs' FULL shingle sets, cost ∝ |candidates|.
    * The verify half of the streaming flag→confirm split
    * ([[graft.streaming.StreamOps.containmentCandidatesStream]]). */
  def containmentForHashed(cands: DataFrame, hashedSh: DataFrame): DataFrame = {
    val sets = hashedSh
      .groupBy("doc_id")
      .agg(collect_list(col("h")).as("xs"), count(lit(1)).as("n"))
    cands
      .join(sets.as("sa"), col("ai") === col("sa.doc_id"))
      .join(sets.as("sb"), col("bi") === col("sb.doc_id"))
      .withColumn("c", size(array_intersect(col("sa.xs"), col("sb.xs"))).cast("double"))
      .select(col("ai"), col("bi"),
        round(col("c") / col("sa.n"), 6).as("cont_a"),
        round(col("c") / col("sb.n"), 6).as("cont_b"))
  }

  /** SimHash near-dup pairs at Hamming ≤ `maxHamming`: `(ai, bi, hd)`.
    * 57-bit signatures (the hash domain) via the one-pass Aggregator.
    *
    * The pair stage runs as a broadcast kernel: signatures are one long
    * per doc (a 100M-doc corpus is 1.6 GB of (id, sig) pairs), so the
    * whole signature table broadcasts and each partition XOR-popcounts
    * against ids greater than its own — integer ops only, no joined-row
    * materialization. Replaces the `a.doc_id < b.doc_id` theta join
    * (BroadcastNestedLoopJoin, measured 2.3 s → ~0.6 s at sf0.1).
    *
    * @note scale: beyond broadcast reach, use [[simhashNearDupsBanded]]
    *   — same output, band-bucket shuffle instead of a broadcast. */
  def simhashNearDups(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 10, n: Int = 3,
      maxBroadcastRows: Long = 100L * 1000 * 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val simSig = udaf(SketchAggregators.SimHashSig, Encoders.scalaLong)
    val sim = hashedShingles(df, idCol, textCol, n)
      .groupBy("doc_id").agg(simSig(col("h")).as("s"))
      .as[(Long, Long)]
      .persist() // evaluated twice: the collect below + the kernel scan
    // fail BEFORE the driver-side collect, not with a driver OOM —
    // beyond broadcast reach the caller routes through the banded form
    val nDocs = sim.count()
    require(nDocs <= maxBroadcastRows,
      s"corpus has $nDocs docs — beyond the broadcast kernel's reach " +
        s"($maxBroadcastRows); use simhashNearDupsBanded")
    val side = sim.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast((side.map(_._1), side.map(_._2)))
    sim.mapPartitions { it =>
      val (bids, bsigs) = bc.value
      it.flatMap { case (ai, as) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        var j = java.util.Arrays.binarySearch(bids, ai)
        j = if (j >= 0) j + 1 else -(j + 1)
        while (j < bids.length) {
          val hd = java.lang.Long.bitCount(as ^ bsigs(j))
          if (hd <= maxHamming) out += ((ai, bids(j), hd))
          j += 1
        }
        out.iterator
      }
    }.toDF("ai", "bi", "hd")
  }

  /** Banded form of [[simhashNearDups]] for corpora beyond broadcast
    * reach — same `(ai, bi, hd)` output, EXACTLY (not approximately):
    * the signature's bit range is partitioned into `maxHamming + 1`
    * bands, and by pigeonhole a pair at Hamming distance ≤ maxHamming
    * leaves at least one band untouched, so every qualifying pair
    * collides on some band's exact value.
    *
    * Verification happens IN-BUCKET: signatures ride the band shuffle,
    * each (band, value) bucket runs a fused popcount loop over its own
    * rows, and a qualifying pair is emitted only by the FIRST band in
    * which the two signatures collide (the lowest all-zero-XOR band) —
    * cross-band duplicates die locally, no candidate materialization,
    * no `distinct`, no signature re-join. An earlier revision
    * materialized the candidate equi-join and deduped it; the 10×
    * stress probe showed that form going quadratic in join machinery
    * (6.6 s → 483 s) where this one moves only popcounts.
    *
    * @note scale: one shuffle of (maxHamming+1)·N three-long rows;
    *   per-bucket work is quadratic in bucket size, which is N/(2^w)
    *   for band width w — the inherent exact-banding trade. At 57 bits
    *   / 11 bands, w ≈ 5, so buckets are coarse (N/32; fixture-scale
    *   measurable); the 128/256-bit multi-word signatures a production
    *   corpus would use give w ≥ 11 and sparse buckets. A hot bucket
    *   is one task — AQE skew-split or widen the signature before
    *   scaling the corpus 100×. */
  def simhashNearDupsBanded(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 10, n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val simSig = udaf(SketchAggregators.SimHashSig, Encoders.scalaLong)
    val sim = hashedShingles(df, idCol, textCol, n)
      .groupBy("doc_id").agg(simSig(col("h")).as("s"))
    // Bands must PARTITION the 57 real signature bits, every band
    // nonempty — a uniform ceil-width grid would leave the top band all
    // zeros (a full-corpus bucket). Variable widths: `rem` bands get an
    // extra bit.
    val nBands = maxHamming + 1
    val bits = 57 // signature domain (polyHash is 57-bit)
    val base = bits / nBands
    val rem = bits % nBands
    require(base >= 1, s"maxHamming=$maxHamming needs more bands than $bits bits")
    val widths = Array.tabulate(nBands)(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init.toArray
    val bandExprs = offsets.zip(widths).map { case (off, w) =>
      expr(s"shiftright(s, $off) & ${(1L << w) - 1}")
    }
    sim.select(col("doc_id"), col("s"), posexplode(array(bandExprs.toSeq: _*)))
      .toDF("doc_id", "s", "band", "bv")
      .as[(Long, Long, Int, Long)]
      .groupByKey { case (_, _, band, bv) => (band, bv) }
      .flatMapGroups { (key: (Int, Long), it: Iterator[(Long, Long, Int, Long)]) =>
        val band = key._1
        val arr = it.map { case (id, s, _, _) => (id, s) }.toArray
        java.util.Arrays.sort(arr, Ordering.by((t: (Long, Long)) => t._1))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        var i = 0
        while (i < arr.length) {
          val (ai, as) = arr(i)
          var j = i + 1
          while (j < arr.length) {
            val x = as ^ arr(j)._2
            val hd = java.lang.Long.bitCount(x)
            if (hd <= maxHamming) {
              // lowest band with zero XOR bits = first colliding band;
              // pigeonhole guarantees one exists for hd <= maxHamming
              var fb = 0
              while (fb < nBands &&
                ((x >>> offsets(fb)) & ((1L << widths(fb)) - 1)) != 0L) fb += 1
              if (fb == band) out += ((ai, arr(j)._1, hd))
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }.toDF("ai", "bi", "hd")
  }

  /** Declarative theta-join form of [[simhashNearDups]]'s pair stage —
    * kept as the spec cross-check. */
  def simhashNearDupsJoin(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 10, n: Int = 3): DataFrame = {
    val simSig = udaf(SketchAggregators.SimHashSig, Encoders.scalaLong)
    val sim = hashedShingles(df, idCol, textCol, n)
      .groupBy("doc_id").agg(simSig(col("h")).as("s"))
    sim.as("a").join(sim.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi"),
        expr("bit_count(a.s ^ b.s)").cast("int").as("hd"))
      .filter(col("hd") <= maxHamming)
  }

  /** Connected components over near-dup pairs — the clustering step a
    * dedup pipeline runs after pair generation, so each group of
    * transitively-linked near-duplicates keeps one canonical document.
    * Returns every node with `cluster_id` = the smallest id reachable
    * from it (singletons map to themselves).
    *
    * Min-label propagation to fixpoint via [[graft.operators.GraphOps
    * .iterate]]: labels start as own id; each round every node takes
    * the min of its own and its neighbors' labels; converges in
    * O(component diameter) rounds (round guard 200, convergence
    * required — an unconverged result is an error, never returned).
    * Each round materializes once (the changed-count IS the
    * convergence action) so lineage stays flat.
    *
    * @note scale: each round is one shuffle of the edge list joined to
    *   current labels. Diameter-bound rounds are fine for dedup graphs
    *   (components are tiny cliques/chains); for adversarial graphs the
    *   small-star/large-star alternation (Kiveris et al., "Connected
    *   Components in MapReduce", SoCC'14) converges in O(log n) rounds
    *   and drops in here without changing the contract. */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
      idCol: String = "doc_id", aCol: String = "ai", bCol: String = "bi"): DataFrame = {
    val e = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist()
    // only nodes with an edge can ever change label — singletons rejoin
    // at the end, so the loop runs on the (much smaller) active set.
    // Seed with min(self, direct neighbors): identical to one
    // propagation round over own-id labels, so pair/clique components
    // (the common dedup shape) converge a full round earlier.
    val seed = e.groupBy(col("src")).agg(min(col("dst")).as("nb"))
      .select(col("src").as("node"), least(col("src"), col("nb")).as("lab"))
    val labels = GraphOps.iterate(seed, maxRounds = 200,
        requireConvergence = true) { (cur, _) =>
      val prop = e.join(cur, e("dst") === cur("node"))
        .groupBy(col("src")).agg(min("lab").as("nlab"))
      // carry the previous label so the convergence check is a filter on
      // the same materialization — one job per round
      cur.as("l").join(prop, col("l.node") === prop("src"), "left")
        .select(col("l.node").as("node"),
          least(col("l.lab"), coalesce(col("nlab"), col("l.lab"))).as("lab"),
          col("l.lab").as("prev"))
    } { (_, next) => next.filter(col("lab") < col("prev")).count() == 0 }
    e.unpersist()
    nodes.select(col(idCol).as("node"))
      .join(labels.withColumnRenamed("lab", "cluster_id"), Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }

  /** Char-level CROSS-DOC duplicate-span profile — the "repeated
    * substring" signal substring-dedup pipelines act on (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL'22), simplified from suffix arrays to strided k-char grams:
    * every doc emits a gram of `k` chars at each `stride` offset (full
    * grams only), grams are 57-bit poly-hashed, and a gram whose hash
    * occurs in ≥ 2 DISTINCT docs marks a duplicated span. Returns one
    * row per doc of length ≥ k: `(doc_id, n_spans, n_dup, dup_ratio)`.
    * Use it to rank docs for span-level surgery or drop-listing; stride
    * trades recall (a duplicated region shorter than k + stride can be
    * missed) for gram volume.
    *
    * @note scale: gram volume is |chars| / stride rows of (long, long)
    *   — one shuffle on the 8-byte hash for the df count, one to join
    *   the verdict back; no doc×doc work anywhere, and hot grams cost
    *   only their count (the join carries a boolean, not pairs). */
  def duplicateSpans(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 40, stride: Int = 10): DataFrame = {
    require(k >= 1 && stride >= 1)
    val grams = normalized(df, idCol, textCol)
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST(floor((length(text) - $k) / $stride) AS INT)), " +
          s"i -> substring(text, i * $stride + 1, $k))")).as("gr"))
      .select(col("doc_id"), Hashes.polyHash(col("gr")).as("h"))
    val dup = grams.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .select(col("h"), (col("nd") >= 2).as("is_dup"))
    grams.join(dup, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_spans"), 6).as("dup_ratio"))
  }

  /** MinHash+LSH near-dup pairs at Jaccard ≥ `minJaccard`:
    * `(ai, bi, jac)`. 64 permutations, 16 bands × 4 rows; banded
    * candidates are verified with exact Jaccard, so the output is the
    * exact pair set whenever LSH recall holds at the threshold
    * ((1-J⁴)¹⁶ miss probability per pair).
    * @note scale: the only all-pairs work is inside an LSH bucket. */
  def minhashNearDups(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minJaccard: Double = 0.8, n: Int = 3): DataFrame = {
    // cached: feeds the signature build AND the exact-Jaccard verify —
    // one tokenize+hash pass instead of two
    val hs = hashedShingles(df, idCol, textCol, n).persist()
    // reuse the hashed shingles built for the signatures — no second
    // tokenize+hash pass over the corpus
    jaccardForHashed(bandedCandidates(hs), hs)
      .filter(col("jac") >= minJaccard)
  }

  /** MinHash-LSH candidate pairs over ALREADY-HASHED shingles
    * `(doc_id, sh, h)`: `(ai, bi)` with `ai < bi` for every pair whose
    * 64-permutation signatures collide on at least one of the 16
    * 4-row bands — the candidate stage of [[minhashNearDups]], exposed
    * so rerank-style consumers ([[graft.queries.DedupQueries]]'
    * `llm_topk_similar`) can route candidate generation through the
    * SAME banding machinery instead of a shingle self-join. The
    * signature arithmetic (`h mod M`, then `(2i+1)·x + (1000003·i +
    * 12345) mod M` per permutation) is plain integer math, so the
    * DuckDB oracle REBUILDS it and hash-checks the routed keys.
    *
    * @note scale: the only all-pairs work is inside an LSH bucket —
    *   one shuffle of 16·N `(band, bsig)` rows; bucket mass tracks true
    *   near-duplicate mass, never Σ df². */
  def bandedCandidates(hashedSh: DataFrame): DataFrame = {
    val M = 2147483647L
    val minhashSig = udaf(SketchAggregators.MinHashSig, Encoders.scalaLong)
    val sig = hashedSh
      .withColumn("x", col("h") % M)
      .groupBy("doc_id").agg(minhashSig(col("x")).as("sig"))
    val bands = sig
      .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("band"), col("sig"))
      .withColumn("bsig", expr(
        "concat_ws(',', transform(slice(sig, band*4 + 1, 4), v -> CAST(v AS STRING)))"))
      .select("doc_id", "band", "bsig")
      .persist() // both sides of the band self-join
    bands.as("a")
      .join(bands.as("b"), col("a.band") === col("b.band") &&
        col("a.bsig") === col("b.bsig") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ai"), col("b.doc_id").as("bi")).distinct()
  }

  /** COMPLETE containment pairs at threshold `tNum/tDen` — every pair
    * with `max(cont_a, cont_b) ≥ t`, no hot-shingle caveat — via
    * prefix filtering (the AllPairs/PPJoin candidate bound of Bayardo,
    * Ma & Srikant, "Scaling up all pairs similarity search", WWW'07,
    * adapted to the overlap/containment constraint): order the shingle
    * universe canonically by (global document frequency ASC, hash ASC)
    * — rarest first — and rank each document's shingles in that order.
    * If `c = |A∩B| ≥ t·m` for the smaller side of size `m`, then fewer
    * than `m − (⌈t·m⌉ − 1)` of its shingles are unshared, so at least
    * one of its first `m − ⌈t·m⌉ + 2` shingles is shared (one extra
    * slot absorbs the `round(·,6)` boundary: a ratio within 5·10⁻⁷
    * below t still rounds up to t for any doc under 2M shingles).
    * Candidates are therefore prefix(shorter) ⋈ full(longer) on the
    * shingle hash; exact containment over the FULL sets then verifies.
    * Returns `(ai, bi, cont_a, cont_b)` with
    * `max(cont) ≥ tNum/tDen`, `ai < bi`.
    *
    * The threshold is a RATIONAL (`tNum/tDen`), so the prefix length is
    * exact integer arithmetic — no IEEE ceil drift — and the DuckDB
    * oracle for the bound key is a genuinely independent brute-force
    * all-shared-pairs restatement, certifying prefix completeness end
    * to end (the [[graft.queries.DedupQueries]] `llm_edit_join_exact`
    * pattern).
    *
    * Contrast [[containmentPairs]]: the df-capped form stays the
    * small-corpus fast path, but its candidate mass is Σ min(df,cap)²
    * over ALL cold shingles — the 10× stress probe measured it at
    * 99.9 s — where this form joins only the RAREST ~(1−t) fraction of
    * each document's shingles against the corpus, so hot boilerplate
    * shingles never become join keys unless a document consists almost
    * entirely of them (in which case the pairs are true positives and
    * the mass is output mass).
    *
    * @note scale: one groupBy on the hash for global df, one
    *   doc-partitioned window for the ranks, then the prefix⋈full
    *   equi-join on the hash; verification cost ∝ candidates. All
    *   shuffles hash-partition; no doc×doc stage. */
  def containmentPairsComplete(df: DataFrame, tNum: Int = 4, tDen: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "need 0 < t <= 1")
    val hs = hashedShingles(df, idCol, textCol, n).persist()
    // required overlap on the smaller side: o = ceil(t·m) − 1, with
    // ceil(a/b) = (a+b−1) div b — true integer division (the scaladoc's
    // exact-arithmetic contract), not a double floor
    val cands = prefixFilteredCandidates(hs,
      m => idiv(m * tNum + tDen - 1, tDen) - 1)
    val sets = hs.groupBy("doc_id")
      .agg(collect_list(col("h")).as("xs"), count(lit(1)).as("n"))
    cands
      .join(sets.as("sa"), col("ai") === col("sa.doc_id"))
      .join(sets.as("sb"), col("bi") === col("sb.doc_id"))
      .withColumn("c", size(array_intersect(col("sa.xs"), col("sb.xs"))).cast("double"))
      .select(col("ai"), col("bi"),
        round(col("c") / col("sa.n"), 6).as("cont_a"),
        round(col("c") / col("sb.n"), 6).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >=
        lit(tNum.toDouble / tDen))
  }

  /** COMPLETE Jaccard pairs at threshold `tNum/tDen` — every pair with
    * `jac ≥ t`, no hot-shingle caveat — through the SAME rarity-order
    * prefix filter as [[containmentPairsComplete]], with the overlap
    * bound specialized to Jaccard: `jac ≥ t` forces
    * `c ≥ t·(na+nb)/(1+t) ≥ 2t/(1+t)·min(na,nb)`, so the smaller
    * side's prefix of its `m − ⌈2·tNum·m/(tDen+tNum)⌉ + 2` rarest
    * shingles must intersect the other side (the +2 absorbs the
    * rounded-threshold boundary slot), and the length filter
    * `t·max ≤ min` prunes size-mismatched pairs outright. Exact
    * full-set Jaccard then verifies. Returns `(ai, bi, jac)`,
    * `ai < bi`, `jac ≥ t`.
    *
    * Contrast the three existing regimes: [[jaccardPairs]] (df-capped
    * candidates — fast, misses pairs sharing only boilerplate),
    * [[minhashNearDups]] (probabilistic LSH recall), and this —
    * deterministic completeness at the threshold, candidate mass
    * bounded by each document's rarest ~(1−2t/(1+t)) shingle fraction.
    *
    * @note scale: identical plan shape to [[containmentPairsComplete]]
    *   — same two hash-partitioned passes and prefix⋈full equi-join,
    *   verification ∝ candidates. */
  def jaccardPairsComplete(df: DataFrame, tNum: Int = 4, tDen: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "need 0 < t <= 1")
    val hs = hashedShingles(df, idCol, textCol, n).persist()
    // o = ceil(2·tNum·m / (tDen + tNum)) − 1 (rounding slack); the
    // length filter is Jaccard-specific: jac ≥ t ⟹ t·max ≤ min (one
    // unit of slack for the rounded threshold boundary)
    val cands = prefixFilteredCandidates(hs,
      m => idiv(m * (2 * tNum) + tDen + tNum - 1, tDen + tNum) - 1,
      sizePred = Some((pm, fm) => pm * tDen >= fm * tNum - tDen))
    jaccardForHashed(cands, hs)
      .filter(col("jac") >= lit(tNum.toDouble / tDen))
  }

  /** Shared prefix-filter candidate stage of
    * [[containmentPairsComplete]] / [[jaccardPairsComplete]]: order the
    * shingle universe by (global df ASC, hash ASC) — rarest first —
    * rank each document's shingles in that order, and emit as
    * candidates every `(ai, bi)` whose SMALLER side shares one of its
    * first `m − o(m) + 1` shingles with the other side's full set,
    * where `o(m)` is the caller's required-overlap lower bound for a
    * smaller side of size `m` (already reduced by 1 to absorb the
    * `round(·,6)` threshold boundary for any document under 2M
    * shingles). Ties in size admit both directions and dedupe.
    *
    * @note scale: one groupBy on the hash for global df, one
    *   doc-partitioned window pass for ranks, then the prefix⋈full
    *   equi-join on the hash — hot boilerplate shingles only become
    *   join keys for documents consisting almost entirely of them
    *   (true-positive mass). No doc×doc stage. */
  private def prefixFilteredCandidates(hs: DataFrame,
      requiredOverlap: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      sizePred: Option[(org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column] = None): DataFrame = {
    val dfc = hs.groupBy("h").agg(count(lit(1)).as("gdf"))
    val ranked = hs.join(dfc, Seq("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("gdf"), col("h"))))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val o = greatest(lit(1), requiredOverlap(col("m")))
    val prefix = ranked.filter(col("rk") <= col("m") - o + 1)
      .select(col("doc_id").as("pid"), col("h"), col("m").as("pm"))
    val full = ranked
      .select(col("doc_id").as("fid"), col("h"), col("m").as("fm"))
    val base = prefix("h") === full("h") &&
      (col("pm") < col("fm") ||
        (col("pm") === col("fm") && col("pid") =!= col("fid")))
    val cond = sizePred.map(p => base && p(col("pm"), col("fm"))).getOrElse(base)
    prefix.join(full, cond)
      .select(least(col("pid"), col("fid")).as("ai"),
        greatest(col("pid"), col("fid")).as("bi"))
      .distinct()
  }

  /** Canonical form of a URL column for URL-level dedup (the
    * crawl-pipeline first pass — CommonCrawl-style pipelines dedup on
    * canonicalized URL before any content hash): lowercase the host and
    * drop a leading `www.`, strip the scheme, the fragment and any
    * trailing slash, drop tracking parameters (`utm_*`, `ref`,
    * `fbclid`) and sort the surviving query parameters so param order
    * never splits a group. Pure column expression — codegen'd, no UDF,
    * restated 1:1 in DuckDB SQL by the oracle key.
    *
    * @note scale: row-local string work followed by one hash-partition
    *   groupBy on the canonical key — the same shape (and skew bound:
    *   true duplicate mass only) as exact text dedup. */
  def canonicalizeUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val noScheme = regexp_replace(url, "^[a-zA-Z]+://", "")
    val noFrag = regexp_replace(noScheme, "#.*$", "")
    val host = regexp_replace(lower(regexp_extract(noFrag, "^([^/?]+)", 1)),
      "^www\\.", "")
    val rest = regexp_extract(noFrag, "^[^/?]*(.*)$", 1)
    val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|ref|fbclid)=")))
    concat(host, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
  }

  /** Edit-distance similarity join over a short-string column: all id
    * pairs `(ai, bi, a_s, b_s, dist)` with `levenshtein ≤ maxDist`,
    * candidates generated by TOKEN-SIGNATURE blocking — two strings
    * pair only if they share at least one whitespace token. This is the
    * standard signature-based string-similarity-join shape (candidate
    * generation by shared signature, exact verify on the survivors);
    * shared-token recall is the documented contract — a pair within
    * `maxDist` that shares NO token (possible once `maxDist` reaches a
    * whole token's length) is out of scope by definition, and the
    * DuckDB oracle restates the same contract.
    *
    * `dfCap` drops tokens whose document frequency exceeds the cap
    * before the block join — the same hot-signature guard as
    * [[hashedShingles]]' df-filter: a stop-word-grade token would
    * otherwise create one quadratic block.
    *
    * @note scale: the block join shuffles (token, id) pairs — rows ×
    *   avg-tokens, each block ≤ dfCap² candidate pairs; the
    *   levenshtein verify runs codegen'd per candidate. For longer
    *   strings swap the token signature for PassJoin's d+1-segment
    *   signatures; the operator shape (signature explode → block join →
    *   verify) is unchanged. */
  /** EXACT edit-distance self-join — every pair within `maxDist`, no
    * recall caveat — via PassJoin segment signatures (Li, Deng & Feng,
    * "PASS-JOIN: a partition-based method for similarity joins",
    * VLDB 2011): partition each string into `maxDist+1` segments; if
    * `lev(a,b) ≤ d` then (pigeonhole over the ≤ d edits) at least one
    * segment of the SHORTER string occurs VERBATIM in the longer one,
    * shifted at most ±d from its home position. So each string indexes
    * its own segments, generates the bounded substring probes for every
    * admissible partner length, and the equi-join on
    * `(partner_len, seg_idx, substring)` yields a complete candidate
    * set — `levenshtein` then verifies exactly. Returns
    * `(ai, bi, a_s, b_s, dist)`, `ai < bi`.
    *
    * Strings of length ≤ `maxDist` can't use segment signatures (their
    * segments would be empty and match vacuously); they pair through a
    * brute-force SHORT BAND instead — shorts × (strings of length
    * ≤ 2·maxDist, the only possible partners under the length filter) —
    * which is tiny by construction, so the operator's contract is
    * COMPLETE over all inputs.
    *
    * @note scale: per string the probe fan-out is bounded by
    *   `(d+1)²·(2d+1)` substrings (d=2 → 45) — constant, independent of
    *   corpus size; the equi-join hash-partitions on the signature, so
    *   unlike the token-blocked [[editSimilarityJoin]] there is no df
    *   hot-block risk beyond true near-duplicate mass, and no recall
    *   loss. This is the 100 TB-safe form; the oracle key checks it
    *   against a brute-force all-pairs restatement. */
  def editJoinExact(df: DataFrame, maxDist: Int,
      idCol: String = "doc_id", strCol: String = "text"): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val d = maxDist
    val k = d + 1
    val s = df
      .select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .withColumn("len", length(col("s")).cast("int"))
      .filter(col("len") > d)
    // segmentation of a length-L string into k parts, lengths differing
    // by <= 1 (short segments first): seg j has
    //   len_j   = L div k + (1 if j >= k - L%k else 0)
    //   start_j = 1 + j*(L div k) + max(0, j - (k - L%k))
    def segLen(l: String, j: String) =
      s"(($l div $k) + IF($j >= $k - ($l % $k), 1, 0))"
    def segStart(l: String, j: String) =
      s"(1 + $j * ($l div $k) + GREATEST(0, $j - ($k - ($l % $k))))"
    // index side: own segments
    val segs = s
      .select(col("id").as("aid"), col("s").as("a_s"), col("len").as("la"),
        explode(expr(
          s"""transform(sequence(0, $d), j -> struct(
             |  j AS i,
             |  substring(s, ${segStart("len", "j")}, ${segLen("len", "j")}) AS sub))"""
            .stripMargin)).as("g"))
      .select(col("aid"), col("a_s"), col("la"), col("g.i"), col("g.sub"))
    // probe side: for every admissible (shorter-or-equal) partner
    // length la, the substrings of each segment length at home ± d
    val subs = s
      .select(col("id").as("bid"), col("s").as("b_s"), col("len").as("lb"),
        explode(expr(
          s"""flatten(transform(sequence(GREATEST(${d + 1}, len - $d), len), la ->
             |  flatten(transform(sequence(0, $d), j ->
             |    transform(sequence(
             |        GREATEST(1, ${segStart("la", "j")} - $d),
             |        LEAST(len - ${segLen("la", "j")} + 1, ${segStart("la", "j")} + $d)),
             |      p -> struct(
             |        la AS la,
             |        j AS i,
             |        substring(s, p, ${segLen("la", "j")}) AS sub))))))"""
            .stripMargin)).as("g"))
      .select(col("bid"), col("b_s"), col("g.la"), col("g.i"), col("g.sub"))
    val cand = segs.join(subs, Seq("la", "i", "sub"))
      .filter(col("aid") =!= col("bid"))
      .select(least(col("aid"), col("bid")).as("ai"),
        greatest(col("aid"), col("bid")).as("bi"),
        when(col("aid") < col("bid"), col("a_s")).otherwise(col("b_s")).as("a_s"),
        when(col("aid") < col("bid"), col("b_s")).otherwise(col("a_s")).as("b_s"))
      .distinct()
    // short band: strings the pigeonhole can't cover, brute-forced
    // against their only admissible partners (length ≤ 2d) — both sides
    // are bounded by the short-string mass, not the corpus
    val all0 = df
      .select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .withColumn("len", length(col("s")).cast("int"))
    val shorts = all0.filter(col("len") <= d)
      .select(col("id").as("aid"), col("s").as("sa"))
    val nearShort = all0.filter(col("len") <= 2 * d)
      .select(col("id").as("bid"), col("s").as("sb"))
    val shortCand = shorts.crossJoin(broadcast(nearShort))
      .filter(col("aid") =!= col("bid"))
      .select(least(col("aid"), col("bid")).as("ai"),
        greatest(col("aid"), col("bid")).as("bi"),
        when(col("aid") < col("bid"), col("sa")).otherwise(col("sb")).as("a_s"),
        when(col("aid") < col("bid"), col("sb")).otherwise(col("sa")).as("b_s"))
      .distinct()
    cand.unionByName(shortCand).distinct()
      .withColumn("dist", levenshtein(col("a_s"), col("b_s")))
      .filter(col("dist") <= d)
  }

  /** LONG-STRING form of [[editJoinExact]] — same PassJoin pigeonhole
    * contract (COMPLETE at `maxDist`, no recall caveat), re-plumbed for
    * document-length strings: segment and probe substrings are
    * `xxhash64`-hashed BEFORE the equi-join, so the candidate shuffle
    * carries `(len, seg_idx, 8-byte hash, id)` rows instead of raw
    * substrings — for an L-char string the short form ships
    * O((d+1)²(2d+1)·L/(d+1)) substring characters, this one a constant
    * (d+1)²(2d+1) hashes. Candidates are id-only; full strings re-join
    * by id for the exact `levenshtein` verify. A hash collision can
    * only ADD a candidate (equal substrings always hash equal), so the
    * completeness proof is untouched and the verify discards the
    * collision. Returns `(ai, bi, dist)` — no string payload, document
    * texts stay out of the result.
    *
    * The substring guards (`GREATEST(1, home−d)` /
    * `LEAST(len−segLen+1, home+d)`) clamp every probe window inside
    * the string for ANY length mix — the production min/max
    * segment-position guards of the PassJoin paper's probe
    * enumeration.
    *
    * @note scale: probe fan-out is the same constant as
    *   [[editJoinExact]]; the shuffle payload per string drops from
    *   O(L·d²) chars to O(d³) bytes, which is what makes the exact
    *   join runnable on 100 TB of DOCUMENTS rather than part names.
    *   The verify re-join is ∝ candidates and hash-partitions on id. */
  def editJoinExactLong(df: DataFrame, maxDist: Int,
      idCol: String = "doc_id", strCol: String = "text"): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val d = maxDist
    val k = d + 1
    val base = df
      .select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .withColumn("len", length(col("s")).cast("int"))
    val s = base.filter(col("len") > d)
    def segLen(l: String, j: String) =
      s"(($l div $k) + IF($j >= $k - ($l % $k), 1, 0))"
    def segStart(l: String, j: String) =
      s"(1 + $j * ($l div $k) + GREATEST(0, $j - ($k - ($l % $k))))"
    val segs = s
      .select(col("id").as("aid"), col("len").as("la"),
        explode(expr(
          s"""transform(sequence(0, $d), j -> struct(
             |  j AS i,
             |  xxhash64(substring(s, ${segStart("len", "j")}, ${segLen("len", "j")})) AS hs))"""
            .stripMargin)).as("g"))
      .select(col("aid"), col("la"), col("g.i"), col("g.hs"))
    val subs = s
      .select(col("id").as("bid"),
        explode(expr(
          s"""flatten(transform(sequence(GREATEST(${d + 1}, len - $d), len), la ->
             |  flatten(transform(sequence(0, $d), j ->
             |    transform(sequence(
             |        GREATEST(1, ${segStart("la", "j")} - $d),
             |        LEAST(len - ${segLen("la", "j")} + 1, ${segStart("la", "j")} + $d)),
             |      p -> struct(
             |        la AS la,
             |        j AS i,
             |        xxhash64(substring(s, p, ${segLen("la", "j")})) AS hs))))))"""
            .stripMargin)).as("g"))
      .select(col("bid"), col("g.la"), col("g.i"), col("g.hs"))
    val cand = segs.join(subs, Seq("la", "i", "hs"))
      .filter(col("aid") =!= col("bid"))
      .select(least(col("aid"), col("bid")).as("ai"),
        greatest(col("aid"), col("bid")).as("bi"))
    // short band: strings the pigeonhole can't cover (len ≤ d), brute
    // against their only admissible partners (len ≤ 2d) — id-only here
    // too, bounded by short-string mass
    val shorts = base.filter(col("len") <= d).select(col("id").as("aid"))
    val nearShort = base.filter(col("len") <= 2 * d).select(col("id").as("bid"))
    val shortCand = shorts.crossJoin(broadcast(nearShort))
      .filter(col("aid") =!= col("bid"))
      .select(least(col("aid"), col("bid")).as("ai"),
        greatest(col("aid"), col("bid")).as("bi"))
    val strs = base.select(col("id"), col("s"))
    // verify with the native strip+band expression
    // ([[graft.functions.EditDistance]]): common-prefix/suffix stripping
    // then an Ukkonen band — O(d·L) worst case and ~O(d²) on true
    // near-copies. The builtin thresholded levenshtein measured ~150 s
    // for 204k document pairs at the 10× stress point; this is the
    // verify a 100 TB dedup pass can afford.
    cand.unionByName(shortCand).distinct()
      .join(strs.as("sa"), col("ai") === col("sa.id"))
      .join(strs.as("sb"), col("bi") === col("sb.id"))
      .withColumn("dist",
        graft.functions.EditDistance.levWithin(col("sa.s"), col("sb.s"), d))
      .filter(col("dist") >= 0)
      .select(col("ai"), col("bi"), col("dist"))
  }

  /** One row per document with its DISTINCT hashed shingle SET —
    * `(doc_id, xs: array<long> sorted, n_sh)` — the per-row twin of
    * [[hashedShingles]] (same normalize → word split → n-gram →
    * poly-hash pipeline, folded to an array instead of exploded to
    * rows). The per-row shape is what makes the saved-index serve
    * kernel STATELESS: signature, banding and exact verification are
    * all row-local expressions, so the same code answers a Structured
    * Streaming document feed inside its own micro-batch. Documents
    * shorter than `n` words have no shingle set and are absent, as in
    * [[shingles]]. */
  def shingleSets(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    normalized(df, idCol, textCol)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), array_sort(array_distinct(transform(expr(
        s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', slice(t, i+1, $n)))"),
        sh => Hashes.polyHash(sh)))).as("xs"))
      .withColumn("n_sh", size(col("xs")).cast("long"))

  /** Per-row 64-permutation MinHash signature + 16×4-row banding over
    * a [[shingleSets]] frame — `(doc_id, band, bsig)`, arithmetic
    * BIT-IDENTICAL to [[graft.functions.SketchAggregators.MinHashSig]]
    * (`x = h mod M`, `(2i+1)·x + (1000003·i + 12345) mod M`, min per
    * permutation), pinned by `DedupIndexSpec`. Row-local (no groupBy,
    * no UDAF state), so it runs unchanged on a streaming frame; the
    * signature is the native [[graft.functions.MinHashSig64]]
    * expression — the first cut's nested HOF lambdas cost 64·|xs|
    * interpreted invocations per document (measured 15–23 s per
    * cross-epoch bench key at sf0.1; the native kernel removed it). */
  private[graft] def rowBands(sets: DataFrame): DataFrame = {
    sets
      .withColumn("sig", call_function("minhash_sig64", col("xs")))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(15))).as("band"), col("sig"))
      .withColumn("bsig", expr(
        "concat_ws(',', transform(slice(sig, band*4 + 1, 4), v -> CAST(v AS STRING)))"))
      .select("doc_id", "band", "bsig")
  }

  /** PERSIST a corpus epoch's near-dup index — the cross-epoch dedup
    * shape every growing training corpus needs ("dedup the NEW crawl
    * against everything we already have" WITHOUT rescanning the old
    * corpus): two plain-parquet tables under `path`,
    * `bands/ (doc_id, band, bsig)` — the MinHash-LSH bucket table new
    * documents probe — and `sets/ (doc_id, xs, n_sh)` — the hashed
    * shingle sets that exact-verify candidates. No document text is
    * stored; any engine can read both.
    *
    * @note scale: the index is O(corpus shingle mass), and both
    *   tables are written in their lake layout: `bands/` is
    *   `partitionBy("band")` (16 values — a band-sliced serve or
    *   band-targeted audit prunes to 1/16th of the files, and each
    *   serve shuffle partition's build side is bounded by one band's
    *   mass), `sets/` is `partitionBy("bkt")` with
    *   `bkt = pmod(hash(doc_id), 16)` (point lookups and targeted
    *   takedown audits prune to one bucket's files). The serve joins
    *   still shuffle on their keys — hive-style partitioning prunes
    *   IO, it does not replace the exchange — but no serve ever has
    *   to read the whole table to answer a banded or id-targeted
    *   probe (layout gated by `DedupIndexSpec`).
    *
    * Rebuild-in-place is safe: a bulk build RESETS `tombstones/` and
    * the `epochs/` counter before writing — without that, tombstones
    * surviving from the index's previous life (epoch ≥ 1) would mask
    * every fresh epoch-0 row and the rebuilt index would silently
    * serve nothing (spec-pinned). */
  def saveDedupIndex(df: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): Unit = {
    EpochLog.reset(path)
    val sets = shingleSets(df, idCol, textCol, n).persist()
    rowBands(sets).withColumn("epoch", lit(0L))
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
    sets.withColumn("epoch", lit(0L))
      .withColumn("bkt", pmod(hash(col("doc_id")), lit(16)))
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/sets")
    sets.unpersist()
    ()
  }

  /** Append a new (already-admitted) document batch to a
    * [[saveDedupIndex]] index — the ingest half of the cross-epoch
    * loop: after [[dedupAgainstIndex]] filtered a batch, its keepers
    * join the index so the NEXT batch dedups against them too. Plain
    * parquet append into the same partitioned layout the bulk build
    * wrote ([[saveDedupIndex]]'s scale note), so file pruning keeps
    * holding as the index grows. */
  def appendToDedupIndex(df: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3): Unit = {
    requireNotBucketed(path, "appendToDedupIndex")
    requirePartitionedLayout(path, "bands", "band")
    requirePartitionedLayout(path, "sets", "bkt")
    val e = EpochLog.next(path)
    val sets = shingleSets(df, idCol, textCol, n).persist()
    rowBands(sets).withColumn("epoch", lit(e))
      .write.mode("append").partitionBy("band").parquet(s"$path/bands")
    sets.withColumn("epoch", lit(e))
      .withColumn("bkt", pmod(hash(col("doc_id")), lit(16)))
      .write.mode("append").partitionBy("bkt").parquet(s"$path/sets")
    sets.unpersist()
    ()
  }

  /** DELETE a document set from a [[saveDedupIndex]] index — the
    * takedown/right-to-forget path every persisted corpus index needs:
    * `(doc_id, epoch)` tombstones land as plain parquet under
    * `path/tombstones/` with ZERO index rewrite (the LSM shape shared
    * with the ANN index), and [[dedupAgainstIndex]] masks exactly the
    * rows that existed when the delete was issued — a later
    * [[appendToDedupIndex]] re-crawl of the same id claims a higher
    * epoch and serves immediately, no compaction needed.
    * [[compactDedupIndex]] folds tombstones in offline. */
  def deleteFromDedupIndex(ids: DataFrame, path: String,
      idCol: String = "doc_id"): Unit =
    EpochLog.tombstone(ids.select(col(idCol).as("doc_id")), path, "doc_id")

  /** Fold tombstones into the index: rewrite `bands/` and `sets/`
    * without the masked rows (epoch-aware — re-crawls newer than
    * their id's tombstone survive) and drop `tombstones/` —
    * serve-before == serve-after, spec-pinned (`DedupIndexSpec`). */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    requireNotBucketed(path, "compactDedupIndex")
    // keep each table's lake layout across compactions, so the
    // pruning guarantees of [[saveDedupIndex]] survive the rewrite
    EpochLog.compact(spark, path, Seq("bands" -> "band", "sets" -> "bkt"),
      "doc_id")
  }

  /** Refuse the plain-layout mutation ops on a BUCKETED index
    * ([[saveDedupIndexBucketed]] writes `bands_bucketed/`, never
    * `bands/`): without this check [[appendToDedupIndex]] would pass
    * [[requirePartitionedLayout]] ("missing table is fine"), create a
    * fresh `bands/` dir the bucketed serve NEVER reads, and the
    * appended docs would be silently invisible to every later
    * [[dedupAgainstIndexBucketed]] — permanent corruption with no
    * error ([[compactDedupIndex]] would likewise fail cryptically on
    * the missing `bands/`). The bucketed layout is REBUILD-ONLY by
    * design (its ordered bucket files can't take appends without
    * breaking the zero-exchange co-location guarantee): re-run
    * [[saveDedupIndexBucketed]] over the grown corpus instead. */
  private def requireNotBucketed(path: String, op: String): Unit =
    require(!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(path, "bands_bucketed")),
      s"$path holds a BUCKETED dedup index (bands_bucketed/) — $op " +
        "mutates the plain partitioned layout only and would leave the " +
        "bucketed serve reading a stale index. The bucketed layout is " +
        "rebuild-only: re-run saveDedupIndexBucketed over the grown " +
        "corpus (or build a plain saveDedupIndex for append workloads).")

  /** Refuse to append into a pre-r15 UNPARTITIONED index directory:
    * mixing `<key>=…/` partition dirs into a root that already holds
    * flat parquet files makes the next read fail partition discovery
    * ("Conflicting directory structures") — a delayed, cryptic error
    * far from its cause. Detect the legacy layout up front and name
    * the migration (the legacy files carry `band`/`bkt` as DATA
    * columns, so a bulk [[saveDedupIndex]] rebuild — or
    * [[compactDedupIndex]] when tombstones exist — rewrites them into
    * the partitioned layout). A missing table is fine: parquet append
    * creates it. */
  private def requirePartitionedLayout(path: String, tbl: String,
      part: String): Unit = {
    val d = java.nio.file.Paths.get(path, tbl)
    if (java.nio.file.Files.isDirectory(d)) {
      val ls = java.nio.file.Files.list(d)
      val flat = try {
        var f = false
        val it = ls.iterator()
        while (it.hasNext && !f) {
          val n = it.next().getFileName.toString
          f = n.endsWith(".parquet")
        }
        f
      } finally ls.close()
      require(!flat,
        s"$path/$tbl holds root-level parquet files — a legacy " +
          s"UNPARTITIONED dedup index; appending partitionBy($part) " +
          "dirs next to them breaks the next read's partition " +
          "discovery. Rebuild the index with saveDedupIndex (bulk) " +
          "first — the legacy files carry the partition key as a data " +
          "column, so the rebuild is lossless.")
    }
  }

  /** Serve NEAR-DUP LOOKUPS against a [[saveDedupIndex]] epoch: every
    * `(new_id, old_id, jac ≥ minJaccard)` pair linking the incoming
    * batch to the SAVED corpus — candidates from the band-bucket
    * equi-join (new docs' row-local signatures probe the stored bucket
    * table; the only pairs formed share an LSH band, never all-pairs),
    * verified with EXACT Jaccard between the row-local shingle set and
    * the saved one, ONCE per candidate pair (the pre-verify
    * dropDuplicates is the kernel's single stateful stage on a stream
    * — state = candidate-pair keys, bounded by near-dup mass; callers
    * still `.distinct()` the final output across micro-batches).
    *
    * New-vs-new pairs inside the incoming batch are out of scope by
    * design (run the batch operators for that); ids must not collide
    * across epochs.
    *
    * @note scale: one shuffle of 16 band rows per new doc against the
    *   bucket table, then a candidate-sized join against `sets/` —
    *   cost tracks true near-dup mass. Recall is LSH's
    *   `1−(1−J⁴)¹⁶` per pair, the same contract as
    *   [[minhashNearDups]]; verification keeps precision exact. */
  def dedupAgainstIndex(newDocs: DataFrame, path: String,
      minJaccard: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    serveIndex(newDocs, path, minJaccard, idCol, textCol, n,
      newDocs.sparkSession.read.parquet(s"$path/bands"),
      Seq("band", "bsig"))(identity)

  /** The serve both index layouts share: probe the live saved `bands`
    * rows on `key` with the batch's row-local bands (`keyed` adds the
    * key columns `rowBands` lacks), then verify each candidate pair
    * once with exact Jaccard against the live `sets/`. */
  private def serveIndex(newDocs: DataFrame, path: String,
      minJaccard: Double, idCol: String, textCol: String, n: Int,
      bands: DataFrame, key: Seq[String])(
      keyed: DataFrame => DataFrame): DataFrame = {
    val spark = newDocs.sparkSession
    val nd = shingleSets(newDocs, idCol, textCol, n)
    val probe = keyed(rowBands(nd))
      .join(nd.select(col("doc_id"), col("xs").as("new_xs"),
        col("n_sh").as("new_n")), "doc_id")
    val savedBands = EpochLog.live(spark, path, bands, "doc_id")
      .select(col("doc_id").as("old_id") +: key.map(col): _*)
    val savedSets = EpochLog.live(spark, path,
        spark.read.parquet(s"$path/sets"), "doc_id")
      .select(col("doc_id").as("old_id"), col("xs").as("old_xs"),
        col("n_sh").as("old_n"))
    probe.join(savedBands, key)
      // one verify per PAIR, not per colliding band: a true near-dup
      // collides on many of its 16 bands, and each redundant row would
      // re-pay the exact-intersect (on a stream this dedup is the one
      // stateful stage — state is the candidate-pair keys, bounded by
      // near-dup mass, and all rows of a pair carry the same payload
      // so keep-any is deterministic downstream)
      .dropDuplicates("doc_id", "old_id")
      .join(savedSets, "old_id")
      .withColumn("c",
        size(array_intersect(col("new_xs"), col("old_xs"))).cast("double"))
      .select(col("doc_id").as("new_id"), col("old_id"),
        round(col("c") / (col("new_n") + col("old_n") - col("c")), 6)
          .as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** BUCKETED-BANDS variant of [[saveDedupIndex]] — the serve
    * co-location trade: the plain layout's serve join shuffles BOTH
    * sides on (band, bsig) every batch, and at corpus scale the index
    * side IS the corpus (16 band rows per document) — re-exchanging it
    * per serve batch is the dominant cost hive partitioning cannot
    * remove (it prunes IO, not the exchange). Here `bands` is written
    * as a `bucketBy(nBuckets)` SAVED TABLE on the single fused key
    * `bkey = band:bsig` (fusing makes the bucket key EQUAL the join
    * key — classic one-key bucket join, no reliance on
    * subset-of-join-keys relaxations), so [[dedupAgainstIndexBucketed]]
    * plans the band join with NO exchange on the index side: only the
    * O(batch) probe side shuffles, into the index's bucketing.
    *
    * The price is real and why this is a VARIANT, not the default: a
    * bucketed table lives in the session catalog (metastore +
    * `path/bands_bucketed` files with Spark's bucket-file naming), so
    * the plain-parquet "any engine reads it" portability of
    * [[saveDedupIndex]] is lost, and cross-session reads must restore
    * the table definition. `sets/` stays plain-partitioned parquet —
    * its join is candidate-sized, not corpus-sized. Measured numbers:
    * SCALE.md (dedup-serve co-location note); layout + plan shape
    * pinned by `DedupIndexSpec`.
    *
    * Same rebuild-in-place reset semantics as [[saveDedupIndex]]. */
  def saveDedupIndexBucketed(df: DataFrame, table: String, path: String,
      nBuckets: Int = 64, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): Unit = {
    EpochLog.reset(path)
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    graft.Scratch.deleteTree(java.nio.file.Paths.get(s"$path/bands_bucketed"))
    val sets = shingleSets(df, idCol, textCol, n).persist()
    rowBands(sets).withColumn("epoch", lit(0L))
      .withColumn("bkey", concat_ws(":", col("band"), col("bsig")))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "bkey").sortBy("bkey")
      .option("path", s"$path/bands_bucketed")
      .format("parquet")
      .saveAsTable(table)
    sets.withColumn("epoch", lit(0L))
      .withColumn("bkt", pmod(hash(col("doc_id")), lit(16)))
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/sets")
    sets.unpersist()
    ()
  }

  /** Serve twin of [[saveDedupIndexBucketed]] — identical pair set and
    * jaccard arithmetic to [[dedupAgainstIndex]] (the fused `bkey`
    * equi-join forms exactly the (band, bsig) collision pairs), but
    * the corpus-side exchange is gone: the bands table's bucketing IS
    * the join distribution, so only the probe side shuffles.
    *
    * @note scale: one O(batch) probe-side shuffle into nBuckets, a
    *   bucket-local join against the corpus bands, then the same
    *   candidate-sized verify join against `sets/` as the plain
    *   serve. */
  def dedupAgainstIndexBucketed(newDocs: DataFrame, table: String,
      path: String, minJaccard: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    serveIndex(newDocs, path, minJaccard, idCol, textCol, n,
      newDocs.sparkSession.table(table), Seq("bkey"))(
      _.withColumn("bkey", concat_ws(":", col("band"), col("bsig"))))

  def editSimilarityJoin(df: DataFrame, maxDist: Int,
      idCol: String = "doc_id", strCol: String = "text",
      dfCap: Int = 1000): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"), explode(array_distinct(split(col("s"), " "))).as("tok"))
    val hot = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("tok")
    val cold = toks.join(broadcast(hot), Seq("tok"), "left_anti")
    cold.as("a").join(cold.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ai"), col("b.id").as("bi"),
        col("a.s").as("a_s"), col("b.s").as("b_s"))
      .distinct()
      .withColumn("dist", levenshtein(col("a_s"), col("b_s")))
      .filter(col("dist") <= maxDist)
  }
}
