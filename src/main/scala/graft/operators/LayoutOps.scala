package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators — how a 100 TB table is ARRANGED on disk so
  * queries read less of it. Values are untouched; only file order and
  * boundaries change, which is why these ops oracle-check as plain
  * filters over the unarranged data.
  */
object LayoutOps {

  /** Morton (z-order) key: interleave the low `bits` bits of two
    * non-negative integer columns — a space-filling curve linearizing
    * 2-D locality. Sorting by it clusters rows close in BOTH dimensions
    * into the same parquet row groups, so min/max stats prune 2-D box
    * predicates that a single-column sort can only prune on its lead
    * column. Static expression tree (2·bits shift-mask terms), fully
    * codegen'd; no HOF, no UDF.
    *
    * @note scale: z-ordering is a WRITE-side investment — one
    *   repartitionByRange+sort at ingest buys every subsequent box
    *   query its row-group skipping. Extend to k dims by interleaving
    *   k streams; beyond ~3 dims or very skewed dims, a Hilbert curve
    *   or size-bounded clustering does better (documented trade). */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      (shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)): Column
    }.reduce(_ + _)

  /** Rewrite `df` clustered on the z-order of (`xCol`, `yCol`):
    * range-partition by z (balanced output files), sort within
    * partitions by z (tight row-group stats on both dimensions). */
  def zOrderBy(df: DataFrame, xCol: String, yCol: String,
      numFiles: Int = 8, bits: Int = 16): DataFrame = {
    val z = zValue(col(xCol), col(yCol), bits).as("__z")
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Hilbert-curve key of two non-negative integer columns — the
    * stronger-locality alternative to [[zValue]] (consecutive curve
    * positions are always grid-adjacent; Morton's are not). Rides the
    * native codegen expression [[graft.functions.HilbertIndex]].
    *
    * CARDINALITY BOUND: the curve covers a 2^order × 2^order grid and
    * any key ≥ 2^order CLAMPS into the last grid cell — correctness of
    * downstream queries is unaffected (the value is only a sort key)
    * but clustering quality silently degrades once a nontrivial
    * fraction of keys clamp (e.g. `l_partkey` exceeds 2^16 at TPC-H
    * sf ≥ 1 under the default order=16). Size `order` ≥
    * ceil(log2(max key + 1)), or call [[fitHilbertOrder]] to derive it
    * from the data with one cheap agg. */
  def hilbertValue(x: Column, y: Column, order: Int = 16): Column =
    call_function("hilbert_index", x.cast("long"), y.cast("long"), lit(order))

  /** Smallest curve order covering both columns' observed range: one
    * min/max agg over the two columns. Use when the key bound isn't
    * statically known — `hilbertBy(df, x, y, order = fitHilbertOrder(
    * df, x, y))`. Caps at 31 (the 2-D index then spans 62 bits, the
    * widest a LongType key can hold); rejects negative keys, which the
    * curve does not cover. */
  def fitHilbertOrder(df: DataFrame, xCol: String, yCol: String): Int = {
    val r = df.agg(max(greatest(col(xCol).cast("long"), col(yCol).cast("long"))).as("mx"),
      min(least(col(xCol).cast("long"), col(yCol).cast("long"))).as("mn")).head()
    if (r.isNullAt(0)) 1
    else {
      require(r.getLong(1) >= 0L,
        s"hilbert keys must be non-negative, found min ${r.getLong(1)}")
      math.min(31, math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(r.getLong(0))))
    }
  }

  /** [[zOrderBy]]'s Hilbert twin: rewrite `df` clustered on the Hilbert
    * index of (`xCol`, `yCol`). Same write-side contract — values
    * untouched, only file order/boundaries change. Same cardinality
    * bound as [[hilbertValue]]: keys ≥ 2^order collapse onto one curve
    * cell and stop clustering — pass `order = fitHilbertOrder(df, xCol,
    * yCol)` when the key range is data-dependent. */
  def hilbertBy(df: DataFrame, xCol: String, yCol: String,
      numFiles: Int = 8, order: Int = 16): DataFrame =
    df.withColumn("__h", hilbertValue(col(xCol), col(yCol), order))
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")

  /** Write `df` as a BUCKETED external parquet table: rows are
    * hash-routed into `nBuckets` file groups by `keyCol` at WRITE time
    * and the bucket spec is recorded in the catalog, so a join between
    * two tables bucketed on their join keys with the SAME bucket count
    * runs with NO shuffle exchange on either side (and bucket pruning
    * serves point predicates on the key). This is the canonical 100 TB
    * trade: pay the fact table's shuffle ONCE at ingest instead of on
    * every subsequent join/aggregation over the key.
    *
    * @note scale: pick nBuckets so one bucket ≈ one task's worth of
    *   data at full scale (e.g. 100 TB / 256 MB ≈ 400k is too many
    *   FILES per write task — bucket counts in the low thousands with
    *   several files per bucket are the practical sweet spot; Spark
    *   unions a bucket's files per task). Bucket routing uses Spark's
    *   Murmur3 hash, so both join sides MUST be written by Spark with
    *   identical counts. */
  def bucketize(df: DataFrame, table: String, path: String,
      keyCol: String, nBuckets: Int = 8): DataFrame = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.format("parquet").mode("overwrite")
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .option("path", path).saveAsTable(table)
    spark.table(table)
  }

  /** Compact a parquet directory's small files into ~`targetFileBytes`
    * files: list the leaf files (one driver-side FS listing, no data
    * read), size the output file count from the actual byte total, and
    * rewrite with a round-robin repartition (parquet re-encodes, so
    * output bytes ≈ input bytes for the same codec). Returns the
    * compacted copy's scan.
    *
    * @note scale: small-files pathology is the #1 operational tax on a
    *   100 TB lake — a 1k-row-files table pays per-file open/footer
    *   costs and floods the driver's listing. Compaction is one shuffle
    *   of the data it rewrites; run it per partition-directory so each
    *   rewrite is independent and incremental. The round-robin
    *   repartition deliberately does NOT re-sort: compose with
    *   [[zOrderBy]]/[[hilbertBy]] when the table also wants clustering. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      outDir: String, targetFileBytes: Long = 128L * 1024 * 1024): DataFrame = {
    require(targetFileBytes > 0)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a LocatedFileStatus copies each file's
    // permission, which the local filesystem without libhadoop loads by
    // starting an `ls -ld` per file; getLen needs none of it
    def parquetBytes(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).iterator.map { f =>
        if (f.isDirectory) parquetBytes(f.getPath)
        else if (f.getPath.getName.endsWith(".parquet")) f.getLen
        else 0L
      }.sum
    val totalBytes = parquetBytes(path)
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(dir).repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir)
  }
}
