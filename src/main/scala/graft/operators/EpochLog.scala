package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException,
  Paths}

/** The versioning store of a persisted LSM-style index — shared by the
  * ANN index ([[SimilarityOps]]) and the cross-epoch dedup index
  * ([[DedupOps]]). Under the index root it owns two directories:
  *
  *  - `epochs/`: the monotonic write-epoch counter ([[next]]), empty
  *    marker files `e1`, `e2`, …: O(1), no table scan, deterministic
  *    across reruns (the value depends only on how many mutations
  *    preceded it, never wall clock). Appends and deletes both claim
  *    one, which is what lets a tombstone mask exactly the rows that
  *    existed when the delete was issued. A production lake would use
  *    its transaction log's commit id here — same monotonicity
  *    contract.
  *  - `tombstones/`: plain parquet `(<idCol>, epoch)` delete records
  *    ([[tombstone]]), masked at read time by [[live]] and folded into
  *    the index tables by [[compact]].
  *
  * The index tables themselves (`assigned/`, `bands/`, `sets/`) stay
  * with their owners; every row carries its write `epoch`.
  *
  * Concurrency: `Files.createFile` is the atomic arbiter — two
  * writers who list the same max race on `e(m+1)`; the loser's
  * createFile throws `FileAlreadyExists` and RETRIES with the
  * refreshed max (CAS loop), so concurrent single-machine mutators
  * each get a distinct epoch instead of crashing. Non-numeric
  * `e*` names (editor droppings, partial copies) are ignored.
  *
  * [[reset]] (the bulk-rebuild path) is NOT part of that contract: it
  * deletes the counter directory non-atomically, so a rebuild requires
  * EXCLUSIVE access to the index — an appender racing a rebuild can
  * claim epoch 1 against half-reset state and its rows would be
  * indistinguishable from the rebuild's own. The CAS loop does tolerate
  * the benign half of the race (a `NoSuchFileException` from the
  * vanished directory re-creates it and retries) so a stray reader
  * never crashes, but epoch-numbering correctness during a rebuild is
  * the caller's lock to take, exactly as a lake's transaction log
  * serializes its own truncation. */
private[graft] object EpochLog {
  private val Name = "^e(\\d+)$".r

  private def tombstones(path: String) = Paths.get(path, "tombstones")

  /** Claim the index's next write epoch. */
  def next(path: String): Long = {
    val dir = Paths.get(path, "epochs")
    Files.createDirectories(dir)
    var claimed = -1L
    while (claimed < 0) {
      try {
        val ls = Files.list(dir)
        val m = try {
          var mx = 0L
          val it = ls.iterator()
          while (it.hasNext) {
            it.next().getFileName.toString match {
              case Name(d) => mx = math.max(mx, d.toLong)
              case _       => ()
            }
          }
          mx
        } finally ls.close()
        Files.createFile(dir.resolve(s"e${m + 1}"))
        claimed = m + 1
      } catch {
        case _: FileAlreadyExistsException => () // lost the race; re-list
        case _: NoSuchFileException =>
          // a racing reset() deleted the dir between list and create —
          // re-create and retry (epoch numbering vs that rebuild is the
          // caller's lock, see class doc; this only keeps us crash-free)
          Files.createDirectories(dir)
      }
    }
    claimed
  }

  /** Drop the tombstones and the counter — bulk rebuilds call this so
    * a from-scratch index restarts at epoch 1 and no tombstone from
    * the index's previous life (epoch ≥ 1) masks a fresh epoch-0 row. */
  def reset(path: String): Unit = {
    graft.Scratch.deleteTree(tombstones(path))
    graft.Scratch.deleteTree(Paths.get(path, "epochs"))
  }

  /** Record the `idCol` values of `ids` as deleted at the next epoch
    * — a plain-parquet append, zero index rewrite. */
  def tombstone(ids: DataFrame, path: String, idCol: String): Unit =
    ids.select(col(idCol).cast("long").as(idCol))
      .withColumn("epoch", lit(next(path)))
      .write.mode("append").parquet(tombstones(path).toString)

  /** The live tombstone set `(idCol, epoch)` — one row per id at its
    * LATEST delete epoch — if any deletes were recorded. */
  private def tombstoneSet(spark: SparkSession, path: String,
      idCol: String): Option[DataFrame] =
    if (Files.isDirectory(tombstones(path)))
      Some(spark.read.parquet(tombstones(path).toString)
        .groupBy(col(idCol).cast("long").as(idCol))
        .agg(max(col("epoch")).as("epoch")))
    else None

  /** Mask `table`'s deleted rows (no-op when none were recorded): a row
    * survives unless a tombstone of its id was issued AT OR AFTER the
    * row's own write epoch, so a re-insert newer than its id's delete
    * serves without compaction. */
  def live(spark: SparkSession, path: String, table: DataFrame,
      idCol: String): DataFrame =
    tombstoneSet(spark, path, idCol).fold(table) { t =>
      table.as("a").join(t.as("t"), col(s"a.$idCol") === col(s"t.$idCol") &&
        col("t.epoch") >= col("a.epoch"), "left_anti")
    }

  /** Fold the tombstones into the index: rewrite each `(name,
    * partitionCol)` table under `path` as its [[live]] rows — written
    * to `<name>_compact`, then moved over the original, keeping the
    * table's `partitionBy` layout so the owner's partition pruning and
    * later appends keep working — and drop `tombstones/`. Serve-before
    * == serve-after; a no-op without tombstones. At scale this is the
    * view maintainer's snapshot-compaction economics: pay one O(index)
    * rewrite to make every later serve tombstone-free. */
  def compact(spark: SparkSession, path: String,
      tables: Seq[(String, String)], idCol: String): Unit =
    if (Files.isDirectory(tombstones(path))) {
      tables.foreach { case (name, part) =>
        val tmp = Paths.get(s"$path/${name}_compact")
        live(spark, path, spark.read.parquet(s"$path/$name"), idCol)
          .write.mode("overwrite").partitionBy(part).parquet(tmp.toString)
        graft.Scratch.deleteTree(Paths.get(s"$path/$name"))
        Files.move(tmp, Paths.get(s"$path/$name"))
      }
      graft.Scratch.deleteTree(tombstones(path))
    }
}
