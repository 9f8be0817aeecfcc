package graft.load

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, shiftleft, shiftright}
import graft.ext.Pin.PinOps

/** Sinks (K1-K3, reference portfolio-etl.py:618-650, :700-775).
  *
  * The reference writes ~12 small CSV reports. At 100 TB the report outputs
  * stay small (they are aggregates), so `coalesce(1)` single-file CSV is the
  * right call for them — the *fact* data path should use partitioned Parquet
  * ([[parquet]]).
  */
object Sinks {

  private val mdY = DateTimeFormatter.ofPattern("MM-dd-yyyy") // strftime :678

  /** Single-file CSV report (K1). The reference writes pandas' index as an
    * unnamed first column in some sinks (:618, :632); the new engine drops
    * it — documented divergence (SURVEY.md §2.9 K1).
    */
  def csvReport(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Fan-out one computed frame to several paths (K2, :648-650). The
    * reference overwrites `newstock.csv` — the file it *read* at :634;
    * under lazy evaluation that would truncate the input mid-read.
    *
    * The guard is a DURABLE materialization: the frame is written to a
    * temp parquet dir and re-read from there before any target is
    * touched. cache()+count() is not airtight — cached blocks lost after
    * the count (executor failure, eviction) would recompute from lineage
    * and re-scan the by-then-overwritten source (SURVEY.md §7.4-d). The
    * re-read declares the frame's schema, so it starts no footer-reading
    * job, and the targets are then written [[concurrently]].
    */
  def csvFanOut(df: DataFrame, paths: Seq[String]): Unit = {
    val spark = df.sparkSession
    val tmp = paths.head + ".__materialize_tmp__"
    df.write.mode("overwrite").parquet(tmp)
    try {
      val pinned = spark.read.schema(df.schema).parquet(tmp)
      concurrently(paths.map(p => () => csvReport(pinned, p)))
    } finally {
      val hPath = new org.apache.hadoop.fs.Path(tmp)
      hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hPath, true)
    }
  }

  /** Name prefix of the threads [[concurrently]] starts. */
  private[graft] val WriterThreadPrefix = "graft-sink-"

  /** Runs independent writes at once, one driver thread each, so their
    * Spark jobs share the cores. The threads are started here, per call,
    * because a new thread inherits its creator's Spark local properties
    * (job group, description, scheduler pool), which pooled threads
    * created elsewhere would not carry. Every write runs to its end; then
    * the first failure in `writes` order is thrown with the later ones
    * attached as suppressed. No thread outlives the call.
    */
  private[graft] def concurrently(writes: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case (write, i) =>
      new Thread(() => try write() catch { case t: Throwable => failures(i) = t },
        s"$WriterThreadPrefix$i")
    }
    try threads.foreach(_.start())
    finally threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array() =>
      case Array(first, rest @ _*) =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
    }
  }

  /** Dated report path `{dir}/{MM-dd-yyyy}.csv` (K3, :700-717, :772-775). */
  def datedCsv(df: DataFrame, dir: String, runDate: LocalDate, suffix: String = ""): Unit =
    csvReport(df, s"$dir/${runDate.format(mdY)}$suffix.csv")

  /** Scale-path sink: partitioned Parquet for fact-sized outputs. */
  def parquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** ORC sink — the second columnar container Spark ships natively; same
    * partitioning contract as [[parquet]]. ORC also keeps per-stripe
    * min/max plus optional bloom filters, so the same layout tricks
    * (partition dirs, range clustering) carry over unchanged.
    */
  def orc(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  /** Range-clustered Parquet: `repartitionByRange` on the sort columns +
    * `sortWithinPartitions`, so each output file covers a disjoint key
    * range and rows inside it are ordered. Parquet stores per-row-group
    * min/max for every column, so a reader filtering on the leading sort
    * column skips whole files/row groups — the data-layout half of
    * predicate pushdown, and the single cheapest thing a 100 TB table can
    * do for its dominant access path. (Range exchange samples the data to
    * pick balanced bounds; file COUNT is `numFiles`, file BOUNDS are
    * data-driven.)
    */
  def sortedParquet(df: DataFrame, path: String, sortCols: Seq[String],
                    numFiles: Int): Unit = {
    require(sortCols.nonEmpty, "sortedParquet needs at least one sort column")
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Z-order address: bit-interleave of two non-negative integer keys
    * (bit i of `a` → bit 2i, bit i of `b` → bit 2i+1). Rows close in
    * BOTH dimensions get close addresses, so range-clustering on the
    * address gives row-group skipping on EITHER key — the two-dimensional
    * generalization of [[sortedParquet]]'s single-key layout (the same
    * trick table formats' OPTIMIZE ZORDER applies). Keys are masked to
    * `bits` low bits first (callers with wider domains should pre-scale);
    * pure integer shift/mask arithmetic, so any engine derives identical
    * addresses.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of [1, 31]: $bits")
    (0 until bits).map { i =>
      (shiftleft(shiftright(a.cast("long"), i) % 2, 2 * i) +
        shiftleft(shiftright(b.cast("long"), i) % 2, 2 * i + 1)).cast("long")
    }.reduce(_ + _)
  }

  /** Z-order-clustered Parquet over two keys: cluster by [[zValue]], drop
    * the address before writing (it is a layout device, not data).
    */
  def zorderParquet(df: DataFrame, path: String, keyA: String, keyB: String,
                    numFiles: Int, bits: Int = 16): Unit = {
    df.withColumn("__z", zValue(col(keyA), col(keyB), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed + sorted catalog table: `bucketBy(n, key).sortBy(key)` into
    * the session warehouse. Bucketing is the PRE-PAID shuffle of the 100 TB
    * playbook — every row lands in `hash(key) mod n` at write time, so any
    * later equi-join or aggregation on `key` between tables bucketed the
    * same way runs with NO Exchange (and with `sortBy`, no Sort) in the
    * plan: the join that would move 100 TB per run moves it once, at load.
    * `BucketedJoinSpec` asserts the exchange-free plan property.
    */
  def bucketedTable(df: DataFrame, table: String, buckets: Int,
                    key: String, sorted: Boolean = true): Unit = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    // repartition on the SAME hash the bucketing applies (Murmur3 mod n),
    // so each write task holds exactly one bucket → one file per bucket
    // (no per-task file explosion when the input has many partitions).
    // `sortBy` orders rows inside each file for row-group min/max skipping;
    // joins still run a partition-local Sort on read (Spark ≥3.0 ignores
    // bucket-file ordering unless the legacy outputOrdering flag is on)
    // but never an Exchange — the property BucketedJoinSpec pins.
    val w = df.repartition(buckets, col(key))
      .write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }

  /** Incremental partition upsert: overwrite ONLY the partitions present
    * in `df`, leaving every other partition of the table untouched
    * (dynamic partition-overwrite mode, set per-write so the session
    * default stays static). THE backfill primitive at 100 TB: reprocess
    * one bad day and rewrite one directory, not the table. The write
    * shuffles `df` on the partition columns first so each live partition
    * is produced by as few tasks as possible (no small-file spray).
    */
  def upsertPartitions(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "upsertPartitions needs partition columns")
    df.repartition(partitionCols.map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * `ceil(rows / targetRowsPerFile)` files (preserving partition dirs if
    * `partitionCols` is given — each partition compacts independently).
    * Streaming sinks and incremental upserts accrete small files; at 100
    * TB the file count — not the byte count — is what kills scan planning
    * (one footer read + one task per file). Writes to a temp dir first,
    * renames the original aside, renames the compacted copy into place,
    * THEN deletes the old copy — at every instant a full copy of the data
    * exists under a deterministic name, so a crash at any step is
    * recoverable (worst case: data lives at `path.__compact_old__`, never
    * zero live copies — the delete-then-rename swap this replaces had a
    * window with the only copy in the tmp dir).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetRowsPerFile: Long,
              partitionCols: Seq[String] = Nil): Unit = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be positive")
    val tmp = path + ".__compact_tmp__"
    // pin the source schema and disable partition-column type inference:
    // the default re-read would infer a numeric-looking STRING partition
    // column (side=0/1) as INT and silently rewrite the table's schema
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prevInfer = spark.conf.getOption(inferKey)
    spark.conf.set(inferKey, "false")
    try {
      val src = spark.read.parquet(path)
      val writer = src
        .write.mode("overwrite")
        .option("maxRecordsPerFile", targetRowsPerFile.toString)
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(tmp)
    } finally {
      prevInfer match {
        case Some(v) => spark.conf.set(inferKey, v)
        case None    => spark.conf.unset(inferKey)
      }
    }
    swapIn(spark, tmp, path, "compact")
  }

  /** Replaces the directory at `path` with the one at `tmp`: moves the
    * original aside to `path.__<op>_old__`, moves `tmp` into place, THEN
    * deletes the original — at every instant a full copy exists under a
    * deterministic name. Residue from a previously crashed swap is cleared
    * first; a failed move-in rolls the original back into place.
    */
  private def swapIn(spark: org.apache.spark.sql.SparkSession, tmp: String,
                     path: String, op: String): Unit = {
    val hadoop = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(s"$path.__${op}_old__")
    val fs = hadoop.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true)
    require(fs.rename(hadoop, old), s"$op swap failed moving $path aside (input untouched)")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), hadoop)) {
      fs.rename(old, hadoop)
      throw new IllegalStateException(
        s"$op swap failed for $path — original restored, new data is in $tmp")
    }
    fs.delete(old, true)
  }

  /** OPTIMIZE — the actuator that CONSUMES the layout decision tables
    * ([[graft.ext.Layout.skippingAudit]] / [[graft.ext.Layout.curveAudit]]
    * emit them; until now nothing acted on them): pick the winning layout
    * (minimum total `files_hit` across probe dims; name tie-break for
    * determinism), rewrite the parquet table at `path` clustered by that
    * layout into exactly `nFiles` bins, and return (and persist at
    * `<path>_manifest`) the BIN MANIFEST — per bin: row count and the
    * min/max envelope of both keys, i.e. exactly what the rewritten files'
    * parquet footers will serve to a scan planner.
    *
    * Binning uses the audit's OWN discipline — exact global rank over
    * (layout key, id-tiebreak), bin = rank·nFiles div n — not a sampled
    * range exchange, so the written envelopes equal the audit's predicted
    * envelopes bin-for-bin (the property `OptimizeSpec` pins). Each bin
    * becomes one `part_bin=<b>` partition directory holding ONE file: rows
    * are hash-clustered on the bin id before the write, so a bin never
    * splits across tasks, and `partitionBy` keeps co-resident bins in
    * separate files.
    *
    * The swap is the same crash-safe rename dance as [[compact]] (tmp →
    * aside → in place): at every instant a full copy exists under a
    * deterministic name.
    *
    * CONTRACT NOTE — schema change for readers: the rewritten table is
    * `partitionBy("part_bin")`, so scans of `path` after an optimize see
    * one ADDED column `part_bin: bigint` (the cluster-bin id, exactly the
    * manifest's key). Consumers that `select(*)` must expect it; readers
    * that project named columns are unaffected. This is the same contract
    * a Hive-style clustered rewrite imposes, made explicit here.
    *
    * Scale shape: one global sort of the table — the cost ANY clustered
    * rewrite pays — plus metadata-sized (nFiles-row) manifest work; the
    * audit table itself is ≤ layouts×dims rows (collected as a decision,
    * not data).
    */
  def optimize(spark: org.apache.spark.sql.SparkSession, path: String,
               keyA: String, keyB: String, idCol: String,
               audit: DataFrame, nFiles: Int, bits: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    require(nFiles >= 1, s"nFiles must be positive: $nFiles")
    val winner = audit.select(col("layout"), col("files_hit")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sum)
      .toSeq.sortBy { case (l, h) => (h, l) }.head._1
    val src = spark.read.parquet(path)
    val mask = 1L << bits
    // pmod (matching the audits): negative keys must land in [0, mask)
    // or the curve coordinates go negative
    val masked = src
      .withColumn("__ka", pmod(col(keyA).cast("long"), lit(mask)))
      .withColumn("__kb", pmod(col(keyB).cast("long"), lit(mask)))
    val keyed = winner match {
      case "linear_a" => masked.withColumn("__lk", col("__ka"))
      case "zorder"   => masked.withColumn("__lk", zValue(col("__ka"), col("__kb"), bits))
      case "hilbert"  => graft.ext.Layout.withHilbert(masked, "__ka", "__kb", bits, "__lk")
      case other => throw new IllegalArgumentException(s"unknown layout in audit: $other")
    }
    val ranked = graft.ext.Layout.withGlobalRank(keyed, Seq("__lk", idCol))
      .pin() // one-shot: feeds the bin manifest AND the rewrite
    val n = ranked.count()
    require(n > 0, "optimize needs a non-empty table")
    val binned = ranked.withColumn("part_bin", expr(s"rnk * ${nFiles}L div ${n}L"))
    val manifest = binned.groupBy("part_bin")
      .agg(count(lit(1)).as("n_rows"),
        min("__ka").as("min_a"), max("__ka").as("max_a"),
        min("__kb").as("min_b"), max("__kb").as("max_b"))
      .withColumn("layout", lit(winner))
      .select("layout", "part_bin", "n_rows", "min_a", "max_a", "min_b", "max_b")
      .pin() // one-shot: manifest rows written AND returned
    val tmp = path + ".__optimize_tmp__"
    binned.drop("__ka", "__kb", "__lk", "rnk")
      .repartition(nFiles, col("part_bin"))
      .write.mode("overwrite").partitionBy("part_bin").parquet(tmp)
    swapIn(spark, tmp, path, "optimize")
    parquet(manifest, path + "_manifest")
    manifest
  }
}
