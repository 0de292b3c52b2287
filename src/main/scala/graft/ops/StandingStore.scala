package graft.ops

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk protocol of the six standing stores — the structures that
  * stay built between runs so later probes reuse them instead of
  * rescanning history: the MinHash index ([[Dedup.saveNearDupIndex]]),
  * the LSH vector index ([[Similarity.saveEmbedIndex]]), the IVF-PQ index
  * ([[Similarity.saveIvfPqIndex]]), the perceptual and frame indexes
  * ([[Multimodal.savePHashIndex]], [[Multimodal.saveFrameIndex]]) and the
  * flat (id, fp) fingerprint snapshot the CurateCli `dedup` loop appends.
  * Each family keeps its build, encode/band, probe and founding checks;
  * this object alone knows the layout they share:
  *
  *  - growing tables under the store root, appended `mode("append")` one
  *    file group per batch and never rewritten in place (the snapshot's
  *    one table is the root itself);
  *  - a one-row `params` table of founding constants (index families);
  *  - the `_tombstones` sidecar: deletions append an id list, reads
  *    subtract it ([[live]]), the next [[compact]] applies it physically
  *    and clears it (Iceberg delete files, Lucene live-docs). The
  *    underscore prefix hides it from Spark/Hadoop listings, so it can
  *    live INSIDE the flat snapshot without plain
  *    `spark.read.parquet(storeDir)` readers seeing it;
  *  - founding sidecars (`_fpkind`, the snapshot's `_bloom`), which
  *    compaction carries across its staged swap.
  *
  * Deletes stay O(deleted ids) at write time, and the read-side cost is
  * one broadcast anti-join ([[without]]) against a table compaction keeps
  * near-empty: the deletion workload is batch-sized while the store is
  * corpus-sized, so the tombstones ship to the store's partitions and the
  * store never shuffles. A mass deletion that outgrows a broadcast should
  * compact first instead of probing through it.
  *
  * Re-add hazard: a pending tombstone would silently swallow a later
  * re-ingest of the same id (reads subtract by id, not by batch), so
  * [[append]] fails loudly until compaction has applied and cleared it —
  * the [[graft.streaming.EventStream]] PackOffsetStore horizon discipline.
  *
  * Compaction rewrites each growing table into ~128 MB files (a year of
  * daily appends leaves ~365 file groups, and every probe pays their
  * listing and open cost). It runs offline, on a maintenance cadence,
  * never inside the ingest loop. The replacement lands in an
  * underscore-invisible staging dir, then swaps in by two renames with the
  * original kept aside until the staged copy is in place; a stale aside
  * dir (death mid-swap) is restored or dropped on the next call. */
object StandingStore {

  /** One store family's layout: its growing tables (the first is the
    * marker child [[kindOf]] probes; the last holds the buckets), the id
    * column those tables carry, the id column the CLI reads deletions
    * from by default, and the columns that key one bucket. */
  final case class Family(kind: String, tables: Seq[String], idCol: String,
                          cliIdCol: String, bucketKeys: Seq[String] = Nil)

  val NearDup  = Family("neardup", Seq("shingles", "bands"), "_id", "doc_id", Seq("_bucket"))
  val Embed    = Family("embeddup", Seq("buckets"), "_hid", "vec_id", Seq("_bucket"))
  val IvfPq    = Family("ivfpq", Seq("coded"), "_id", "vec_id")
  val PHash    = Family("phash", Seq("pbands"), "_hid", "doc_id", Seq("_b", "_v"))
  val Frames   = Family("frames", Seq("fbands"), "_hid", "doc_id", Seq("_fi", "_b", "_v"))
  /** The flat fingerprint snapshot: the root is its one table, keyed on
    * whatever id column the loop wrote (`doc_id` unless stated). */
  val Snapshot = Family("snapshot", Seq(""), "doc_id", "doc_id")

  /** Probe order of [[kindOf]]: the snapshot, which has no marker child,
    * is the fallback. */
  val Families: Seq[Family] = Seq(NearDup, Embed, IvfPq, PHash, Frames, Snapshot)

  /** The founding fingerprint-kind sidecar ([[Dedup.snapshotFpKind]]),
    * copied verbatim across a root swap. */
  private[ops] val FpKindSidecar = "_fpkind"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new Path(path))

  /** A table's dir under the store root ("" is the root itself). */
  def tableDir(path: String, table: String): String =
    if (table.isEmpty) path else s"$path/$table"

  private def tombstoneDir(path: String) = s"$path/_tombstones"

  /** The family of the store at `path`: the first whose marker child
    * exists, else the snapshot if the dir exists, else None. */
  def kindOf(spark: SparkSession, path: String): Option[Family] =
    Families.find(f => exists(spark, tableDir(path, f.tables.head)))

  /** [[kindOf]], failing loudly on a path that holds no store. */
  def familyAt(spark: SparkSession, path: String): Family =
    kindOf(spark, path).getOrElse(throw new IllegalArgumentException(
      s"no standing store at '$path' (expected a neardup/embeddup/ivfpq/" +
        "phash/frames index dir or a fingerprint-snapshot dir)"))

  /** Whether the store at `path` has been founded: an index has its
    * `params` table; the snapshot has non-hidden content (a dir created
    * by a sidecar write alone has no inferable parquet schema). */
  def founded(spark: SparkSession, path: String): Boolean =
    kindOf(spark, path).exists {
      case Snapshot =>
        fsOf(spark, path).listStatus(new Path(path)).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
      case _ => exists(spark, s"$path/params")
    }

  /** The one-row founding-params table of an index store. */
  def params(spark: SparkSession, path: String): Row =
    spark.read.parquet(s"$path/params").head()

  /** The store's pending tombstones (one `_tid` column), if any. */
  def pending(spark: SparkSession, path: String): Option[DataFrame] =
    if (exists(spark, tombstoneDir(path))) Some(spark.read.parquet(tombstoneDir(path)))
    else None

  /** `df` minus the rows whose `idCol` is among `ids`' first column: one
    * broadcast anti-join. Idempotent — re-applying it to filtered rows is
    * a no-op, which is what makes the compaction swap crash-safe without
    * coordination. */
  def without(df: DataFrame, idCol: String, ids: DataFrame): DataFrame = {
    val tombs = ids.select(col(ids.columns.head).as("_tid"))
    df.join(broadcast(tombs), df(idCol) === tombs("_tid"), "left_anti")
  }

  /** A store table with pending tombstones subtracted, uncached. */
  private[ops] def read(spark: SparkSession, path: String, table: String,
                       idCol: String): DataFrame = {
    val df = spark.read.parquet(tableDir(path, table))
    pending(spark, path).fold(df)(without(df, idCol, _))
  }

  /** The live rows of one store table — pending tombstones subtracted,
    * then cached in `scope`. Index tables carry their family's id column;
    * `idCol` names the snapshot's. */
  def live(spark: SparkSession, path: String, table: String,
           scope: CacheScope = CacheScope.noop,
           idCol: String = Snapshot.idCol): DataFrame = {
    val id = Families.find(f => table.nonEmpty && f.tables.contains(table))
      .fold(idCol)(_.idCol)
    scope.track(read(spark, path, table, id).cache())
  }

  /** Append one batch's rows to the store's tables (table → rows), after
    * checking that none of the batch's ids (`batch`'s `idCol`) has a
    * pending tombstone — one broadcast-join probe over the batch, never
    * the store. */
  def append(spark: SparkSession, path: String, batch: DataFrame, idCol: String)
            (rows: (String, DataFrame)*): Unit = {
    pending(spark, path).foreach { tombs =>
      val clash = batch.select(col(idCol).as("_aid"))
        .join(broadcast(tombs), col("_aid") === col("_tid"), "left_semi")
        .limit(1).collect()
      require(clash.isEmpty,
        s"batch id '${clash.head.get(0)}' has a pending tombstone in " +
          s"${tombstoneDir(path)} — compact the store (applies and clears " +
          "tombstones) before re-adding a deleted id")
    }
    for ((table, df) <- rows) df.write.mode("append").parquet(tableDir(path, table))
  }

  /** Record deletions: append `ids`' distinct `idCol` values under the
    * store's `_tombstones`. O(ids) — history untouched. */
  def tombstone(spark: SparkSession, path: String, ids: DataFrame,
                idCol: String): Unit =
    ids.select(col(idCol).as("_tid")).distinct()
      .write.mode("append").parquet(tombstoneDir(path))

  /** Compact the store at `path`: rewrite each growing table into ~128 MB
    * files with pending tombstones applied physically, then clear them.
    * Probe-invariant. `idCol` names the snapshot's id column (the index
    * families carry their own).
    *
    * The snapshot's table is its root, so its swap takes every sidecar
    * with the old files — the applied `_tombstones` (no separate clear;
    * a crash before the swap leaves store and sidecar intact), and the
    * founding sidecars, which are therefore staged beside the rewrite:
    * `_fpkind` is copied, and the `_bloom` sketch is refounded from the
    * compacted rows under its stored sizing (a sketch cannot forget, so
    * tombstoned fingerprints leave it here, riding the same rewrite). */
  def compact(spark: SparkSession, path: String,
              idCol: Option[String] = None): Unit = {
    val fam = familyAt(spark, path)
    val tombs = pending(spark, path)
    if (fam == Snapshot) {
      if (founded(spark, path)) {
        val bloom = Dedup.snapshotBloomParams(spark, path)
        rewrite(spark, path, idCol.getOrElse(fam.idCol), tombs) { tmp =>
          val fs = fsOf(spark, path)
          val kind = new Path(path, FpKindSidecar)
          if (fs.exists(kind))
            FileUtil.copy(fs, kind, fs, new Path(tmp, FpKindSidecar), false,
              spark.sparkContext.hadoopConfiguration)
          for ((capacity, fpp) <- bloom)
            Dedup.foundSnapshotBloom(spark, tmp, capacity, fpp)
        }
      }
    } else
      fam.tables.foreach(t => rewrite(spark, s"$path/$t", fam.idCol, tombs)(_ => ()))
    if (exists(spark, tombstoneDir(path)))
      fsOf(spark, path).delete(new Path(tombstoneDir(path)), true)
  }

  /** Rewrite the parquet dir `dir` into ~128 MB files minus `tombs`, then
    * `stage` the tmp dir (founding sidecars) before the swap. No parallelism
    * floor: parquet is row-group-splittable, so even one large file scans
    * in parallel, and fewer files is the point. */
  private def rewrite(spark: SparkSession, dir: String, idCol: String,
                      tombs: Option[DataFrame])(stage: String => Unit): Unit = {
    stagedSwap(spark, dir) { tmp =>
      val bytes = fsOf(spark, dir).getContentSummary(new Path(dir)).getLength
      val target = math.min(bytes / (128L << 20) + 1, 1000000L).toInt
      val df = spark.read.parquet(dir)
      tombs.fold(df)(without(df, idCol, _))
        .repartition(target).write.mode("overwrite").parquet(tmp)
      stage(tmp)
    }
    ()
  }

  private def swapPaths(spark: SparkSession, dir: String) = {
    val root = new Path(dir)
    (fsOf(spark, dir), root,
      new Path(root.getParent, "_compact_old_" + root.getName),
      new Path(root.getParent, "_compact_tmp_" + root.getName))
  }

  /** Self-repair a crashed previous [[stagedSwap]]: an aside dir without
    * the live dir means death between the two renames — restore it;
    * otherwise the aside/tmp are stale copies — drop them. Idempotent;
    * callers that must READ the store before swapping it (refound reads
    * the params table) run this first. */
  private[ops] def repairSwap(spark: SparkSession, dir: String): Unit = {
    val (fs, root, aside, tmp) = swapPaths(spark, dir)
    if (fs.exists(aside)) {
      if (!fs.exists(root)) fs.rename(aside, root) else fs.delete(aside, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Crash-safe staged replacement of `dir`: repair any interrupted
    * previous swap, have `writeTo` materialize the replacement into the
    * staging dir, swap via two renames, and invalidate cached plans over
    * the path (a cached load from earlier in the session would otherwise
    * silently serve the pre-swap files). Returns false — and writes
    * nothing — if `dir` is absent after repair. Readers between the
    * renames see a missing dir for one metadata op; on a store with
    * atomic rename (HDFS, local) a concurrent probe sees the old or the
    * new files, both complete. */
  private[ops] def stagedSwap(spark: SparkSession, dir: String)(writeTo: String => Unit): Boolean = {
    val (fs, root, aside, tmp) = swapPaths(spark, dir)
    repairSwap(spark, dir)
    if (!fs.exists(root)) return false
    writeTo(tmp.toString)
    fs.rename(root, aside)
    fs.rename(tmp, root)
    fs.delete(aside, true)
    spark.catalog.refreshByPath(dir)
    true
  }

  /** The bucket-size histogram of a banded or bucketed table: one row per
    * distinct bucket size, (bucket_size, n_buckets), over the buckets
    * keyed by `keys`. Candidate cost is quadratic in a bucket's size, so
    * drift shows as mass moving toward large sizes. Two narrow groupBys
    * over the bucket keys; ids and payloads never move. */
  def bucketSizes(df: DataFrame, keys: String*): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_sz"))
      .groupBy(col("_sz")).agg(count(lit(1)).as("n_buckets"))
      .select(col("_sz").as("bucket_size"), col("n_buckets"))
}
