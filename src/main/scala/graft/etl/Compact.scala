package graft.etl

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-files compaction for parquet stores (the operational tail of S5/T9:
  * a daily partition router emits a file per micro-batch per partition, and
  * a store written by other tools can hold a file per writer task per
  * partition — after a month that is thousands of kilobyte files and every
  * scan pays a task per file. `Upsert.mergeBatch` does not accrete: it
  * rewrites each partition it touches into one file).
  *
  * `compact` rewrites one directory into ~`targetBytes` files: it sizes the
  * output from the ACTUAL input bytes (not a guessed partition count),
  * rewrites into a staging directory, and swaps via two metadata renames.
  * Readers never observe a half-written mix; there IS a sub-second window
  * between the renames where the path is absent (a reader retries), and if
  * the promote rename fails the original directory is restored from the
  * backup before rethrowing — run compaction from a maintenance window or a
  * coordinator that fences concurrent readers on stores without atomic
  * rename. For stores with live concurrent readers use the VERSIONED form
  * below (`adopt`/`compactVersioned`/`readCurrent`): promotion there is one
  * atomic pointer rename and readers never observe an absent path.
  * `compactPartitioned` applies the flat pass per partition subdirectory
  * (`k=v`), preserving partition pruning, skipping directories already under
  * `maxFiles`.
  *
  * Row order inside rewritten files is not preserved (parquet scans make no
  * ordering promise); content equality is the contract — pinned by
  * CompactSpec as an exact multiset match.
  */
object Compact {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirBytes(spark: SparkSession, dir: Path): Long =
    fs(spark, dir).listStatus(dir).filter(_.isFile)
      .filterNot(_.getPath.getName.startsWith("_")).map(_.getLen).sum

  private def dataFileCount(spark: SparkSession, dir: Path): Int =
    fs(spark, dir).listStatus(dir).count(s =>
      s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))

  /** Rewrite `dir` (a flat parquet directory) into ceil(bytes/targetBytes)
    * files. Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String, targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes > 0)
    val src = new Path(dir)
    val f = fs(spark, src)
    val before = dataFileCount(spark, src)
    val bytes = dirBytes(spark, src)
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val staging = new Path(src.getParent, s".${src.getName}__compact_staging")
    val backup = new Path(src.getParent, s".${src.getName}__compact_old")
    f.delete(staging, true); f.delete(backup, true)
    // coalesce, not repartition: merging files needs no shuffle.
    // mergeSchema: compaction rewrites EVERY file, so on a schema-evolved
    // store (mixed file widths) the default single-file inference would
    // permanently drop the evolved columns from the whole table.
    spark.read.option("mergeSchema", "true").parquet(dir).coalesce(parts)
      .write.mode("overwrite").parquet(staging.toString)
    // two metadata renames, no data copy; restore the backup if the
    // promote fails so the store path never stays missing
    require(f.rename(src, backup), s"could not move $src aside")
    try {
      require(f.rename(staging, src), s"could not promote $staging")
    } catch {
      case e: Throwable =>
        f.rename(backup, src) // best-effort restore of the original layout
        throw e
    }
    f.delete(backup, true)
    (before, dataFileCount(spark, src))
  }

  /** Per-partition compaction of a `partitionBy` layout: each `k=v`
    * subdirectory with more than `maxFiles` data files is compacted
    * independently (pruning layout untouched). Returns the compacted
    * partition directories with their before/after counts.
    *
    * Partitions are submitted as CONCURRENT Spark jobs (bounded by
    * `parallelism`): each per-partition rewrite is a small read+write whose
    * wall-clock is dominated by job latency, not data volume, so a month of
    * daily partitions compacted serially is a month × job-latency driver
    * loop. Spark's scheduler interleaves the concurrent jobs across the same
    * executors; the rename swaps touch disjoint directories. */
  def compactPartitioned(spark: SparkSession, root: String,
                         targetBytes: Long = 128L << 20,
                         maxFiles: Int = 4,
                         parallelism: Int = 8): Seq[(String, Int, Int)] = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(parallelism >= 1)
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val dirs = f.listStatus(rootP).toSeq
      // exclude hidden/metadata dirs (the dataFileCount convention): a
      // crashed prior compact can leave .k=v__compact_staging /
      // .k=v__compact_old behind, and "contains('=')" alone would compact
      // that stale pre-crash data as if it were a live partition (review
      // finding)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
    val pool = Executors.newFixedThreadPool(math.min(parallelism, math.max(1, dirs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = dirs.map { d =>
        Future {
          val n = dataFileCount(spark, d.getPath)
          if (n <= maxFiles) None
          else {
            val cur = inFlight.incrementAndGet()
            inFlightHighWater.getAndUpdate(m => math.max(m, cur))
            try {
              val (b, a) = compact(spark, d.getPath.toString, targetBytes)
              Some((d.getPath.getName, b, a))
            } finally inFlight.decrementAndGet()
          }
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf).flatten
    } catch {
      // Future.sequence fails fast; without shutdownNow the queued
      // compactions would keep starting (and renaming directories) on
      // non-daemon threads after this call has already thrown.
      case t: Throwable => pool.shutdownNow(); throw t
    } finally pool.shutdown()
  }

  /** Test probe: high-water mark of simultaneous per-partition `compact`
    * calls inside [[compactPartitioned]]. Lets CompactSpec assert real
    * concurrency structurally instead of comparing wall-clock samples. */
  private[graft] val inFlightHighWater = new java.util.concurrent.atomic.AtomicInteger(0)
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  // ------------------------------------------------------------------
  // Versioned store: the WINDOWLESS swap. A plain directory cannot be
  // replaced atomically on a generic Hadoop FS (two renames leave a
  // sub-second absence window — `compact` above documents it). A versioned
  // store removes the window structurally: data lives in `root/v-NNNNNNNN/`
  // subdirectories and `root/_current` (one small file) names the live one.
  // Promotion is a SINGLE atomic pointer rename, so a concurrent reader
  // always resolves either the old or the new version, never nothing.
  // Superseded versions are retained for `keepVersions` more compactions
  // (in-flight readers finish against the version they resolved) and then
  // vacuumed — the same retention contract table formats publish.
  // ------------------------------------------------------------------

  private val Pointer = "_current"

  private def versionDir(n: Long) = f"v-$n%08d"

  /** The pointer must live on the RAW filesystem. On a checksummed FS
    * (LocalFileSystem and friends) every file drags a `.crc` sidecar, which
    * turns the "one atomic rename" into a TWO-file swap: a reader racing
    * the flip can pair the new `_current` bytes with the old sidecar and
    * die with a ChecksumException — exactly the absence window the
    * versioned store exists to remove. Writing and reading the pointer
    * through the raw FS means no sidecar ever exists, so the flip is the
    * single rename(2) the design assumes. (HDFS/object stores are not
    * ChecksumFileSystems; this unwrap is a no-op there.) A one-line
    * pointer carries no data worth a checksum — the parquet files keep
    * their own integrity checks. */
  private def rawFs(f: org.apache.hadoop.fs.FileSystem): org.apache.hadoop.fs.FileSystem =
    f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  private def writePointer(spark: SparkSession, root: Path, version: String): Unit = {
    val f = rawFs(fs(spark, root))
    val tmp = new Path(root, s".$Pointer.tmp")
    val out = f.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    val dst = new Path(root, Pointer)
    f.getUri.getScheme match {
      case "file" =>
        // On the LOCAL fs, Hadoop's FileContext rename(OVERWRITE) is
        // delete-dest-then-rename — a two-step absence window a concurrent
        // reader can hit (measured: under load the gap between the delete
        // and the rename stretches to whole seconds and readers die with
        // FileNotFoundException on the pointer — the r13 reader-hammer
        // flake). java.nio ATOMIC_MOVE is rename(2): the dest is REPLACED
        // atomically and no observer ever sees it absent.
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case _ =>
        // HDFS (and NN-backed stores): FileContext rename(OVERWRITE) is a
        // single atomic namespace operation — the flip the design assumes.
        val fc = FileContext.getFileContext(root.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    }
  }

  private def readPointer(spark: SparkSession, root: Path): String = {
    val f = rawFs(fs(spark, root))
    val in = f.open(new Path(root, Pointer))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
    finally in.close()
  }

  /** True if `root` is already a versioned store (has a `_current` pointer). */
  def isVersioned(spark: SparkSession, root: String): Boolean =
    fs(spark, new Path(root)).exists(new Path(new Path(root), Pointer))

  /** Convert a flat parquet directory into a versioned store in place:
    * data files move (metadata renames) into `root/v-00000001/` and the
    * pointer is written. Idempotent on an already-versioned root. */
  def adopt(spark: SparkSession, root: String): String = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    if (isVersioned(spark, root)) return readPointer(spark, rootP)
    val v1 = new Path(rootP, versionDir(1))
    f.mkdirs(v1)
    f.listStatus(rootP).filter(_.isFile).foreach { s =>
      require(f.rename(s.getPath, new Path(v1, s.getPath.getName)),
        s"could not move ${s.getPath} into $v1")
    }
    writePointer(spark, rootP, versionDir(1))
    versionDir(1)
  }

  /** Path of the live version directory. */
  def currentPath(spark: SparkSession, root: String): String =
    new Path(new Path(root), readPointer(spark, new Path(root))).toString

  /** Read the live version of a versioned store. */
  def readCurrent(spark: SparkSession, root: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(currentPath(spark, root))

  /** Windowless compaction of a versioned store: rewrite the live version
    * into ~`targetBytes` files under the NEXT version directory, flip the
    * pointer atomically, vacuum old versions. Returns (filesBefore,
    * filesAfter).
    *
    * `keepVersions` retains the NEWEST keepVersions version dirs, current
    * included — a just-superseded version therefore survives
    * keepVersions − 1 further compactions. The floor is 2, not 1 (review
    * finding): keepVersions = 1 would delete the just-superseded version
    * milliseconds after the flip, yanking files out from under any
    * in-flight reader that resolved the pointer before it — the exact
    * absence window the versioned store exists to remove. */
  def compactVersioned(spark: SparkSession, root: String,
                       targetBytes: Long = 128L << 20,
                       keepVersions: Int = 2): (Int, Int) = {
    require(targetBytes > 0 && keepVersions >= 2,
      s"keepVersions=$keepVersions would vacuum the just-superseded version " +
        "under in-flight readers; the minimum is 2 (current + its predecessor)")
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val cur = readPointer(spark, rootP)
    val curN = cur.stripPrefix("v-").toLong
    val curP = new Path(rootP, cur)
    val before = dataFileCount(spark, curP)
    val bytes = dirBytes(spark, curP)
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val next = versionDir(curN + 1)
    // mergeSchema: same full-rewrite hazard as compact() on evolved stores
    spark.read.option("mergeSchema", "true").parquet(curP.toString).coalesce(parts)
      .write.mode("overwrite").parquet(new Path(rootP, next).toString)
    writePointer(spark, rootP, next) // the one atomic flip
    // vacuum: drop versions more than keepVersions generations behind
    f.listStatus(rootP)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v-"))
      .filter(_.getPath.getName.stripPrefix("v-").toLong <= curN + 1 - keepVersions)
      .foreach(s => f.delete(s.getPath, true))
    (before, dataFileCount(spark, new Path(rootP, next)))
  }
}
