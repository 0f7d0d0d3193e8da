package graft.build

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Build-once, at-rest cache for derived index tables (LSH signatures,
  * shingle sets, minhash bands, …), sharing the [[GraphCache]] philosophy:
  * index structures are built at INGEST, not per query — at 100 TB you write
  * the signature table next to the corpus exactly once and every dedup /
  * similarity query starts from the index scan. The versioned path + marker
  * file make stale layouts from older code unreachable, and a later JVM
  * (bench after verify) reuses the files without rebuilding. */
object DerivedCache {

  private val memo = TrieMap.empty[(SparkSession, String), DataFrame]

  // Round 15 (guide §2.6 — overlap independent jobs): the ingest paths now
  // maintain independent tables from a small thread pool, so the cache's
  // mutual exclusion is PER TABLE PATH instead of one global lock — two
  // appends to different tables overlap, two writers of the SAME path still
  // serialize exactly as before. The lock object for a path is created once
  // and lives for the JVM (bounded by the table count).
  private val pathLocks = TrieMap.empty[String, Object]
  private def lockFor(path: String): Object =
    pathLocks.getOrElseUpdate(path, new Object)

  /** Monotone per-corpus mutation counter, bumped by every [[append]] /
    * [[replace]]: lets consumers key their own memoized data properties
    * (e.g. the control-gate row counts) so a table mutation invalidates
    * them — "the at-rest tables are immutable" stopped being true the day
    * the append paths landed. */
  private val epochs = TrieMap.empty[String, Long]

  def mutationEpoch(dir: String): Long = epochs.getOrElse(dir, 0L)

  private def bumpEpoch(dir: String): Unit =
    epochs.updateWith(dir) { v => Some(v.getOrElse(0L) + 1L) }

  /** Base directory for every at-rest graft cache (graph tables, probes,
    * index tables): `spark.graft.cache.dir` session conf, else the
    * `GRAFT_CACHE_DIR` environment variable, else `target/graft-cache`
    * relative to the working directory. As a library, point this at a
    * durable shared location (e.g. a warehouse path) so ingest-time index
    * builds are written once per corpus, not once per checkout. */
  def baseDir(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.cache.dir")
      .orElse(sys.env.get("GRAFT_CACHE_DIR"))
      .getOrElse("target/graft-cache")

  /** Collision-free cache directory for a source dir: readable sanitized name
    * + an md5 discriminator (distinct dirs can sanitize identically). The
    * source data itself is immutable by contract (TESTDATA.md); regenerating
    * a corpus in place requires clearing `target/graft-cache`. */
  private[graft] def dirKey(dir: String): String = {
    val san = dir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+|_+$", "")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    s"${san}_$md5"
  }

  /** Drop memo entries whose session has been stopped, so long-lived JVMs
    * with session churn don't pin dead sessions and their plans. */
  private[build] def evictStopped[V](m: TrieMap[(SparkSession, String), V]): Unit =
    m.keys.filter(_._1.sparkContext.isStopped).foreach(m.remove)

  // (name, version) tuple overloads: maintained tables keep their identity
  // in ONE constant (e.g. [[DocTables]]) shared by build, append, replace,
  // and specs — a version bump in one literal can't silently split the
  // read and write paths any more
  def table(spark: SparkSession, dir: String, t: (String, Int))
      (build: => DataFrame): DataFrame = table(spark, dir, t._1, t._2)(build)
  def existing(spark: SparkSession, dir: String, t: (String, Int)): DataFrame =
    existing(spark, dir, t._1, t._2)
  def append(spark: SparkSession, dir: String, t: (String, Int))
      (rows: DataFrame): Unit = append(spark, dir, t._1, t._2)(rows)
  def replace(spark: SparkSession, dir: String, t: (String, Int))
      (rows: DataFrame): Unit = replace(spark, dir, t._1, t._2)(rows)
  def compact(spark: SparkSession, dir: String, t: (String, Int)): Unit =
    compact(spark, dir, t._1, t._2)

  /** Whether a table's at-rest build has completed (marker present) —
    * the maintenance paths use this to decide if an optional index (e.g.
    * the containment-prefix family) needs maintaining at all. */
  def isBuilt(spark: SparkSession, dir: String, t: (String, Int)): Boolean =
    Files.exists(Paths.get(
      s"${baseDir(spark)}/${dirKey(dir)}/${t._1}_v${t._2}/_GRAFT_DONE"))

  /** Memoized at-rest materialization of `build`, keyed by (session, source
    * dir, table name, layout version). */
  def table(spark: SparkSession, dir: String, name: String, version: Int)
      (build: => DataFrame): DataFrame = {
    evictStopped(memo)
    val path = s"${baseDir(spark)}/${dirKey(dir)}/${name}_v$version"
    memo.get((spark, path)).getOrElse(lockFor(path).synchronized {
      memo.getOrElseUpdate((spark, path), {
        val marker = Paths.get(s"$path/_GRAFT_DONE")
        if (!Files.exists(marker)) {
          build.write.mode("overwrite").parquet(path)
          Files.createFile(marker)
        }
        spark.read.parquet(path)
      })
    })
  }

  /** Read an existing at-rest table WITHOUT a build closure — the
    * append-path read: fails loudly if the base was never built instead of
    * silently re-deriving it from a source that may not exist. */
  def existing(spark: SparkSession, dir: String, name: String, version: Int): DataFrame =
    table(spark, dir, name, version)(
      sys.error(s"$name (v$version) is not built for $dir — build the base first"))

  /** Incremental maintenance: APPEND derived rows to an existing at-rest
    * table. This is the ingest path at scale — a daily document append
    * derives index rows for the delta only and adds parquet files next to
    * the base; nothing existing is rewritten (per-document derivations make
    * the result exactly equal to a full rebuild — see IncrementalIndexSpec).
    * The memoized reader for the table is dropped so the next access
    * re-lists the files; the base must already be built (an append is a
    * delta against something). */
  def append(spark: SparkSession, dir: String, name: String, version: Int)
      (rows: DataFrame): Unit = {
    val path = s"${baseDir(spark)}/${dirKey(dir)}/${name}_v$version"
    lockFor(path).synchronized {
      require(Files.exists(Paths.get(s"$path/_GRAFT_DONE")),
        s"append target $name (v$version) is not built for $dir — build the base index first")
      rows.write.mode("append").parquet(path)
      memo.keys.filter(_._2 == path).foreach(memo.remove)
      bumpEpoch(dir)
    }
  }

  /** REPLACE an existing at-rest table's contents with `rows` — the
    * maintenance primitive for state tables whose update touches existing
    * rows (e.g. the dup-cluster label table, where a merge relabels old
    * members), which `append` by definition cannot express. `rows` may read
    * FROM the current table: it is fully materialized into a staging
    * directory (marker included) before the old table moves aside, so the
    * input files are never deleted under a running plan, a crash while
    * writing leaves the old table untouched, and the vulnerable window
    * shrinks to the two directory renames (a crash there leaves the
    * complete old table under `__retired`, recoverable by hand — never a
    * half-written mixture). */
  def replace(spark: SparkSession, dir: String, name: String, version: Int)
      (rows: DataFrame): Unit = {
    val path = s"${baseDir(spark)}/${dirKey(dir)}/${name}_v$version"
    lockFor(path).synchronized { replaceLocked(spark, dir, path, name, version)(rows) }
  }

  private def replaceLocked(spark: SparkSession, dir: String, path: String,
      name: String, version: Int)(rows: DataFrame): Unit = {
    require(Files.exists(Paths.get(s"$path/_GRAFT_DONE")),
      s"replace target $name (v$version) is not built for $dir — build the base index first")
    val staging = s"${path}__staging"
    val retired = s"${path}__retired"
    deleteRecursively(staging) // leftovers from a crashed earlier run
    deleteRecursively(retired)
    rows.write.mode("overwrite").parquet(staging)
    Files.createFile(Paths.get(s"$staging/_GRAFT_DONE"))
    Files.move(Paths.get(path), Paths.get(retired))
    Files.move(Paths.get(staging), Paths.get(path))
    deleteRecursively(retired)
    memo.keys.filter(_._2 == path).foreach(memo.remove)
    bumpEpoch(dir)
  }

  /** PURGE the rows whose `key` is in `ids` (a one-column frame) — the
    * delete path's staged anti-join filter-rewrite. The using-column join
    * moves the key first; the stored column order is re-selected so the
    * rewrite is layout-identical to a fresh build. */
  def purge(spark: SparkSession, dir: String, t: (String, Int), ids: DataFrame,
      key: String = "doc_id"): Unit = {
    val cur = existing(spark, dir, t)
    replace(spark, dir, t)(
      cur.join(ids.toDF(key), Seq(key), "left_anti").select(cur.columns.map(col): _*))
  }

  /** Target file size of a compacted table. */
  private val CompactTargetBytes = 128L * 1024 * 1024

  /** COMPACT an appended at-rest table: rewrite its many small files (one
    * parquet file group per daily append — the classic small-files
    * pathology of any long-lived append path) into size-targeted files.
    * Content-neutral by construction (a [[replace]] with a coalesced scan
    * of the table itself); width = total bytes / [[CompactTargetBytes]],
    * so a compacted 100-TB index reads at full scan parallelism while a
    * small one collapses to a single file. `coalesce`, never
    * `repartition` — compaction must not pay a shuffle. */
  def compact(spark: SparkSession, dir: String, name: String, version: Int): Unit = {
    val path = s"${baseDir(spark)}/${dirKey(dir)}/${name}_v$version"
    require(Files.exists(Paths.get(s"$path/_GRAFT_DONE")),
      s"compact target $name (v$version) is not built for $dir — build the base index first")
    val bytes = parquetBytes(path)
    val parts = math.max(1L, (bytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
    replace(spark, dir, name, version)(
      spark.read.parquet(path).coalesce(parts))
  }

  /** Data-file count of an at-rest table (compaction's observable). */
  private[graft] def parquetFileCount(spark: SparkSession, dir: String,
      name: String, version: Int): Int =
    listParquet(s"${baseDir(spark)}/${dirKey(dir)}/${name}_v$version").size

  private def listParquet(path: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(path))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  private def parquetBytes(path: String): Long =
    listParquet(path).map(Files.size).sum

  private def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}
