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
  * (bench after verify) reuses the files without rebuilding.
  *
  * It also holds the engine's ONE memo ([[memo]]): every value cached across
  * queries — a table's reader, the materialized graph, a planning probe, the
  * trained BPE merges — is an entry keyed by (session, key, version), and
  * every corpus-scoped key starts from one corpus identity, the resolved
  * [[root]] (cache base + source dir), so a cache-root switch mid-session
  * can never serve the old root's entries. Two kinds of version come from
  * one write counter, bumped by every [[append]] / [[replace]] (so also
  * [[purge]] and [[compact]]) for both the table's path and its root: a
  * table reader is versioned by its own path (a write to one table never
  * re-reads another), a probe ([[scalar]]) by its root. */
object DerivedCache {

  private final class Cell[V](@volatile private var compute: () => V) {
    // release the thunk once forced: the closure can capture a DataFrame
    // and its whole plan graph, dead weight next to the small result
    lazy val value: V = {
      val v = compute()
      compute = null
      v
    }
  }

  private val cells = TrieMap.empty[(SparkSession, String, Long), Cell[_]]

  /** Writes per table path and per corpus root — the memo's versions. */
  private val writes = TrieMap.empty[String, Long]

  // Round 15 (guide §2.6 — overlap independent jobs): the ingest paths now
  // maintain independent tables from a small thread pool, so the cache's
  // mutual exclusion is PER TABLE PATH instead of one global lock — two
  // appends to different tables overlap, two writers of the SAME path still
  // serialize exactly as before. The lock object for a path is created once
  // and lives for the JVM (bounded by the table count).
  private val pathLocks = TrieMap.empty[String, Object]
  private def lockFor(path: String): Object =
    pathLocks.getOrElseUpdate(path, new Object)

  private def version(key: String): Long = writes.getOrElse(key, 0L)

  /** `compute`'s value for (session, key) at `version`, computed once:
    * `TrieMap.getOrElseUpdate` installs exactly ONE lazily forced cell per
    * key, so two threads asking at once force the same `lazy val` and the
    * Spark job behind it runs once (a raced loser's un-forced cell is
    * garbage, never executed). Entries of a stopped session or a superseded
    * version are dropped on access, so the memo holds at most one entry per
    * (session, key); the scan is O(live entries), bounded by the declared
    * surface. `key` must identify one value type. */
  private[build] def memo[V](s: SparkSession, key: String, version: Long)(compute: => V): V = {
    cells.keys.filter(k => k._1.sparkContext.isStopped ||
      (k._1 == s && k._2 == key && k._3 != version)).foreach(cells.remove)
    cells.getOrElseUpdate((s, key, version), new Cell(() => compute))
      .asInstanceOf[Cell[V]].value
  }

  /** Live memo entries of (session, key) — the one-entry invariant's
    * observable. */
  private[build] def entries(s: SparkSession, key: String): Int =
    cells.keys.count(k => k._1 == s && k._2 == key)

  /** Memoized data property of corpus `dir` (a planning probe: a size
    * guard's row count, a collected probe row, a trained artifact),
    * versioned by the corpus root — any append/replace to one of its tables
    * forces a recompute. */
  private[graft] def scalar[V](s: SparkSession, dir: String, name: String)(compute: => V): V = {
    val r = root(s, dir)
    memo(s, s"$r#$name", version(r))(compute)
  }

  /** The memoized reader of the at-rest directory `path`, versioned by the
    * path's own writes: built once under the path's lock when its
    * `_GRAFT_DONE` marker is missing, then read. */
  private[build] def atRest[V](s: SparkSession, path: String)(build: => Unit)(read: => V): V =
    memo(s, path, version(path)) {
      lockFor(path).synchronized {
        val marker = Paths.get(s"$path/_GRAFT_DONE")
        if (!Files.exists(marker)) {
          build
          Files.createDirectories(marker.getParent)
          Files.createFile(marker)
        }
        read
      }
    }

  /** Base directory for every at-rest graft cache (graph tables, probes,
    * index tables): `spark.graft.cache.dir` session conf, else the
    * `GRAFT_CACHE_DIR` environment variable, else `target/graft-cache`
    * relative to the working directory. As a library, point this at a
    * durable shared location (e.g. a warehouse path) so ingest-time index
    * builds are written once per corpus, not once per checkout. The root
    * may change mid-session: reads and memoized probes follow it. */
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

  /** The corpus identity: the resolved at-rest root of source dir `dir`
    * under the session's cache base. */
  private[graft] def root(s: SparkSession, dir: String): String =
    s"${baseDir(s)}/${dirKey(dir)}"

  /** At-rest path of table `t` = (name, layout version) — maintained tables
    * keep their identity in ONE constant (e.g. [[DocTables]]) shared by
    * build, append, replace and specs, so a version bump in one literal
    * can't split the read and write paths. */
  private[graft] def path(s: SparkSession, dir: String, t: (String, Int)): String =
    s"${root(s, dir)}/${t._1}_v${t._2}"

  /** Whether a table's at-rest build has completed (marker present) —
    * the maintenance paths use this to decide if an optional index (e.g.
    * the containment-prefix family) needs maintaining at all. */
  def isBuilt(spark: SparkSession, dir: String, t: (String, Int)): Boolean =
    Files.exists(Paths.get(s"${path(spark, dir, t)}/_GRAFT_DONE"))

  /** Memoized at-rest materialization of `build`, keyed by (session,
    * resolved table path), versioned by the path's writes. */
  def table(spark: SparkSession, dir: String, t: (String, Int))
      (build: => DataFrame): DataFrame = {
    val p = path(spark, dir, t)
    atRest(spark, p)(build.write.mode("overwrite").parquet(p))(spark.read.parquet(p))
  }

  /** Read an existing at-rest table WITHOUT a build closure — the
    * append-path read: fails loudly if the base was never built instead of
    * silently re-deriving it from a source that may not exist. */
  def existing(spark: SparkSession, dir: String, t: (String, Int)): DataFrame =
    table(spark, dir, t)(
      sys.error(s"${t._1} (v${t._2}) is not built for $dir — build the base first"))

  /** Table `t`'s path, required built — a maintenance write is a delta
    * against an existing base. */
  private def built(spark: SparkSession, dir: String, t: (String, Int), what: String): String = {
    require(isBuilt(spark, dir, t),
      s"$what target ${t._1} (v${t._2}) is not built for $dir — build the base index first")
    path(spark, dir, t)
  }

  /** Run a write on table `t` under its path lock, then bump the versions
    * of its path and its corpus root. */
  private def mutate(spark: SparkSession, dir: String, t: (String, Int), what: String)
      (body: String => Unit): Unit = {
    lockFor(path(spark, dir, t)).synchronized {
      val p = built(spark, dir, t, what)
      body(p)
      Seq(p, root(spark, dir)).foreach(k => writes.updateWith(k)(v => Some(v.getOrElse(0L) + 1L)))
    }
  }

  /** Incremental maintenance: APPEND derived rows to an existing at-rest
    * table. This is the ingest path at scale — a daily document append
    * derives index rows for the delta only and adds parquet files next to
    * the base; nothing existing is rewritten (per-document derivations make
    * the result exactly equal to a full rebuild — see IncrementalIndexSpec).
    * The version bump makes the next read re-list the files; the base must
    * already be built (an append is a delta against something). */
  def append(spark: SparkSession, dir: String, t: (String, Int))
      (rows: DataFrame): Unit =
    mutate(spark, dir, t, "append")(rows.write.mode("append").parquet(_))

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
  def replace(spark: SparkSession, dir: String, t: (String, Int))
      (rows: DataFrame): Unit =
    mutate(spark, dir, t, "replace") { p =>
      val staging = s"${p}__staging"
      val retired = s"${p}__retired"
      deleteRecursively(staging) // leftovers from a crashed earlier run
      deleteRecursively(retired)
      rows.write.mode("overwrite").parquet(staging)
      Files.createFile(Paths.get(s"$staging/_GRAFT_DONE"))
      Files.move(Paths.get(p), Paths.get(retired))
      Files.move(Paths.get(staging), Paths.get(p))
      deleteRecursively(retired)
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
  def compact(spark: SparkSession, dir: String, t: (String, Int)): Unit = {
    val p = built(spark, dir, t, "compact")
    val parts = math.max(1L, (parquetBytes(p) + CompactTargetBytes - 1) / CompactTargetBytes).toInt
    replace(spark, dir, t)(spark.read.parquet(p).coalesce(parts))
  }

  /** Data-file count of an at-rest table (compaction's observable). */
  private[graft] def parquetFileCount(spark: SparkSession, dir: String, t: (String, Int)): Int =
    listParquet(path(spark, dir, t)).size

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
