package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.build.DerivedCache

/** At-rest BUCKETED table layout — the co-located-join lever for repeated
  * fact-fact joins: both sides hash-bucketed (and sorted) on the join key at
  * WRITE time, so every subsequent join and key-grouped aggregation runs
  * with zero exchanges. At 100 TB this is the difference between shuffling
  * terabytes per query and shuffling nothing: the shuffle is paid once, at
  * ingest, like every other graft at-rest structure ([[graft.build
  * .DerivedCache]] indexes, the partitioned graph tables).
  *
  * Implementation: Spark data-source bucketing (`bucketBy().sortBy()
  * .saveAsTable`) over the default in-memory catalog with an explicit
  * at-rest LOCATION under the graft cache dir. Bucket metadata for a data
  * source table lives in the catalog, so a NEW session re-attaches the
  * existing files with `CREATE TABLE ... CLUSTERED BY ... LOCATION` (bucket
  * ids are encoded in the file names saveAsTable wrote — the DDL re-trusts
  * them). The q16 plan audit asserts the join+agg really runs shuffle-free.
  */
object Bucketed {

  /** Ensure a bucketed+sorted copy of `build` exists as a catalog table for
    * this session; returns the catalog table name to query. Bucket files are
    * written at most once per (source dir, name, buckets, version); later
    * sessions only re-register the DDL. */
  def table(s: SparkSession, dir: String, name: String, bucketCol: String,
      buckets: Int, version: Int)(build: => DataFrame): String = synchronized {
    val dk = DerivedCache.dirKey(dir).replace('.', '_')
    val tbl = s"graft_${dk}_${name}_b${buckets}_v$version"
    if (!s.catalog.tableExists(tbl)) {
      val path = Paths.get(DerivedCache.path(s, dir, (s"bucketed_${name}_b$buckets", version)))
        .toAbsolutePath
      val marker = path.resolve("_GRAFT_DONE")
      if (Files.exists(marker)) {
        val schema = s.read.parquet(path.toString).schema.toDDL
        s.sql(s"""CREATE TABLE $tbl ($schema) USING PARQUET
                 |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
                 |LOCATION '$path'""".stripMargin)
      } else {
        build.write.format("parquet")
          .bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .option("path", path.toString)
          .mode("overwrite").saveAsTable(tbl)
        Files.createFile(marker)
      }
    }
    tbl
  }
}
