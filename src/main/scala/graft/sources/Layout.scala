package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data LAYOUT operators — the two storage disciplines that decide
  * whether a 100 TB table is queryable at all, demonstrated end-to-end
  * against the testdata:
  *
  *  - '''Partition pruning''' ([[partitionedEvents]]): a fact table laid
  *    out as `date=.../part-*.parquet` turns every date-ranged query
  *    into a directory-listing problem — the scan never opens a file
  *    outside the range. LayoutSpec asserts the physical scan carries
  *    the `PartitionFilters`, and the driver gate hash-matches a pruned
  *    aggregate against DuckDB over the raw table.
  *
  *  - '''Bucketing''' ([[bucketedOrdersWithCustomers]]): pre-hashing both
  *    join sides into the same bucket count co-locates matching keys at
  *    WRITE time, so the join plans with zero shuffle — the one-time
  *    layout cost amortizes over every subsequent join on that key,
  *    which is how a fact-to-fact join survives 100 TB (a broadcast
  *    can't, and a per-query shuffle of both sides pays the full
  *    network cost every time). LayoutSpec asserts the bucketed
  *    sort-merge join has NO shuffle exchange on either input.
  *
  * Both layouts are one-time artifacts built through
  * [[Artifacts.buildOnce]]: keyed by source path, recipe and
  * source-fingerprint (row count + id-hash xor), so a regenerated source
  * table builds a new layout rather than silently serving a stale one;
  * a fresh JVM re-REGISTERS the committed bucketed files in its catalog
  * instead of rewriting them. Production deployments own these
  * artifacts in a real metastore.
  */
object Layout {

  /** Events re-laid-out as parquet partitioned by `event_date`
    * (`to_date(ts)` in the session's UTC). Returns the partitioned
    * read — date filters on it prune at file listing. */
  def partitionedEvents(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.buildOnce("events_by_date", "v1", d,
        Tables.events(s, d), "event_id") { dir =>
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date")
        .parquet(dir.resolve("data").toString)
    }
    s.read.parquet(dir.resolve("data").toString)
  }

  /** Orders and customer saved as tables bucketed by the join key
    * (`o_custkey` / `c_custkey`, same bucket count), then joined —
    * planned WITHOUT a shuffle on either side. Files are written once
    * through [[Artifacts.buildOnce]] and always registered from the
    * committed directory; the table name IS the artifact directory
    * name, so different SF dirs coexist in one warehouse and a new
    * source fingerprint never reuses a stale catalog entry. A fresh
    * JVM, whose in-memory catalog forgot the tables, re-registers the
    * existing files with the same bucket spec instead of rewriting
    * them (bucket ids live in the file names Spark wrote). */
  def bucketedOrdersWithCustomers(s: SparkSession, d: String,
      buckets: Int = 8): DataFrame = {
    def ensure(name: String, df: DataFrame, idCol: String,
        bucketCol: String): String = {
      val bucketSpec = s"CLUSTERED BY ($bucketCol) SORTED BY " +
        s"($bucketCol) INTO $buckets BUCKETS"
      val path = Artifacts.buildOnce(name, s"$bucketSpec|v1", d, df,
          idCol) { dir =>
        // bucketBy writes only through saveAsTable: stage under a
        // throwaway external table, whose DROP keeps the files
        val tmp = "graft_stage_" + java.util.UUID.randomUUID.toString
          .replace("-", "")
        try df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .option("path", dir.toString).saveAsTable(tmp)
        finally s.sql(s"DROP TABLE IF EXISTS $tmp")
      }
      val tbl = path.getFileName.toString
      s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl (${df.schema.toDDL})
                USING PARQUET $bucketSpec LOCATION '$path'""")
      tbl
    }

    val orders = ensure("graft_orders_b", Tables.orders(s, d),
      "o_orderkey", "o_custkey")
    val customer = ensure("graft_customer_b", Tables.customer(s, d),
      "c_custkey", "c_custkey")
    s.table(orders).join(s.table(customer),
      col("o_custkey") === col("c_custkey"))
  }

  // ---- zone maps: min/max file skipping on a NON-partition column ----

  /** Events range-clustered by `user_id` into `files` parquet files,
    * with a persisted per-file (min, max) zone map — the data-skipping
    * discipline for columns partitioning can't cover (partitioning by a
    * high-cardinality key would explode the directory tree; clustering
    * + zone maps give the same skipping at file granularity, which is
    * exactly what sorting by [[graft.functions.ZOrder.zorderKey]] buys
    * for multi-column predicates). `repartitionByRange` + an in-file
    * sort make each file's [min, max] tight and disjoint, so a
    * user-range query touches ~range/width files instead of all of
    * them. Built once through [[Artifacts.buildOnce]]. */
  def clusteredEventsDir(s: SparkSession, d: String,
      files: Int = 16): String = {
    val dir = Artifacts.buildOnce("events_by_user", s"files=$files|v1", d,
        Tables.events(s, d), "event_id") { dir =>
      Tables.events(s, d)
        .repartitionByRange(files, col("user_id"))
        .sortWithinPartitions("user_id")
        .write.parquet(dir.resolve("data").toString)
      // the zone map itself: one tiny stats table, computed once at
      // write time (a production table format keeps these in manifest
      // metadata; parquet footers hold the same stats per file)
      s.read.parquet(dir.resolve("data").toString)
        .groupBy(dataFileName.as("file"))
        .agg(min("user_id").as("mn"), max("user_id").as("mx"))
        .coalesce(1)
        .write.parquet(dir.resolve("zonemap").toString)
    }
    dir.toString
  }

  /** Surviving-file-list cap for the sidecar-pruned scans (round-13
    * verdict #5): the skip decision is driver-side scan planning by
    * nature (the same place Spark's own InMemoryFileIndex holds every
    * listed path), but the COLLECTED list must stay bounded — at
    * 100 TB a selective probe returns a handful of paths, while a
    * non-selective one could materialize millions. Beyond the cap the
    * prune is not planning any more, it is a full scan wearing a file
    * list: raise loudly and point at the two correct moves (run the
    * unpruned scan, or move skipping into a table-format manifest,
    * which is what Iceberg/Delta do for exactly this reason). */
  private[graft] val maxPlannedFiles: Int = 100000

  /** A sidecar row's file, relative to the artifact's `data` dir: the
    * build runs in a staging dir that the commit renames, so absolute
    * paths written at build time would not resolve afterwards. */
  private def dataFileName = substring_index(input_file_name(), "/", -1)

  /** The scan of `keep` (file names relative to `dataDir`). */
  private[graft] def plannedScan(s: SparkSession, dataDir: String,
      keep: Array[String], what: String): DataFrame = {
    if (keep.length > maxPlannedFiles)
      throw new IllegalStateException(
        s"Layout.$what: sidecar prune kept ${keep.length} files " +
          s"(cap $maxPlannedFiles) — the probe is not selective " +
          "enough for file skipping to be planning; run the plain " +
          "scan with the residual filter, or keep file skipping in " +
          "a table-format manifest at this file count")
    if (keep.isEmpty) s.read.parquet(dataDir).filter(lit(false))
    else s.read.parquet(keep.map(f => s"$dataDir/$f").toIndexedSeq: _*)
  }

  /** Events with `user_id` in [lo, hi], read ONLY from files whose zone
    * intersects the range: the zone map (≤ `files` rows) plans the scan
    * — a driver-side file-list decision, which is where scan planning
    * lives by nature, bounded by [[maxPlannedFiles]] — and the residual
    * filter keeps exactness within the boundary files. */
  def zoneMapPrunedEvents(s: SparkSession, d: String, lo: Long,
      hi: Long): DataFrame = {
    val dir = clusteredEventsDir(s, d)
    val keep = s.read.parquet(s"$dir/zonemap")
      .filter(col("mn") <= hi && col("mx") >= lo)
      .select("file").collect().map(_.getString(0))
    plannedScan(s, s"$dir/data", keep, "zoneMapPrunedEvents")
      .filter(col("user_id").between(lo, hi))
  }

  // Bloom sidecar sizing — shared between build and probe (a mismatch
  // would silently probe the wrong bit positions)
  private val bloomBits = 1 << 17
  private val bloomK = 3

  /** Events re-laid-out for BLOOM skipping on `event_id` — the
    * point-lookup complement to [[clusteredEventsDir]]'s zone maps:
    * zone maps need the column clustered/sorted, a Bloom sidecar
    * skips files for high-cardinality point probes on data in ANY
    * order (here: hash-distributed, the worst case for zones). One
    * ~16 KB filter per file, built once at write time (Iceberg/Delta
    * keep the same thing in manifest metadata; parquet footers carry
    * optional bloom filters per column chunk). */
  def bloomIndexedEventsDir(s: SparkSession, d: String,
      files: Int = 16): String = {
    graft.functions.GraftFunctions.register(s)
    val dir = Artifacts.buildOnce("events_bloomidx",
        s"files=$files|bits=$bloomBits|k=$bloomK|v1", d,
        Tables.events(s, d), "event_id") { dir =>
      Tables.events(s, d)
        .repartition(files, col("event_id"))
        .write.parquet(dir.resolve("data").toString)
      s.read.parquet(dir.resolve("data").toString)
        .groupBy(dataFileName.as("file"))
        .agg(graft.functions.GraftFunctions
          .bloomAgg(col("event_id"), bloomBits, bloomK).as("bf"))
        .coalesce(1)
        .write.parquet(dir.resolve("bloom").toString)
    }
    dir.toString
  }

  /** Events whose `event_id` is in `ids`, read ONLY from files whose
    * Bloom filter may contain at least one probe id (driver-side scan
    * planning over the ≤ `files`-row sidecar, the zone-map
    * discipline). False positives cost an extra file read, never a
    * wrong row — the residual `isin` keeps exactness. */
  def bloomPrunedEvents(s: SparkSession, d: String,
      ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "bloomPrunedEvents needs at least one probe id")
    val dir = bloomIndexedEventsDir(s, d)
    val mayContain = ids.map(id => graft.functions.GraftFunctions
        .bloomContains(col("bf"), lit(id), bloomBits, bloomK))
      .reduce(_ || _)
    val keep = s.read.parquet(s"$dir/bloom")
      .filter(mayContain).select("file").collect().map(_.getString(0))
    plannedScan(s, s"$dir/data", keep, "bloomPrunedEvents")
      .filter(col("event_id").isin(ids: _*))
  }
}
