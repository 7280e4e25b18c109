package graft.sources

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan-shape oracles for the two storage-layout disciplines: a date
  * filter on the partitioned layout must prune at the scan, and the
  * bucketed join must plan without a shuffle on either input. */
class LayoutSpec extends SparkSpec {

  test("date filter reaches the partitioned scan as a PartitionFilter") {
    val pruned = Layout.partitionedEvents(spark, sf)
      .filter(col("event_date").between("2024-01-10", "2024-01-16"))
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a file scan")
    assert(scans.forall(_.partitionFilters.exists(
        _.references.exists(_.name == "event_date"))),
      s"date filter not pushed to partition pruning:\n" +
        scans.map(_.partitionFilters).mkString("\n"))
    // and pruning must not change the answer
    val expected = Tables.events(spark, sf)
      .filter(to_date(col("ts")).between("2024-01-10", "2024-01-16"))
      .count()
    assert(pruned.count() == expected)
  }

  test("bucketed join plans with zero shuffles below the join") {
    // broadcast + AQE off: force the sort-merge path and make the static
    // plan final — the co-location claim is about the SMJ form (the
    // broadcast fallback never shuffles anyway)
    val priorBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = Layout.bucketedOrdersWithCustomers(spark, sf)
      val plan = joined.queryExecution.executedPlan
      assert(plan.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        s"expected a sort-merge join:\n$plan")
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"bucketed join must not shuffle, found:\n$shuffles")
      val expected = Tables.orders(spark, sf).join(
          Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey"))
        .count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
    }
  }

  test("bucketed artifact is reused, not rewritten, within a session") {
    Layout.bucketedOrdersWithCustomers(spark, sf).count()
    val before = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_orders_b_")).count()
    Layout.bucketedOrdersWithCustomers(spark, sf).count()
    val after = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_orders_b_")).count()
    assert(before == after, "second call must reuse the catalog tables")
  }

  test("a fresh catalog re-registers existing files without rewriting") {
    val expected = Layout.bucketedOrdersWithCustomers(spark, sf).count()
    val tbls = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_orders_b_")
        || n.startsWith("graft_customer_b_"))
    assert(tbls.size == 2)
    val locations = tbls.map(t => new java.io.File(spark.sessionState
      .catalog.getTableMetadata(TableIdentifier(t)).location))
    def mtimes = locations.map(_.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).sortBy(_._1).toSeq).toSeq
    val before = mtimes
    // simulate a fresh JVM: the in-memory catalog forgets the tables,
    // the committed artifact files survive
    tbls.foreach(t => spark.sql(s"DROP TABLE $t"))
    val priorBroadcast =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = Layout.bucketedOrdersWithCustomers(spark, sf)
      assert(mtimes == before, "registration must not rewrite the files")
      // the registered table must keep the bucket spec: still no shuffle
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"re-registered bucketed join must not shuffle:\n$shuffles")
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
    }
  }

  test("a regenerated source rebuilds the layout even within one JVM") {
    // private working copy of the source tables so the rewrite below
    // can't corrupt other suites' view of the shared testdata
    val tmp = java.nio.file.Files.createTempDirectory("graft_stale").toString
    for (t <- Seq("orders", "customer", "lineitem", "events"))
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    val full = Layout.bucketedOrdersWithCustomers(spark, tmp).count()

    // regenerate the source with HALF the orders: same path, new content
    val half = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderkey") % 2 === 0)
    val halfRows = half.count()
    val stage = java.nio.file.Files.createTempDirectory("graft_half").toString
    half.write.mode("overwrite").parquet(stage)
    // rm+rename rather than write.mode(overwrite) on the live path: Spark
    // would read-then-clobber its own input
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rmrf); p.delete(); ()
    }
    rmrf(new java.io.File(s"$tmp/orders.parquet"))
    assert(new java.io.File(stage).renameTo(
      new java.io.File(s"$tmp/orders.parquet")))

    val rebuilt = Layout.bucketedOrdersWithCustomers(spark, tmp).count()
    assert(rebuilt < full,
      s"stale bucketed layout served after source regeneration: " +
        s"$rebuilt rows vs full $full")
    assert(rebuilt == Tables.orders(spark, tmp).join(
        Tables.customer(spark, tmp),
        col("o_custkey") === col("c_custkey")).count(),
      "rebuilt layout must reflect the regenerated source")
    assert(halfRows < full, "fixture sanity: the regeneration shrank orders")
  }
}
