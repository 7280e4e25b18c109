package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The materialized-summary rewrite must (a) actually re-target the
  * rollup relation, (b) be value-invisible, and (c) refuse every
  * non-derivable shape. */
class SummaryRewriteSpec extends SparkSpec {

  private lazy val summaryDir = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-summary-spec").toString
    graft.sources.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"),
        min("l_shipdate").as("min_ship"), max("l_shipdate").as("max_ship"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def registered[A](f: => A): A = {
    SummaryRewrite.register(spark, graft.sources.Tables.lineitem(spark, sf),
      spark.read.parquet(summaryDir),
      groupCols = Seq("l_returnflag", "l_linestatus"), cnt = "cnt",
      sums = Map("l_quantity" -> "sum_qty"),
      mins = Map("l_shipdate" -> "min_ship"),
      maxs = Map("l_shipdate" -> "max_ship"))
    try f finally SummaryRewrite.clear()
  }

  private def base = graft.sources.Tables.lineitem(spark, sf)

  // NOTE: build the query INSIDE `registered` — a DataFrame caches its
  // queryExecution, so one constructed (or collected) pre-registration
  // keeps its unrewritten plan forever.
  private def q1() = base.groupBy("l_returnflag")
    .agg(count(lit(1)).as("n"), sum("l_quantity").as("sq"),
      max("l_shipdate").as("ls"))
    .orderBy("l_returnflag") // downstream op: exprIds must survive

  test("derivable aggregate re-targets the rollup and keeps values") {
    val want = q1().collect().toSeq // unrewritten
    registered {
      val q = q1()
      val got = q.collect().toSeq
      assert(got === want, "rewrite must be value-invisible")
      val scans = q.queryExecution.executedPlan.toString
      assert(scans.contains("graft-summary-spec"),
        s"plan must scan the rollup:\n${scans.take(1500)}")
      assert(!scans.contains("lineitem.parquet"),
        "base fact table must not be scanned")
    }
  }

  private def q2() = base.filter(col("l_returnflag") === "R")
    .groupBy("l_returnflag", "l_linestatus")
    .agg(sum("l_quantity").as("sq"))

  test("group-column filter rides the rewrite") {
    val want = q2().collect().toSeq
    registered {
      val q = q2()
      assert(q.collect().toSeq === want)
      assert(q.queryExecution.executedPlan.toString
        .contains("graft-summary-spec"))
    }
  }

  test("non-derivable shapes are left untouched") {
    registered {
      // avg is not derivable (v1): must scan the base
      val avgQ = base.groupBy("l_returnflag")
        .agg(avg("l_quantity").as("aq"))
      assert(avgQ.queryExecution.executedPlan.toString
        .contains("lineitem.parquet"), "avg must not rewrite")
      // filter on a NON-group column: must scan the base
      val fQ = base.filter(col("l_quantity") > 10)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(fQ.queryExecution.executedPlan.toString
        .contains("lineitem.parquet"), "non-group filter must not rewrite")
      // sum of an unregistered column: must scan the base
      val sQ = base.groupBy("l_returnflag")
        .agg(sum("l_extendedprice").as("sp"))
      assert(sQ.queryExecution.executedPlan.toString
        .contains("lineitem.parquet"), "unregistered sum must not rewrite")
      // distinct aggregate: must scan the base
      val dQ = base.groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("np"))
      assert(dQ.queryExecution.executedPlan.toString
        .contains("lineitem.parquet"), "distinct must not rewrite")
    }
  }

  test("global (no GROUP BY) aggregate refuses the rewrite") {
    registered {
      // a global COUNT(*) over an empty base returns one row of 0; the
      // rewritten SUM(cnt) over zero summary rows would return NULL —
      // so the rule must not fire without grouping
      val gQ = base.agg(count(lit(1)).as("n"))
      assert(gQ.queryExecution.executedPlan.toString
        .contains("lineitem.parquet"), "global agg must not rewrite")
      // and the empty-base semantics it protects: COUNT(*) = one 0 row
      val empty = base.filter(col("l_orderkey") < 0)
        .agg(count(lit(1)).as("n"))
      assert(empty.collect().map(_.getLong(0)).toSeq === Seq(0L))
    }
  }

  test("unregistered sessions/relations never rewrite") {
    // no registration active
    val q = base.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString
      .contains("lineitem.parquet"))
  }

  test("q_mv_rewrite follows a lineitem regenerated under the same path") {
    import java.nio.file.Files
    // private copy: the regeneration below must not touch the shared
    // testdata other suites read
    val tmp = Files.createTempDirectory("graft-mv-stale").toString
    val li = s"$tmp/lineitem.parquet"
    spark.read.parquet(s"$sf/lineitem.parquet").write.parquet(li)
    def gate() = graft.SparkEntry.queries("q_mv_rewrite")(spark, tmp)
      .collect().toSet
    // the gate's query on the raw copy, which no registration covers
    def direct() = graft.sources.Tables.lineitem(spark, tmp)
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
        min("l_shipdate").as("first_ship"),
        max("l_shipdate").as("last_ship"))
      .collect().toSet
    try {
      val full = gate()
      assert(full == direct())
      // regenerate lineitem with different rows under the same path
      // (rm + rename: an overwrite would read-then-clobber its input)
      val stage = Files.createTempDirectory("graft-mv-half").toString
      spark.read.parquet(li).filter(col("l_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(stage)
      def rmrf(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(rmrf); p.delete(); ()
      }
      rmrf(new java.io.File(li))
      assert(new java.io.File(stage).renameTo(new java.io.File(li)))
      val expected = direct()
      assert(expected != full, "fixture sanity: the answer changed")
      assert(gate() == expected,
        "q_mv_rewrite served the copy and rollup of the old lineitem")
    } finally SummaryRewrite.clear()
  }
}
