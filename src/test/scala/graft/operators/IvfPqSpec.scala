package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Oracles for the composed IVF-PQ index: recall against exact L2 and
  * the no-vectors-on-the-search-path plan property. */
class IvfPqSpec extends SparkSpec {

  private lazy val emb = graft.sources.Tables.embeddings(spark, sf)
  private lazy val probes = emb.filter(col("vec_id") < 10)
  private lazy val index = IvfPq.build(emb)

  private def topkSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("recall@10 vs exact L2 beats random with nprobe=4") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("l2").asc, col("cand_id"))
    val exact = topkSet(emb.select(col("vec_id").as("cand_id"),
        col("embedding").as("cvec"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("pvec"))), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        graft.functions.GraftFunctions.vecL2(col("pvec"), col("cvec")).as("l2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10))
    val approx = topkSet(IvfPq.search(index, probes, k = 10, nprobe = 4))
    val recall = exact.map { case (p, truth) =>
      (truth & approx.getOrElse(p, Set.empty)).size.toDouble / truth.size
    }.sum / exact.size
    // random 10-of-~100-per-4-lists would land ~0.1; demand far more —
    // and nprobe bounds the scanned fraction to ~4/20 of the corpus
    assert(recall >= 0.25, s"IVF-PQ recall@10 = $recall")
  }

  test("more probes => recall does not degrade") {
    def recallAt(nprobe: Int): Double = {
      val a = topkSet(IvfPq.search(index, probes, k = 10, nprobe = nprobe))
      val b = topkSet(AnnSearch.bruteForceTopK(emb, probes, 10))
      b.map { case (p, truth) =>
        (truth & a.getOrElse(p, Set.empty)).size.toDouble / truth.size
      }.sum / b.size
    }
    val r2 = recallAt(2); val r8 = recallAt(8)
    assert(r8 >= r2 - 0.05, s"recall regressed with more probes: $r2 -> $r8")
  }

  test("buildOrLoad: builds once, loads thereafter, artifact answers match") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val tmp = Files.createTempDirectory("ivfpq-cache").toString
    val i1 = IvfPq.buildOrLoad(emb, tmp, tag = "spec-corpus")
    val fromArtifact = topkSet(IvfPq.search(i1, probes, k = 10))
    // the artifact must answer identically to the in-memory build
    assert(fromArtifact == topkSet(IvfPq.search(index, probes, k = 10)),
      "persisted index diverges from in-memory build")
    def artifacts() = {
      val ls = Files.list(Paths.get(tmp))
      try ls.iterator().asScala.toList finally ls.close()
    }
    val Seq(dir) = artifacts()
    val t1 = Files.getLastModifiedTime(dir.resolve("codes"))
    val i2 = IvfPq.buildOrLoad(emb, tmp, tag = "spec-corpus")
    assert(topkSet(IvfPq.search(i2, probes, k = 10)) == fromArtifact)
    assert(artifacts() == Seq(dir) &&
      Files.getLastModifiedTime(dir.resolve("codes")) == t1,
      "second buildOrLoad must load, not rebuild")
    // a corpus whose id set changed invalidates the artifact => rebuild
    val shrunk = emb.filter(col("vec_id") =!= 0L)
    val i3 = IvfPq.buildOrLoad(shrunk, tmp, tag = "spec-corpus")
    assert(artifacts().size == 2, "stale fingerprint must trigger a rebuild")
    assert(i3.codes.count() == shrunk.count(),
      "the rebuilt index must cover the changed corpus")
  }

  test("append: frozen-index ingest finds new vectors immediately") {
    // append exact copies of 5 indexed vectors under new ids: same
    // centroid cell, same residual, same codes. The copy must surface in
    // its twin probe's top-k at the MINIMAL ADC in the result set: its
    // codes are the per-subspace argmin encoding of the probe's own
    // residual, so its ADC is sum_j min_c dtable[j][c] — no candidate
    // can score lower. (The probe's own row is excluded by the
    // probe_id =!= cand_id self-filter, so the twin stands in for it.)
    val copies = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val grown = IvfPq.append(index, copies)
    assert(grown.codes.count() == index.codes.count() + 5,
      "codes table must grow by exactly the batch")
    val res = IvfPq.search(grown, probes.filter(col("vec_id") < 5), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    (0L until 5L).foreach { p =>
      val mine = res.filter(_._1 == p)
      val twin = mine.find(_._2 == p + 100000L)
      assert(twin.isDefined, s"appended twin of $p missing from top-10")
      assert(twin.get._3 == mine.map(_._3).min,
        s"self-copy must score the minimal ADC for probe $p: " +
          s"${twin.get._3} vs min ${mine.map(_._3).min}")
    }
    // original index object is untouched (no in-place mutation)
    assert(index.codes.count() + 5 == grown.codes.count())
  }

  test("retract: a removed vector stops being findable; append then " +
      "retract restores the exact result sets") {
    val copies = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    val grown = IvfPq.append(index, copies)
    val back = IvfPq.retract(grown, copies.select("vec_id"))
    assert(back.codes.count() == index.codes.count(),
      "retract must remove exactly the appended rows")
    def res(ix: IvfPq.Index) =
      IvfPq.search(ix, probes, k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    assert(res(back) == res(index),
      "append-then-retract must restore the original search results")
    // retracting an ORIGINAL corpus vector removes it from results
    val victim = res(index).head._2
    val pruned = IvfPq.retract(index,
      emb.filter(col("vec_id") === victim).select("vec_id"))
    assert(!res(pruned).exists(_._2 == victim),
      s"retracted vector $victim still surfaced")
  }

  test("centroidDrift: same-distribution append stays near 1.0, a " +
      "planted shifted cluster fires the registered retrain trigger") {
    import spark.implicits._
    // same-distribution: the corpus itself against its own index —
    // every centroid's assigned mean sits on its build-time vector
    val calm = IvfPq.centroidDrift(index, emb)
      .agg(min("drift_cos")).collect().head.getDouble(0)
    assert(calm > 0.95, s"no-append drift should be calm, got $calm")
    // planted shift: append a tight alien cluster far outside the
    // corpus distribution — its host centroid's assigned mean swings
    // toward the aliens and drift_cos must fall below the 0.95 trigger
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val alien = (0 until 400).map { i =>
      (900000L + i, Array.tabulate(dim)(j =>
        if (j == 0) 100.0f else if (j == 1) (i % 7) * 0.01f else 0.0f))
    }.toDF("vec_id", "embedding")
    val grown = IvfPq.append(index, alien)
    val drift = IvfPq.centroidDrift(grown,
      emb.select("vec_id", "embedding").unionByName(alien))
      .agg(min("drift_cos").as("min"),
        (sum(col("drift_cos") * col("n_assigned")) /
          sum(col("n_assigned"))).as("wmean")).collect().head
    assert(drift.getDouble(0) < 0.95 && drift.getDouble(1) < 0.90,
      s"a 400-vector alien cluster must fire the registered trigger " +
        s"(weighted mean < 0.90): $drift")
    // ...and the calm corpus stays above it (the weighted-mean bound
    // separates shift from same-distribution appends)
    val calmW = IvfPq.centroidDrift(index, emb)
      .agg(sum(col("drift_cos") * col("n_assigned")) /
        sum(col("n_assigned"))).collect().head.getDouble(0)
    assert(calmW > 0.90, s"calm weighted drift $calmW")
  }

  test("search path shuffles no embedding columns") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val vecShuffles = IvfPq.search(index, probes, k = 10)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.output.exists(a => a.name.contains("vec") ||
                a.name == "embedding" || a.name == "centvec") =>
            e.output.map(_.name)
        }
      assert(vecShuffles.isEmpty,
        s"search must run on codes only: $vecShuffles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
