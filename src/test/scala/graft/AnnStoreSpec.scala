package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Engine-plane ANN incremental maintenance: [[graft.engine.AnnStore
  * .append]] assigns new vectors to the EXISTING cells (no retrain —
  * q_ann_ivf_incremental's contract) and the served top-k is
  * bit-equal to a fresh build over the union fixture. The fixture
  * split keeps all 8 IVF seed vectors (lowest vec_id % 59 == 0 rows,
  * ids 0..413) in the old half, so the union build derives the SAME
  * quantizer the incremental index already persisted — making exact
  * parity the correct expectation, not an approximation.
  */
class AnnStoreSpec extends AnyFunSuite {

  test("build + append serves the same top-k as a fresh build over " +
    "the union; drift counters track the appended batch") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val oldDir = Files.createTempDirectory("ann-old").toFile
    val newDir = Files.createTempDirectory("ann-new").toFile
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.filter(col("vec_id") < 450).write
      .parquet(new java.io.File(oldDir, "embeddings.parquet").getPath)
    emb.filter(col("vec_id") >= 450).write
      .parquet(new java.io.File(newDir, "embeddings.parquet").getPath)
    val newCount = emb.filter(col("vec_id") >= 450).count()
    assert(newCount > 0, "fixture must have an appendable half")

    val inc = new graft.engine.AnnStore(spark, new graft.tier.ParquetTier(
      Files.createTempDirectory("ann-tier-inc").toFile))
    val full = new graft.engine.AnnStore(spark, new graft.tier.ParquetTier(
      Files.createTempDirectory("ann-tier-full").toFile))
    val nOld = inc.build("inc", oldDir.getPath)
    val nFull = full.build("full", sfDir)
    val (app, out) = inc.append("inc", newDir.getPath).get
    assert(app == newCount, "every new vector must be appended")
    assert(nOld + app == nFull, "incremental index must cover the union")

    val (dApp, dOut, ratio) = inc.drift("inc").get
    assert(dApp == app && dOut == out)
    assert(ratio >= 0.0 && ratio <= 1.0)

    // served parity on the 5 fixture query vectors: appended cells
    // rank identically to fresh-built ones, bit for bit
    val qvecs = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    assert(qvecs.nonEmpty)
    qvecs.foreach { case (qid, v) =>
      val a = inc.query("inc", v, 10, 3).get
      val b = full.query("full", v, 10, 3).get
      assert(a == b, s"q$qid: incremental served $a, fresh build $b")
    }

    // a fresh index has zero drift; unknown index → None
    assert(full.drift("full").contains((0L, 0L, 0.0)))
    assert(inc.append("nosuch", newDir.getPath).isEmpty)
    assert(inc.drift("nosuch").isEmpty)
  }

  test("filtered search ranks WITHIN the label subset (filter-then-" +
    "rank), verified against an independent brute-force oracle") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val store = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(
        Files.createTempDirectory("ann-tier-flt").toFile))
    store.build("flt", sfDir)
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.get(2).toString.toLong))
    val q = rows.find(_._1 == 0L).get._2
    val labels = Seq(1L, 2L)
    // nprobe=8 probes every cell, so filter-then-rank over the whole
    // corpus is the exact expectation, not an approximation
    val served = store.query("flt", q, 5, 8, Some(labels)).get
    // independent oracle: same left-to-right fold as graft_dot
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val qn = math.sqrt(dot(q, q))
    val expect = rows.filter(r => labels.contains(r._3))
      .map { case (id, v, _) =>
        (id, dot(q, v) / (qn * math.sqrt(dot(v, v)))) }
      .sortBy { case (id, cos) => (-cos, id) }.take(5)
    assert(served.map(_._1) == expect.map(_._1).toSeq,
      s"served ${served.map(_._1)} != brute ${expect.map(_._1).toSeq}")
    served.zip(expect).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9) }
    // a filtered top-k is NOT a post-filtered generic top-k: the
    // unfiltered top-5 must differ (else the case proves nothing)
    val unfiltered = store.query("flt", q, 5, 8).get
    assert(unfiltered.map(_._1) != served.map(_._1))
    // bounds: empty label list refused
    intercept[IllegalArgumentException](
      store.query("flt", q, 5, 8, Some(Nil)))
  }

  test("append counts cells missing from stats.json as fully outside " +
    "and adds their rows (the most-drifted vectors must not vanish " +
    "from the alarm)") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val oldDir = Files.createTempDirectory("ann-gap-old").toFile
    val newDir = Files.createTempDirectory("ann-gap-new").toFile
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.filter(col("vec_id") < 450).write
      .parquet(new java.io.File(oldDir, "embeddings.parquet").getPath)
    emb.filter(col("vec_id") >= 450).write
      .parquet(new java.io.File(newDir, "embeddings.parquet").getPath)

    def stats(dir: java.io.File, name: String) = {
      val root0 = new java.io.File(new java.io.File(dir, "_ann"), name)
      val cur = new java.io.File(root0, "CURRENT")
      val vdir =
        if (cur.isFile) new java.io.File(root0,
          new String(java.nio.file.Files.readAllBytes(cur.toPath),
            "UTF-8").trim)
        else root0
      val f = new java.io.File(vdir, "stats.json")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
      (f, (0 until root.size()).map(i => root.get(i)))
    }

    // reference twin: unmodified stats — learn which cells the batch
    // actually lands in
    val refTier = Files.createTempDirectory("ann-gap-reftier").toFile
    val ref = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(refTier))
    ref.build("ref", oldDir.getPath)
    ref.append("ref", newDir.getPath)
    val (_, refRows) = stats(refTier, "ref")
    val hitCell = refRows.find(_.get("appended").asLong() > 0)
      .map(_.get("cell").asInt())
      .getOrElse(fail("fixture batch must land in at least one cell"))
    val hitAppended = refRows.find(_.get("cell").asInt() == hitCell)
      .get.get("appended").asLong()

    // gap twin: delete hitCell's stats row post-build (the build-time
    // empty-cell shape), then append the same batch
    val gapTier = Files.createTempDirectory("ann-gap-tier").toFile
    val gap = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(gapTier))
    gap.build("gap", oldDir.getPath)
    val (gf, gRows) = stats(gapTier, "gap")
    val kept = gRows.filter(_.get("cell").asInt() != hitCell)
    assert(kept.size == gRows.size - 1)
    java.nio.file.Files.write(gf.toPath,
      kept.mkString("[", ",", "]").getBytes("UTF-8"))
    gap.append("gap", newDir.getPath)
    val (_, gAfter) = stats(gapTier, "gap")
    val row = gAfter.find(_.get("cell").asInt() == hitCell)
      .getOrElse(fail(s"cell $hitCell must re-enter stats on append"))
    assert(row.get("radius2").asDouble() == -1.0,
      "a stats-gap cell has no build-time radius: marked -1")
    assert(row.get("appended").asLong() == hitAppended,
      "the gap cell's appended count must ride in the stats")
    assert(row.get("outside").asLong() == hitAppended,
      "with no old radius, every appended vector counts as outside")
    // the drift alarm sees MORE drift than the intact twin, never less
    val (refApp, refOut, _) = ref.drift("ref").get
    val (gApp, gOut, _) = gap.drift("gap").get
    assert(gApp == refApp,
      "the gap twin appended the same batch: totals must agree")
    assert(gOut >= refOut,
      "under-reporting exactly the most-drifted cells was the bug")
  }

  test("auto-rebuild: appends past rebuildThreshold retrain from the " +
    "index's own cells; drift resets and served top-k equals a fresh " +
    "build over the union") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val oldDir = Files.createTempDirectory("ann-rb-old").toFile
    val newDir = Files.createTempDirectory("ann-rb-new").toFile
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.filter(col("vec_id") < 450).write
      .parquet(new java.io.File(oldDir, "embeddings.parquet").getPath)
    emb.filter(col("vec_id") >= 450).write
      .parquet(new java.io.File(newDir, "embeddings.parquet").getPath)

    // threshold -1: ANY append drifts past it — deterministic trigger
    val autoTier = Files.createTempDirectory("ann-rb-tier").toFile
    val auto = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(autoTier),
      rebuildThreshold = Some(-1.0))
    auto.build("auto", oldDir.getPath)
    auto.append("auto", newDir.getPath)
    // the append crossed the threshold: the rebuild already ran and
    // RESET the drift counters (a rebuild is the alarm's resolution)
    assert(auto.drift("auto").contains((0L, 0L, 0.0)),
      "auto-rebuild must reset the drift counters")
    // retrained over the union == a fresh build over the whole
    // fixture (the union IS the fixture; seeds re-derive identically)
    val full = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(
        Files.createTempDirectory("ann-rb-fulltier").toFile))
    full.build("full", sfDir)
    val qvecs = emb.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    qvecs.foreach { case (qid, v) =>
      assert(auto.query("auto", v, 10, 3).get ==
        full.query("full", v, 10, 3).get,
        s"q$qid: rebuilt index must serve the fresh-build top-k")
    }
    // filtered search still works post-rebuild (label column rode
    // through the cells round-trip)
    assert(auto.query("auto", qvecs.head._2, 5, 8, Some(Seq(1L, 2L)))
      .get.nonEmpty)
    // the temp rebuild source was cleaned up
    val leftovers = Option(new java.io.File(new java.io.File(
      autoTier, "_ann"), "auto").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_rebuild_src"))
    assert(leftovers.isEmpty,
      s"rebuild must remove its temp source: ${leftovers.toSeq}")
  }

  test("(re)builds are index-atomic: a FAILED build over an existing " +
    "index leaves the old version serving and every appended vector " +
    "intact (the pre-version layout destroyed cells.parquet in place)") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val tierDir = Files.createTempDirectory("ann-atomic-tier").toFile
    val store = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(tierDir))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val oldDir = Files.createTempDirectory("ann-atomic-old").toFile
    val newDir = Files.createTempDirectory("ann-atomic-new").toFile
    emb.filter(col("vec_id") < 450).write
      .parquet(new java.io.File(oldDir, "embeddings.parquet").getPath)
    emb.filter(col("vec_id") >= 450).write
      .parquet(new java.io.File(newDir, "embeddings.parquet").getPath)
    store.build("ix", oldDir.getPath)
    store.append("ix", newDir.getPath)
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val before = store.query("ix", q, 10, 8).get
    assert(before.nonEmpty)
    // a build from an empty/bogus source FAILS after the version dir
    // was staged — the commit point (CURRENT flip) is never reached
    val bogus = Files.createTempDirectory("ann-atomic-bogus").toFile
    intercept[Exception] { store.build("ix", bogus.getPath) }
    assert(store.query("ix", q, 10, 8).get == before,
      "a failed rebuild must leave the old version serving, " +
        "appended vectors included")
    // ...and a SUCCESSFUL rebuild flips atomically and still serves
    // all 500 vectors (original + appended round-trip the retrain)
    store.rebuild("ix")
    assert(store.query("ix", q, 10, 8).get.nonEmpty)
    assert(store.drift("ix").contains((0L, 0L, 0.0)))
  }

  test("legacy (pre-version) index layouts stay readable, and the " +
    "first rebuild migrates them to the versioned layout") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val tierDir = Files.createTempDirectory("ann-legacy-tier").toFile
    val store = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(tierDir))
    store.build("mig", sfDir)
    // reconstruct the legacy layout by hand: artifacts at the index
    // root, no CURRENT pointer
    val root0 = new java.io.File(new java.io.File(tierDir, "_ann"),
      "mig")
    val cur = new java.io.File(root0, "CURRENT")
    val ver = new String(
      java.nio.file.Files.readAllBytes(cur.toPath), "UTF-8").trim
    val vdir = new java.io.File(root0, ver)
    Seq("centroids.json", "stats.json").foreach { n =>
      java.nio.file.Files.move(new java.io.File(vdir, n).toPath,
        new java.io.File(root0, n).toPath)
    }
    java.nio.file.Files.move(
      new java.io.File(vdir, "cells.parquet").toPath,
      new java.io.File(root0, "cells.parquet").toPath)
    assert(cur.delete()); assert(vdir.delete())
    // a fresh store (no cache) reads the legacy layout
    val store2 = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(tierDir))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val legacyServed = store2.query("mig", q, 10, 8).get
    assert(legacyServed.nonEmpty)
    // rebuild migrates: CURRENT appears, root artifacts are GC'd,
    // served results unchanged (same corpus, same quantizer math)
    store2.rebuild("mig")
    assert(cur.isFile, "rebuild must flip to the versioned layout")
    assert(!new java.io.File(root0, "cells.parquet").exists(),
      "legacy root artifacts must be GC'd after the flip")
    assert(store2.query("mig", q, 10, 8).get == legacyServed)
  }

  test("warm serving path: the cells frame is cached per index — " +
    "repeat queries return identical results and skip re-planning " +
    "the parquet read; build/append invalidate the cache") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val tierDir = Files.createTempDirectory("ann-warm-tier").toFile
    val store = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(tierDir))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val oldDir = Files.createTempDirectory("ann-warm-old").toFile
    val newDir = Files.createTempDirectory("ann-warm-new").toFile
    emb.filter(col("vec_id") < 450).write
      .parquet(new java.io.File(oldDir, "embeddings.parquet").getPath)
    emb.filter(col("vec_id") >= 450).write
      .parquet(new java.io.File(newDir, "embeddings.parquet").getPath)
    store.build("warm", oldDir.getPath)
    val q = emb.filter(col("vec_id") === 1)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val cold = store.query("warm", q, 10, 8).get
    assert(store.query("warm", q, 10, 8).get == cold,
      "the cached-cells path must serve identical results")
    // append invalidates: the appended vectors become visible (the
    // cached pre-append file listing must not be served stale)
    store.append("warm", newDir.getPath)
    val after = store.query("warm", q, 450, 8).get
    assert(after.exists(_._1 >= 450L),
      s"appended vec_ids must be servable post-append")
  }

  test("GC retains the version a rebuild replaced (in-flight readers) " +
    "and reclaims it on the NEXT rebuild") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val tierDir = Files.createTempDirectory("ann-gc-tier").toFile
    // grace 0: age never blocks, so this exercises the pure
    // flip-count retention (new + replaced)
    val store = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(tierDir), versionGraceMs = 0L)
    store.build("gcix", sfDir)
    val root0 = new java.io.File(new java.io.File(tierDir, "_ann"),
      "gcix")
    def versions() = Option(root0.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v_\\d+"))
      .map(_.getName).sorted.toSeq
    val v1 = versions()
    assert(v1.size == 1)
    store.rebuild("gcix")
    val v2 = versions()
    assert(v2.size == 2 && v2.contains(v1.head),
      s"the replaced version must survive one flip: $v2")
    store.rebuild("gcix")
    val v3 = versions()
    assert(v3.size == 2 && !v3.contains(v1.head),
      s"two flips later the oldest version is reclaimed: $v3")
  }

  test("version GC is age-gated: rebuilds in quick succession retain " +
    "every version inside the grace window (slow in-flight readers)") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val tierDir = Files.createTempDirectory("ann-grace-tier").toFile
    // default-grade grace: nothing this test creates is old enough
    // to reclaim, so back-to-back rebuilds must keep all versions —
    // the 'two quick flips delete a version a slow query is mid-scan
    // on' failure mode cannot occur
    val store = new graft.engine.AnnStore(spark,
      new graft.tier.ParquetTier(tierDir),
      versionGraceMs = 10L * 60 * 1000)
    store.build("graceix", sfDir)
    val root0 = new java.io.File(new java.io.File(tierDir, "_ann"),
      "graceix")
    def versions() = Option(root0.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v_\\d+"))
      .map(_.getName).sorted.toSeq
    store.rebuild("graceix")
    store.rebuild("graceix")
    assert(versions().size == 3,
      s"all young versions must survive quick flips: ${versions()}")
    // and the store still serves correctly off the newest version
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    assert(store.query("graceix", q, 3, 8).get.nonEmpty)
  }

  test("driver-side serving cache: top-k is BIT-IDENTICAL to the " +
    "Spark scan path (with and without label filters), cells load " +
    "once, and the vector bound forces the scan path") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val tierDir = Files.createTempDirectory("ann-cache-tier").toFile
    val tier = new graft.tier.ParquetTier(tierDir)
    val warm = new graft.engine.AnnStore(spark, tier)
    val cold = new graft.engine.AnnStore(spark, tier,
      maxCachedVectors = 0) // scan path only, same persisted index
    warm.build("par", sfDir)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qvecs = emb.filter(col("vec_id") < 20)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    qvecs.foreach { case (qid, v) =>
      assert(warm.query("par", v, 10, 3).get ==
        cold.query("par", v, 10, 3).get,
        s"q$qid unfiltered parity")
      assert(warm.query("par", v, 10, 3).get ==
        warm.query("par", v, 10, 3).get, s"q$qid deterministic")
      assert(warm.query("par", v, 7, 8, Some(Seq(0L, 3L))).get ==
        cold.query("par", v, 7, 8, Some(Seq(0L, 3L))).get,
        s"q$qid filtered parity")
    }
    // a tight bound (fewer vectors than one cell) keeps the scan
    // path serving correctly
    val bounded = new graft.engine.AnnStore(spark, tier,
      maxCachedVectors = 1)
    qvecs.take(3).foreach { case (qid, v) =>
      assert(bounded.query("par", v, 10, 3).get ==
        cold.query("par", v, 10, 3).get, s"q$qid bounded parity")
    }
  }

  test("prewarm: a restarted store that prewarmed serves EVERY query " +
    "from the driver cache — zero Spark jobs on the serving path — " +
    "bit-identical to the scan path") {
    val spark = SparkFixture.spark
    val sfDir = "/root/testdata/sf0.001"
    val tierDir = Files.createTempDirectory("ann-prewarm-tier").toFile
    val tier = new graft.tier.ParquetTier(tierDir)
    val builder = new graft.engine.AnnStore(spark, tier)
    builder.build("pw", sfDir)
    val cold = new graft.engine.AnnStore(spark, tier,
      maxCachedVectors = 0)
    // "restart": a FRESH store instance over the persisted index
    val restarted = new graft.engine.AnnStore(spark, tier)
    assert(!restarted.prewarm("nope", 1000),
      "prewarm of an unknown index reports false")
    assert(restarted.prewarm("pw", 60000),
      "prewarm must complete within the wait")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qvecs = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // count Spark jobs during post-prewarm serving: the whole
    // 500-vector fixture index fits the default bound, so every
    // probed cell is already cached and NO job may start
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val results = qvecs.map { case (qid, v) =>
        qid -> restarted.query("pw", v, 10, 8).get
      }
      // listener events post asynchronously — drain the bus before
      // counting
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"post-prewarm serving ran ${jobs.get()} Spark job(s) — the " +
          "cache was not filled")
      results.foreach { case (qid, r) =>
        assert(r == cold.query("pw", qvecs.find(_._1 == qid).get._2,
          10, 8).get, s"q$qid prewarmed parity")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
