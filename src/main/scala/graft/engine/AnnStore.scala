package graft.engine

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tier.ParquetTier

/** Engine-plane IVF ANN serving — the similarity-search analog of
  * [[RollupStore]]'s maintained rollups: the repo trains and audits
  * IVF indexes (q_ann_ivf / q_ann_ivf_recall / q_ann_ivf_incremental),
  * and a real deployment SERVES them. `build` persists q_ann_ivf's
  * exact coarse quantizer — the 8 seed centroids plus the per-vector
  * (vec_id, embedding, nrm, cell) assignment — under the tier root
  * (`_ann/<name>/`), with the cells frame PARTITIONED BY CELL on
  * disk; `query` picks the nprobe nearest cells driver-side (8 L2
  * folds over the centroid JSON) and runs one partition-pruned scan +
  * exact-cosine top-k over just those cells — K/nprobe of the index
  * per query, no shuffle, no broadcast.
  *
  * Parity: the probe ranking, the cosine (graft_dot / norms), and the
  * (cos desc, vec_id) tie-break replicate q_ann_ivf bit-for-bit
  * (AnnSpec pins served top-k == the audited query's rows), so the
  * recall numbers q_ann_ivf_recall measures apply verbatim to what
  * this store serves.
  *
  * Index builds are an ENGINE-side API, deliberately not exposed over
  * HTTP: a build reads an arbitrary parquet path, and the HTTP plane
  * serves untrusted callers (the same reason the query endpoint sets
  * runSQLOnFiles=false). Serving validates the index name with the
  * rollup endpoint's identifier rule and bounds k/nprobe.
  *
  * 100 TB shape: centroids are O(K·dim) JSON (driver-trivial); cells
  * live as cell-partitioned parquet on shared storage, so a query
  * scans corpus/K × nprobe rows with partition pruning — the same
  * plan at any corpus size. Staleness: `build` is explicit (an index
  * is a trained artifact, not a live view — the q_ann_ivf_incremental
  * drift audit is the rebuild trigger), and rebuilds are atomic at
  * the parquet-overwrite level.
  */
final class AnnStore(spark: SparkSession, tier: ParquetTier,
    rebuildThreshold: Option[Double] = None,
    maxCachedVectors: Int = 200000,
    versionGraceMs: Long = 10L * 60 * 1000,
    placement: Option[(String, Seq[(String, String)])] = None) {

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*"

  private def indexDir(name: String): File =
    new File(new File(tier.rootPath, "_ann"), name)

  /** One probed cell's vectors pinned driver-side — the serving
    * tier's hot set. ~(dims·4 + 32) bytes per vector; the store-wide
    * total is bounded by `maxCachedVectors`.
    */
  private final case class CellVecs(ids: Array[Long],
      vecs: Array[Array[Float]], nrms: Array[Double],
      labels: Array[Long])

  private final case class Idx(cents: Seq[(Int, Array[Double])],
      cellsPath: String,
      cellsDf: org.apache.spark.sql.DataFrame,
      cellCache: scala.collection.concurrent.TrieMap[Int, CellVecs] =
        scala.collection.concurrent.TrieMap.empty,
      cachedVectors: java.util.concurrent.atomic.AtomicInteger =
        new java.util.concurrent.atomic.AtomicInteger,
      // cells refused caching (bound exceeded, or null-carrying rows
      // whose scan-path semantics the JVM math must not guess at):
      // the refusal is remembered so a full/ineligible cell costs ONE
      // probe collect per index version, not one per query forever
      uncacheable: java.util.Set[Integer] =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Integer](),
      prewarmStarted: java.util.concurrent.atomic.AtomicBoolean =
        new java.util.concurrent.atomic.AtomicBoolean(false),
      prewarmDone: java.util.concurrent.CountDownLatch =
        new java.util.concurrent.CountDownLatch(1))
  private val loadedIdx =
    scala.collection.concurrent.TrieMap.empty[String, Idx]
  // serializes build/append/rebuild: two concurrent builds of one
  // store could otherwise GC each other's staged version dirs
  // (reentrant, so append()'s auto-rebuild nests fine)
  private val mutate = new Object

  /** The version dir CURRENT points at; the index root itself for
    * legacy (pre-version) layouts. Reads are lock-free: CURRENT is
    * written via tmp + atomic move, so a reader sees the old or the
    * new version, never a torn pointer.
    */
  private def resolveDir(name: String): File = {
    val dir = indexDir(name)
    val cur = new File(dir, "CURRENT")
    if (cur.isFile)
      try {
        val ver = new String(
          java.nio.file.Files.readAllBytes(cur.toPath), UTF_8).trim
        val vd = new File(dir, ver)
        if (ver.matches("v_\\d+") && vd.isDirectory) vd else dir
      } catch { case _: java.io.IOException => dir }
    else dir
  }

  /** Train + persist the IVF index for the embeddings table under
    * `sourceDir` (fixture layout: `embeddings.parquet` with vec_id +
    * embedding array<float>). Returns the indexed row count.
    *
    * Alongside the cells, build persists per-cell stats.json —
    * (n, radius2 = max assignment distance) plus zeroed incremental
    * counters — the reference frame [[append]]'s drift alarm
    * measures against (q_ann_ivf_incremental's old_radius2). The
    * cells parquet keeps each row's assignment `dist` so stats are
    * recomputable from data; serving's column pruning never reads it.
    */
  def build(name: String, sourceDir: String): Long =
      mutate.synchronized {
    require(name.matches(Ident), "index name must be a bare identifier")
    // Sharded deployments route ANN QUERIES by rendezvous on
    // "ann:<name>" (ShardRouter), but builds are an engine-side API —
    // an index built on the wrong shard would 404 at serve time with
    // nothing ever flagging the misplacement. With a shard table
    // configured (LYNX_SHARDS + LYNX_SHARD_SELF), the build itself
    // asserts this engine IS the rendezvous owner of the name, so
    // misplacement is an error at creation, not a serving mystery.
    for ((self, shards) <- placement) {
      val owner = graft.http.ShardRouter
        .shardFor("ann:" + name, shards)._1
      require(owner == self,
        s"index '$name' routes to shard '$owner' under the " +
          s"configured shard table, but this engine is '$self' — " +
          "build it on its rendezvous owner (or through the router)")
    }
    val dir = indexDir(name)
    dir.mkdirs()
    // the version serving BEFORE this build survives GC below: an
    // in-flight query may hold its cached cells frame mid-scan, and
    // deleting it under the reader would 500 the serving endpoint on
    // every rebuild. Only OLDER versions (two flips back) are
    // reclaimed — by then any reader of them predates two rebuilds.
    val prevVer = {
      val cur = new File(dir, "CURRENT")
      if (cur.isFile)
        try new String(java.nio.file.Files.readAllBytes(cur.toPath),
          UTF_8).trim
        catch { case _: java.io.IOException => "" }
      else ""
    }
    // stage EVERYTHING into a fresh version dir; the CURRENT flip
    // below is the only commit point — any failure before it leaves
    // the previously-served version fully intact
    val ver = s"v_${System.nanoTime()}"
    val vdir = new File(dir, ver)
    vdir.mkdirs()
    val cents = graft.ops.Similarity.ivfCentroids(spark, sourceDir)
    require(cents.nonEmpty, s"no vectors to index under $sourceDir")
    val json = cents.map { case (cell, c) =>
      s"""{"cell":$cell,"cent":[${c.mkString(",")}]}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.write(
      new File(vdir, "centroids.json").toPath, json.getBytes(UTF_8))
    val cellsPath = new File(vdir, "cells.parquet").getPath
    // ivfAssignTo against the JUST-PERSISTED centroids (doubles
    // round-trip toString/parse exactly), so what lands on disk is
    // bit-equal to ivfCells' assignment — AnnSpec pins this via the
    // served-top-k == q_ann_ivf check
    graft.ops.Similarity.ivfAssignTo(spark, sourceDir, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(cellsPath)
    val statRows = spark.read.parquet(cellsPath)
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), max(col("dist")).as("radius2"))
      .collect()
      .map(r => CellStats(r.getInt(0), r.getLong(1), r.getDouble(2),
        0L, 0L))
    writeStats(vdir, statRows.sortBy(_.cell))
    // commit: tmp + atomic move, readers see old or new, never torn
    val tmp = new File(dir, ".CURRENT.tmp")
    java.nio.file.Files.write(tmp.toPath, ver.getBytes(UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new File(dir, "CURRENT").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    loadedIdx.remove(name)
    gcVersions(dir, keep = Set(ver, prevVer).filter(_.nonEmpty))
    statRows.map(_.n).sum
  }

  /** Best-effort GC after a successful flip: superseded version dirs
    * (except the retained `keep` set — the new version plus the one
    * it replaced, see build()) and legacy root-level artifacts.
    * Beyond the keep set, a superseded dir is deleted only once its
    * mtime is `versionGraceMs` old: two rebuilds in quick succession
    * must not delete a version a slow query's lazily-evaluated cells
    * frame is still mid-scan on — "the reader predates two flips" is
    * not time-bounded, but a reader older than the grace window is a
    * leak, not a query (the ParquetTier pin-age reasoning). Failures
    * only cost disk — the CURRENT pointer already moved.
    */
  private def gcVersions(dir: File, keep: Set[String]): Unit = {
    val cutoff = System.currentTimeMillis - versionGraceMs
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory && f.getName.matches("v_\\d+") &&
          !keep(f.getName) && f.lastModified() < cutoff)
        ParquetTier.deleteTree(f)
    }
    Seq("centroids.json", "stats.json").foreach { n =>
      val f = new File(dir, n)
      if (f.isFile) { f.delete(): Unit }
    }
    val legacyCells = new File(dir, "cells.parquet")
    if (legacyCells.isDirectory) ParquetTier.deleteTree(legacyCells)
  }

  /** Incremental maintenance — q_ann_ivf_incremental's no-retrain
    * assignment wired into the served index: assign `sourceDir`'s
    * vectors to the EXISTING cells (centroids untouched), append
    * them to the cell-partitioned parquet, and fold the batch into
    * the per-cell drift counters ([[drift]] / /metrics surface the
    * outside-old-radius fraction — the rebuild trigger). Returns
    * (appended, outsideOldRadius); None = unknown index.
    *
    * Scale shape: one broadcast-argmin scan of the new batch + one
    * ≤K-row broadcast join for the radius compare — the old CORPUS
    * is never read, only its per-cell summaries (the
    * q_ann_ivf_incremental contract). Dedup is the caller's: vec_ids
    * are opaque here. A crash between the parquet append and the
    * stats write undercounts the drift counters (alarm fires later,
    * never falsely) — rebuild() resets both.
    */
  def append(name: String, sourceDir: String): Option[(Long, Long)] =
      mutate.synchronized {
    require(name.matches(Ident), "index name must be a bare identifier")
    load(name).map { idx =>
      val dir = resolveDir(name)
      val stats = readStats(dir)
      require(stats.nonEmpty, s"index '$name' has no stats.json — " +
        "rebuild it before appending")
      val statsDf = spark.createDataFrame(
        stats.map(s => (s.cell, s.radius2))).toDF("cell", "r2")
      val asg = graft.ops.Similarity
        .ivfAssignTo(spark, sourceDir, idx.cents)
      // layout guard: appending label-carrying rows into a pre-label
      // index would leave the cells parquet with a schema that
      // depends on which file the reader samples — refuse with the
      // rebuild hint instead
      require(idx.cellsDf.columns.contains("label"),
        s"index '$name' was built without the label column — " +
          "rebuild it before appending")
      val perCell = asg
        .join(broadcast(statsDf), Seq("cell"), "left")
        .groupBy("cell")
        // a cell ABSENT from stats (empty at build — duplicate seed
        // vectors leave cells with no assignments) has no old radius:
        // coalesce its null r2 to -1 so every vector assigned there
        // counts as outside (dist >= 0 > -1) — under-counting exactly
        // the most-drifted vectors was the alarm's blind spot
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("dist") > coalesce(col("r2"), lit(-1.0)), 1L)
            .otherwise(0L)).as("outside"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      asg.write.mode("append").partitionBy("cell")
        .parquet(idx.cellsPath)
      // the cached cells frame captured the pre-append file listing —
      // reload on next touch so served reads include this batch
      loadedIdx.remove(name)
      val known = stats.map(_.cell).toSet
      val updated = stats.map { s =>
        val (n, out) = perCell.getOrElse(s.cell, (0L, 0L))
        s.copy(n = s.n + n, appended = s.appended + n,
          outside = s.outside + out)
      } ++ perCell.collect {
        // stats rows for batch-only cells, radius2 = -1 marking "no
        // build-time radius": their appended/outside counts must ride
        // in the drift totals, not silently drop
        case (cell, (n, out)) if !known.contains(cell) =>
          CellStats(cell, n, -1.0, n, out)
      }
      writeStats(dir, updated.sortBy(_.cell))
      val ret = (perCell.values.map(_._1).sum,
        perCell.values.map(_._2).sum)
      // the closed drift loop: past the configured outside-share
      // threshold the next append triggers an atomic retrain (name-
      // level atomicity is build()'s: centroids+cells+stats overwrite
      // under the same dir), so the served index is self-maintaining
      // instead of alarm-only
      for (th <- rebuildThreshold) {
        val app = updated.map(_.appended).sum
        val out = updated.map(_.outside).sum
        if (app > 0 && out.toDouble / app > th) {
          System.err.println(
            f"[annstore] drift ${out.toDouble / app}%.3f > $th%.3f " +
              s"for '$name': auto-rebuilding")
          // the batch is already durably appended (cells + stats):
          // a transient rebuild failure must not fail the append —
          // a caller's natural retry would re-append the same
          // vectors. The counters keep climbing on failure, so the
          // next append re-triggers the rebuild: self-healing.
          try rebuild(name)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"[annstore] auto-rebuild of '$name' failed " +
                s"(will retry on next append): $e")
          }
        }
      }
      ret
    }
  }

  /** Retrain the index from its OWN cells parquet (original corpus +
    * every appended batch): materialize (vec_id, embedding, label)
    * back into the fixture layout build() consumes, re-run the exact
    * build path — same seeding, same assignment, bit-for-bit the
    * q_ann_ivf quantizer — and drop the temp source. Resets the
    * drift counters (a rebuild IS the alarm's resolution). Returns
    * the indexed row count. CRASH-SAFE: build() stages into a new
    * version dir and flips CURRENT last, so a failure at any point
    * (including inside the auto-rebuild append() triggers) leaves
    * the old version serving and ALL appended vectors intact — the
    * temp source can therefore always be dropped, success or not.
    */
  def rebuild(name: String): Long = mutate.synchronized {
    require(name.matches(Ident), "index name must be a bare identifier")
    val idx = load(name).getOrElse(throw new IllegalArgumentException(
      s"unknown index '$name'"))
    // unique temp dir per rebuild: Tables.t caches DataFrames (and
    // their file listings) per path, so reusing one path across
    // rebuilds would re-read a stale listing
    val tmp = new File(indexDir(name),
      s"_rebuild_src_${System.nanoTime()}")
    try {
      spark.read.parquet(idx.cellsPath)
        .select("vec_id", "embedding", "label")
        .write.mode("overwrite")
        .parquet(new File(tmp, "embeddings.parquet").getPath)
      build(name, tmp.getPath)
    } finally ParquetTier.deleteTree(tmp)
  }

  /** (appended, outsideOldRadius, ratio) totals since the last
    * build — the drift alarm the /metrics plane surfaces; None =
    * unknown index or no stats.
    */
  def drift(name: String): Option[(Long, Long, Double)] =
    if (!name.matches(Ident)) None
    else {
      val stats = readStats(resolveDir(name))
      if (stats.isEmpty) None
      else {
        val app = stats.map(_.appended).sum
        val out = stats.map(_.outside).sum
        Some((app, out, if (app == 0) 0.0 else out.toDouble / app))
      }
    }

  /** Names of all persisted indexes (the /metrics enumeration). */
  def indexNames: Seq[String] = {
    val base = new File(tier.rootPath, "_ann")
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.matches(Ident))
      .map(_.getName).sorted.toSeq
  }

  private final case class CellStats(cell: Int, n: Long,
      radius2: Double, appended: Long, outside: Long)

  private def writeStats(dir: File, stats: Seq[CellStats]): Unit = {
    val json = stats.map(s =>
      s"""{"cell":${s.cell},"n":${s.n},"radius2":${s.radius2},""" +
        s""""appended":${s.appended},"outside":${s.outside}}""")
      .mkString("[", ",", "]")
    val tmp = new File(dir, ".stats.json.tmp")
    java.nio.file.Files.write(tmp.toPath, json.getBytes(UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new File(dir, "stats.json").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def readStats(dir: File): Seq[CellStats] = {
    val f = new File(dir, "stats.json")
    if (!f.isFile) Nil
    else try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(
        java.nio.file.Files.readAllBytes(f.toPath))
      (0 until root.size()).map { i =>
        val n = root.get(i)
        CellStats(n.get("cell").asInt(), n.get("n").asLong(),
          n.get("radius2").asDouble(), n.get("appended").asLong(),
          n.get("outside").asLong())
      }
    } catch { case _: Exception => Nil }
  }

  /** Ensure the index is loaded and its cell cache PREWARMED —
    * background-filled in descending cell occupancy up to the vector
    * bound. A freshly restarted serving node otherwise answers its
    * first touch of every probed cell at scan-path latency (one
    * Spark job per cell: measured p95 49 ms vs warm p50 0.2 ms), at
    * exactly the moment a deployment is most latency-sensitive
    * (post-deploy). Triggered automatically on [[load]] (so the
    * first query of any index version starts the fill); call
    * directly with `waitMs > 0` to BLOCK until the fill completes
    * (smoke harnesses, pre-serving warmup hooks). Returns false for
    * an unknown index. Cache contents are bit-identical to lazy
    * loads — prewarm only moves WHEN loadCell runs, never what it
    * produces (AnnStoreSpec parity pins cover both paths).
    */
  def prewarm(name: String, waitMs: Long = 0): Boolean =
    load(name).exists { idx =>
      if (waitMs <= 0) true
      else idx.prewarmDone.await(waitMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    }

  /** Start the background fill once per loaded index version. Cells
    * fill LARGEST FIRST (stats.json occupancy): under a bound that
    * cannot hold the whole index, the cache ends up holding the
    * cells that absorb the most probe volume, and the refused tail
    * negative-caches exactly as a lazy query-path load would.
    */
  private def startPrewarm(name: String, idx: Idx, dir: File): Unit =
    if (idx.prewarmStarted.compareAndSet(false, true)) {
      if (maxCachedVectors <= 0) idx.prewarmDone.countDown()
      else {
        val t = new Thread(() => {
          try {
            val hasLabels = idx.cellsDf.columns.contains("label")
            val stats = readStats(dir)
            val order =
              if (stats.nonEmpty) stats.sortBy(-_.n).map(_.cell)
              else idx.cents.map(_._1)
            val it = order.iterator
            while (it.hasNext &&
                idx.cachedVectors.get() < maxCachedVectors) {
              loadCell(idx, it.next(), hasLabels)
              ()
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[annstore] prewarm of '$name' aborted: $e")
          } finally idx.prewarmDone.countDown()
        }, s"ann-prewarm-$name")
        t.setDaemon(true)
        t.start()
      }
    }

  private def load(name: String): Option[Idx] =
    loadedIdx.get(name).orElse {
      val dir = resolveDir(name)
      val cj = new File(dir, "centroids.json")
      val cp = new File(dir, "cells.parquet")
      if (!cj.isFile || !cp.isDirectory) None
      else {
        // jackson rides on Spark's classpath; same parser as the HTTP
        // plane
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(
          java.nio.file.Files.readAllBytes(cj.toPath))
        val cents = (0 until root.size()).map { i =>
          val n = root.get(i)
          val arr = n.get("cent")
          n.get("cell").asInt() ->
            Array.tabulate(arr.size())(j => arr.get(j).asDouble())
        }
        // the cells frame is cached WITH the index: footer/schema
        // resolution and file listing happen once per (re)load, not
        // per query — the dominant cost of a small-k serving read is
        // otherwise plan overhead, not the scan (cells are immutable
        // between build/append, both of which invalidate this cache)
        val idx = Idx(cents, cp.getPath, spark.read.parquet(cp.getPath))
        // a racing loader's Idx may have won the insert — serve THE
        // winner; and a concurrent build() may REMOVE the entry
        // between insert and read, so never re-read the map (this
        // locally-built Idx still answers correctly for its version)
        val serving = loadedIdx.putIfAbsent(name, idx).getOrElse(idx)
        startPrewarm(name, serving, dir)
        Some(serving)
      }
    }

  /** Exact-cosine top-k within the nprobe nearest cells. None =
    * unknown index (HTTP 404); IllegalArgumentException = caller
    * error (HTTP 422). The probe L2 fold, the query norm, and the
    * (cos desc, vec_id) tie-break are q_ann_ivf's, bit-for-bit.
    *
    * `labels` = FILTERED vector search: rank only vectors whose
    * persisted label is in the set (filter-then-rank, so the full k
    * comes from the subset — not post-filtering a generic top-k,
    * which starves selective filters). Requires an index built with
    * the label column; older layouts are refused with a rebuild hint.
    */
  def query(name: String, q: Array[Float], k: Int,
      nprobe: Int, labels: Option[Seq[Long]] = None)
      : Option[Seq[(Long, Double)]] = {
    require(name.matches(Ident), "index name must be a bare identifier")
    require(k >= 1 && k <= 1000, "k must be in [1, 1000]")
    require(nprobe >= 1, "nprobe must be >= 1")
    require(q.nonEmpty && q.forall(f => !f.isNaN && !f.isInfinite),
      "query vector must be non-empty finite floats")
    require(labels.forall(l => l.nonEmpty && l.size <= 1000),
      "labels filter must list 1 to 1000 labels")
    load(name).map { idx =>
      val dim = idx.cents.head._2.length
      require(q.length == dim,
        s"query vector must have $dim dimensions, got ${q.length}")
      // same fold order as q_ann_ivf's squared-L2 + (dist, cell)
      // tie-break
      val probes = idx.cents.map { case (cell, c) =>
        var acc = 0.0
        var j = 0
        while (j < dim) {
          val d = q(j).toDouble - c(j); acc += d * d; j += 1
        }
        (acc, cell)
      }.sorted.take(math.min(nprobe, idx.cents.size)).map(_._2)
      var qn = 0.0
      q.foreach(f => qn += f.toDouble * f.toDouble)
      val qnrm = math.sqrt(qn)
      val hasLabels = idx.cellsDf.columns.contains("label")
      labels.foreach { _ =>
        require(hasLabels,
          s"index '$name' was built without the label column — " +
            "rebuild it to enable filtered search")
      }
      // SERVING FAST PATH: when every probed cell fits the driver-side
      // vector cache (bounded by maxCachedVectors), the top-k computes
      // in-JVM with the exact Spark-path math — graft_dot's strict
      // left-to-right double fold, the same cos division, the same
      // (cos desc, vec_id) total order (Double.compare = Spark's
      // NaN-greatest ordering) — so results are BIT-IDENTICAL to the
      // scan path (spec-pinned). A cell is loaded once per index
      // version (one Spark job), then repeat probes are sub-ms; any
      // cell the bound excludes falls the WHOLE query back to the
      // one-job scan path. build/append invalidate by replacing Idx.
      val cached: Option[Seq[CellVecs]] =
        if (maxCachedVectors <= 0) None
        else {
          val loaded = probes.map(c => loadCell(idx, c, hasLabels))
          if (loaded.forall(_.isDefined)) Some(loaded.map(_.get))
          else None
        }
      cached match {
        case Some(cvs) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Double)]
          val want = labels.map(_.toSet)
          cvs.foreach { cv =>
            var i = 0
            while (i < cv.ids.length) {
              if (want.forall(_.contains(cv.labels(i)))) {
                val v = cv.vecs(i)
                var acc = 0.0
                var j = 0
                while (j < dim) {
                  acc += v(j).toDouble * q(j).toDouble
                  j += 1
                }
                out += ((cv.ids(i), acc / (qnrm * cv.nrms(i))))
              }
              i += 1
            }
          }
          out.sortInPlace()(Ordering.fromLessThan[(Long, Double)] {
            (a, b) =>
              val c = java.lang.Double.compare(b._2, a._2) // cos desc
              if (c != 0) c < 0 else a._1 < b._1 // vec_id asc
          })
          out.take(k).toSeq
        case None =>
          graft.functions.GraftFunctions.register(spark)
          val cells = idx.cellsDf
            .filter(col("cell").isin(probes: _*))
          val filtered = labels match {
            case None => cells
            case Some(ls) => cells.filter(col("label").isin(ls: _*))
          }
          filtered
            .select(col("vec_id"),
              (graft.functions.GraftFunctions.dotp(typedLit(q),
                col("embedding")) / (lit(qnrm) * col("nrm"))).as("cos"))
            .orderBy(col("cos").desc, col("vec_id"))
            .limit(k).collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
    }
  }

  /** The probed cell's vectors from the driver cache, loading on miss
    * when the store-wide bound allows; None = this cell stays on the
    * scan path. Refusals are negative-cached (one collect per cell
    * per index version at most), and the bound is HARD: capacity is
    * reserved with addAndGet before insertion and rolled back on a
    * refusal or a lost insert race, so concurrent first-touch loads
    * cannot overshoot `maxCachedVectors`. A cell carrying ANY null
    * (vec_id/embedding/element/nrm/label) is refused: the scan path
    * owns null semantics (cos goes NULL and sorts last there) and
    * the JVM math must not approximate it — parity stays exact
    * because the cache only ever serves cells proven null-free.
    */
  private def loadCell(idx: Idx, cell: Int,
      hasLabels: Boolean): Option[CellVecs] =
    idx.cellCache.get(cell).orElse {
      if (idx.uncacheable.contains(Int.box(cell))) None
      else {
        val cols =
          if (hasLabels) Seq("vec_id", "embedding", "nrm", "label")
          else Seq("vec_id", "embedding", "nrm")
        val rows = idx.cellsDf.filter(col("cell") === cell)
          .select(cols.map(col): _*).collect()
        // read elements UNTYPED for the null probe: getSeq[Float]
        // would silently unbox a null element to 0.0f — the exact
        // corruption this refusal exists to prevent
        val anyNull = rows.exists { r =>
          (0 until cols.size).exists(r.isNullAt) || {
            val e = r.getSeq[Any](1)
            e == null || e.contains(null)
          }
        }
        val reserved = idx.cachedVectors.addAndGet(rows.length)
        if (anyNull || reserved > maxCachedVectors) {
          idx.cachedVectors.addAndGet(-rows.length)
          idx.uncacheable.add(Int.box(cell))
          None
        } else {
          val cv = CellVecs(
            rows.map(_.getLong(0)),
            rows.map(_.getSeq[Float](1).toArray),
            rows.map(_.getDouble(2)),
            if (hasLabels) rows.map(_.getLong(3))
            else new Array[Long](rows.length))
          if (idx.cellCache.putIfAbsent(cell, cv).isDefined)
            idx.cachedVectors.addAndGet(-rows.length) // lost the race
          Some(idx.cellCache(cell))
        }
      }
    }
}
