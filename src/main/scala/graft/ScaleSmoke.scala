package graft

import org.apache.spark.GraftBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale smoke for the shuffle-heavy pipeline queries.
  *
  * The driver's testdata tops out at sf0.1 (5k documents / 2k
  * embeddings); the queries whose cost is candidate-pair generation
  * (LSH joins, connected components, banded SimHash, contamination
  * semi-join) deserve evidence that their PLANS survive a data-size
  * jump — no flip to a nested-loop/cartesian join, shuffle volume
  * growing near-linearly, wall time not exploding quadratically.
  *
  * This main materializes a deterministic 10× corpus under
  * `target/sf1` (re-used across runs) and times the heavy queries on
  * it.
  *
  * v5 — ORGANIC variation with controlled, MEASURED duplicate rates
  * (v4's replica word-tagging produced cross-replica docs sharing NO
  * shingles: right for plan-survival evidence, but the pair families
  * faced an unrealistically empty candidate space and sf1 walls were
  * not interpretable as throughput). Replica 0 is the original
  * corpus; replicas 1–9 draw each doc's CLASS from a per-(doc,
  * replica) murmur3 hash:
  *   ~3% EXACT duplicates (verbatim copy of the source doc),
  *   ~5% NEAR duplicates (every 10th word replaced from the corpus
  *       vocabulary — token-Jaccard ≈ 0.8 vs the source),
  *   ~92% DISTINCT documents RESAMPLED from the source corpus's
  *       frequency-weighted vocabulary (same length profile, same
  *       Zipf-ish word distribution — so shingle collisions and LSH
  *       band load look like a real corpus, not like disjoint
  *       vocabularies).
  * Embedding replicas mirror the classes: exact copies / ±5%
  * element jitter (cosine ≈ 0.99 — inside every near-dup threshold)
  * / murmur3 sign-flips (distinct, cosine ≈ 0). The harness preamble
  * MEASURES the generated rates (hash-distinct for exact dups, a
  * token-Jaccard audit join for the near class) and refuses to run
  * when they drift from the design bands — the dup-rate assertion
  * line the round-12 verdict asked for. Every query row also reports
  * `rows_per_s` = task-metrics input records / wall second at sf1:
  * the honest throughput number (records actually scanned, not a
  * hand-maintained table map).
  *
  *   sbt "runMain graft.ScaleSmoke [query ...]"
  */
object ScaleSmoke {
  private val Replicas = 10
  private val IdStride = 10000000L

  /** Queries that are BY DESIGN brute-force fixture-scale baselines
    * (guarded by Similarity.BruteForceMaxRows, documented with an LSH
    * scale path): quadratic cpu growth and a `<`-condition broadcast
    * nested loop are their contract, not a degradation — they are
    * measured (no silent caps) but adjudicated as quadratic_baseline
    * instead of SUPERLINEAR, and their join shape is exempt from the
    * degraded-equi-join flag.
    */
  private val FixtureScaleBaselines =
    Set("q_embed_cosine_pairs", "q_ann_recall")

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "target/sf1")
    // default set = the candidate-pair generators PLUS the ~20 most
    // expensive committed-bench queries (the heavy families: graph,
    // dedup, ANN, winnow, BPE, multimodal) — the 10× BENCH a 100×
    // deployment decision would read first
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_embed_pairs_lsh", "q_dedup_clusters", "q_dedup_simhash",
        "q_contamination", "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard",
        "q_semantic_dedup",
        "q_graph_bfs", "q_graph_communities", "q_embed_cosine_pairs",
        "q_cte_recursive", "q_bpe_encode", "q_graph_hits",
        "q_dedup_keep_best", "q_multimodal_audio_vad", "q_graph_degree",
        "q_winnow_overlap", "q_dq_quantile_sample", "q_graph_kcore",
        "q_ann_recall", "q_sample_kcenter", "q_train_logreg")
    val spark = LocalSpark.session()

    generateIfMissing(spark, src, out)
    assertCorpusRates(spark, out)

    // shuffle and input totals; read after draining the listener bus
    val counters = new Profile.Counters
    spark.sparkContext.addSparkListener(counters)

    // absorb session/codegen warm-up outside the measured loop
    try SparkEntry.entry(spark).queryExecution.toRdd.count()
    catch { case _: Throwable => }

    // min-of-2 at each scale; at 10× distinct documents a healthy
    // candidate-generator grows ~linearly in wall and shuffle volume
    // whole-process CPU seconds per rep (same channel as Bench): the
    // steal-immune reading — a loaded smoke window inflates wall, not
    // cpu, so the flat-vs-linear verdict reads off cpu_ratio
    def cpuNs(): Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime
        case _ => -1L
      }
    case class M(sec: Double, cpu: Double, rows: Long, readMb: Double,
      writeMb: Double, badJoin: Boolean, inRows: Long = 0L)
    def measure(n: String, dir: String): M = {
      // purge session caches at each (query, scale) boundary (the
      // Bench family-boundary rule): 40 prior measurements' cached
      // edge lists / candidate pools otherwise pile GC pressure onto
      // every later query's cpu reading, manufacturing phantom
      // superlinearity. Reps WITHIN a measure still share the
      // family's internal caches, as the operators intend.
      try {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      } catch { case _: Throwable => }
      var best = M(Double.MaxValue, 0, 0L, 0, 0, badJoin = false)
      for (_ <- 1 to 2) {
        // fresh plan per rep: re-counting one RDD would reuse the
        // prior rep's registered shuffle outputs and skip map stages.
        // The timer and shuffle counters start BEFORE construction:
        // iterative queries do real work in eager localCheckpoints
        // during plan building (q_graph_hits runs its 4 half-steps
        // there), which a count()-only window would miss entirely.
        counters.reset()
        val c0 = cpuNs()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, dir)
        val physical = df.queryExecution.executedPlan.toString
        // a Cross nested-loop against a bounded broadcast is the
        // documented coarse-quantizer shape (semantic dedup's seed
        // assignment); only a cartesian product or a NON-Cross
        // nested-loop marks a degraded equi-join
        val bad = physical.contains("CartesianProduct") ||
          physical.linesIterator.exists(l =>
            l.contains("BroadcastNestedLoopJoin") && !l.contains("Cross"))
        val rows = df.queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val cpu = if (c0 < 0) -1.0 else (cpuNs() - c0) / 1e9
        GraftBus.drain(spark.sparkContext)
        val c = counters.counts
        if (sec < best.sec) best = M(sec, cpu, rows,
          c.shufRead / 1e6, c.shufWrite / 1e6, bad, c.inputRows)
      }
      best
    }
    var superlinear = List.empty[String]
    var outputLinear = List.empty[String]
    names.foreach { n =>
      val base = measure(n, src)
      val big = measure(n, out)
      // flat-vs-linear adjudication on the CPU channel: 10× the data
      // at <= ~13× the work is linear-or-better (1.3× headroom for
      // shuffle constants); past that the plan is superlinear and
      // flagged — the first number a 100× decision would ask for
      val cpuRatio =
        if (base.cpu > 0 && big.cpu > 0) big.cpu / base.cpu else -1.0
      // v5 corpora plant dup CLIQUES that deepen with corpus size
      // (copies inherit their base's duplicate relationships — how a
      // 10x crawl actually behaves: popular pages get crawled more),
      // so a correct pair-emitting dedup's TRUE output grows faster
      // than its input. Work proportional to input + true pairs is
      // the optimal cost model for such operators — adjudicate cpu
      // against OUTPUT growth too ("output_linear"), and keep
      // SUPERLINEAR for plans whose work outruns both input and
      // emitted structure. rows can legitimately be 0 at either
      // scale (guards); fall back to input-only adjudication there.
      val rowsRatio =
        if (base.rows > 0 && big.rows > 0)
          big.rows.toDouble / base.rows
        else -1.0
      val verdictStr =
        if (FixtureScaleBaselines(n)) "quadratic_baseline"
        else if (cpuRatio < 0) "unknown"
        else if (cpuRatio <= 3.0) "flat"
        else if (cpuRatio <= 13.0) "linear"
        else if (rowsRatio > 10.0 && cpuRatio <= 1.3 * rowsRatio) {
          // surfaced in the summary line, never silently absorbed: an
          // output blowup can itself BE the bug (a dropped dedup), so
          // output_linear entries warrant a row-count sanity look
          outputLinear ::= n
          "output_linear"
        }
        else { superlinear ::= n; "SUPERLINEAR" }
      val joinFlag =
        (base.badJoin || big.badJoin) && !FixtureScaleBaselines(n)
      // band-saturation probe for the image near-dup family: record
      // the banded candidate-pair count at both scales — the quantity
      // that goes quadratic when the band-key space stops growing
      // with the corpus (the pre-r9 16-bit pathology)
      val cand =
        if (n == "q_multimodal_image_pairs" ||
            n == "q_multimodal_image_clusters")
          s""","cand_pairs":[${ops.Multimodal.imageCandidatePairs(spark, src)
            },${ops.Multimodal.imageCandidatePairs(spark, out)}]"""
        else ""
      println(f"""{"q":"$n","sf01_s":${base.sec}%.3f,""" +
        f""""sf1_s":${big.sec}%.3f,""" +
        f""""wall_ratio":${big.sec / base.sec}%.1f,""" +
        f""""cpu_s":[${base.cpu}%.3f,${big.cpu}%.3f],""" +
        f""""cpu_ratio":$cpuRatio%.1f,""" +
        f""""rows_ratio":$rowsRatio%.1f,"scale":"$verdictStr",""" +
        f""""rows":[${base.rows},${big.rows}],""" +
        f""""sf1_shuffle_rw_mb":[${big.readMb}%.1f,${big.writeMb}%.1f],""" +
        f""""sf1_input_rows":${big.inRows},""" +
        f""""sf1_rows_per_s":${
          if (big.sec > 0) big.inRows / big.sec else 0.0}%.0f,""" +
        f""""shuffle_ratio":${
          if (base.writeMb > 0) big.writeMb / base.writeMb else 0.0}%.1f,""" +
        s""""bad_join":$joinFlag$cand}""")
    }
    println(s"""{"smoke":"done","queries":${names.size},""" +
      s""""superlinear":${superlinear.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""output_linear":${outputLinear.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    spark.stop()
  }

  /** Design bands for the v5 corpus's duplicate structure: per
    * (doc, replica>0) hash in [0,100): < ExactPct exact, < ExactPct +
    * NearPct near, else distinct. The measured-rate preamble
    * ([[assertCorpusRates]]) checks the GENERATED corpus against
    * these, not the other way around.
    */
  private val ExactPct = 3
  private val NearPct = 5

  private def generateIfMissing(spark: SparkSession, src: String,
      out: String): Unit = {
    // v5: organic variation with controlled duplicate classes (see
    // the object scaladoc); v4's murmur3 sign-flip lesson stands —
    // never derive replica variation from a GF(2)-degenerate
    // polynomial. Regenerate older corpora.
    val done = new java.io.File(s"$out/_SMOKE_READY_V5")
    if (done.isFile) return
    val r = explode(sequence(lit(0), lit(Replicas - 1)))

    // frequency-weighted vocabulary multiset of the source corpus:
    // a word appears min(count, 64) times, capped at ~60k entries —
    // hash-indexed sampling from it reproduces a Zipf-ish word
    // distribution (common words collide across distinct docs, like
    // a real corpus; uniform sampling over DISTINCT words would not)
    val srcDocs = spark.read.parquet(s"$src/documents.parquet")
    val vocabMultiset: Array[String] = {
      val counted = srcDocs
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").count()
        .orderBy(col("count").desc, col("w"))
        .limit(20000)
        .collect()
        .map(row => (row.getString(0), row.getLong(1)))
      val b = Array.newBuilder[String]
      var total = 0
      counted.foreach { case (w, c) =>
        val reps = math.min(c, 64L).toInt
        if (total + reps <= 60000) { (0 until reps).foreach(_ => b += w)
          total += reps }
      }
      b.result()
    }
    val vocab = lit(vocabMultiset)
    val vocabN = lit(vocabMultiset.length)

    // class selector per (doc, replica): 0 = exact, 1 = near, 2 = new
    val cls = when(col("r") === 0, lit(2))
      .otherwise {
        val h = pmod(hash(col("doc_id"), col("r"), lit("class")),
          lit(100))
        when(h < ExactPct, 0).when(h < ExactPct + NearPct, 1)
          .otherwise(2)
      }
    val docs = srcDocs
      .withColumn("r", r)
      .withColumn("cls", cls)
      .select(
        (col("doc_id") + col("r") * IdStride).as("doc_id"),
        when(col("r") === 0, col("text"))
          .when(col("cls") === 0, col("text")) // exact duplicate
          .when(col("cls") === 1, // near dup: ~every 10th word swapped
            concat_ws(" ", transform(split(col("text"), " "),
              (w, i) => when(
                pmod(hash(col("doc_id"), col("r"), i, lit("edit")),
                  lit(10)) === 0,
                element_at(vocab,
                  (pmod(hash(col("doc_id"), col("r"), i, lit("pick")),
                    vocabN) + 1).cast("int")))
                .otherwise(w))))
          .otherwise( // distinct: full resample, same length profile
            concat_ws(" ", transform(split(col("text"), " "),
              (_, i) => element_at(vocab,
                (pmod(hash(col("doc_id"), col("r"), i, lit("word")),
                  vocabN) + 1).cast("int")))))
          .as("text"),
        col("lang"), col("source"))
      // LONG like the driver fixture: length() is INT, and a schema
      // that drifts from the driver's breaks type-sensitive queries
      // (recursive CTE union types) on the smoke corpus only
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(8).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
      .withColumn("r", r)
      .withColumn("cls", when(col("r") === 0, lit(2)).otherwise {
        val h = pmod(hash(col("vec_id"), col("r"), lit("class")),
          lit(100))
        when(h < ExactPct, 0).when(h < ExactPct + NearPct, 1)
          .otherwise(2)
      })
      .select(
        (col("vec_id") + col("r") * IdStride).as("vec_id"),
        when(col("r") === 0 || col("cls") === 0, col("embedding"))
          .when(col("cls") === 1, // near: ±5% element jitter, cos≈0.99
            transform(col("embedding"), (x, i) =>
              (x * (lit(1.0) +
                (pmod(hash(col("vec_id"), i, col("r"), lit("j")),
                  lit(1000)).cast("double") / 1000.0 - 0.5) * 0.1))
                .cast("float")))
          .otherwise( // distinct: per-(vec,dim,replica) murmur3 sign
            // flips — same magnitudes, cross-replica cosines near 0
            transform(col("embedding"), (x, i) =>
              (x * when(pmod(hash(col("vec_id"), i, col("r")), lit(2))
                === 0, 1.0).otherwise(-1.0)).cast("float")))
          .as("embedding"),
        col("label"))
    embs.repartition(8).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    // TPC-H facts replicate 10× with key-shifted order keys; dims stay
    // fixed (the realistic growth mode: fact tables grow, dimensions
    // don't). Every lineitem keeps its orders parent because both
    // sides shift o_orderkey/l_orderkey by the same r·IdStride.
    val ords = spark.read.parquet(s"$src/orders.parquet")
      .withColumn("r", r)
      .select((col("o_orderkey") + col("r") * IdStride).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    ords.repartition(8).write.mode("overwrite")
      .parquet(s"$out/orders.parquet")
    // part keys shift with the SAME replica stride as order keys (and
    // the part dimension replicates below to match): real 10× growth
    // adds parts AND orders. Keeping l_partkey fixed would sum pair
    // supports across replicas — a 10× DENSER co-purchase graph, not a
    // bigger one — which blows every degree past the hub caps and
    // degenerates the graph-family smokes (round-7 q_graph_jaccard
    // measured the guard, not the operator).
    val li = spark.read.parquet(s"$src/lineitem.parquet")
      .withColumn("r", r)
      .select((col("l_orderkey") + col("r") * IdStride).as("l_orderkey"),
        (col("l_partkey") + col("r") * IdStride).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
    li.repartition(8).write.mode("overwrite")
      .parquet(s"$out/lineitem.parquet")
    // events replicate 10× as fresh user cohorts: ids shift per
    // replica, timestamps stay — per-user event density is constant
    // while the user population grows, which is how an event stream
    // actually scales (more users, not denser users). Reading through
    // Tables.t normalizes whatever timestamp physical type the driver
    // generated (see its footer sniff), and this session writes
    // timestamp[us] UTC, which t() passes through untouched.
    val ev = ops.Tables.t(spark, src, "events")
      .withColumn("r", r)
      .select((col("event_id") + col("r") * IdStride).as("event_id"),
        col("ts"), (col("user_id") + col("r") * IdStride).as("user_id"),
        col("event_type"), col("value"), col("props"))
    ev.repartition(8).write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    // part replicates with l_partkey's stride so every lineitem keeps
    // its part parent (names get a replica suffix: distinct catalog
    // entries, not 10 aliases of one part)
    val parts = spark.read.parquet(s"$src/part.parquet")
      .withColumn("r", r)
      .select((col("p_partkey") + col("r") * IdStride).as("p_partkey"),
        when(col("r") === 0, col("p_name"))
          .otherwise(concat(col("p_name"), lit("~"),
            col("r").cast("string"))).as("p_name"),
        col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    parts.repartition(4).write.mode("overwrite")
      .parquet(s"$out/part.parquet")
    // remaining dimension tables: byte-for-byte copies
    for (t <- Seq("region", "nation", "customer", "supplier")) {
      val dst = new java.io.File(s"$out/$t.parquet")
      if (!dst.exists())
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$src/$t.parquet"), dst.toPath)
    }

    java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    println(s"""{"generated":"$out","docs":${Replicas}x,"src":"$src"}""")
  }

  /** The dup-rate assertion line: MEASURE the generated corpus's
    * duplicate structure and refuse to smoke when it drifts from the
    * design bands — the numbers below are what make sf1 walls
    * readable as throughput over a corpus with KNOWN dup structure.
    *  - exact-dup rate: 1 − distinct(md5(text))/count — design ≈
    *    (Replicas−1)/Replicas · ExactPct% = 2.7%;
    *  - near-dup class rate: recomputed from the class hash — ≈ 4.5%;
    *  - near-dup QUALITY: token-Jaccard of 200 sampled near docs
    *    against their source (array_intersect/array_union on the
    *    split tokens) — the ~every-10th-word edit should land mean
    *    Jaccard in [0.55, 0.95].
    */
  private def assertCorpusRates(spark: SparkSession,
      out: String): Unit = {
    val d = spark.read.parquet(s"$out/documents.parquet")
    val total = d.count()
    val distinct = d.select(md5(col("text")).as("h"))
      .distinct().count()
    val exactRate = 1.0 - distinct.toDouble / total
    val isNear = pmod(hash(pmod(col("doc_id"), lit(IdStride)),
      (col("doc_id") / IdStride).cast("int"), lit("class")), lit(100))
      .between(ExactPct, ExactPct + NearPct - 1) &&
      col("doc_id") >= IdStride
    val nearRate = d.filter(isNear).count().toDouble / total
    // quality audit: sampled near docs vs their replica-0 source
    val near = d.filter(isNear)
      .select((pmod(col("doc_id"), lit(IdStride))).as("base_id"),
        split(col("text"), " ").as("toks"))
      .orderBy("base_id").limit(200)
    val srcToks = d.filter(col("doc_id") < IdStride)
      .select(col("doc_id").as("base_id"),
        split(col("text"), " ").as("src_toks"))
    val jacc = near.join(srcToks, "base_id")
      .select((size(array_intersect(col("toks"), col("src_toks")))
        .cast("double") /
        size(array_union(col("toks"), col("src_toks")))).as("j"))
      .agg(avg("j")).collect().head.getDouble(0)
    println(f"""{"corpus":"v5","docs":$total,""" +
      f""""exact_dup_rate":$exactRate%.4f,""" +
      f""""near_dup_rate":$nearRate%.4f,""" +
      f""""near_dup_mean_jaccard":$jacc%.3f}""")
    require(exactRate > 0.015 && exactRate < 0.06,
      f"generated exact-dup rate $exactRate%.4f outside [0.015, 0.06]")
    require(nearRate > 0.025 && nearRate < 0.08,
      f"generated near-dup rate $nearRate%.4f outside [0.025, 0.08]")
    require(jacc > 0.55 && jacc < 0.95,
      f"near-dup mean token-Jaccard $jacc%.3f outside [0.55, 0.95]")
  }
}
