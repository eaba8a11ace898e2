package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scaling soak: synthesizes an N× (default 10×) copy of the sf0.1 corpus
  * and measures how per-query wall time scales with data size — the first
  * empirical check of the "every gated path is linear" design claims
  * (BASELINE.md records the resulting table).
  *
  * Generation is union-of-reseeded-copies, NOT duplication, so the scaled
  * data keeps the statistical shape the operators are sensitive to:
  *
  *  - fact keys are offset per copy (l_orderkey/o_orderkey, event_id,
  *    doc_id, vec_id) so joins stay 1:1 against the unscaled dims and
  *    outputs scale linearly instead of quadratically;
  *  - document text is letter-rotated per copy (translate with a rotated
  *    alphabet): token/shingle structure and lengths are preserved but
  *    hashes differ, so copy k's near-dup clusters mirror copy 0's without
  *    creating cross-copy duplicates — LSH/posting bucket sizes stay flat
  *    (the property that keeps qd03/qd04/qd07 linear; the drop metrics are
  *    asserted 0 below);
  *  - embeddings get a per-copy seeded perturbation (cosine structure
  *    within a copy preserved, copies distinct); query vectors (vec_id<10)
  *    exist only in copy 0, so ANN query fan-out stays fixed while the
  *    corpus grows — the 100 TB shape.
  *
  * Dims (region/nation/customer/supplier/part) are copied unscaled: at real
  * scale dims grow far slower than facts, and this keeps q03/q04's
  * broadcast-ability invariant — exactly what those plans claim at 100 TB.
  *
  * Output: one JSON line per scale with per-query best-of-2 seconds, plus
  * a ratio line (x10 time / sf0.1 time per query; linear scaling ⇒ ratio
  * ≲ 10 modulo fixed per-query overhead, which makes cheap queries report
  * ratios well under the data multiple).
  */
object Soak {

  private def timed(f: => Long): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private def rotated(k: Int): String = {
    val r = (k * 7) % 26
    alpha.drop(r) + alpha.take(r)
  }

  /** Zipf duplication mode (`SPARK_GRAFT_SOAK_ZIPF=1`): instead of every
    * copy being letter-rotated unique text, copy k keeps doc d's text
    * VERBATIM when (d + 1) · k ≤ N — so base doc d ends up in
    * ≈ min(mult, N/(d+1)) exact copies: duplicate-cluster sizes follow
    * 1/rank, the published shape of crawl duplication. This is the skew
    * the uniform letter-rotated corpus cannot produce (its band saturation
    * was a generator artifact — BASELINE.md round-5 analysis): hot
    * documents concentrate hash buckets, exercising BucketCap /
    * ShingleDfCap and the capped-bucket paths under realistic pressure,
    * with the drop channels reporting what binds. */
  /** Fact tables a tier can restrict generation to (dims are always
    * copied — they are KBs). `SPARK_GRAFT_SOAK_TABLES` exists for the
    * very large targeted tiers (e.g. 1000× dedup): writing an 11 GB
    * lineitem that no selected query reads would dominate generation
    * wall-clock without adding evidence. */
  private val factTables = Set("orders", "lineitem", "events", "documents",
    "embeddings")

  private[graft] def generate(s: SparkSession, base: String, out: String,
      mult: Int, zipf: Boolean,
      tables: Set[String] = factTables): Unit = {
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(k => f(df, k)).reduce(_ unionAll _)
    def write(df: DataFrame, name: String): Unit =
      if (tables(name) || !factTables(name))
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // unscaled dims, copied verbatim
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(Tables.load(s, base, t), t)

    if (tables("orders") || tables("lineitem")) {
      val orderOff = Tables.orders(s, base).agg(max(col("o_orderkey")))
        .collect()(0).getLong(0) + 1
      write(copies(Tables.orders(s, base)) { (df, k) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(k * orderOff))
      }, "orders")
      write(copies(Tables.lineitem(s, base)) { (df, k) =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(k * orderOff))
      }, "lineitem")
    }

    if (tables("events")) {
      val eventOff = Tables.events(s, base).agg(max(col("event_id")))
        .collect()(0).getLong(0) + 1
      // ts written as micros TimestampType; Tables.normalizeEvents passes it
      // through (the nanos coercion only applies to the driver's raw files)
      write(copies(Tables.events(s, base)) { (df, k) =>
        df.withColumn("event_id", col("event_id") + lit(k * eventOff))
      }, "events")
    }

    if (tables("documents")) {
      val docOff = Tables.documents(s, base).agg(max(col("doc_id")))
        .collect()(0).getLong(0) + 1
      write(copies(Tables.documents(s, base)) { (df, k) =>
        val rot = translate(col("text"), alpha, rotated(k))
        val text =
          if (k == 0) col("text")
          else if (zipf) when((col("doc_id") + 1) * k <= lit(docOff), col("text"))
            .otherwise(rot)
          else rot
        df.withColumn("text", text)
          .withColumn("doc_id", col("doc_id") + lit(k * docOff))
      }, "documents")
    }

    if (tables("embeddings")) {
      val vecOff = Tables.embeddings(s, base).agg(max(col("vec_id")))
        .collect()(0).getLong(0) + 1
      write(copies(Tables.embeddings(s, base)) { (df, k) =>
        if (k == 0) df
        else df.withColumn("vec_id", col("vec_id") + lit(k * vecOff))
          .withColumn("embedding", expr(
            s"""transform(embedding, (x, i) -> cast(x +
               |(((vec_id * 31L + ${k}L * 1103515245L + i * 12345L) % 1000L) / 10000.0 - 0.05)
               |as float))""".stripMargin.replace("\n", " ")))
      }, "embeddings")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SOAK_MULT", "10").toInt
    val zipf = sys.env.get("SPARK_GRAFT_SOAK_ZIPF").contains("1")
    val out = s"target/soak/${if (zipf) "zipf_" else ""}x$mult"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local("graft-soak", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_SOAK_TABLES: restrict fact-table generation for very
    // large targeted tiers (dims always copied). Fail fast on unknown
    // names — same rationale as the SOAK_ONLY validation below.
    val genTables = sys.env.get("SPARK_GRAFT_SOAK_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(factTables)
    val unknownTables = genTables -- factTables
    require(unknownTables.isEmpty,
      s"SPARK_GRAFT_SOAK_TABLES names not fact tables: ${unknownTables.mkString(", ")}")
    require(genTables.nonEmpty, "SPARK_GRAFT_SOAK_TABLES selected zero tables")
    val genMarkers = genTables.map(t => s"$out/$t.parquet/_SUCCESS")
    if (!genMarkers.forall(m => new File(m).exists())) {
      System.err.println(s"[soak] generating ${mult}x corpus under $out" +
        (if (zipf) " (zipf duplication)" else "") +
        (if (genTables != factTables) s" (tables: ${genTables.mkString(",")})" else ""))
      generate(spark, base, out, mult, zipf, genTables)
    }

    val names = Registry.all.filter(_.headline).map(_.name) ++
      Seq("qd04_ngram_jaccard", "qd07_simhash_pairs",
        // round-5 additions: the queries whose scale shape changed this
        // round (bounded eval broadcast, capped pipeline near-dup stage,
        // sub-sharded packing window) get the same empirical check that
        // caught the qd04 broadcast OOM at 30×
        "qt10_contamination", "qp01_pipeline_e2e", "qx05_sequence_packing",
        // round-5 new operators: qd12's gram-coverage joins, qd13's capped
        // asymmetric seen-bucket join, qx06's composed-offset windows
        "qd12_dup_spans", "qd13_incremental_dedup", "qx06_shard_shuffle",
        // block-dedup rewrite: the keeper groupBy + merge-pinned join is
        // the shape most exposed to corpus growth among the 2nd-wave ops
        "qd15_block_dedup_rewrite",
        // third wave: qw08's per-user cohort join and qp02's cross-modal
        // attach + cluster-scoped pair stage both grow with the corpus
        "qw08_cohort_retention", "qp02_curation_pipeline",
        // round-6 new operators: qd05b's banded-LSH pair stage grows with
        // the corpus; qx10's bloom build + pruned SMJ is fact-fact shaped
        "qd05b_embedding_lsh_dup", "qx10_bloom_join",
        // qw10's grid explode + two merge-pinned fill joins grow with
        // users × span; qw11 pins that its pre-agg keeps the window frame
        // bounded (types × hours) as the raw corpus grows
        "qw10_gap_fill", "qw11_rolling_zscore",
        // qs04's coarse pass is O(|Q|·N) with a WindowGroupLimit top-C —
        // linear; soak confirms the candidate broadcast stays bounded
        "qs04_quantized_rerank",
        // q31's full-outer agg merge joins two corpus-growing keyed frames —
        // the soak pins that both sides stay merge SMJs (never broadcast)
        "q31_incremental_agg",
        // round-9 BPE operators: training's per-iteration groupBy is
        // vocab-sized (Heaps-law sublinear — the rotation cycle even caps
        // it), apply + packing are corpus-linear projections; the soak
        // pins both ratios
        "qt17_bpe_apply", "qx14_bpe_packing",
        // qd17's within-block pair work is the quadratic face EditBlockCap
        // bounds — the Zipf tier (verbatim duplicates concentrated in one
        // block) is exactly the corpus that would blow it up uncapped
        "qd17_edit_distance_dup",
        // round-11 operators with corpus-growing shapes: qt19's symmetric
        // gram overlap (both sides huge, pair-free by design — the soak
        // pins that the min≠max shuffle stays linear under duplication
        // pressure), qt18's planted-multilingual projection (pure per-row,
        // the ratio should be ~mult·1), and the exact classifier step
        // (explode + three keyed shuffles, all linear)
        "qt18_unicode_normalize", "qt19_symmetric_contamination",
        "qc03_classifier_step",
        // round-11 second half: qt20's serving joins are broadcast-bounded
        // by construction (the soak pins build cost stays two counting
        // shuffles); qe03's PQ encode is a literal-folded pure projection
        // (ratio should track the scan); qx15's two-phase cumsum must not
        // regress to a single-partition window
        "qt20_bigram_logprob", "qe03_product_quantize",
        "qx15_weighted_sample",
        // round-12 operators: the IVF×PQ serving compositions (cell
        // equi-joins over code rows — the soak pins that candidates stay
        // cell-bounded as the corpus grows) and the residual encode
        // (assignment cross + pure projection, should track the scan)
        "qs08_ivf_pq_search", "qs09_ivfadc_residual", "qe05_pq_residual",
        // qt21's window join multiplies gram rows by W=4 then one
        // (doc, window)-keyed shuffle — the soak pins linearity; qx16 is
        // a pure map-side filter (ratio should track the scan)
        "qt21_winnowing_fingerprints", "qx16_weighted_bernoulli",
        // qt22 composes winnowing selection + the screening semi join;
        // the soak pins that the whole composition stays linear (its
        // one-shot cost exceeds qt10's direct join — the at-rest index
        // argument in the qt22 scaladoc is the reason it exists)
        "qt22_fingerprint_contamination",
        // qd19: the capped posting self-join (qd03 shape) over winnowed sets
        "qd19_containment_dup",
        // qt23's tf/dl/df shuffles are all corpus-linear with 9-row
        // broadcast frames; the soak pins that the unhinted dl join keeps
        // a sane strategy under growth and the rank exchange stays fed by
        // map-side WindowGroupLimits; qs10's fusion frames are |Q|·C
        // bounded — its cost must track the two ranking scans, not pairs
        "qt23_bm25_rank", "qs10_hybrid_rrf",
        // qw13's windows run on the bounded types×hours frame (the
        // qw11/qw12 argument) — the soak pins the corpus term stays the
        // hourly aggregation; qs11's composite (label, bucket) probe
        // must stay one equi-join whose candidates shrink with the
        // filter, never grow with corpus²
        "qw13_cusum_drift", "qs11_filtered_ann",
        // qa04 composes two qa01-shaped union+carry window passes (both
        // user-keyed — corpus-linear); qp03's FK anti-join is the one
        // expectation that costs a fact-fact shuffle; q33's unit agg is
        // user-day-keyed; qs12's serve scan must stay DPP-bounded as the
        // index grows (build cost is the corpus term)
        "qa04_pit_features", "qp03_data_quality_checks", "q33_ab_test",
        "qs12_persisted_ivf",
        // r13: the single-window N-feature PIT form — its relative cost
        // vs qa04's sequential composition is the one-shuffle claim
        "qa04b_pit_single_pass")
    // SPARK_GRAFT_SOAK_ONLY: comma-separated subset of the names above, for
    // targeted large-mult runs (e.g. the 300× dedup/pipeline tier) where
    // re-timing the whole headline suite would dominate wall-clock without
    // adding scale evidence — the drop/band-width channels still run.
    val only = sys.env.get("SPARK_GRAFT_SOAK_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast on typos: a name that matches nothing would silently shrink
    // the run — with every name wrong, the soak would emit empty-looking
    // results indistinguishable from a successful run
    only.foreach { o =>
      val unknown = o -- names.toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SOAK_ONLY names not in the soak set: ${unknown.mkString(", ")}")
    }
    val selected = only.fold(names)(o => names.filter(o))
    require(selected.nonEmpty, "SPARK_GRAFT_SOAK_ONLY selected zero queries")
    val queries = selected.map(Registry.byName)

    def run(dir: String): Seq[(String, Double)] = queries.map { q =>
      // noop sink, not count(): count lets Catalyst eliminate cardinality-
      // preserving subtrees (unique-key left joins, pure projections) and
      // silently time only the scan — see Bench's scaladoc
      def pass(): Double = timed {
        q.run(spark, dir).write.format("noop").mode("overwrite").save(); 0L
      }
      q.name -> (try math.min(pass(), pass())
      catch { case e: Throwable =>
        System.err.println(s"[soak] ${q.name} @ $dir failed: ${e.getMessage}"); -1.0 })
    }
    // warmups absorb codegen/JIT
    Tables.lineitem(spark, base).limit(1000).count()
    val baseTimes = run(base)
    val soakTimes = run(out)

    // Locale.ROOT: f"$v%.3f" uses the default JVM locale, and a
    // comma-decimal locale (de_DE) would make these lines invalid JSON
    def js(ts: Seq[(String, Double)]): String =
      ts.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(v))
      }.mkString("{", ",", "}")
    println(s"""{"metric":"soak_base","sf":"$base","queries":${js(baseTimes)}}""")
    println(s"""{"metric":"soak_x$mult","sf":"$out","queries":${js(soakTimes)}}""")
    val ratios = baseTimes.zip(soakTimes).map { case ((n, b), (_, x)) =>
      n -> (if (b > 0 && x > 0) x / b else -1.0) }
    println(s"""{"metric":"soak_ratio_x$mult","queries":${js(ratios)}}""")

    // linearity preconditions: the skew caps must not be binding at 10×
    val oversized = graft.ext.Dedup.oversizedLshBuckets(spark, out).count()
    val dfDrops = graft.ext.Dedup.shingleDfDrops(spark, out).count()
    val pipeDrops = graft.ext.Pipeline.oversizedBuckets(spark, out).count()
    val qd13Drops = graft.ext.SpanDedup.incrementalDroppedBuckets(spark, out).count()
    println(s"""{"metric":"soak_drops","oversized_lsh_buckets":$oversized,"shingle_df_drops":$dfDrops,"pipeline_oversized_buckets":$pipeDrops,"qd13_seen_bucket_drops":$qd13Drops}""")

    // band-width drain: the same corpus's oversized-bucket channels under
    // the gate scheme (4×12 over 48 bits) vs the wide 100 TB scheme (4×15
    // over 60 bits) — BASELINE.md's "wider bands, not bigger caps" remedy,
    // measured instead of asserted
    val gateSim = graft.ext.Dedup.simhashOversizedBuckets(spark, out).count()
    val wideSim = graft.ext.Dedup
      .simhashOversizedBuckets(spark, out, graft.ext.Dedup.WideScheme).count()
    val widePipe = graft.ext.Pipeline
      .oversizedBuckets(spark, out, graft.ext.Dedup.WideScheme).count()
    println(s"""{"metric":"soak_band_width","gate_simhash_oversized":$gateSim,"wide_simhash_oversized":$wideSim,"gate_pipeline_oversized":$pipeDrops,"wide_pipeline_oversized":$widePipe}""")

    // same drain measurement for qd05b's embedding LSH: the 3×4 gate
    // scheme saturates under corpus growth (N/16 per band-bucket); the
    // 3×10 wide scheme is the documented remedy — report both channels
    // and the wide variant's wall time so the knob's effect is recorded
    val gateEmb = graft.ext.Dedup.embLshOversizedBuckets(spark, out).count()
    val wideEmb = graft.ext.Dedup
      .embLshOversizedBuckets(spark, out, graft.ext.Dedup.EmbWideScheme).count()
    val wideEmbSec = timed {
      graft.ext.Dedup.embLshPairs(
        graft.sources.Tables.embeddings(spark, out), graft.ext.Dedup.EmbWideScheme)
        .write.format("noop").mode("overwrite").save(); 0L
    }
    println(s"""{"metric":"soak_emb_band_width","gate_emb_oversized":$gateEmb,"wide_emb_oversized":$wideEmb,"wide_emb_pairs_sec":$wideEmbSec}""")

    // streaming near-dup bounded-state channel: run the gated qst10 face
    // over the soak corpus and report its poison/eviction counters — the
    // streaming analogue of the batch drop channels above. The gate face
    // materializes through a MEMORY sink (that is what makes it a
    // driver-checkable bounded gate), so its result set is bounded by
    // spark.driver.maxResultSize by construction — ~1.5M kept rows (300×)
    // fits, 5M (1000×) does not. Opt out for tiers past that
    // (SPARK_GRAFT_SOAK_STREAM=0): the production path is foreachBatch/
    // file sinks (no driver collect), and the bounded-STATE evidence at
    // big multiples is the per-trigger state rows in STATE_CURVES_*.jsonl,
    // not sink volume.
    if (!sys.env.get("SPARK_GRAFT_SOAK_STREAM").contains("0")) {
      val stKept = Registry.byName("qst10_stream_neardup").run(spark, out).count()
      val stEvict = graft.streaming.StreamingQueries.lastNearDupEvictions
        .map(_.value).getOrElse(-1L)
      println(s"""{"metric":"soak_stream_neardup","kept":$stKept,"evicted_entries":$stEvict}""")
    }

    // K-sizing demonstration for the SemDeDup family (qd11/qp02): at fixed
    // K the within-cluster pair stage is O(N²/K) — quadratic under corpus
    // growth (the honest noop-sink soak exposed exactly that, 14× at 30×).
    // Total cost = assignment O(N·K) + pairs O(N²/K), minimized at
    // K* ≈ √N — so the sizing rule for this one-level scheme is K ∝ √N
    // (K ∝ N only pays once assignment goes through an index instead of
    // brute force). Measured as a three-point U-curve: the gated K = 16,
    // K = 16·√mult (the √N rule), K = 16·mult (over-sized).
    // The U-curve is a fixed demonstration (measured at 30× and 100×); at
    // larger mult the over-sized K = 16·mult endpoint costs O(N·K) = O(N²)
    // assignment by construction, so the curve is opt-out for big runs
    // (SPARK_GRAFT_SOAK_KCURVE=0) rather than re-proving a known quadratic.
    if (!sys.env.get("SPARK_GRAFT_SOAK_KCURVE").contains("0")) {
      def flagsTime(k: Int): Double = timed {
        graft.ext.Clustering.semDedupFlags(spark, out, k)
          .write.format("noop").mode("overwrite").save(); 0L
      }
      val kSqrt = (16 * math.sqrt(mult)).toInt
      // distinct: at mult = 1 all three candidates collapse to 16, and any
      // mult where kSqrt rounds to an endpoint would otherwise double-time
      // the same K and emit duplicate JSON keys
      val curve = Seq(16, kSqrt, 16 * mult).distinct.map { k =>
        k -> math.min(flagsTime(k), flagsTime(k))
      }
      val curveJson = curve.map { case (k, t) =>
        String.format(java.util.Locale.ROOT, """"k%d":%.3f""",
          Integer.valueOf(k), Double.box(t))
      }.mkString(",")
      println(s"""{"metric":"semdedup_k_sizing","mult":$mult,$curveJson}""")
    }
    spark.stop()
  }
}
