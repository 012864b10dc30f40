package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

/** Empirical scaling smoke (SCALE.md "Empirical scaling smoke"): generate
  * a corpus N× the sf0.1 fixture and time the dedup/ANN pipelines on it,
  * looking for nonlinearities the fixtures are too small to expose.
  *
  * `runMain graft.ScaleSmoke [mult]` — mult scales the corpus
  * (default 10 → 50k docs / 20k vectors). Documents are generated as
  * pure expressions over `spark.range` (fully distributed, deterministic,
  * no driver-side text building): every ~100th doc is a near-duplicate of
  * its predecessor with one token changed, mirroring the fixture's
  * planted-near-dup shape. Embeddings are 8 well-separated clusters like
  * AnnQualitySpec, sized up.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val cpus = GraftSession.cpus(8)
    val spark = GraftSession.local(cpus)

    val dir = Files.createTempDirectory("graft-smoke").toString
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult

    // documents: 150 pseudo-random tokens per doc from a deterministic
    // md5 chain; doc_id % 100 == 1 → near-dup of doc_id-1 (one token off)
    spark.range(nDocs)
      .withColumn("base", when(col("id") % 100 === 1, col("id") - 1).otherwise(col("id")))
      .withColumn("toks", expr(
        "transform(sequence(1, 150), i -> substr(md5(concat(CAST(base AS STRING), ':', CAST(i AS STRING))), 1, 6))"))
      .withColumn("toks", expr(
        "CASE WHEN id % 100 = 1 THEN concat(slice(toks, 1, 149), array('neardup')) ELSE toks END"))
      .select(col("id").as("doc_id"), concat_ws(" ", col("toks")).as("text"),
        // deterministic language mix so lang-dependent ops (q68, q79)
        // run on the smoke corpus too
        element_at(array(lit("en"), lit("en"), lit("de"), lit("es"), lit("fr")),
          (col("id") % 5 + 1).cast("int")).as("lang"),
        // fixture-shaped source ids so the mixture ops (q118) run too
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      // fixture-shaped n_chars so the media ops (q124) run too
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // lineitem, projected to the columns the graph ops read
    // (l_orderkey, l_partkey): (mult/10)× the sf0.1 table — 4 lines per
    // order over a hashed part space. The graph smoke deliberately scales
    // one decade below the text smoke: the edge build's ~3·nLines pair
    // expansion would otherwise dominate the whole smoke run, and the
    // 10×→30× STEP (what the table reports) measures the same shape
    val nLines = 600000L * mult / 10
    val nParts = 20000L * mult / 10
    spark.range(nLines)
      .select((col("id") / 4).cast("long").as("l_orderkey"),
        expr(s"CAST(conv(substring(md5(CAST(id AS STRING)), 1, 8), 16, 10) AS BIGINT) % $nParts")
          .as("l_partkey"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    // embeddings: 8 unit-norm cluster centers (ids 0..7), noisy members
    val rnd = new Random(7)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(8)(unit(Array.fill(64)(rnd.nextGaussian().toFloat)))
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Int)]
    centers.zipWithIndex.foreach { case (c, i) => rows += ((i.toLong, c, i)) }
    var id = 8L
    while (id < nVecs) {
      val label = ((id - 8) % 8).toInt
      val noisy = unit(centers(label).zip(
        Array.fill(64)(rnd.nextGaussian().toFloat * 0.15f)).map { case (a, b) => a + b })
      rows += ((id, noisy, label)); id += 1
    }
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val targets = Seq(
      "q31_minhash_lsh", "q32_neardup_verified", "q33_simhash",
      "q37_embedding_neardup", "q38_ann_bruteforce", "q39_ann_ivf",
      "q52_ann_lsh", "q61_ann_quantized",
      "q74_chunking", "q78_simhash_hamming", "q79_curation_pipeline",
      "q85_dedup_clusters", "q99_tfidf", "q100_shard_packing",
      "q107_quality_sample", "q108_incremental_dedup", "q111_simhash_wide",
      "q116_contamination", "q117_repetition", "q118_source_mix",
      "q119_kmeans_train", "q120_ann_ivf_trained", "q121_negative_sampling",
      "q122_semantic_dedup", "q123_corpus_build", "q124_audio_windows",
      "q126_span_dedup", "q130_sequence_packing", "q131_hard_negatives",
      // NOTE q132: the smoke corpus is a worst case for BPE — every token
      // is a distinct md5 prefix, so the "vocab-sized" round relation is
      // corpus-sized here (real corpora follow Heaps' law); it measures
      // the upper bound of the round cost, not the typical one
      "q132_bpe_train", "q133_pq_adc", "q134_unimax_mix",
      "q135_hard_negatives_ivf", "q136_bm25", "q137_rrf_fusion",
      "q138_gram_matrix",
      "q140_knn_classify", "q141_domain_cap", "q142_preference_pairs",
      "q143_pagerank",
      // q144 re-trains q132's merges before encoding — it inherits the
      // same worst-case note (every smoke token a distinct md5 prefix)
      "q144_bpe_encode", "q145_corpus_diff", "q146_pca_power",
      "q147_mmr_rerank", "q148_phash_dedup", "q149_corpus_card",
      "q150_dedup_eval", "q151_corpus_build_pack",
      "q153_label_prop", "q154_jl_ann", "q155_collocations",
      "q156_rouge_audit", "q157_domain_cosine", "q158_boilerplate",
      "q159_quality_quantile_gate", "q160_jl_ivf", "q161_split_leakage",
      "q162_index_drift", "q163_dedup_savings", "q164_temperature_mix",
      "q165_shard_manifest", "q166_rag_serve", "q167_manifest_diff",
      "q168_cdc_shards", "q169_passage_windows", "q170_compaction_plan",
      "q171_pq_rerank", "q172_retrieval_metrics", "q173_bradley_terry",
      "q174_component_split", "q175_phrase_search", "q176_time_travel",
      "q177_containment", "q178_hubness", "q179_embedding_stats",
      "q180_silhouette", "q181_signal_agreement", "q182_calibration",
      "q183_source_overlap", "q184_novelty", "q185_word_similarity",
      "q186_bootstrap_ci", "q187_rm3_expansion", "q188_personalized_pagerank",
      "q189_weak_labels", "q190_kcenter_coreset", "q191_multiprobe_lsh",
      "q193_conformal", "q194_canonical_dedup", "q195_k_anonymity",
      "q196_semantic_decontam", "q197_passage_retrieval", "q198_rrf_sweep",
      "q199_truncation_audit", "q200_corpus_scorecard", "q201_zipf_audit",
      "q202_heaps_growth", "q203_annotator_kappa", "q204_budget_select",
      "q205_ndcg_eval", "q206_collision_entropy", "q207_kneser_ney",
      "q208_label_noise", "q209_threshold_sweep", "q210_code_switch",
      "q211_quality_anova", "q212_bitext_mining", "q213_source_jackknife",
      "q214_nprobe_sweep", "q215_good_turing", "q216_l_diversity",
      "q217_packing_sweep", "q218_domain_reweight", "q219_length_bias",
      // q220 inherits the q132/q144 md5-vocab worst-case note
      "q220_merge_sweep", "q221_brier_decomp", "q222_audio_fingerprint",
      "q223_robust_scale", "q224_burstiness", "q225_ks_drift",
      "q228_vacuum_plan", "q232_manifest_pruning", "q233_skyline_select", "q234_prefix_join",
      "q237_mann_whitney", "q239_quantile_norm", "q240_merkle_diff",
      "q243_triangles", "q254_association_rules", "q262_pps_sample",
      // round-7 second wave: the word-graph centralities, the
      // co-purchase walkers, and the corpus-shaped audits all run on
      // the smoke tables (documents + the 2-col lineitem + vecs);
      // q375/q382/q383 need orders/events and sit in the documented
      // already-covered classes (q375 = one grouped pass + broadcast
      // totals, the q211 class; q382/q383 = bounded-axis windows over
      // one daily/hourly aggregate, the q226 class)
      "q369_hits", "q370_walk_corpus", "q371_welch_screen",
      "q372_rake_keyphrases", "q373_modularity",
      "q374_quantization_recall", "q376_aspect_batching",
      "q377_auc_eval", "q378_betweenness", "q379_percolation",
      "q380_data_map", "q381_decision_stump", "q384_weighted_kappa",
      "q386_maximal_independent_set", "q387_wl_refinement",
      "q388_wasserstein_drift",
      // round-8: the walk-features chain (q393 consumes the persisted
      // q370 corpus; q394 is the biased walker) runs on the 2-col
      // smoke lineitem like the rest of the graph family
      "q393_walk_ppmi", "q394_node2vec_walks", "q395_walk_context_sim",
      // round-9: the coverage audit prices the walk budget against the
      // exact BFS frontier on the same smoke graph; the holdout audit
      // inherits q132's md5-vocab worst-case note (every smoke token
      // distinct → a 2% sample leaves ~98% OOV, the fallback-heavy
      // extreme of the audit's range)
      // inherits q132's md5-vocab worst-case note; round-10's q398
      // sweeps three sample rates over the same distinct-token extreme
      "q396_walk_coverage", "q397_bpe_holdout", "q398_sample_elbow")
    // q226/q227/q229/q230/q231/q235/q236/q238/q241/q242/q244/q245/q246/q247/q248/q249/q250/q251/q252/q253/q255/q256/q257/q258/q259/q260/q261 are not smoked: the
    // smoke corpus has
    // no events/orders tables and only a 2-column lineitem projection,
    // and their shapes are already-covered classes (q226 = one daily
    // aggregate + calendar-axis windows, the q96 posture; q227 = count
    // aggregates + dim anti-joins, the q05/q07 class; q229/q230 = one
    // stack-unpivot scan + value-keyed hash aggregate, the q22 class;
    // q235 = two hash aggregates + a state-keyed outer merge, the
    // q01/q97 class on state-sized inputs; q236 = a user-keyed band
    // join + purchase-partitioned windows, the q55 interval class;
    // q238 = two blocking equi-joins + a pair distinct + an 8-row
    // pattern agg over customer, which the smoke corpus lacks;
    // q241 = user-partitioned windows + the q204 block-sweep over
    // events, which the smoke corpus lacks;
    // q242 = q241's sessionizer + bounded-axis windows + a step-table
    // driver walk — every corpus-sized stage is an already-smoked class;
    // q244 = two event-slice aggs + arm aggs over user-sized relations,
    // the q103 broadcast-stats class, and needs the events table;
    // q245 needs customer, and its explode + equi-join + pair-agg shape
    // is the q31 banded-join class with alphabet-bounded buckets;
    // q246 needs orders + full lineitem and is two per-key count aggs —
    // the q01 class — with key-sized everything after;
    // q247 needs full lineitem and is one conditional-agg scan, the
    // q01 class exactly;
    // q248 needs events and is one scan agg + bounded-axis metadata
    // joins, the q225 bounded-value-axis class;
    // q249 needs events and is q236's band join + an 8-row metadata
    // game — the q55 interval class feeding a constant-size solve;
    // q250 needs orders; bloom build is one distinct + BIT_OR agg and
    // the audit is probes×shards metadata, the q232 manifest class;
    // q251 needs events; transition counts are the q109 window class
    // and the chain walks are a ≤ 20-row bounded collect;
    // q252 needs events; one band semi-join (q55 class) + conditional
    // aggs + a 4-row broadcast policy;
    // q253 needs orders; one fact agg to customer grain + customer-
    // sized windows, the q96 class;
    // q255 needs orders; first-order agg + a cohort-partitioned
    // bounded-age window, the q96 class;
    // q256 needs customer/orders; a semi-join chain + file-grain agg,
    // the q115 class; q257 needs full lineitem; a rank pass + 16-row
    // boundary joins, the ANALYZE posture; q258 needs l_suppkey and is
    // one distinct to a 4096-cell metadata plane; q259 needs events and
    // is one day-count scan + five 32-slot aggregates; q260 needs
    // customer and is one distinct + a 9-node broadcast expansion;
    // q261 needs part and is a 4-leg union + one rank window)
    // SPARK_GRAFT_SMOKE_ONLY=q123,q124 limits a run to matching targets —
    // the same local profiling aid as Bench's SPARK_GRAFT_BENCH_ONLY
    val selected = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty) match {
      case Some(toks) => targets.filter(n => toks.exists(n.contains))
      case None => targets
    }
    println(s"== smoke mult=$mult docs=$nDocs vecs=$nVecs dir=$dir ==")
    selected.foreach { name =>
      // noop sink, same as Bench: a count() terminal would let Catalyst
      // prune the expression-heavy final projections out of the timing;
      // the row count for the report is taken outside the timed window
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable => System.err.println(s"$name FAILED: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      val rows = if (ok) SparkEntry.queries(name)(spark, dir).count() else -1L
      println(f"$name%-24s $dt%8.2f s  ($rows rows)")
      spark.catalog.clearCache()
    }

    // SemDeDup at the paper's k ∝ N recipe: q122's contract face pins
    // k=8 (oracle), under which within-cluster pair volume is N²/8 —
    // quadratic. Growing k with the corpus holds cluster size at the
    // 10× reference (~2.5k vectors), making pair volume linear in N.
    if (nVecs > 20000) {
      val kScaled = math.max(8, (8L * nVecs / 20000L).toInt)
      val t0k = System.nanoTime()
      graft.ops.Similarity.semanticDedup(spark, dir, kScaled, 2)
        .write.format("noop").mode("overwrite").save()
      val dtk = (System.nanoTime() - t0k) / 1e9
      println(f"semdedup_k_scaled(k=$kScaled%d) $dtk%8.2f s")
      spark.catalog.clearCache()
    }

    // large-graph walker path: force the node-broadcast budget to 0 so
    // every round join takes the co-partitioned shuffle fallback — the
    // plan a billion-node graph would get — and prove it matches the
    // hinted path bit-for-bit at smoke scale (the same demonstration the
    // simhash-vocabulary OOM got when its broadcast was size-gated).
    {
      val key = "spark.graft.graph.broadcastNodeBudget"
      // the derived crossover: one conf (autoBroadcastJoinThreshold)
      // governs Spark's own broadcasts AND the walkers' node budget —
      // print both so the smoke table shows which side of the line
      // this corpus lands on and where the line is
      val budget = graft.ops.Graph.broadcastNodeBudget(spark)
      val nNodes = spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_partkey").distinct().count()
      println(f"walker_budget derived=$budget%d rows (autoBroadcastJoinThreshold/" +
        f"${graft.ops.Graph.NodeRowBytes}%d B) nodes=$nNodes%d → " +
        (if (nNodes <= budget) "broadcast path" else "co-partitioned shuffle path"))
      val hinted = SparkEntry.queries("q143_pagerank")(spark, dir)
        .collect().map(_.toString).toSeq
      spark.conf.set(key, "0")
      val t0w = System.nanoTime()
      val shuffled = SparkEntry.queries("q143_pagerank")(spark, dir)
        .collect().map(_.toString).toSeq
      val dtw = (System.nanoTime() - t0w) / 1e9
      spark.conf.unset(key)
      spark.catalog.clearCache()
      println(f"pagerank_shuffle_fallback $dtw%8.2f s  (${shuffled.size} rows)")
      assert(shuffled == hinted, "shuffle-path walker must equal the hinted walker")
    }

    // block two-pass rank device at corpus scale: the exact global rank
    // the order-statistic segmentation family (q253/q268/q311/q208) now
    // rides, on an nDocs×40-row skewed integer relation, NEXT TO the
    // naive single-partition window it replaced — fingerprint-asserted
    // equal (Σ rn·v + Σ rn·k pins the full assignment incl. tie order),
    // both timed. NOTE the naive window can still win at smoke sizes (a
    // few-million-row sort fits one task comfortably); the device's
    // case is the 10⁸–10⁹-row relation where the single task's sort
    // spills or OOMs — what the smoke proves is equality plus the
    // device's LINEAR cost shape, not a toy-scale win.
    {
      val nr = nDocs * 40
      val rel = spark.range(nr).select(col("id").as("k"),
        expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 12), 16, 10) % 1000000 AS BIGINT)")
          .as("v"))
      // bit_xor, not sum: Σ rn·v would overflow 2⁶³ past ~30× and ANSI
      // mode makes that an error, not a wrap; xor pins the same
      // assignment (incl. tie order via rn·k) at any multiplier
      def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(expr("bit_xor(rn * v)"), expr("bit_xor(rn * k)")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val t0b = System.nanoTime()
      val fpBlocked = fp(graft.ops.BlockRank.globalRowNumberAdaptive(
        rel, col("v"), asc = true, Seq(col("v").asc, col("k").asc), "rn"))
      val dtB = (System.nanoTime() - t0b) / 1e9
      val t0n = System.nanoTime()
      val fpNaive = fp(rel.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("v").asc, col("k").asc)).cast("long")))
      val dtN = (System.nanoTime() - t0n) / 1e9
      println(f"block_rank(n=$nr%d) $dtB%8.2f s  (naive single-partition: $dtN%.2f s)")
      assert(fpBlocked == fpNaive, "block two-pass rank must equal the naive global window")
    }

    // adversarial-diameter connected components: ONE chain of n nodes —
    // min-label propagation's worst case (rounds = diameter = n); the
    // large-star/small-star contraction must collapse it in O(log n)
    // alternations. This is the graph shape (long runs of incremental
    // near-dup edits) that motivates the star fallback at 100 TB.
    val n = nDocs / 10
    val chain = spark.range(n - 1).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val nodes = spark.range(n).select(col("id").as("doc_id"))
    val t0 = System.nanoTime()
    val cc = graft.ops.Dedup.connectedComponentsStar(nodes, chain)
    val nClusters = cc.select("cluster_id").distinct().count()
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"star_cc_chain(n=$n%d) $dt%8.2f s  ($nClusters%d clusters)")
    assert(nClusters == 1, s"chain must collapse to one cluster, got $nClusters")

    // coloring SCC on the 10× dense q358 hierarchy: the r7 closure held
    // 5.6M pairs over 20k nodes at sf0.1 and grows ~quadratically; the
    // coloring's output (and peak label state) is O(cyclic nodes). The
    // leg prints labels vs nodes so the sub-closure state is measured,
    // not asserted from theory, and pins the nontrivial-SCC invariant.
    {
      val nk = 20000L * mult
      val keys = spark.range(1, nk + 1).select(col("id").as("k"))
      val fwd = keys.select(col("k").as("src"), expr("k DIV 4").as("dst"))
      val b3 = keys.filter(col("k") >= 16 && col("k") % 97 === 0)
        .select(expr("k DIV 16").as("src"), col("k").as("dst"))
      val b6 = keys.filter(col("k") >= 1024 && col("k") % 101 === 0)
        .select(expr("k DIV 1024").as("src"), col("k").as("dst"))
      val t0s = System.nanoTime()
      val scc = graft.ops.Graph.sccCyclic(fwd.unionByName(b3).unionByName(b6))
        .persist()
      val nLabels = scc.count()
      val dts = (System.nanoTime() - t0s) / 1e9
      val sizes = scc.groupBy("scc_id").count()
      val minSize = sizes.agg(org.apache.spark.sql.functions.min("count")).head().getLong(0)
      println(f"scc_coloring(nodes=$nk%d) $dts%8.2f s  " +
        f"($nLabels%d labels — the closure here would be pair-quadratic)")
      assert(minSize > 1, "no self-loops planted: every emitted SCC must be nontrivial")
      scc.unpersist()
      spark.catalog.clearCache()
    }

    // MIS on a star: the degenerate hub shape — either the hub beats
    // every leaf (1 round, MIS = hub) or some leaf beats it (all
    // beating leaves join round 1, the hub retires, survivors join
    // round 2). Pins that the fixpoint lands well inside the shared
    // MisUnrollRounds bound on the worst fan-out shape.
    {
      val leaves = nDocs / 10
      val star = spark.range(1, leaves + 1)
        .select(lit(0L).as("src"), col("id").as("dst"))
      val sym = star.unionByName(star.select(col("dst").as("src"), col("src").as("dst")))
      val t0m = System.nanoTime()
      val mis = graft.ops.Graph.misByHash(sym).persist()
      val nMis = mis.count()
      val maxRound = mis.agg(org.apache.spark.sql.functions.max("round_joined")).head().getLong(0)
      val dtm = (System.nanoTime() - t0m) / 1e9
      println(f"mis_star(leaves=$leaves%d) $dtm%8.2f s  ($nMis%d members, $maxRound rounds)")
      assert(maxRound <= 2, s"star MIS must settle in <= 2 rounds, took $maxRound")
      assert(nMis == 1L || nMis == leaves, "star MIS is the hub alone or every leaf")
      mis.unpersist()
      spark.catalog.clearCache()
    }

    // walk corpus on a ring: every node degree 2, maximal step-pick
    // collisions (the hash picks between exactly two neighbors every
    // step) — shape: seeds × (steps+1), all transitions real edges.
    {
      val rn = nDocs / 10
      val ringF = spark.range(rn)
        .select(col("id").as("src"), expr(s"(id + 1) % $rn").as("dst"))
      val ring = ringF.unionByName(ringF.select(col("dst").as("src"), col("src").as("dst")))
      val t0r = System.nanoTime()
      val wc = graft.ops.Graph.walkCorpus(ring, steps = 4, seedMod = 101)
      val nw = wc.count()
      val dtr = (System.nanoTime() - t0r) / 1e9
      val seeds = (rn + 100) / 101
      println(f"walk_ring(n=$rn%d) $dtr%8.2f s  ($nw%d rows)")
      assert(nw == seeds * 5, s"ring walk corpus must be seeds*5 rows, got $nw vs ${seeds * 5}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
