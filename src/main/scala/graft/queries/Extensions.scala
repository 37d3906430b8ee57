package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.ingest.Carbon
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.operators.Graph

/** LLM-data-pipeline operator registry — the training-data operations built
  * on top of the SURVEY §2b inventory, implemented with the idiomatic
  * DataFrame APIs in `graft.llm.*` (not SQL strings).
  *
  * Every entry carries DuckDB oracle SQL (validated to hash-match) —
  * including MinHash/SimHash, whose query variants use the portable
  * polynomial hash family (Dedup.portableHash/AB, constants interpolated
  * into the oracle text so both engines share it bit-for-bit). The
  * xxhash64 variants remain the library's scale path, covered by ScalaTest
  * recall tests against the exact-Jaccard ground truth.
  */
object Extensions {

  /** Documents/embeddings/events loaded from the registered views; the
    * per-row-heavy consumers get Tables.spread (single-split sources would
    * otherwise serialize their string/regex work on one core). */
  private def docs(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir); Tables.spread(spark.table("documents"), "doc_id")
  }
  private def embs(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir); spark.table("embeddings")
  }
  private def events(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir); Tables.spread(spark.table("events"), "event_id")
  }

  /** MM-JPEG-DECODE's generative pixel field: SMOOTH clamped ramps (no mod
    * wraparound — JPEG's DCT hates step edges, smooth fields keep the DC
    * coefficients, and hence channel means, accurate to well under 8/255). */
  private def jr(k: Long, x: Int, y: Int): Int =
    math.min(255, ((k % 97) + x * 3 + y * 2).toInt)
  private def jg(k: Long, x: Int, y: Int): Int =
    math.min(255, ((k % 83) + x * 2 + y * 4).toInt)
  private def jb(k: Long, x: Int, y: Int): Int =
    math.min(255, ((k % 71) + x + y * 3).toInt)
  private def blobsJpeg(ks: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    val s = ks.sparkSession
    import s.implicits._
    ks.map { k =>
      val w = 20 + (k % 6).toInt
      val h = 10 + (k % 5).toInt
      (k, Multimodal.encodeJpeg(w, h, (x, y) => (jr(k, x, y), jg(k, x, y), jb(k, x, y))))
    }.toDF("k", "payload")
  }

  /** Nation trade graph derived from the star schema: directed edge
    * cust-nation → supp-nation for each nation's top-k trading partners
    * by lineitem count (ties broken by partner key — deterministic).
    * The DERIVATION is the distributed-heavy part (a fact-table join +
    * aggregate); the contracted graph is nation-cardinality, which is
    * exactly how graph analytics lands at 100 TB — contract first, then
    * iterate on the small(er) graph. */
  private def tradeEdges(s: SparkSession, d: String, k: Int): DataFrame = {
    Tables.register(s, d)
    val li = Tables.spread(s.table("lineitem"), "l_orderkey")
      .select("l_orderkey", "l_suppkey")
    val ord = s.table("orders").select("o_orderkey", "o_custkey")
    val cust = s.table("customer").select("c_custkey", "c_nationkey")
    val supp = s.table("supplier").select("s_suppkey", "s_nationkey")
    val trade = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("cnt"))
    trade.withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("cnt").desc, col("dst"))))
      .where(col("rn") <= k).select("src", "dst")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // graph analytics over the derived nation trade graph — the real
    // operators (degree-oriented triangle counting, power-iteration
    // PageRank) oracle-hashed, not batch reformulations
    "GRAPH-TRIANGLES" -> ((s, d) =>
      Graph.triangleCount(tradeEdges(s, d, 3), "src", "dst")),
    // pinDecimals=12: every stored rank is exactly-rounded to 12 dp so
    // the DuckDB unrolled replay of the same pinned sequence (10
    // iterations, d=0.85, uniform dangling redistribution) hash-matches
    "GRAPH-PAGERANK" -> ((s, d) =>
      Graph.pageRank(tradeEdges(s, d, 3), "src", "dst",
          iterations = 10, d = 0.85, pinDecimals = 12)
        .orderBy("node")),
    // k-core decomposition over the denser (top-6) trade graph: k=7 peels
    // for 2–3 rounds at every SF and leaves a nonempty core — the unique
    // maximal subgraph with min-degree ≥ 7; synchronous peeling, all
    // key-equality (two semi joins + one degree aggregate per round), the
    // oracle unrolls 5 rounds (fixpoint ⇒ extra rounds are no-ops)
    "GRAPH-KCORE" -> ((s, d) =>
      Graph.kCore(tradeEdges(s, d, 6), "src", "dst", k = 7).orderBy("node")),
    // hop-count SSSP from nation 0 over the trade graph: synchronous
    // Bellman-Ford relaxation (≤ 6 rounds, early fixpoint stop) — whole-
    // number doubles, exact either engine; the oracle unrolls the same
    // relaxation (fixpoint ⇒ extra unrolled rounds are no-ops)
    "GRAPH-SSSP" -> { (s, d) =>
      Graph.shortestPaths(
          tradeEdges(s, d, 3).withColumn("w", lit(1.0)),
          "src", "dst", "w", source = 0L, maxHops = 6)
        .orderBy("node")
    },
    // PII scrub: fixtures carry no PII, so the query synthesizes
    // deterministic PII-shaped text from part columns (identically on
    // both engines) and redacts it — emails, IPs, phone shapes, long
    // digit runs → typed placeholders, in the documented order
    "TEXT-SCRUB" -> { (s, d) =>
      Tables.register(s, d)
      val p = s.table("part").where(col("p_partkey") <= 2000)
      val raw = concat(col("p_name"), lit(" mail u"), col("p_partkey"),
        lit("@ex.com ip 10.0."), col("p_partkey") % 256,
        lit(".7 tel 555-"),
        lpad((col("p_partkey") % 1000).cast("string"), 3, "0"),
        lit("-1234 id "), col("p_partkey") * 104729)
      p.select(col("p_partkey").as("k"),
          TextAnalysis.redactPii(raw).as("scrubbed"))
        .orderBy("k").limit(100)
    },
    "TEXT-QUALITY" -> ((s, d) =>
      TextAnalysis.quality(docs(s, d)).orderBy(col("doc_id")).limit(50)),
    "TEXT-LANGID" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy(col("doc_id")).limit(60)),
    "TEXT-FINGERPRINT" -> ((s, d) =>
      TextAnalysis.fingerprint(docs(s, d)).orderBy(col("doc_id")).limit(60)),
    "TEXT-NORMALIZE" -> ((s, d) =>
      TextAnalysis.normalized(docs(s, d)).orderBy(col("doc_id")).limit(50)),
    // two token budgets per doc: whitespace words + BPE-ish regex units
    "TEXT-TOKENS-BPE" -> ((s, d) =>
      TextAnalysis.bpeTokenCounts(docs(s, d)).orderBy(col("doc_id")).limit(60)),
    // normalization composed into exact dedup: trivially-variant docs
    // (case/punct/whitespace) collapse to one digest group
    "LLM-DEDUP-NORM" -> ((s, d) => docs(s, d)
      .groupBy(md5(TextAnalysis.normalize(col("text"))).as("digest"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep"))
      .filter(col("n_docs") > 1)
      .orderBy(col("digest"))),
    // the prep pipeline composed end-to-end: quality filter → context-
    // window chunking → per-language chunk-dedup summary. One oracle
    // query proving the stages COMPOSE, not just pass individually.
    "LLM-PREP-PIPELINE" -> { (s, d) =>
      val dd = docs(s, d)
      val kept = dd.join(
        TextAnalysis.quality(dd)
          .filter(col("n_tokens") >= 20 && col("stop_ratio") >= 0.05)
          .select("doc_id"),
        "doc_id")
      val toks = split(col("text"), " ")
      kept.select(col("doc_id"), col("lang"), toks.as("toks"))
        .select(col("doc_id"), col("lang"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(40))).as("st"))
        .select(col("doc_id"), col("lang"),
          md5(concat_ws(" ", slice(col("toks"), col("st"), lit(50)))).as("chunk_md5"))
        .groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("docs_kept"),
          count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_md5")).as("n_uniq_chunks"))
        .orderBy("lang")
    },
    "LLM-JACCARD-PAIRS" -> ((s, d) =>
      Dedup.jaccardPairs(docs(s, d), n = 3, threshold = 0.8)
        .orderBy(col("jac").desc, col("da"), col("db")).limit(100)),
    // the SAME exact pair set served by the prefix-filtered join
    // (Dedup.jaccardPairsPrefix): only each doc's rarest shingles
    // generate candidates, survivors verified exactly — bit-identical
    // output, so the two IDs share one oracle text
    "LLM-JACCARD-PREFIX" -> ((s, d) =>
      Dedup.jaccardPairsPrefix(docs(s, d), n = 3, threshold = 0.8)
        .orderBy(col("jac").desc, col("da"), col("db")).limit(100)),
    // the dedup endgame: transitive closure of the near-dup pair graph —
    // iterative min-label propagation (not expressible as one SQL statement
    // on the Spark side; the oracle twin is a recursive CTE)
    "LLM-DUP-CLUSTERS" -> ((s, d) =>
      Dedup.connectedComponents(
          Dedup.jaccardPairs(docs(s, d), n = 3, threshold = 0.8).select("da", "db"))
        .orderBy("cluster_id", "doc_id")),
    // the full user-facing dedup pipeline, oracle-checked: exact-clone
    // collapse → exact-jaccard pairs over unique texts → connected
    // components → drop non-representative members; output = kept ids
    "LLM-DEDUP-SWEEP" -> ((s, d) =>
      Dedup.dedupCorpus(docs(s, d), dd => Dedup.jaccardPairs(dd, n = 3, threshold = 0.8))
        .select("doc_id").orderBy("doc_id").limit(500)),
    // decontamination: treat the first 20 docs as the benchmark suite and
    // flag corpus documents containing >= 50% of a probe's shingles —
    // the asymmetric measure that catches quoted passages inside long
    // documents where symmetric Jaccard stays tiny
    "LLM-CONTAIN" -> { (s, d) =>
      val corpus = docs(s, d)
      Dedup.containmentPairs(corpus, corpus.filter(col("doc_id") < 20),
          n = 3, threshold = 0.5)
        .orderBy("probe_id", "doc_id").limit(100)
    },
    // substring-level dedup AFTER doc-level dedup (Lee et al. 2022):
    // maximal cross-document repeated spans from positioned 8-token
    // shingle buckets — key-equality throughout, merge window per doc
    "LLM-SPAN-DEDUP" -> ((s, d) =>
      Dedup.repeatedSpans(docs(s, d), k = 8, minDocs = 2)
        .orderBy("doc_id", "span_start")),
    // the removal half: scrub the flagged spans out of the affected docs
    // (whole-doc repeats scrub to clean_text = '')
    "LLM-SPAN-SCRUB" -> { (s, d) =>
      val corpus = docs(s, d)
      Dedup.removeSpans(corpus, Dedup.repeatedSpans(corpus, k = 8, minDocs = 2))
        .orderBy("doc_id")
    },
    "LLM-MINHASH-LSH" -> ((s, d) =>
      Dedup.minhashPairs(docs(s, d), n = 3, numHashes = 16, bands = 8,
          estThreshold = 0.5, baseHash = Dedup.portableHash)
        .orderBy(col("da"), col("db"))),
    "LLM-SIMHASH" -> ((s, d) =>
      Dedup.simhashPairsPortable(docs(s, d), n = 3, maxDist = 3)
        .orderBy(col("da"), col("db"))),
    "LLM-EMB-PAIRS" -> ((s, d) => Similarity.topPairs(embs(s, d), 10)),
    "LLM-EMB-NEARDUP" -> ((s, d) => Similarity.nearDupEmbPairs(embs(s, d), 0.35, bits = 4)),
    "LLM-ANN-IVF" -> ((s, d) => Similarity.ivfTopK(embs(s, d), probeId = 0L, k = 5)),
    // bits=4 in the query variant: 16 buckets keeps the probe's bucket
    // populated at oracle SFs (8+ bits is the realistic large-corpus value)
    "LLM-COSINE-LSH" -> ((s, d) => Similarity.hyperplaneTopK(embs(s, d), probeId = 0L, k = 5, bits = 4)),
    "LLM-ANN-MULTIPROBE" -> ((s, d) =>
      Similarity.hyperplaneMultiProbeTopK(embs(s, d), probeId = 0L, k = 5, bits = 4)),
    "LLM-ANN-PROBES" -> ((s, d) =>
      Similarity.multiProbeTopK(embs(s, d), Seq(0L, 1L, 2L), k = 3)
        .orderBy(col("probe_id"), col("rank"))),
    // distributed PCA end-to-end under the bound-check contract: one
    // moment-partials pass (count/Σx/Σxxᵀ per partition — fixed-size
    // metadata at any corpus size) → driver Jacobi eigensolve of the d×d
    // covariance → per-row projection + long-way reconstruction. All
    // deterministic, so the bounds are constants: ve(8) ≥ 0.15 on this
    // near-isotropic fixture (measured 0.20), and reconstruction error
    // must equal 1 − varianceExplained to 1e-6 (cross-validating the
    // projection path against the eigenvalues)
    "LLM-EMB-PCA" -> { (s, d) =>
      import s.implicits._
      val e = embs(s, d)
      val m = graft.llm.Pca.fit(e, dims = 64, k = 8)
      val ve = m.varianceExplained(8)
      val re = graft.llm.Pca.reconstructionError(e, m)
      val n = graft.llm.Pca.project(e, m).count()
      Seq((n, 8, ve >= 0.15, math.abs(re - (1.0 - ve)) < 1e-6))
        .toDF("n", "k", "ve_ok", "recon_ok")
    },
    // the PERSISTED IVF+PQ index end-to-end (write cell-partitioned 8-byte
    // codes + centroid/codebook sidecars, probe via partition-pruned ADC +
    // exact rerank) under the bound-check contract the sketch queries use:
    // everything is deterministic (seeded sample, first-k-distinct init),
    // so per-probe recall vs the exact top-10 is a FIXED number and the
    // oracle predicts the recall bound as a constant boolean
    "LLM-ANN-INDEXED" -> { (s, d) =>
      import s.implicits._
      val e = embs(s, d)
      val path = java.nio.file.Files.createTempDirectory("graft_ivfpq")
        .toString + "/idx"
      graft.llm.Pq.writeIvfPqIndex(e, path, cells = 8, iters = 5)
      val probeIds = Seq(0L, 1L, 2L)
      // ONE scan resolves every probe vector (was one head() job per probe)
      val pvecs = e.where(col("vec_id").isInCollection(probeIds))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      // ONE window-ranked job computes every probe's exact top-10 (same
      // (cos desc, vec_id) order as cosineTopK — identical sets)
      val exactAll = Similarity.multiProbeTopK(e, probeIds, 10)
        .select("probe_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      // index sidecars (PQ codebooks + coarse centroids) load once; the
      // three pruned ANN probes are independent two-job chains — overlap
      // them so one probe's straggler tail backfills with the next
      // (results come back in probe order)
      val models = graft.llm.Pq.readIndexModels(s, path)
      val rows = graft.core.Overlap.all(s,
          scala.concurrent.duration.Duration(10, "min"))(probeIds.map { pid =>
        () => {
          val ann = graft.llm.Pq.ivfPqTopKIndexed(s, path, models,
              pvecs(pid), kTop = 10, nprobe = 4, rerank = 64)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          val recall = (ann & exactAll(pid)).size / 10.0
          // measured 0.8-0.9 at oracle SFs; 0.5 is the contract bound
          (pid, ann.size, recall >= 0.5)
        }
      })
      rows.toDF("probe_id", "n", "recall_ok")
    },
    // SemDeDup (Abbas et al. 2023) end-to-end under the bound-check
    // contract: k-means cells → within-cell near-dup edges → connected
    // components → keep min-id per component. The oracle predicts the
    // exact corpus count plus three POST-CONDITIONS that are theorems of
    // a correct implementation (so any bucketing/CC/anti-join bug flips
    // one to false): (a) no two KEPT docs within a cell are near-dups,
    // (b) every DROPPED doc touches at least one near-dup edge, (c) the
    // kept fraction sits in a wide fixture band (SemDedupProbe measured
    // 0.75 / 0.74 / 0.22 at sf0.001/0.01/0.1, θ=0.35; bound [0.05, 0.98]
    // — also proves the dedup dropped something AND kept something).
    "LLM-SEMDEDUP" -> { (s, d) =>
      import s.implicits._
      val e = embs(s, d).cache()
      val thr = 0.35
      val caches = scala.collection.mutable.ListBuffer[DataFrame](e)
      try {
        val model = Similarity.kmeansCentroids(e, k = 4, iters = 3)
        // ONE cached edge list feeds the dedup AND all three checks
        val pairs = Similarity.cellNearDupPairs(e, thr, model).cache()
        val kept = Similarity.semanticDedupFromPairs(e, pairs).cache()
        caches += pairs += kept
        // kept near-dup check rides the SAME edges: an edge with both
        // endpoints kept is exactly a kept-pair near-dup
        val keptIds = kept.select(col("vec_id")).cache()
        caches += keptIds
        val keptNearDups = pairs
          .join(keptIds.withColumnRenamed("vec_id", "va"), Seq("va"))
          .join(keptIds.withColumnRenamed("vec_id", "vb"), Seq("vb"))
        val linked = pairs.select(col("va").as("vid"))
          .union(pairs.select(col("vb").as("vid"))).distinct()
        val unlinkedDropped = e.select("vec_id")
          .join(keptIds, Seq("vec_id"), "left_anti")
          .join(linked, col("vec_id") === col("vid"), "left_anti")
        // all four check scalars in ONE job: a union of independent one-row
        // aggregates over the cached frames (was four sequential count()
        // actions = four job round-trips)
        def scalar(tag: String, df: DataFrame) =
          df.agg(count(lit(1)).as("v")).select(lit(tag).as("k"), col("v"))
        val stats = scalar("n", e)
          .unionAll(scalar("nk", kept))
          .unionAll(scalar("kd", keptNearDups))
          .unionAll(scalar("ud", unlinkedDropped))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val frac = stats("nk").toDouble / stats("n")
        Seq((stats("n"), stats("kd") == 0L, stats("ud") == 0L,
            frac >= 0.05 && frac <= 0.98))
          .toDF("n", "no_kept_neardups_ok", "dropped_linked_ok", "kept_frac_ok")
        // every check already collapsed to a scalar — caches can go
      } finally caches.foreach(_.unpersist())
    },
    "MM-BINARY-META" -> ((s, d) =>
      Multimodal.binaryMeta(Multimodal.documentsAsMedia(s, docs(s, d)).toDF())
        .orderBy(col("media_id")).limit(50)),
    // REAL animated-GIF keyframe sampling end-to-end: encode k-keyed
    // multi-frame GIFs (uniform color per frame — palette-exact, so the
    // decoded channel means equal the generative formula EXACTLY), then
    // sample every 2nd frame through the JDK codec. The whole encode/
    // decode round-trip happens executor-side; DuckDB replays the frame
    // grid + color formula analytically.
    "MM-GIF-FRAMES" -> { (s, d) =>
      import s.implicits._
      val ks = docs(s, d).where(col("doc_id") < 12)
        .select(col("doc_id")).as[Long]
      val blobs = ks.map { k =>
        val w = 16 + (k % 5).toInt
        val h = 8 + (k % 3).toInt
        val nf = 2 + (k % 4).toInt
        (k, Multimodal.encodeAnimatedGif(w, h, nf, (f, _, _) =>
          (((k * 7 + f * 11) % 256).toInt,
           ((k * 5 + f * 13) % 256).toInt,
           ((k * 3 + f * 17) % 256).toInt)))
      }
      blobs.flatMap { case (k, bytes) =>
        Multimodal.gifFrameSample(bytes, step = 2).map { case (idx, i) =>
          (k, idx, i.width, i.height, i.meanR, i.meanG, i.meanB)
        }
      }.toDF("k", "frame_idx", "width", "height", "mr", "mg", "mb")
        .orderBy("k", "frame_idx")
    },
    "PARSE-COMMAKEYS" -> { (s, d) =>
      val metric = concat(lit("svc."), col("event_type"), lit(".count[user="),
        col("user_id").cast("string"), lit(",ev="), col("event_id").cast("string"), lit("]"))
      val dims = Carbon.CommaKeysDeconstructor.dimensions(metric)
      events(s, d).select(
        Carbon.CommaKeysDeconstructor.base(metric).as("metric"),
        element_at(dims, "user").cast("long").as("u"),
        element_at(dims, "ev").cast("long").as("e"))
        .orderBy(col("e")).limit(50)
    },
    // the rewrite middleware chain on synthesized datapoints: decorate
    // dimensions (existing keys win) → allow/deny filter → regex rename →
    // aggregate. DuckDB checks the equivalent direct computation.
    "PARSE-REWRITE" -> { (s, d) =>
      import graft.ingest.Rewrite
      val pts = events(s, d).select(
        concat(lit("svc."), col("event_type"), lit(".count")).as("metric"),
        col("value"),
        map(lit("user"), col("user_id").cast("string")).as("dimensions"))
      val rewritten = Rewrite.renameMetric(
        Rewrite.filterMetrics(
          Rewrite.addDimensions(pts, Map("dc" -> "us1")),
          allow = Some("^svc\\."), deny = Some("purchase")),
        "^svc\\.", "service.")
      rewritten.groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          countDistinct(element_at(col("dimensions"), "user")).as("nu"),
          max(element_at(col("dimensions"), "dc")).as("dc"))
        .orderBy("metric")
    },
    "PARSE-DELIMITER" -> { (s, d) =>
      val metric = concat(lit("svc."), col("event_type"), lit(".count"))
      val dims = Carbon.DelimiterDeconstructor(Seq("ns", "etype", "stat")).dimensions(metric)
      events(s, d).select(
        col("event_id").as("e"),
        element_at(dims, "ns").as("ns"),
        element_at(dims, "etype").as("etype"),
        element_at(dims, "stat").as("stat"))
        .orderBy(col("e")).limit(50)
    },
    // full wire round-trip: orders → SignalFx protobuf upload payloads
    // (one per partition) → decode → aggregate. The codec round-trip is
    // the identity, so DuckDB checks the same aggregate computed directly —
    // a real hash oracle over the §2a protobuf listener/forwarder pair.
    "PARSE-SFXPROTO" -> { (s, d) =>
      Tables.register(s, d)
      import graft.ingest.SignalFxProto
      val points = Tables.spread(s.table("orders"), "o_orderkey").select(
        lit(null).cast("string").as("source"),
        concat(lit("order."), col("o_orderstatus")).as("metric"),
        (col("o_orderkey") * lit(1000L)).as("timestamp"),
        lit(null).cast("string").as("strValue"),
        col("o_totalprice").cast("double").as("doubleValue"),
        lit(null).cast("long").as("intValue"),
        lit("GAUGE").as("metricType"),
        map(lit("pri"), col("o_orderpriority")).as("dimensions"))
      val sq = s
      import sq.implicits._
      SignalFxProto.decode(SignalFxProto.encode(points.as[SignalFxProto.SfxPoint]))
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("doubleValue").cast("decimal(18,2)")).cast("double"), 2).as("total"),
          countDistinct(element_at(col("dimensions"), "pri")).as("npri"),
          max(col("timestamp")).as("max_ts"))
        .orderBy("metric")
    },
    // batch-replay twin of StreamingOps.intervalJoin (same pattern as
    // STREAM-TUMBLE/SESSION/DEDUP): the DSL calls the REAL streaming
    // operator — withWatermark is a no-op on batch frames — so the oracle
    // checks the exact join the streaming attribution pipeline runs.
    // Purchases attribute to same-user clicks at most 30 min earlier.
    "STREAM-JOIN" -> { (s, d) =>
      val ev = events(s, d)
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("buy_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("click_ts"))
      graft.streaming.StreamingOps.intervalJoin(buys, clicks, "user_id",
          "buy_ts", "click_ts", "30 minutes", "1 minute", "1 minute")
        .groupBy(col("p_id"))
        .agg(count(lit(1)).as("n_clicks"), max(col("c_id")).as("last_click"))
        .orderBy("p_id").limit(100)
    },
    // Pure range join (NO equi key): naive Spark plans a
    // BroadcastNestedLoopJoin (every point x every interval); the DSL
    // runs operators.RangeJoin's domain-bucketed equi-join instead —
    // PlanAuditSpec asserts no BNLJ/cartesian. The oracle is the plain
    // theta join (DuckDB's IEJoin handles it at oracle scale).
    "JOIN-RANGE-SCALE" -> { (s, d) =>
      Tables.register(s, d)
      val iv = s.table("orders").filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") / 100).as("lo"),
          (col("o_totalprice") / 100 + 200).as("hi"))
      val pts = s.table("lineitem").select(col("l_extendedprice").as("p"))
      graft.operators.RangeJoin.pointInInterval(pts, "p", iv, "lo", "hi")
        .groupBy("o_orderkey").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderkey").limit(100)
    },
    // streaming-NATIVE tumble/slide (same trick as STREAM-SESSION-NATIVE):
    // the DSL calls the REAL StreamingOps.tumble/slide — the `window()`
    // operator behaves identically on batch frames — so the oracle hashes
    // the exact epoch-aligned windows the streaming rollup emits (counts
    // and window starts are exact integers; the contract shapes
    // STREAM-TUMBLE/SLIDE check the equivalent bucket arithmetic instead)
    // linear interpolation across gaps — the fill policy TS-GAPFILL
    // (zero-fill) and TS-LOCF (carry-forward) both lack
    // (graphite interpolate()): observed hours keep their value, interior
    // gaps take the time-weighted line between the bracketing
    // observations, head/tail gaps extend the nearest observation. Same
    // grid as TS-GAPFILL plus one backward-looking window; all gap
    // arithmetic in DOUBLE on both engines so the 4dp hash is bit-stable.
    "TS-INTERP" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
      val b = ev.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sv"))
        // hour-bucket-bounded; feeds BOTH the per-series range (grid
        // bounds) and the grid join — materialize once instead of
        // re-aggregating events per consumer
        .localCheckpoint()
      val rng = b.groupBy("event_type").agg(min("hr").as("lo"), max("hr").as("hi"))
      val grid = rng.select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hr"))
      val ord = Window.partitionBy("event_type").orderBy("hr")
      val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val ep = col("hr").cast("double")
      grid.join(b, Seq("event_type", "hr"), "left")
        .withColumn("pv", last(col("sv"), ignoreNulls = true).over(back))
        .withColumn("ph",
          last(when(col("sv").isNotNull, ep), ignoreNulls = true).over(back))
        .withColumn("nv", first(col("sv"), ignoreNulls = true).over(fwd))
        .withColumn("nh",
          first(when(col("sv").isNotNull, ep), ignoreNulls = true).over(fwd))
        .select(col("event_type"), col("hr").cast("long").as("hr"),
          // NOT round(): interpolation lands on exact 4dp ties (x.xxxx5),
          // where Spark rounds the decimal STRING of the double (HALF_UP on
          // BigDecimal.valueOf) but DuckDB rounds the binary double —
          // disagreeing by 1 ulp of the 4th decimal. floor(x·1e4 + 0.5)/1e4
          // is pure double arithmetic, bit-identical on identical inputs.
          (floor((when(col("sv").isNotNull, col("sv"))
              .when(col("pv").isNotNull && col("nv").isNotNull,
                col("pv") + (col("nv") - col("pv")) *
                  (ep - col("ph")) / (col("nh") - col("ph")))
              .otherwise(coalesce(col("pv"), col("nv")))) * lit(1e4) + lit(0.5))
            / lit(1e4)).as("v"))
        .orderBy("event_type", "hr")
    },
    // REAL media decode, oracle-checked: deterministic PCM waveforms are
    // ENCODED as genuine RIFF/WAV blobs (44-byte header, LE samples) and
    // then DECODED by the real chunk-walking parser; the oracle computes
    // the expected sample stats analytically from the generative formula,
    // so any header/offset/endianness bug in the decoder hash-mismatches
    "MM-WAV-DECODE" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      val blobs = ks.map { k =>
        val n = 400 + (k % 50).toInt
        val samples = Array.tabulate(n)(i =>
          (((k * 31 + i * 7) % 2048) - 1024).toShort)
        (k, Multimodal.encodeWav(8000, samples))
      }.toDF("k", "payload")
      blobs.as[(Long, Array[Byte])].map { case (k, p) =>
          val w = Multimodal.decodeWav(p)
          (k, w.sampleRate, w.nSamples, w.meanAbs)
        }.toDF("k", "sample_rate", "n_samples", "mean_abs_raw")
        .select(col("k"), col("sample_rate"), col("n_samples"),
          (floor(col("mean_abs_raw") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_abs"))
        .orderBy("k")
    },
    // same contract for images: deterministic pixels → genuine 24-bit BMP
    // (bottom-up rows, 4-byte padding, BGR) → real parser → per-channel
    // means vs the analytic oracle
    "MM-BMP-DECODE" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      val blobs = ks.map { k =>
        val w = 16 + (k % 8).toInt
        val h = 8 + (k % 4).toInt
        (k, Multimodal.encodeBmp(w, h, (x, y) => (
          ((k + x * 3 + y * 5) % 256).toInt,
          ((k * 2 + x * 7 + y) % 256).toInt,
          ((k * 3 + x + y * 11) % 256).toInt)))
      }.toDF("k", "payload")
      blobs.as[(Long, Array[Byte])].map { case (k, p) =>
          val b = Multimodal.decodeBmp(p)
          (k, b.width, b.height, b.meanR, b.meanG, b.meanB)
        }.toDF("k", "width", "height", "r", "g", "b")
        .select(col("k"), col("width"), col("height"),
          (floor(col("r") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_r"),
          (floor(col("g") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_g"),
          (floor(col("b") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_b"))
        .orderBy("k")
    },
    // windowed RMS energy through the REAL wav pipeline (encode → parse →
    // per-window fold); the oracle computes each window's sum-of-squares
    // analytically from the sample formula — no bytes on the oracle side
    "MM-WAV-RMS" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      val blobs = ks.map { k =>
        val n = 400 + (k % 50).toInt
        val samples = Array.tabulate(n)(i =>
          (((k * 31 + i * 7) % 2048) - 1024).toShort)
        (k, Multimodal.encodeWav(8000, samples))
      }.toDF("k", "payload")
      blobs.as[(Long, Array[Byte])].flatMap { case (k, p) =>
          Multimodal.wavRms(p, 100).zipWithIndex.map { case (r, w) => (k, w, r) }
        }.toDF("k", "w", "rms_raw")
        .select(col("k"), col("w"),
          (floor(col("rms_raw") * lit(1e4) + lit(0.5)) / lit(1e4)).as("rms"))
        .orderBy("k", "w")
    },
    // frequency analysis through the REAL wav pipeline: synthesize a pure
    // tone at an EXACT bin frequency (bin = 3 + k%13 of a 64-sample
    // window), encode as genuine RIFF/WAV, decode, and take each window's
    // dominant DFT bin — which must equal the planted bin for EVERY
    // window (a pure tone at an exact bin frequency has all its energy in
    // that bin); the oracle replays the bin formula analytically
    "MM-WAV-SPECTRUM" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      val blobs = ks.map { k =>
        val bin = 3 + (k % 13).toInt
        val n = 256 + (k % 3).toInt * 64
        val samples = Array.tabulate(n)(i =>
          math.round(8000.0 * math.sin(2.0 * math.Pi * bin * i / 64)).toShort)
        (k, Multimodal.encodeWav(8000, samples))
      }.toDF("k", "payload")
      blobs.as[(Long, Array[Byte])].flatMap { case (k, p) =>
          Multimodal.wavDominantBin(p, 64).zipWithIndex.map {
            case (b, w) => (k, w, b)
          }
        }.toDF("k", "w", "bin")
        .orderBy("k", "w")
    },
    // nearest-neighbor thumbnailing through the REAL pixel path: encode a
    // genuine BMP, resize it (index math on the actual bytes), decode the
    // RESIZED blob; the oracle replays the sampled-index formula
    "MM-BMP-RESIZE" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      val blobs = ks.map { k =>
        val w = 16 + (k % 8).toInt
        val h = 8 + (k % 4).toInt
        (k, Multimodal.encodeBmp(w, h, (x, y) => (
          ((k + x * 3 + y * 5) % 256).toInt,
          ((k * 2 + x * 7 + y) % 256).toInt,
          ((k * 3 + x + y * 11) % 256).toInt)))
      }.toDF("k", "payload")
      blobs.as[(Long, Array[Byte])].map { case (k, p) =>
          val b = Multimodal.decodeBmp(Multimodal.resizeBmpNearest(p, 8, 4))
          (k, b.width, b.height, b.meanR, b.meanG, b.meanB)
        }.toDF("k", "width", "height", "r", "g", "b")
        .select(col("k"), col("width"), col("height"),
          (floor(col("r") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_r"),
          (floor(col("g") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_g"),
          (floor(col("b") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_b"))
        .orderBy("k")
    },
    // COMPRESSED image decode through the JDK's real PNG codec
    // (javax.imageio — deflate inflate, scanline unfiltering): encode
    // deterministic pixels as genuine PNG blobs, decode them back, emit
    // per-channel means. PNG is LOSSLESS, so the means must match the
    // generative formula EXACTLY — the analytic oracle replays the
    // formula with no bytes involved; any codec-path bug hash-mismatches
    "MM-PNG-DECODE" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      val blobs = ks.map { k =>
        val w = 20 + (k % 6).toInt
        val h = 10 + (k % 5).toInt
        (k, Multimodal.encodePng(w, h, (x, y) => (
          ((k * 5 + x * 2 + y * 7) % 256).toInt,
          ((k + x * 11 + y * 3) % 256).toInt,
          ((k * 7 + x * 5 + y) % 256).toInt)))
      }.toDF("k", "payload")
      blobs.as[(Long, Array[Byte])].map { case (k, p) =>
          val i = Multimodal.decodeImage(p)
          (k, i.format, i.width, i.height, i.meanR, i.meanG, i.meanB)
        }.toDF("k", "fmt", "width", "height", "r", "g", "b")
        .select(col("k"), col("fmt"), col("width"), col("height"),
          (floor(col("r") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_r"),
          (floor(col("g") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_g"),
          (floor(col("b") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_b"))
        .orderBy("k")
    },
    // GIF through the JDK codec: LZW is lossless and the writer keeps an
    // exact palette when the image has ≤256 distinct colors — the 64-level
    // gray field round-trips bit-exact, so the analytic oracle is exact
    // (all three channel means equal the gray mean)
    "MM-GIF-DECODE" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      val blobs = ks.map { k =>
        val w = 18 + (k % 7).toInt
        val h = 9 + (k % 6).toInt
        (k, Multimodal.encodeGif(w, h, (x, y) => {
          val v = (((k * 3 + x * 5 + y * 7) % 64) * 4).toInt
          (v, v, v)
        }))
      }.toDF("k", "payload")
      blobs.as[(Long, Array[Byte])].map { case (k, p) =>
          val i = Multimodal.decodeImage(p)
          (k, i.format, i.width, i.height, i.meanR, i.meanG, i.meanB)
        }.toDF("k", "fmt", "width", "height", "r", "g", "b")
        .select(col("k"), col("fmt"), col("width"), col("height"),
          (floor(col("r") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_r"),
          (floor(col("g") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_g"),
          (floor(col("b") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_b"))
        .orderBy("k")
    },
    // TIFF through the JDK codec: uncompressed/lossless RGB — the full
    // wraparound pixel field round-trips bit-exact like PNG
    "MM-TIFF-DECODE" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      val blobs = ks.map { k =>
        val w = 21 + (k % 5).toInt
        val h = 11 + (k % 4).toInt
        (k, Multimodal.encodeTiff(w, h, (x, y) => (
          ((k + x * 11 + y * 3) % 256).toInt,
          ((k * 2 + x * 2 + y * 13) % 256).toInt,
          ((k * 7 + x * 7 + y) % 256).toInt)))
      }.toDF("k", "payload")
      blobs.as[(Long, Array[Byte])].map { case (k, p) =>
          val i = Multimodal.decodeImage(p)
          (k, i.format, i.width, i.height, i.meanR, i.meanG, i.meanB)
        }.toDF("k", "fmt", "width", "height", "r", "g", "b")
        .select(col("k"), col("fmt"), col("width"), col("height"),
          (floor(col("r") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_r"),
          (floor(col("g") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_g"),
          (floor(col("b") * lit(1e4) + lit(0.5)) / lit(1e4)).as("mean_b"))
        .orderBy("k")
    },
    // JPEG through the JDK's real DCT codec: dimensions decode EXACTLY;
    // pixel values are lossy, so the contract asserts each channel mean
    // lands within a tolerance of the generative formula's mean (smooth
    // gradients keep JPEG's DC coefficients accurate to well under 8/255)
    // — the oracle predicts dims analytically and `ok` as true
    "MM-JPEG-DECODE" -> { (s, d) =>
      import s.implicits._
      Tables.register(s, d)
      val ks = s.table("part").where(col("p_partkey") <= 100)
        .select(col("p_partkey")).as[Long]
      blobsJpeg(ks).as[(Long, Array[Byte])].map { case (k, p) =>
          val i = Multimodal.decodeImage(p)
          val w = 20 + (k % 6).toInt
          val h = 10 + (k % 5).toInt
          // analytic means of the SMOOTH generative field (clamped ramps,
          // no mod wraparound — JPEG hates step edges)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              sr += jr(k, x, y); sg += jg(k, x, y); sb += jb(k, x, y); x += 1
            }
            y += 1
          }
          val n = (w * h).toDouble
          val ok = i.format == "jpeg" &&
            math.abs(i.meanR - sr / n) < 8 &&
            math.abs(i.meanG - sg / n) < 8 &&
            math.abs(i.meanB - sb / n) < 8
          (k, i.width, i.height, ok)
        }.toDF("k", "width", "height", "ok")
        .orderBy("k")
    },
    // ZERO-EXCHANGE bucketed fact-fact join: both sides are written
    // bucketBy(join key) + sortBy first (Layout.bucketedWrite — the
    // pre-shuffle-once-at-write-time layout), then joined — the scans'
    // bucket metadata already satisfies the join's hash distribution, so
    // at 100 TB the repeated join pays NO shuffle on either side.
    // PlanAuditSpec asserts the join stage is Exchange-free; the oracle is
    // the PLAIN join SQL (bucketing is a layout, never a semantics change)
    "JOIN-BUCKETED" -> { (s, d) =>
      Tables.register(s, d)
      val sfx = graft.operators.Layout.dirSuffix(d)
      val liT = s"graft_bkt_li_$sfx"
      val ordT = s"graft_bkt_ord_$sfx"
      // the two bucketed layouts are independent writes — overlap them so
      // one write's commit/straggler tail backfills with the other's tasks
      graft.core.Overlap.all(s)(Seq(
        () => graft.operators.Layout.bucketedWrite(
          s.table("lineitem").select("l_orderkey", "l_quantity", "l_extendedprice"),
          "l_orderkey", 8, liT),
        () => graft.operators.Layout.bucketedWrite(
          s.table("orders").select("o_orderkey", "o_orderpriority"),
          "o_orderkey", 8, ordT)))
      val li = s.table(liT)
      val ord = s.table(ordT)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("qty"),
          round(sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("base"))
        .orderBy("o_orderpriority")
    },
    // semi-join reduction: bloom-prune the big side BEFORE the shuffle
    // with a sketch of the (selective) small side's keys — false
    // positives only waste shuffle, false negatives cannot occur, so the
    // result is EXACTLY the plain join's, which is the oracle
    "JOIN-BLOOM" -> { (s, d) =>
      Tables.register(s, d)
      val li = Tables.spread(s.table("lineitem"), "l_orderkey")
      val urgent = s.table("orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      graft.operators.Skew.bloomPrunedJoin(li, urgent,
          "l_orderkey", "o_orderkey", expectedItems = 100000L, fpp = 0.01)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("base"))
        .orderBy("l_returnflag")
    },
    // hot-key salting: the large side takes a deterministic per-row salt,
    // the small side replicates once per salt value, the join key becomes
    // (key, salt) — a hot key spreads over `salts` reducers. Exact for
    // equi-joins (each large row still meets each match exactly once), so
    // the oracle is the plain join
    "JOIN-SALTED" -> { (s, d) =>
      Tables.register(s, d)
      val li = Tables.spread(s.table("lineitem"), "l_orderkey")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val supp = s.table("supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(li, supp, "suppkey", salts = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("qty"))
        .orderBy("s_nationkey")
    },
    // Z-ORDER clustered rewrite end-to-end: write events z-ordered on
    // (user_id, value) — the Morton interleave that lets BOTH bounds of a
    // box predicate prune files/row-groups at 100 TB — then run the box
    // query against the REWRITTEN layout. Layout never changes content,
    // so the oracle is the plain SQL over the raw table; ZorderSpec
    // separately measures the skipping itself.
    "SCAN-ZORDER" -> { (s, d) =>
      Tables.register(s, d)
      val path = java.nio.file.Files.createTempDirectory("graft_zorder")
        .toString + "/ev"
      graft.operators.Layout.zorderWrite(
        s.table("events").select("event_id", "user_id", "value", "event_type"),
        "user_id", "value", path, numFiles = 8)
      s.read.parquet(path)
        .where(col("user_id").between(3, 9) && col("value").between(50, 150))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("sv"))
        .orderBy("event_type")
    },
    // MERGE INTO through the snapshot/manifest table format
    // (storage.SnapshotTable): create v1 from an orders projection,
    // last-write-wins merge a deterministic update set as v2 (atomic
    // manifest commit), read the LATEST snapshot back. The oracle replays
    // the merge semantics in plain SQL — every 5th key is replaced, the
    // rest survive — so a broken commit/visibility/merge path
    // hash-mismatches. Temp-dir per invocation: content is deterministic,
    // the table location is scratch.
    "UPSERT-MERGE" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_merge")
        .toString + "/t"
      val base = s.table("orders").where(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"), lit(1L).as("v"))
      graft.storage.SnapshotTable.create(s, root, base)
      val upd = s.table("orders")
        .where(col("o_orderkey") <= 4000 && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), lit("MERGED").as("prio"),
          (col("o_totalprice") + 1000.0).as("price"), lit(2L).as("v"))
      graft.storage.SnapshotTable.merge(s, root, upd, Seq("k"), "v")
      graft.storage.SnapshotTable.read(s, root)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // the DSv2 connector end-to-end: snapshot-table create (range-
    // clustered with a stats sidecar) → ORDINARY spark.read.format read →
    // plain .where() — the predicate pushes into the connector, prunes
    // files through the sidecar AND row groups through the parquet
    // footer stats, then Spark re-applies it exactly (residual). Content
    // never changes, so the oracle is the plain SQL over raw orders;
    // SnapshotDsv2Spec separately asserts the files=<kept>/<total> plan
    // evidence.
    "SCAN-SNAPSHOT-PRUNED" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snapdsv2")
        .toString + "/t"
      val base = s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"), lit(1L).as("v"))
        .repartitionByRange(8, col("k"))
      graft.storage.SnapshotTable.create(s, root, base, statsCols = Seq("k"))
      s.read.format("graft-snapshot").load(root)
        .where(col("k") >= 1000 && col("k") <= 3000)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // identity-PARTITIONED snapshot table end-to-end: the DSv2 fanout
    // write stages one tuple-pure file per priority, the read's
    // partition predicate prunes files off EXACT manifest tuples and is
    // CONSUMED (no post-scan filter — SnapshotPartitionedDsv2Spec
    // asserts the plan shape). Reads never change content, so the
    // oracle is plain SQL over raw orders.
    "SNAPSHOT-PARTITION" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snappart")
        .toString + "/t"
      s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot").option("partitionBy", "prio")
        .mode("append").save(root)
      s.read.format("graft-snapshot").load(root)
        .where(col("prio").isin("1-URGENT", "3-MEDIUM"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // TIME-TRANSFORM partitioning (the metrics-store shape): the table
    // is partitioned months(o_orderdate) — tuples store month ordinals,
    // and the month-ALIGNED date range below is decidable for every
    // file, so it prunes to 12 months AND is consumed
    // (SnapshotTransformPartitionSpec asserts the plan shapes). Reads
    // never change content: the oracle is plain SQL over raw orders.
    "SNAPSHOT-PARTITION-TIME" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snapptime")
        .toString + "/t"
      s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_orderdate").as("od"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot").option("partitionBy", "months(od)")
        .mode("append").save(root)
      s.read.format("graft-snapshot").load(root)
        .where(col("od") >= lit("1996-01-01").cast("timestamp") &&
          col("od") < lit("1997-01-01").cast("timestamp"))
        .groupBy(date_format(col("od"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("month")
    },
    // partition-filtered count(*) answered from the MANIFEST alone (the
    // pruned entries' recorded row counts — zero data I/O; the spec
    // asserts the SnapshotCountScan plan shape)
    "SNAPSHOT-PARTITION-COUNT" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snappartc")
        .toString + "/t"
      s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
        .write.format("graft-snapshot").option("partitionBy", "prio")
        .mode("append").save(root)
      s.read.format("graft-snapshot").load(root)
        .where(col("prio") === "5-LOW")
        .groupBy().count().select(col("count").as("n"))
    },
    // declared SORT ORDER end-to-end: the DSv2 write sorts each task's
    // rows by the order key (range-clustered first), so every staged
    // file is a tight disjoint [min,max] band and the band predicate
    // below prunes through the stats sidecar even though the INPUT
    // arrived shuffled (SnapshotSortOrderSpec asserts disjointness and
    // the <=2-file plan). Reads never change content: plain SQL oracle.
    "SNAPSHOT-SORTED" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snapsorted")
        .toString + "/t"
      s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .orderBy(org.apache.spark.sql.functions.hash(col("k"))) // shuffled arrival
        .repartitionByRange(8, col("k"))
        .write.format("graft-snapshot")
        .option("sortBy", "k").option("statsCols", "k")
        .mode("append").save(root)
      s.read.format("graft-snapshot").load(root)
        .where(col("k") >= 500 && col("k") <= 1500)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // SHOW PARTITIONS as a metadata read: one row per tuple with file
    // and row totals, answered from ONE manifest read (LocalScan, zero
    // data I/O — the spec asserts the plan). n_files is 1 per tuple by
    // the clustered fanout write; rows replay as a plain GROUP BY.
    "SNAPSHOT-PARTITIONS" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snapplist")
        .toString + "/t"
      s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
        .write.format("graft-snapshot").option("partitionBy", "prio")
        .mode("append").save(root)
      s.read.format("graft-snapshot").option("partitions", "true").load(root)
        .select(col("partition"), col("n_files"), col("total_rows"))
        .orderBy("partition")
    },
    // DYNAMIC partition overwrite end-to-end: writeTo(t)
    // .overwritePartitions() replaces ONLY the partition present in the
    // incoming frame (1-URGENT, prices doubled) — every other partition
    // keeps its original content (the spec asserts the untouched FILES
    // are identical; here the CONTENT proves it against the oracle's
    // CASE replay).
    "SNAPSHOT-OVERWRITE-DYNAMIC" -> { (s, d) =>
      Tables.register(s, d)
      val wh = java.nio.file.Files.createTempDirectory("graft_dynow").toString
      val cat = "graftdyn_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.storage.dsv2.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE TABLE $cat.t (k BIGINT, prio STRING, price DOUBLE) " +
        "USING `graft-snapshot` PARTITIONED BY (prio)")
      s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .writeTo(s"$cat.t").append()
      s.table("orders").where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          (col("o_totalprice") * 2).as("price"))
        .writeTo(s"$cat.t").overwritePartitions()
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE $cat.t")
      rows.toDF("prio", "n", "total")
    },
    // ATOMIC CTAS through the StagingTableCatalog: `CREATE TABLE ... AS
    // SELECT` stages the whole write under a hidden root and publishes
    // with ONE rename — a failed CTAS leaves no table (spec-asserted in
    // SnapshotCatalogSpec). The oracle replays the SELECT.
    "SNAPSHOT-CTAS" -> { (s, d) =>
      Tables.register(s, d)
      val wh = java.nio.file.Files.createTempDirectory("graft_ctas").toString
      val cat = "graftctas_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.storage.dsv2.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.t AS
        SELECT o_orderpriority AS prio, o_orderkey AS k, o_totalprice AS price
        FROM orders WHERE o_orderkey <= 5000""")
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE $cat.t")
      rows.toDF("prio", "n", "total")
    },
    // RESTORE as a commit: v2 = first insert, v3 = second insert;
    // `CALL system.restore(t, 2)` republishes v2's content as v4 — the
    // head reads as v2 again while v3 STILL time-travels (nothing is
    // deleted; a restore is one metadata commit and is itself undoable).
    // The require()s pin the storage contract; the oracle replays both
    // the restored head and the rolled-back version relationally.
    "SNAPSHOT-RESTORE" -> { (s, d) =>
      Tables.register(s, d)
      val wh = java.nio.file.Files.createTempDirectory("graft_restore").toString
      val cat = "graftrst_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.storage.dsv2.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE TABLE $cat.t (k BIGINT, prio STRING, price DOUBLE)") // v1
      s.sql(s"""INSERT INTO $cat.t
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey <= 2000""") // v2
      s.sql(s"""INSERT INTO $cat.t
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey <= 1000""") // v3 (duplicates rows)
      val got = s.sql(s"CALL $cat.system.restore('t', 2)").head
      require(got.getLong(0) == 2L && got.getLong(1) == 4L,
        s"restore(2) should commit as v4, got $got")
      val root = s"$wh/t"
      require(graft.storage.SnapshotTable.versions(s, root) ==
        Seq(1L, 2L, 3L, 4L), "forward history must stay intact")
      require(graft.storage.SnapshotTable.latest(s, root).get.entries ==
        graft.storage.SnapshotTable.snapshot(s, root, 2L).entries,
        "the restored head must reference exactly v2's files")
      val out = s.sql(s"""
        SELECT 'head' AS ver, prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t GROUP BY prio
        UNION ALL
        SELECT 'rolled_back' AS ver, prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t VERSION AS OF 3 GROUP BY prio
        ORDER BY ver, prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3)))
      s.sql(s"DROP TABLE $cat.t")
      import s.implicits._
      out.toDF("ver", "prio", "n", "total")
    },
    // PARTITION SPEC EVOLUTION: a table partitioned by prio evolves to
    // status by a metadata-only ALTER; era-1 files keep self-describing
    // prio= tuples (never pruned by the new spec — degradation, no
    // false negatives), era-2 files tuple by status and DO prune. The
    // require()s pin the per-era pruning shape; the oracle replays both
    // eras' rows relationally.
    "SNAPSHOT-PARTITION-EVOLVE" -> { (s, d) =>
      Tables.register(s, d)
      val wh = java.nio.file.Files.createTempDirectory("graft_pse").toString
      val cat = "graftpse_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.storage.dsv2.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"""CREATE TABLE $cat.t (k BIGINT, prio STRING, status STRING,
        price DOUBLE) PARTITIONED BY (prio)""") // v1
      s.sql(s"""INSERT INTO $cat.t
        SELECT o_orderkey, o_orderpriority, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey <= 1000""") // v2 (era 1: prio tuples)
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('partition'='status')") // v3
      s.sql(s"""INSERT INTO $cat.t
        SELECT o_orderkey, o_orderpriority, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000""") // v4 (era 2)
      val root = s"$wh/t"
      val snap = graft.storage.SnapshotTable.latest(s, root).get
      require(snap.partitionSpecs == Seq("status"),
        s"evolved spec not in force: ${snap.partitionSpecs}")
      require(snap.entries.exists(_.tuple.startsWith("prio=")) &&
        snap.entries.exists(_.tuple.startsWith("status=")),
        "both spec eras' tuples should coexist in the manifest")
      // a status predicate prunes era-2 files; era-1 files stay planned
      val pruned = s.read.format("graft-snapshot").load(root)
        .where(col("status") === "F")
      val descr = pruned.queryExecution.executedPlan.toString
      val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(descr).get
      require(m.group(1).toInt < m.group(2).toInt,
        s"status predicate should prune era-2 files: $descr")
      val out = s.sql(s"""
        SELECT status, prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t GROUP BY status, prio
        ORDER BY status, prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3)))
      s.sql(s"DROP TABLE $cat.t")
      import s.implicits._
      out.toDF("status", "prio", "n", "total")
    },
    // TAGS + BRANCHES (write-audit-publish): v2 = first insert, tagged
    // 'audited' and branched 'main'; v3 = a second (duplicating) insert
    // that stays INVISIBLE to `VERSION AS OF 'main'` until the audit
    // fast-forwards the branch — the require() pins that isolation.
    // Output: the immutable tag's view and the published branch's view.
    "SNAPSHOT-TAGS" -> { (s, d) =>
      Tables.register(s, d)
      val wh = java.nio.file.Files.createTempDirectory("graft_tags").toString
      val cat = "grafttag_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.storage.dsv2.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE TABLE $cat.t (k BIGINT, prio STRING, price DOUBLE)") // v1
      s.sql(s"""INSERT INTO $cat.t
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey <= 2000""") // v2
      s.sql(s"CALL $cat.system.tag('t', 'audited', 2)")
      s.sql(s"CALL $cat.system.branch('t', 'main', 2)")
      s.sql(s"""INSERT INTO $cat.t
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey <= 1000""") // v3 (staged, unpublished)
      // WAP isolation: the branch reader must not see v3 pre-publish
      val staged = s.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'main'")
        .head.getLong(0)
      val audit = s.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
      require(staged < audit,
        s"unpublished rows leaked to the branch reader ($staged vs $audit)")
      s.sql(s"CALL $cat.system.fast_forward('t', 'main', 3)") // publish
      val out = s.sql(s"""
        SELECT 'tagged' AS ref, prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t VERSION AS OF 'audited' GROUP BY prio
        UNION ALL
        SELECT 'published' AS ref, prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t VERSION AS OF 'main' GROUP BY prio
        ORDER BY ref, prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3)))
      s.sql(s"DROP TABLE $cat.t")
      import s.implicits._
      out.toDF("ref", "prio", "n", "total")
    },
    // SQL time travel via the literal VERSION AS OF syntax (the
    // SupportsCatalogOptions-era load-table-with-version path): two
    // inserts = two versions; the query unions the pinned v2 view with
    // the current view, tagged — the oracle replays both halves.
    "SNAPSHOT-TIMETRAVEL-SQL" -> { (s, d) =>
      Tables.register(s, d)
      val wh = java.nio.file.Files.createTempDirectory("graft_ttsql").toString
      val cat = "grafttt_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.storage.dsv2.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE TABLE $cat.t (k BIGINT, prio STRING, price DOUBLE)")
      s.sql(s"""INSERT INTO $cat.t
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey <= 2000""")
      s.sql(s"""INSERT INTO $cat.t
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey > 2000 AND o_orderkey <= 4000""")
      val out = s.sql(s"""
        SELECT 'v2' AS ver, prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t VERSION AS OF 2 GROUP BY prio
        UNION ALL
        SELECT 'cur' AS ver, prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.t GROUP BY prio
        ORDER BY ver, prio""").collect().toSeq
      import s.implicits._
      val rows = out.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      s.sql(s"DROP TABLE $cat.t")
      rows.toDF("ver", "prio", "n", "total")
    },
    // PARTITION-SCOPED merge: the table is partitioned by priority and
    // priority is part of the merge key, so the upsert rewrites ONLY
    // the 1-URGENT partition — every other file is retained verbatim
    // (SnapshotPartitionedSpec asserts the file identities; the probe
    // records the cost gap). The oracle replays the upsert in SQL.
    "UPSERT-PARTITION-SCOPED" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_scopedmerge")
        .toString + "/t"
      val base = s.table("orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"), lit(1L).as("v"))
      graft.storage.SnapshotTable.create(s, root, base,
        partitionBy = Seq("prio"))
      val ups = s.table("orders")
        .where(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          (col("o_totalprice") + 500.0).as("price"), lit(2L).as("v"))
      graft.storage.SnapshotTable.merge(s, root, ups, Seq("k", "prio"), "v")
      graft.storage.SnapshotTable.read(s, root)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // MERGE with BOTH arms in one commit: tombstones delete every 7th
    // key (WHEN MATCHED THEN DELETE), disjoint upserts rewrite every
    // remaining 5th key — disjoint so last-write-wins never has to break
    // an upsert-vs-tombstone tie. The oracle replays both arms in plain
    // SQL over raw orders.
    "UPSERT-DELETE" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_merge_del")
        .toString + "/t"
      val base = s.table("orders").where(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"), lit(1L).as("v"))
      graft.storage.SnapshotTable.create(s, root, base)
      val dels = s.table("orders")
        .where(col("o_orderkey") <= 4000 && col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"), lit("X").as("prio"),
          lit(0.0).as("price"), lit(2L).as("v"), lit(true).as("del"))
      val ups = s.table("orders")
        .where(col("o_orderkey") <= 4000 && col("o_orderkey") % 5 === 0 &&
          col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").as("k"), lit("MERGED").as("prio"),
          (col("o_totalprice") + 1000.0).as("price"), lit(2L).as("v"),
          lit(false).as("del"))
      graft.storage.SnapshotTable.merge(s, root, dels.unionByName(ups),
        Seq("k"), "v", deleteCol = Some("del"))
      graft.storage.SnapshotTable.read(s, root)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // the DSv2 WRITE path + O(batch) append end-to-end: the first
    // df.write CREATES the table through the connector's own parquet
    // writer, the second APPENDS (metadata-only commit — no rewrite of
    // existing files), the read goes back through the connector. Content
    // equals the two halves' union, so the oracle is plain SQL over raw
    // orders.
    "SNAPSHOT-APPEND" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snapappend")
        .toString + "/t"
      def half(pred: org.apache.spark.sql.Column) = s.table("orders")
        .where(pred)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
      half(col("o_orderkey") <= 2000)
        .write.format("graft-snapshot").mode("append").save(root)
      half(col("o_orderkey") > 2000 && col("o_orderkey") <= 4000)
        .write.format("graft-snapshot").mode("append").save(root)
      s.read.format("graft-snapshot").load(root)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // OPTIMIZE: compact a 16-file layout into 4 range-clustered files and
    // read THROUGH the compacted version — compaction is pure layout
    // work, so the oracle is the plain SQL; SnapshotTableSpec separately
    // asserts the file counts and post-compact prunability
    "OPTIMIZE-COMPACT" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_compact")
        .toString + "/t"
      val base = s.table("events")
        .select(col("event_id").as("k"), col("event_type"), col("value"))
        .repartition(16)
      graft.storage.SnapshotTable.create(s, root, base)
      graft.storage.SnapshotTable.compact(s, root, targetFiles = 4,
        clusterBy = Some("k"), statsCols = Seq("k"))
      s.read.format("graft-snapshot").load(root)
        .where(col("k") % 3 === 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("sv"))
        .orderBy("event_type")
    },
    // ADD-COLUMN schema evolution end-to-end: v1 has (k, price), the
    // appended half carries a NEW prio column under mergeSchema — the
    // evolved table reads v1 rows with prio = null (old files predate
    // the column), which the aggregate folds as 'PRE'. Oracle replays
    // the evolution analytically: rows ≤ 2000 never had a prio.
    "SNAPSHOT-EVOLVE" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_evolve")
        .toString + "/t"
      graft.storage.SnapshotTable.create(s, root,
        s.table("orders").where(col("o_orderkey") <= 2000)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price")))
      graft.storage.SnapshotTable.append(s, root,
        s.table("orders")
          .where(col("o_orderkey") > 2000 && col("o_orderkey") <= 4000)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            col("o_orderpriority").as("prio")),
        mergeSchema = true)
      graft.storage.SnapshotTable.read(s, root)
        .groupBy(coalesce(col("prio"), lit("PRE")).as("prio"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // the full SQL surface through the session catalog: CREATE TABLE
    // ... USING graft-snapshot (DDL), INSERT INTO ... SELECT (DML —
    // routes through the connector's BatchWrite as an O(batch) append
    // committing a new snapshot version), then a plain SQL aggregate
    // over the table. Content equals base ∪ inserted, so the oracle is
    // plain SQL over raw orders. Unique table name per invocation: the
    // bench/verify session runs each query several times.
    "SNAPSHOT-SQL" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_snapsql")
        .toString + "/t"
      val tbl = "snap_sql_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("orders").where(col("o_orderkey") <= 2000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot").mode("append").save(root)
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
      s.sql(s"""INSERT INTO $tbl
        SELECT o_orderkey AS k, o_orderpriority AS prio, o_totalprice AS price
        FROM orders WHERE o_orderkey > 2000 AND o_orderkey <= 4000""")
      // materialize BEFORE dropping the catalog entry (frames are lazy)
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $tbl GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      rows.toDF("prio", "n", "total")
    },
    // time travel through the DSv2 option: the same table read at
    // versionAsOf=1 and at latest in ONE result (tagged union), so a
    // broken manifest pin would hash-mismatch on the v1 half
    "SNAPSHOT-TIMETRAVEL" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_timetravel")
        .toString + "/t"
      val base = s.table("orders").where(col("o_orderkey") <= 2000)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          lit(1L).as("v"))
      graft.storage.SnapshotTable.create(s, root, base)
      val upd = s.table("orders")
        .where(col("o_orderkey") <= 2000 && col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + 500.0).as("price"), lit(2L).as("v"))
      graft.storage.SnapshotTable.merge(s, root, upd, Seq("k"), "v")
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
          .select(lit(tag).as("ver"), col("n"), col("total"))
      agg(s.read.format("graft-snapshot").option("versionAsOf", 1).load(root), "v1")
        .unionByName(agg(s.read.format("graft-snapshot").load(root), "v2"))
        .orderBy("ver")
    },
    // the snapshot table as BOTH ends of a Structured Streaming pipeline,
    // oracle-checked: a source table with two committed versions is read
    // as a MicroBatchStream (offsets = snapshot versions), flows through
    // the NATIVE exactly-once sink (per-app #txn ledger keyed by query
    // id) into a second table, and the DESTINATION is what the oracle
    // hashes — any duplicate/lost batch, broken offset walk, or sink
    // replay bug lands in the result.
    // CDF OVER STREAMING UPSERTS: after two upsert epochs, the change
    // feed emits each epoch's rows as inserts and the key-matched
    // victims of its equality deletes as 'delete' rows (epoch 2's
    // deletes = epoch 1's rows for the re-keyed half) — key-addressed
    // CDC without positions. The oracle replays all three change
    // classes relationally.
    "CDC-FEED-UPSERT" -> { (s, d) =>
      Tables.register(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_cdcupsert")
      val (src, dst, ckpt) =
        (base.toString + "/src", base.toString + "/dst", base.toString + "/ckpt")
      s.table("orders").where(col("o_orderkey") <= 2000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot").mode("append").save(src) // v1
      s.table("orders").where(col("o_orderkey") <= 1000)
        .select(col("o_orderkey").as("k"), lit("UPD").as("prio"),
          (col("o_totalprice") + 1000.0).as("price"))
        .write.format("graft-snapshot").mode("append").save(src) // v2
      val q = s.readStream.format("graft-snapshot")
        .option("maxVersionsPerTrigger", 1).load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", ckpt)
        .option("upsertKeys", "k")
        .start(dst)
      try q.processAllAvailable() finally q.stop()
      val out = graft.storage.SnapshotTable.changeFeed(s, dst, 0L)
        .groupBy(col("_change_type").as("change"),
          col("_commit_version").as("ver"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("change", "ver")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      import s.implicits._
      out.toDF("change", "ver", "n", "total")
    },
    // STREAMING UPSERT through the native sink: epoch 0 inserts the
    // base keys, epoch 1 re-keys half of them — the sink appends the
    // batch's files plus ONE equality-delete sidecar per task (key
    // tuples), and readers retire older rows by key (O(batch) epochs,
    // no scan/join/rewrite). The require()s pin append-only epochs and
    // the in-force deletes; the oracle replays last-write-wins
    // relationally.
    "STREAM-UPSERT-NATIVE" -> { (s, d) =>
      Tables.register(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_upsertstream")
      val (src, dst, ckpt) =
        (base.toString + "/src", base.toString + "/dst", base.toString + "/ckpt")
      s.table("orders").where(col("o_orderkey") <= 2000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot").mode("append").save(src) // v1
      s.table("orders").where(col("o_orderkey") <= 1000)
        .select(col("o_orderkey").as("k"), lit("UPD").as("prio"),
          (col("o_totalprice") + 1000.0).as("price"))
        .write.format("graft-snapshot").mode("append").save(src) // v2
      val q = s.readStream.format("graft-snapshot")
        .option("maxVersionsPerTrigger", 1).load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", ckpt)
        .option("upsertKeys", "k")
        .start(dst)
      try q.processAllAvailable() finally q.stop()
      val snap = graft.storage.SnapshotTable.latest(s, dst).get
      require(snap.eqDeletes.nonEmpty,
        "the upsert epoch's equality deletes must be in force")
      require(snap.version >= 2L, "one sink version per source epoch")
      graft.storage.SnapshotTable.read(s, dst)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    "STREAM-SNAPSHOT-NATIVE" -> { (s, d) =>
      Tables.register(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_snapstream")
      val (src, dst, ckpt) =
        (base.toString + "/src", base.toString + "/dst", base.toString + "/ckpt")
      def slice(pred: org.apache.spark.sql.Column) = s.table("orders")
        .where(pred)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
      slice(col("o_orderkey") % 2 === 0)
        .write.format("graft-snapshot").mode("append").save(src)
      slice(col("o_orderkey") % 2 === 1)
        .write.format("graft-snapshot").mode("append").save(src)
      val q = s.readStream.format("graft-snapshot").load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", ckpt)
        .start(dst)
      try q.processAllAvailable() finally q.stop()
      graft.storage.SnapshotTable.read(s, dst)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // the NAMESPACE-MANAGED catalog end-to-end: a V2 TableCatalog over a
    // warehouse (path-free DDL), INSERT INTO routed through the
    // connector's BatchWrite, CALL graft.system.compact (SQL OPTIMIZE
    // procedure — content-identical rewrite), then a plain aggregate.
    // Content never changes, so the oracle is plain SQL over raw orders.
    "SNAPSHOT-CATALOG" -> { (s, d) =>
      Tables.register(s, d)
      val wh = java.nio.file.Files.createTempDirectory("graft_cat").toString
      val cat = "graftcat_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(10)
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.storage.dsv2.SnapshotCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.sql(s"CREATE NAMESPACE $cat.m")
      s.sql(s"CREATE TABLE $cat.m.orders_t (k BIGINT, prio STRING, price DOUBLE)")
      s.sql(s"""INSERT INTO $cat.m.orders_t
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0""")
      s.sql(s"CALL $cat.system.compact('m.orders_t', 4, 'k')")
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $cat.m.orders_t GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE $cat.m.orders_t")
      rows.toDF("prio", "n", "total")
    },
    // DESCRIBE HISTORY as a declared query: three commits (create,
    // append, copy-on-write merge) then the connector's history read —
    // version numbers, per-version row totals, and schema-sidecar
    // presence are all deterministic; file counts are pinned by explicit
    // repartition before each write. Oracle computes the expected ledger
    // analytically from raw orders.
    "SNAPSHOT-HISTORY" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_history")
        .toString + "/t"
      graft.storage.SnapshotTable.create(s, root,
        s.table("orders").where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            lit(1L).as("v"))
          .repartition(4))
      graft.storage.SnapshotTable.append(s, root,
        s.table("orders").where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            lit(1L).as("v"))
          .repartition(2))
      graft.storage.SnapshotTable.merge(s, root,
        s.table("orders").where(col("o_orderkey") % 9 === 0)
          .select(col("o_orderkey").as("k"), lit(0.0).as("price"),
            lit(2L).as("v"), lit(true).as("del")),
        Seq("k"), "v", deleteCol = Some("del"), clusterBy = Some("k"),
        clusterFiles = 3)
      s.read.format("graft-snapshot").option("history", true).load(root)
        .select(col("version"), col("n_files"), col("total_rows"),
          col("has_schema"))
        .orderBy("version")
    },
    // TYPE-WIDENING evolution end-to-end: v1 is written NARROW (int key,
    // float price), the second append carries long/double and widens the
    // table under mergeSchema — old files read through an upcast (both
    // halves aggregate as long/double). The oracle replays the widening
    // analytically: the first half's prices go through a FLOAT cast
    // (identical IEEE bits in both engines), the second half stays
    // double.
    "SNAPSHOT-EVOLVE-WIDEN" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_widen")
        .toString + "/t"
      // price = quarters (k % 997 / 4): exactly representable in FLOAT,
      // so the float-era files and the oracle's replay agree bit-for-bit
      // (a float-cast of arbitrary decimals would round differently into
      // DECIMAL across engines — shortest-repr vs exact-binary)
      graft.storage.SnapshotTable.create(s, root,
        s.table("orders").where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").cast("int").as("k"),
            ((col("o_orderkey") % 997) / 4.0).cast("float").as("price")))
      graft.storage.SnapshotTable.append(s, root,
        s.table("orders").where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey").as("k"),
            ((col("o_orderkey") % 997) / 4.0).as("price")),
        mergeSchema = true)
      graft.storage.SnapshotTable.read(s, root)
        .groupBy((col("k") % 5).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("g")
    },
    // RENAME + DROP COLUMN evolution end-to-end: v1 writes (k, price,
    // flag); price renames to amount (old files keep serving it — the
    // `#colmap` lineage maps logical→physical per file), flag DROPS,
    // post-DDL appends write head names, and a mergeSchema append
    // RE-ADDS 'flag' — a FRESH column the dropped lineage must never
    // leak into (old rows read NULL). The oracle replays the final
    // logical state analytically.
    "SNAPSHOT-EVOLVE-RENAME" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_rename")
        .toString + "/t"
      s.table("orders").where(col("o_orderkey") <= 700)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderpriority").as("flag"))
        .write.format("graft-snapshot").mode("append").save(root)
      graft.storage.SnapshotTable.renameColumn(s, root, "price", "amount")
      graft.storage.SnapshotTable.dropColumn(s, root, "flag")
      s.table("orders")
        .where(col("o_orderkey") > 700 && col("o_orderkey") <= 1400)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("amount"))
        .write.format("graft-snapshot").mode("append").save(root)
      s.table("orders")
        .where(col("o_orderkey") > 1400 && col("o_orderkey") <= 1500)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("amount"),
          lit("fresh").as("flag"))
        .write.format("graft-snapshot").option("mergeSchema", "true")
        .mode("append").save(root)
      graft.storage.SnapshotTable.read(s, root)
        .groupBy(coalesce(col("flag"), lit("legacy")).as("flag"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          round(sum(col("amount").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("flag")
    },
    // MERGE `WHEN NOT MATCHED BY SOURCE` — the one-statement CDC-mirror
    // idiom (update changed, insert new, delete vanished) — through the
    // DELTA (merge-on-read) path: source-absent rows retire as position
    // deletes, nothing rewrites. The NMBS arm carries a residual
    // condition (urgent rows survive the purge). Oracle replays all
    // three arms analytically.
    "UPSERT-MERGE-NMBS" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_nmbs")
        .toString + "/t"
      val tbl = "merge_nmbs_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("orders").where(col("o_orderkey") <= 1200)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot").mode("append").save(root)
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` " +
        s"OPTIONS (path '$root', mergeMode 'merge-on-read')")
      s.table("orders")
        .where(col("o_orderkey") <= 1500 && col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), lit("SYNCED").as("prio"),
          (col("o_totalprice") + 500.0).as("price"))
        .createOrReplaceTempView(s"${tbl}_src")
      s.sql(
        s"""MERGE INTO $tbl t USING ${tbl}_src u ON t.k = u.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.prio <> '1-URGENT' THEN DELETE""".stripMargin)
      s.sql(s"REFRESH TABLE $tbl")
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $tbl GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.catalog.dropTempView(s"${tbl}_src")
      rows.toDF("prio", "n", "total")
    },
    // WRITE-AUDIT-PUBLISH with real branch WRITES: two staged commits
    // accumulate on a branch's virtual root (require()d invisible to
    // main), then ONE publish fast-forwards main over them; the oracle
    // replays the final state analytically. The metrics-store shape for
    // validating a backfill before exposing it to dashboards.
    "SNAPSHOT-BRANCH-WRITE" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_brwrite")
        .toString + "/t"
      def slice(pred: org.apache.spark.sql.Column) = s.table("orders")
        .where(pred)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
      slice(col("o_orderkey") % 3 === 0)
        .write.format("graft-snapshot").mode("append").save(root)
      graft.storage.SnapshotTable.createWriteBranch(s, root, "backfill")
      slice(col("o_orderkey") % 3 === 1)
        .write.format("graft-snapshot").option("branch", "backfill")
        .mode("append").save(root)
      slice(col("o_orderkey") % 3 === 2)
        .write.format("graft-snapshot").option("branch", "backfill")
        .mode("append").save(root)
      val staged = s.read.format("graft-snapshot")
        .option("branch", "backfill").load(root).count()
      val mainBefore = s.read.format("graft-snapshot").load(root).count()
      require(mainBefore < staged && graft.storage.SnapshotTable
          .versions(s, root) == Seq(1L),
        s"staged branch commits must stay invisible on main " +
          s"(main=$mainBefore staged=$staged)")
      graft.storage.SnapshotTable.publishBranch(s, root, "backfill")
      graft.storage.SnapshotTable.read(s, root)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // snapshot CHANGE FEED: three appended versions, then an ORDINARY
    // read with option changesFrom=1 — exactly the rows versions 2..3
    // appended, never v1's (the metrics-store incremental-consumer
    // shape; offsets = snapshot versions, same walk the MicroBatchStream
    // source uses). Oracle replays the append split analytically.
    "CDC-SNAPSHOT" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_cdcsnap")
        .toString + "/t"
      def slice(pred: org.apache.spark.sql.Column) = s.table("orders")
        .where(pred)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
      // modulo slices: non-empty at EVERY scale factor (absolute key
      // bands are empty at sf0.001, where orderkeys stop at 1499)
      slice(col("o_orderkey") % 4 <= 1)
        .write.format("graft-snapshot").mode("append").save(root)
      slice(col("o_orderkey") % 4 === 2)
        .write.format("graft-snapshot").mode("append").save(root)
      slice(col("o_orderkey") % 4 === 3)
        .write.format("graft-snapshot").mode("append").save(root)
      s.read.format("graft-snapshot").option("changesFrom", 1).load(root)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("prio")
    },
    // row-level SQL end-to-end: literal MERGE INTO with UPDATE + DELETE +
    // INSERT arms against a catalog-registered snapshot table — the
    // statement routes through SupportsRowLevelOperations into the
    // group-based copy-on-write ReplaceData rewrite and commits a new
    // ACID version. The oracle replays the three arms in plain SQL.
    "UPSERT-MERGE-SQL" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_mergesql")
        .toString + "/t"
      val tbl = "merge_sql_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("orders").where(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot").mode("append").save(root)
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
      s.table("orders")
        .where(col("o_orderkey") <= 5000 &&
          (col("o_orderkey") % 5 === 0 || col("o_orderkey") % 7 === 0))
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, "DEL").otherwise("MERGED").as("prio"),
          (col("o_totalprice") + 1000.0).as("price"))
        .createOrReplaceTempView(s"${tbl}_src")
      s.sql(
        s"""MERGE INTO $tbl t USING ${tbl}_src u ON t.k = u.k
           |WHEN MATCHED AND u.prio = 'DEL' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED AND u.prio <> 'DEL' THEN INSERT *""".stripMargin)
      s.sql(s"REFRESH TABLE $tbl")
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $tbl GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.catalog.dropTempView(s"${tbl}_src")
      rows.toDF("prio", "n", "total")
    },
    // CURATION WRITE-BACK: the step after every dedup pipeline — apply
    // the keep/drop decision to the GOVERNED store. Exact-duplicate
    // losers (same md5(lower(text)), higher doc_id) are removed with a
    // single subquery DELETE on a merge-on-read table: position
    // sidecars only, zero data files rewritten (require()d), the
    // pre-curation corpus still time-travels. At 100 TB this is what
    // makes iterative curation affordable — each sweep costs O(dropped
    // rows), not O(corpus).
    "LLM-DEDUP-APPLY" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_dedupapply")
        .toString + "/t"
      val tbl = "dedup_apply_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("documents")
        .select(col("doc_id"), col("lang"),
          md5(lower(col("text"))).as("fp"))
        .repartitionByRange(8, col("doc_id"))
        .write.format("graft-snapshot").option("statsCols", "doc_id")
        .option("deleteMode", "merge-on-read")
        .mode("append").save(root)
      val base = graft.storage.SnapshotTable.latest(s, root).get
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
      s.sql(
        s"""DELETE FROM $tbl WHERE doc_id IN (
           |  SELECT doc_id FROM (
           |    SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
           |    FROM $tbl) WHERE rn > 1)""".stripMargin)
      val after = graft.storage.SnapshotTable.latest(s, root).get
      require(after.files.toSet == base.files.toSet,
        "curation deletes must not rewrite data files")
      require(after.entries.exists(_.dv.nonEmpty) ||
        after.rowCount == base.rowCount,
        "duplicates (if any) must be vectored, not rewritten")
      s.sql(s"REFRESH TABLE $tbl")
      import s.implicits._
      val rows = s.sql(s"""SELECT lang, count(*) AS n,
          count(DISTINCT fp) AS uniq FROM $tbl
        GROUP BY lang ORDER BY lang""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      rows.toDF("lang", "n", "uniq")
    },
    // ROW-LEVEL change feed (CDF): merge-on-read deletion vectors make
    // deletes representable change rows — the feed emits the table's
    // columns + _change_type + _commit_version for every change since
    // v0 (inserts = the v1 create, deletes = the v2 vectored rows). The
    // oracle replays both change sets from the raw table.
    "CDC-FEED" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_cdcfeed")
        .toString + "/t"
      val tbl = "cdc_feed_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("orders").where(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .repartitionByRange(8, col("k"))
        .write.format("graft-snapshot").option("statsCols", "k")
        .option("deleteMode", "merge-on-read")
        .mode("append").save(root)
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
      s.sql(s"DELETE FROM $tbl WHERE k % 3 = 0 AND k <= 2000")
      val out = graft.storage.SnapshotTable.changeFeed(s, root, 0L)
        .groupBy(col("_change_type").as("change"),
          col("_commit_version").as("ver"), col("prio"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("change", "ver", "prio")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getDouble(4)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      import s.implicits._
      out.toDF("change", "ver", "prio", "n", "total")
    },
    // CDF UPDATE LINKAGE: a three-arm MERGE on a merge-on-read table,
    // read back through the change feed — updates must arrive as ONE
    // update_preimage + ONE update_postimage per updated key (the
    // `#updv`/`#updfile` manifest linkage the delta writer persists),
    // while plain deletes stay 'delete' and plain inserts 'insert'.
    // The oracle reconstructs all four change classes relationally.
    "CDC-FEED-UPDATES" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_cdcfeedupd")
        .toString + "/t"
      val tbl = "cdc_feed_upd_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("orders").where(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot")
        .option("mergeMode", "merge-on-read")
        .mode("append").save(root) // v1
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
      s.table("orders")
        .where(col("o_orderkey") <= 5000 &&
          (col("o_orderkey") % 5 === 0 || col("o_orderkey") % 7 === 0))
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, "DEL").otherwise("UPD").as("prio"),
          (col("o_totalprice") + 1000.0).as("price"))
        .createOrReplaceTempView(s"${tbl}_src")
      s.sql(
        s"""MERGE INTO $tbl t USING ${tbl}_src u ON t.k = u.k
           |WHEN MATCHED AND u.prio = 'DEL' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED AND u.prio <> 'DEL' THEN INSERT *""".stripMargin) // v2
      val out = graft.storage.SnapshotTable.changeFeed(s, root, 1L)
        .groupBy(col("_change_type").as("change"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .orderBy("change")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      import s.implicits._
      out.toDF("change", "n", "total")
    },
    // the SAME three-arm MERGE, but on a merge-on-read table: matched
    // updates/deletes become deletion-vector positions, inserts (and
    // update re-inserts) small new files — the base data files are
    // require()d untouched and vectors present before the oracle compare
    "UPSERT-MERGE-MOR" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_mergemor")
        .toString + "/t"
      val tbl = "merge_mor_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("orders").where(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .write.format("graft-snapshot")
        .option("mergeMode", "merge-on-read")
        .option("deleteMode", "merge-on-read")
        .mode("append").save(root)
      val base = graft.storage.SnapshotTable.latest(s, root).get
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
      s.table("orders")
        .where(col("o_orderkey") <= 5000 &&
          (col("o_orderkey") % 5 === 0 || col("o_orderkey") % 7 === 0))
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, "DEL").otherwise("MERGED").as("prio"),
          (col("o_totalprice") + 1000.0).as("price"))
        .createOrReplaceTempView(s"${tbl}_src")
      s.sql(
        s"""MERGE INTO $tbl t USING ${tbl}_src u ON t.k = u.k
           |WHEN MATCHED AND u.prio = 'DEL' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED AND u.prio <> 'DEL' THEN INSERT *""".stripMargin)
      val after = graft.storage.SnapshotTable.latest(s, root).get
      require(base.files.toSet.subsetOf(after.files.toSet),
        "merge-on-read MERGE must not rewrite base data files")
      require(after.entries.exists(_.dv.nonEmpty),
        "merge-on-read MERGE must attach deletion vectors")
      s.sql(s"REFRESH TABLE $tbl")
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $tbl GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.catalog.dropTempView(s"${tbl}_src")
      rows.toDF("prio", "n", "total")
    },
    // literal DELETE FROM SQL: the group-based rewrite scans only files
    // the predicate can touch (stats-pruned groups), retains the rest
    // verbatim, and commits a new version; the pre-delete version stays
    // time-travel-readable (both halves checked in one tagged union)
    "UPSERT-DELETE-SQL" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_delsql")
        .toString + "/t"
      val tbl = "del_sql_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("orders").where(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .repartitionByRange(8, col("k"))
        .write.format("graft-snapshot").option("statsCols", "k")
        .mode("append").save(root)
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
      s.sql(s"DELETE FROM $tbl WHERE k % 3 = 0 AND k <= 2000")
      s.sql(s"REFRESH TABLE $tbl")
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $tbl GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val afterDelete = rows.toDF("prio", "n", "total")
        .select(lit("post").as("ver"), col("prio"), col("n"), col("total"))
      val preDelete = s.read.format("graft-snapshot").option("versionAsOf", 1)
        .load(root)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .select(lit("pre").as("ver"), col("prio"), col("n"), col("total"))
      afterDelete.unionByName(preDelete).orderBy("ver", "prio")
    },
    // MERGE-ON-READ delete: same statement shape as UPSERT-DELETE-SQL,
    // but the table opted into deletion vectors (deleteMode
    // 'merge-on-read') — the delete commits per-file position sidecars
    // instead of rewriting any data file. The query structurally ASSERTS
    // the merge-on-read contract (file identities unchanged, vectors
    // present) before producing the pre/post aggregate the oracle
    // replays; readers subtract positions, time travel sees them all.
    "UPSERT-DELETE-MOR" -> { (s, d) =>
      Tables.register(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft_delmor")
        .toString + "/t"
      val tbl = "del_mor_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      s.table("orders").where(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        .repartitionByRange(8, col("k"))
        .write.format("graft-snapshot").option("statsCols", "k")
        .option("deleteMode", "merge-on-read")
        .mode("append").save(root)
      val base = graft.storage.SnapshotTable.latest(s, root).get
      s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
      s.sql(s"DELETE FROM $tbl WHERE k % 3 = 0 AND k <= 2000")
      val after = graft.storage.SnapshotTable.latest(s, root).get
      require(after.files.toSet == base.files.toSet,
        "merge-on-read delete must not rewrite data files")
      require(after.entries.exists(_.dv.nonEmpty),
        "merge-on-read delete must attach deletion vectors")
      s.sql(s"REFRESH TABLE $tbl")
      import s.implicits._
      val rows = s.sql(s"""SELECT prio, count(*) AS n,
          round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM $tbl GROUP BY prio ORDER BY prio""").collect()
        .toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val afterDelete = rows.toDF("prio", "n", "total")
        .select(lit("post").as("ver"), col("prio"), col("n"), col("total"))
      val preDelete = s.read.format("graft-snapshot")
        .option("versionAsOf", base.version).load(root)
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast(DecimalType(18, 2))).cast("double"), 2)
            .as("total"))
        .select(lit("pre").as("ver"), col("prio"), col("n"), col("total"))
      afterDelete.unionByName(preDelete).orderBy("ver", "prio")
    },
    // deterministic train/val/test split (the assignment step every
    // training pipeline runs first): hash-bucket the STABLE doc id into
    // 80/10/10 — a pure per-row function, reproducible forever, immune to
    // task retries, consistent across tables sharing the id (unlike
    // randomSplit, which re-rolls per evaluation). Portable hash so the
    // oracle replays the exact assignment; xxhash64 is the scale default.
    "SAMPLE-SPLIT" -> { (s, d) =>
      val dd = docs(s, d)
      graft.operators.Sampling.hashSplit(dd, col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10),
          hash = c => pmod(Dedup.portableHash(c.cast("string")), lit(100L)))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
        .orderBy("split", "lang")
    },
    // bigram conditional LM perplexity (the KenLM-style curation signal
    // one order above TEXT-PERPLEXITY's unigram): corpus-trained bigram/
    // context counts, add-0.5 smoothing over the observed vocabulary,
    // per-doc mean NLL → perplexity. Determinism: each -ln p is a chain
    // of single double ops on exact integer counts; the per-doc MEAN
    // pins addends to DECIMAL(18,6) so summation order cannot drift
    // (simpler than the ordered-fold recipe, same guarantee); output
    // pinned floor(x·1e4+0.5)/1e4. Count joins are key-equality; the
    // bigram model is vocabulary²-bounded, not corpus-bounded.
    "TEXT-BIGRAM-LM" -> { (s, d) =>
      val dd = docs(s, d)
      val toks = dd.select(col("doc_id"), split(col("text"), " ").as("ts"))
      val pairs = toks.where(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ts)-2), i -> struct(ts[i] AS w1, ts[i+1] AS w2))"))
          .as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      // the bigram model is vocabulary²-bounded — materialize it once; the
      // unigram context counts AND the vocabulary size derive from it
      // (distinct w over pairs' w1 ∪ w2 = distinct over bg's keys), so the
      // corpus explode runs twice (bg build + doc scoring), not five times
      val bg = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .localCheckpoint()
      val ug = bg.groupBy("w1").agg(sum("c2").as("c1"))
      val vv = bg.select(col("w1").as("w"))
        .union(bg.select(col("w2").as("w")))
        .agg(countDistinct("w").cast("double").as("v"))
      val scored = pairs
        .join(bg, Seq("w1", "w2"))
        .join(ug, Seq("w1"))
        .crossJoin(broadcast(vv))
        .select(col("doc_id"),
          (-log((col("c2") + lit(0.5)) / (col("c1") + lit(0.5) * col("v"))))
            .as("lp"))
      scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (floor(exp(sum(col("lp").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))) * lit(1e4) + lit(0.5)) / lit(1e4)).as("ppl"))
        .orderBy("doc_id").limit(60)
    },
    // per-series linear trend fit (least squares on hourly buckets — the
    // capacity-planning slope): closed form from EXACT moment sums (the
    // TS-XCORR recipe — x/x² are integer sums, y/x·y ride DECIMAL), so
    // both engines compute identical doubles before the one
    // rounded closed-form division; hour index is re-based per series to
    // keep the moments small
    "TS-LINFIT" -> { (s, d) =>
      val ev = events(s, d)
      val b = ev.groupBy(col("event_type"),
          floor(col("ts").cast("double") / 3600).cast("bigint").as("h"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("y"))
      val m0 = b.groupBy(col("event_type").as("et2")).agg(min("h").as("h0"))
      val j = b.join(broadcast(m0), col("event_type") === col("et2"))
        .select(col("event_type"), (col("h") - col("h0")).as("x"), col("y"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val nd = D(count(lit(1)))
      val sx = D(sum(col("x")))
      val sy = D(sum(col("y").cast(DecimalType(18, 2))))
      val sxy = D(sum((col("x") * col("y")).cast(DecimalType(28, 4))))
      val sxx = D(sum(col("x") * col("x")))
      j.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (nd * sxy - sx * sy).as("num"),
          (nd * sxx - sx * sx).as("den"),
          sy.as("sy"), sx.as("sx"))
        .where(col("den") > 0)
        .select(col("event_type"), col("n"),
          round(col("num") / col("den"), 6).as("slope"),
          round((col("sy") - col("num") / col("den") * col("sx")) / col("n"), 4)
            .as("intercept"))
        .orderBy("event_type")
    },
    // classic additive seasonal decomposition (the metrics-forecasting
    // companion to TS-HOLT-WINTERS, which ESTIMATES seasonals online —
    // this MEASURES them): hourly decimal-exact bucket sums → centered
    // 24-point moving-average trend (full windows only, the textbook CMA
    // edge rule) → detrended residuals → per-hour-of-day seasonal index.
    // Every cross-engine sum rides DECIMAL (order-independent); the two
    // divisions and the subtraction are single deterministic double ops;
    // output pinned with the floor(x·1e4+0.5)/1e4 trick (see TS-INTERP).
    "TS-SEASONAL" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
      val b = ev.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sv"))
      val cma = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(-11, 12)
      val t = b
        .withColumn("cnt", count(lit(1)).over(cma))
        .withColumn("trend",
          sum(col("sv").cast(DecimalType(18, 6))).over(cma).cast("double") /
            col("cnt"))
        .where(col("cnt") === 24)
        .withColumn("det", col("sv") - col("trend"))
      t.groupBy(col("event_type"), hour(col("hr")).as("hod"))
        .agg((sum(col("det").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("raw"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("hod"),
          (floor(col("raw") * lit(1e4) + lit(0.5)) / lit(1e4)).as("seasonal"),
          col("n"))
        .orderBy("event_type", "hod")
    },
    // the REAL streaming as-of join oracle-hashed in batch mode (the
    // STREAM-*-NATIVE trick): one side-tagged keyed stream through
    // `StreamingOps.asOfLastBefore` (one double of state per key) —
    // same contract SQL as JOIN-ASOF, third engine path after the
    // window operator and the native merge exec
    "STREAM-ASOF-NATIVE" -> { (s, d) =>
      import s.implicits._
      val ev = events(s, d)
      val pts = ev.where(col("event_type").isin("click", "purchase"))
        .select(col("user_id").as("key"), col("ts").cast("double").as("epoch"),
          when(col("event_type") === "click", 0).otherwise(1).as("side"),
          col("event_id").as("id"))
        .as[graft.streaming.AsOfPoint]
      graft.streaming.StreamingOps.asOfLastBefore(pts).toDF()
        .select(col("id").as("event_id"),
          when(col("matched"), floor(col("lastLeft")).cast("long"))
            .as("last_click_epoch"))
        .orderBy("event_id").limit(80)
    },
    // the REAL streaming quantile operator under the bound-check contract:
    // StreamingOps.quantilesByWindow (KLL sketch per (metric, window) in
    // flatMapGroupsWithState — a few KB of state at ANY cardinality) on the
    // batch frame; k=200 rank error ~1.65 % sits far inside the exact
    // p40–p60 / p82–p98 bands, so the booleans are deterministically TRUE
    "STREAM-QUANTILE-NATIVE" -> { (s, d) =>
      import s.implicits._
      val ev = events(s, d)
      val secs = col("ts").cast("long")
      val pts = ev.select(col("event_type").as("metric"),
          (secs - (secs % 21600)).as("window"), col("value"))
        .as[graft.streaming.QuantilePoint]
      val est = graft.streaming.StreamingOps.quantilesByWindow(pts).toDF()
      val exact = ev.groupBy(col("event_type").as("e_metric"),
          (secs - (secs % 21600)).as("e_win"))
        .agg(count(lit(1)).as("n"), min("value").as("mn"), max("value").as("mx"),
          expr("percentile(value, 0.40)").as("p40"),
          expr("percentile(value, 0.60)").as("p60"),
          expr("percentile(value, 0.82)").as("p82"),
          expr("percentile(value, 0.98)").as("p98"))
      // tight rank bands once a window has real mass; the KLL estimate is
      // always a retained data value, so [min, max] is the honest bound
      // for sparse windows (small SFs) — both sides deterministic
      def ok(e: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
             hi: org.apache.spark.sql.Column) =
        when(col("n") >= 100, e >= lo && e <= hi)
          .otherwise(e >= col("mn") && e <= col("mx"))
      est.join(exact, col("metric") === col("e_metric")
          && col("window") === col("e_win"))
        .select(col("metric"), col("window").as("win"),
          ok(col("p50"), col("p40"), col("p60")).as("p50_ok"),
          ok(col("p90"), col("p82"), col("p98")).as("p90_ok"))
        .orderBy("metric", "win")
    },
    // the REAL streaming approximate-distinct operator oracle-hashed:
    // StreamingOps.approxDistinctByWindow (theta sketch per key in
    // flatMapGroupsWithState, ≤8·2^lgK bytes of state) on the batch frame.
    // Theta is EXACT below 2^lgK=4096 retained hashes, and distinct users
    // per (type, 6h window) is far under that at every SF — so the oracle
    // is plain exact count(DISTINCT): estimation machinery, exact contract.
    "STREAM-APPROXDIST-NATIVE" -> { (s, d) =>
      import s.implicits._
      val ev = events(s, d)
      val secs = col("ts").cast("long")
      val pts = ev.select(col("event_type").as("metric"),
          (secs - (secs % 21600)).as("window"),
          col("user_id").cast("long").as("item"))
        .as[graft.streaming.DistinctPoint]
      graft.streaming.StreamingOps.approxDistinctByWindow(pts).toDF()
        .select(col("metric"), col("window").as("win"), col("estimate"))
        .orderBy("metric", "win")
    },
    // the REAL streaming CUSUM change detector oracle-hashed: the prefix-min
    // closed form makes the streaming state TWO doubles per key, and the
    // per-batch (epoch, id) fold adds in the same order as the TS-CUSUM
    // running-sum window — batch mode is bit-identical to the window plan,
    // so the oracle is TS-CUSUM's own text (ref = the same per-series
    // window mean)
    "STREAM-CUSUM-NATIVE" -> { (s, d) =>
      import s.implicits._
      val ev = events(s, d)
      val pts = ev.where(col("user_id") < 40)
        .select(col("user_id").as("key"), col("ts").cast("long").as("epoch"),
          col("event_id").as("id"), col("value"),
          avg(col("value")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")).as("ref"))
        .as[graft.streaming.CusumPoint]
      graft.streaming.StreamingOps.cusum(pts).toDF()
        .select(col("key").as("user_id"), col("id").as("event_id"),
          (round(col("cusum"), 4) + 0.0).as("cusum"), col("alarm"))
        .orderBy("user_id", "event_id").limit(400)
    },
    // the REAL streaming SCD2 change stream oracle-hashed: one
    // (epoch, id, state) triple of state per key, ticks settled max-id-
    // wins before comparing — batch mode reproduces exactly the `chg`
    // stage of Cdc.scd2 / DIM-SCD2, so the oracle is that CTE's rows
    "STREAM-SCD2-NATIVE" -> { (s, d) =>
      import s.implicits._
      val ev = events(s, d)
      val pts = ev.where(col("user_id") < 30)
        .select(col("user_id").as("key"), col("ts").cast("long").as("epoch"),
          col("event_id").as("id"),
          floor(col("value") / 100).cast("int").as("state"))
        .as[graft.streaming.Scd2Point]
      graft.streaming.StreamingOps.scd2Changes(pts).toDF()
        .select(col("key").as("user_id"), col("validFrom").as("valid_from"),
          col("state"))
        .orderBy("user_id", "valid_from").limit(400)
    },
    // the NATIVE physical as-of join oracle-checked: same contract as
    // JOIN-ASOF (last click at-or-before each purchase), served by
    // `MergeAsOfJoinExec` — the custom LogicalPlan + Strategy + SparkPlan
    // that merges two key-sorted streams per partition in one O(n) pass
    // with O(1) state (no union, no window buffering)
    "JOIN-ASOF-NATIVE" -> { (s, d) =>
      import graft.operators.AsOfJoin
      val ev = events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click").select("user_id", "ts")
      AsOfJoin.mergeLastBefore(clicks, purchases, "user_id", "ts")
        .select(col("event_id"),
          col("last_left_ts").cast("long").as("last_click_epoch"))
        .orderBy("event_id").limit(80)
    },
    // nearest-in-time join, BOTH directions (sensor/trade alignment —
    // the closest click may come after the purchase): two running windows
    // over ONE key-sorted pass (backward last + forward first), ties to
    // the earlier left row; the oracle is the quadratic argmin join the
    // operator avoids. Output epochs floor to seconds on both engines.
    "JOIN-ASOF-NEAREST" -> { (s, d) =>
      import graft.operators.AsOfJoin
      val ev = events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click").select("user_id", "ts")
      AsOfJoin.nearest(clicks, purchases, "user_id", "ts", "event_id")
        .select(col("event_id"),
          col("nearest_left_ts").cast("long").as("nearest_click_epoch"))
        .orderBy("event_id").limit(80)
    },
    // seasonally-adjusted anomaly ranking — TS-SEASONAL COMPOSED into
    // detection (the metrics-monitoring shape STREAM-ANOMALY's plain EWMA
    // cannot express: a daily-rhythm series needs its rhythm subtracted
    // before outliers mean anything): residual = value − CMA trend −
    // hour-of-day seasonal index, top-3 |residual| hours per series.
    // Determinism: trend/seasonal as in TS-SEASONAL; the rank orders on
    // the PINNED |residual| with the hour as tiebreak.
    "TS-SEASONAL-ANOM" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d)
      val b = ev.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sv"))
      val cma = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(-11, 12)
      val t = b
        .withColumn("cnt", count(lit(1)).over(cma))
        .withColumn("trend",
          sum(col("sv").cast(DecimalType(18, 6))).over(cma).cast("double") /
            col("cnt"))
        .where(col("cnt") === 24)
        .withColumn("det", col("sv") - col("trend"))
        .withColumn("hod", hour(col("hr")))
        // hour-bucket-bounded; feeds BOTH the seasonal-index aggregate and
        // the residual rank — materialize once instead of re-running the
        // events aggregate + CMA window per consumer
        .localCheckpoint()
      val seas = t.groupBy(col("event_type").as("et2"), col("hod").as("hod2"))
        .agg((sum(col("det").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("sidx"))
      val ar = floor(abs(col("det") - col("sidx")) * lit(1e4) + lit(0.5)) / lit(1e4)
      val ranked = t.join(broadcast(seas),
          col("event_type") === col("et2") && col("hod") === col("hod2"))
        .select(col("event_type"), col("hr"), ar.as("resid"))
        .withColumn("rn", row_number().over(Window.partitionBy("event_type")
          .orderBy(col("resid").desc, col("hr"))))
        .where(col("rn") <= 3)
      ranked.select(col("event_type"), col("hr").cast("long").as("hr"),
          col("resid"))
        .orderBy("event_type", "hr")
    },
    // batch counter-to-rate — the collectd DERIVE/COUNTER decode shape and
    // the batch twin of streaming counterToRate: per-series derivative
    // between consecutive points, counter-reset (value drop) restarting at
    // v/dt, zero-dt pairs null (not Inf — engines disagree on 0-division).
    // One series-partitioned window, no join. (TS-RATE is the plain
    // gauge derivative; this is the reset-aware COUNTER semantics.)
    "TS-COUNTER-RATE" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d).where(col("user_id") < 5)
      val ep = col("ts").cast("double")
      val w = Window.partitionBy("event_type").orderBy(ep, col("event_id"))
      val (pv, pe) = (lag(col("value"), 1).over(w), lag(ep, 1).over(w))
      ev.select(col("event_type"), col("event_id"), ep.as("ep"),
          col("value"), pv.as("pv"), pe.as("pe"))
        .where(col("pe").isNotNull && col("ep") > col("pe"))
        .select(col("event_type"), col("event_id"),
          round(when(col("value") >= col("pv"),
              (col("value") - col("pv")) / (col("ep") - col("pe")))
            .otherwise(col("value") / (col("ep") - col("pe"))), 4).as("rate"))
        .orderBy("event_type", "event_id")
    },
    // the REAL streaming heavy-hitters operator in batch mode: Misra-
    // Gries counters per (metric, window) — at most m=64 counters per key
    // at ANY cardinality; the fixture's 40 distinct items sit inside m,
    // so the counts are EXACT and the oracle is the exact top-3 SQL
    "STREAM-TOPK-NATIVE" -> { (s, d) =>
      val sq = s; import sq.implicits._
      val pts = events(s, d)
        .select(col("event_type").as("metric"),
          (floor(col("ts").cast("long") / 21600) * 21600).cast("long").as("window"),
          (col("user_id") % 40).cast("string").as("item"))
        .as[graft.streaming.TopkPoint]
      graft.streaming.StreamingOps.topkByWindow(pts, k = 3, m = 64).toDF()
        .select(col("metric"), col("window").as("win"), col("item"),
          col("cnt"), col("rnk"))
        .orderBy("metric", "win", "rnk")
    },
    // the REAL streaming alert operator in batch mode (flatMapGroupsWith-
    // State sees each series once): CLOSED above-threshold runs meeting
    // the FOR clause — the trailing open run per series stays in state
    // (it could still grow), so the oracle is TS-ALERT-FOR's SQL minus
    // each series' open-ended final run
    "STREAM-ALERT-NATIVE" -> { (s, d) =>
      val sq = s; import sq.implicits._
      val pts = events(s, d).where(col("user_id") < 5)
        .select(col("event_type").as("key"), col("ts").cast("long").as("epoch"),
          col("event_id").as("id"), col("value"))
        .as[graft.streaming.AlertPoint]
      graft.streaming.StreamingOps.alertFor(pts, threshold = 100.0,
          minPts = 2L, holdSec = 600L).toDF()
        .select(col("key").as("event_type"), col("astart"), col("aend"),
          col("npts"), col("dur"))
        .orderBy("event_type", "astart")
    },
    "STREAM-TUMBLE-NATIVE" -> { (s, d) =>
      val ev = events(s, d)
      graft.streaming.StreamingOps.tumble(ev, "ts", "event_type", "6 hours")
        .select(col("wstart").cast("long").as("wstart"), col("event_type"), col("c"))
        .orderBy("wstart", "event_type").limit(100)
    },
    "STREAM-SLIDE-NATIVE" -> { (s, d) =>
      val ev = events(s, d)
      graft.streaming.StreamingOps.slide(ev, "ts", "6 hours", "3 hours")
        .select(col("wstart").cast("long").as("wstart"), col("c"))
        .orderBy("wstart").limit(100)
    },
    // streaming-NATIVE sessionization (the STREAM-JOIN trick applied to
    // session_window): the DSL calls the REAL StreamingOps.sessionize —
    // session_window + watermark behave identically on a batch frame — so
    // the oracle hashes the exact session windows the streaming operator
    // emits (start = first event, end = last event + gap, events with a
    // gap >= 30 min split), not STREAM-SESSION's batch lag/sum
    // reformulation.
    "STREAM-SESSION-NATIVE" -> { (s, d) =>
      val ev = events(s, d)
      graft.streaming.StreamingOps.sessionize(ev, "ts", "user_id", "30 minutes")
        .orderBy("user_id", "sstart").limit(150)
    },
    // streaming-NATIVE anomaly detection: the REAL StreamingOps.anomalies
    // (EWMA mean/variance state, |z|>2 against the pre-update state) run
    // in batch mode — flatMapGroupsWithState folds each metric's points in
    // (epoch, value) order with empty initial state, exactly the fold the
    // DuckDB recursive-CTE oracle replays step by step. Every state update
    // is the same exactly-rounded double sequence on both engines, so the
    // 4dp flag rows hash-match.
    "STREAM-ANOMALY" -> { (s, d) =>
      import s.implicits._
      val pts = events(s, d).where(col("user_id") < 30)
        .select(col("event_type").as("metric"), col("ts").cast("long").as("epoch"),
          col("value"))
        .as[graft.streaming.RatePoint]
      graft.streaming.StreamingOps.anomalies(pts, alpha = 0.3, z = 2.0, warmup = 5)
        .toDF()
        .select(col("metric"), col("epoch"), round(col("value"), 4).as("value"),
          round(col("zscore"), 4).as("zscore"))
        .orderBy("metric", "epoch", "value", "zscore").limit(150)
    },
    // Approximate sketches, hash-checked via DETERMINISTIC error-bound
    // booleans: sketches are hashed (not sampled), so on fixed data the
    // estimate — and therefore the bound check — is bit-stable. The oracle
    // side asserts all-true; the Spark side computes approx AND exact and
    // checks |err| against the documented bound. SketchesSpec carries the
    // numeric error assertions; Bench carries the timing.
    "AGG-APPROX-DISTINCT" -> { (s, d) =>
      val ev = events(s, d)
      val apx = graft.functions.Sketches.approxDistinct(ev, "event_type", "user_id", rsd = 0.05)
      val ext = ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("exact_nd"))
      apx.join(ext, "event_type")
        .select(col("event_type").as("g"),
          (abs(col("approx_nd") - col("exact_nd")) <=
            greatest(col("exact_nd") * 0.15, lit(2.0))).as("within_bound"))
        .orderBy("g")
    },
    // theta-sketch set algebra under the same deterministic bound-check
    // contract: per segment, |users(g) ∪ users(purchase)|, |∩| and |g \
    // purchase| are read from SKETCHES (union/intersect/aNotB — the ops
    // HLL cannot do) and checked against the exactly-computed answers.
    // One sketch build per segment answers every pairwise set question;
    // the exact side is here only to power the bound booleans.
    "AGG-THETA-SETOPS" -> { (s, d) =>
      val ev = events(s, d)
      import graft.functions.Sketches
      val sk = Sketches.thetaSketch(ev, Seq("event_type"), "user_id")
      val base = sk.where(col("event_type") === "purchase")
        .select(col("theta").as("tb"))
      val est = sk.crossJoin(broadcast(base))
        .select(col("event_type"),
          Sketches.thetaEstimate(
            Sketches.thetaUnionPair(col("theta"), col("tb"))).as("e_u"),
          Sketches.thetaEstimate(
            Sketches.thetaIntersect(col("theta"), col("tb"))).as("e_i"),
          Sketches.thetaEstimate(
            Sketches.thetaANotB(col("theta"), col("tb"))).as("e_d"))
      // the distinct (group, user) pairs feed BOTH the purchase-user set
      // and the per-group exact counts — materialize them once instead of
      // re-deriving the distinct through each consumer's lineage
      val users = ev.select("event_type", "user_id").distinct().localCheckpoint()
      val pu = users.where(col("event_type") === "purchase")
        .select(col("user_id").as("puid"))
      val ex = users.join(broadcast(pu), col("user_id") === col("puid"), "left")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_g"), count(col("puid")).as("n_i"))
      val np = pu.agg(count(lit(1)).as("n_p"))
      val exact = ex.crossJoin(broadcast(np))
        .select(col("event_type"),
          (col("n_g") + col("n_p") - col("n_i")).as("x_u"),
          col("n_i").as("x_i"), (col("n_g") - col("n_i")).as("x_d"))
      est.join(exact, "event_type")
        .select(col("event_type").as("g"),
          (abs(col("e_u") - col("x_u")) <=
            greatest(col("x_u") * 0.05, lit(2.0))).as("union_ok"),
          (abs(col("e_i") - col("x_i")) <=
            greatest(col("x_i") * 0.10, lit(2.0))).as("inter_ok"),
          (abs(col("e_d") - col("x_d")) <=
            greatest(col("x_d") * 0.10, lit(2.0))).as("diff_ok"))
        .orderBy("g")
    },
    "AGG-APPROX-MEDIAN" -> { (s, d) =>
      val ev = events(s, d)
      val apx = graft.functions.Sketches.approxMedian(ev, "event_type", "value", accuracy = 10000)
      val ext = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.45)").as("p45"),
        expr("percentile(value, 0.55)").as("p55"))
      apx.join(ext, "event_type")
        .select(col("event_type").as("g"),
          (col("approx_median") >= col("p45") &&
            col("approx_median") <= col("p55")).as("within_bound"))
        .orderBy("g")
    },
    // frequent-items sketch under the same deterministic bound-check
    // contract as AGG-APPROX-DISTINCT/MEDIAN: WHICH borderline items the
    // MG sketch keeps can vary with merge order, but the Misra-Gries
    // guarantees (no overestimate, undercount <= n/(k+1), every item
    // above the bound present) hold for EVERY valid sketch — so the
    // boolean is bit-stable and the oracle asserts all-true.
    "AGG-APPROX-TOPK" -> { (s, d) =>
      val k = 16
      val ev = events(s, d)
      val entries = graft.functions.Sketches
        .frequentItems(ev, Seq("event_type"), "user_id", k)
        .select(col("event_type"), explode(col("freq")).as(Seq("item", "est")))
      // exact counts materialize once (both checks consume them); totals
      // derive from exact instead of a third full scan of events
      val exact = ev.groupBy(col("event_type"),
          col("user_id").cast("string").as("item"))
        .agg(count(lit(1)).as("truth"))
        .localCheckpoint()
      val totals = exact.groupBy("event_type").agg(sum("truth").as("n"))
      val boundsOk = entries.join(exact, Seq("event_type", "item"))
        .join(totals, "event_type")
        .groupBy("event_type")
        .agg(bool_and(col("est") <= col("truth") &&
          (col("truth") - col("est")).cast("double") <= col("n") / (k + 1)).as("bounds_ok"))
      val missingHeavy = exact.join(totals, "event_type")
        .filter(col("truth").cast("double") > col("n") / (k + 1))
        .join(entries.select("event_type", "item"), Seq("event_type", "item"), "left_anti")
        .groupBy("event_type").agg(count(lit(1)).as("n_missing"))
      // base frame = ALL groups: a group whose sketch came back EMPTY (every
      // counter died in the merge subtract — valid MG output when no item
      // exceeds n/(k+1)) passes vacuously unless a guaranteed-heavy item
      // exists, which missingHeavy then flags
      totals.join(boundsOk, Seq("event_type"), "left")
        .join(missingHeavy, Seq("event_type"), "left")
        .select(col("event_type").as("g"),
          (coalesce(col("bounds_ok"), lit(true)) &&
            coalesce(col("n_missing"), lit(0L)) === 0).as("within_bound"))
        .orderBy("g")
    },
    // event-codec twin of PARSE-SFXPROTO: events → EventUploadMessage
    // payloads → decode → aggregate, checked against the direct aggregate
    "PARSE-SFXEVENT" -> { (s, d) =>
      Tables.register(s, d)
      import graft.ingest.SignalFxProto
      val evs = Tables.spread(s.table("events"), "event_id").select(
        col("event_type").as("eventType"),
        lit("AUDIT").as("category"),
        map(lit("user"), col("user_id").cast("string")).as("dimensions"),
        map(lit("et"), col("event_type")).as("properties"),
        (col("ts").cast("long") * 1000L).as("timestamp"))
      val sq = s
      import sq.implicits._
      SignalFxProto.decodeEvents(
          SignalFxProto.encodeEvents(evs.as[SignalFxProto.SfxEvent]))
        .groupBy(col("eventType"))
        .agg(count(lit(1)).as("n"),
          countDistinct(element_at(col("dimensions"), "user")).as("nu"),
          max(col("timestamp")).as("max_ts"))
        .orderBy("eventType")
    },
    // KLL mergeable quantiles under the deterministic bound-check contract
    // (the quantile twin of AGG-APPROX-DISTINCT): per-(group, hour) KLL
    // sketches roll up to per-group quantiles WITHOUT rescanning raw data —
    // the capability GK percentile_approx lacks — and both the rolled-up
    // and the directly-built sketch must land p50 inside the exact p40–p60
    // band and p90 inside p82–p98. Rank error at k=200 is ~1.65 % (99 %);
    // the 8–10 % rank margins make the booleans bit-stable even though KLL
    // compaction is randomized. The oracle asserts all-true.
    "AGG-APPROX-QUANTILES" -> { (s, d) =>
      val ev = events(s, d)
      import graft.functions.Sketches
      graft.functions.expressions.GraftFunctions.register(s)
      val fine = Sketches.kllSketch(
        ev.withColumn("hr", date_trunc("hour", col("ts"))),
        Seq("event_type", "hr"), "value")
      val rolled = Sketches.kllRollup(fine, Seq("event_type"))
        .select(col("event_type"),
          Sketches.kllQuantile(col("kll"), 0.5).as("r50"),
          Sketches.kllQuantile(col("kll"), 0.9).as("r90"))
      // the directly-built sketch and the exact band percentiles share one
      // aggregation pass (same grouping key; was two full scans of events)
      val wholeExact = ev.groupBy("event_type").agg(
        call_function("graft_kll_agg", col("value").cast("double"), lit(200))
          .as("kll"),
        expr("percentile(value, 0.40)").as("p40"),
        expr("percentile(value, 0.60)").as("p60"),
        expr("percentile(value, 0.82)").as("p82"),
        expr("percentile(value, 0.98)").as("p98"))
        .select(col("event_type"),
          Sketches.kllQuantile(col("kll"), 0.5).as("w50"),
          Sketches.kllQuantile(col("kll"), 0.9).as("w90"),
          col("p40"), col("p60"), col("p82"), col("p98"))
      wholeExact.join(rolled, "event_type")
        .select(col("event_type").as("g"),
          (col("w50") >= col("p40") && col("w50") <= col("p60") &&
            col("w90") >= col("p82") && col("w90") <= col("p98")).as("sketch_ok"),
          (col("r50") >= col("p40") && col("r50") <= col("p60") &&
            col("r90") >= col("p82") && col("r90") <= col("p98")).as("rollup_ok"))
        .orderBy("g")
    },
    // k-step ordered funnel (EVENT-FUNNEL generalized): first view, then
    // first click within 24 h of it, then first purchase within 24 h of
    // THAT click — per-user, order-sensitive; see operators.Funnel for the
    // one-shuffle stacked-window plan and the equality argument vs the
    // oracle's decorrelated join formulation.
    "EVENT-FUNNEL-K" -> ((s, d) =>
      graft.operators.Funnel.summary(events(s, d), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"), windowSec = 86400L)),
    // the REAL streaming k-step funnel oracle-hashed (the STREAM-*-NATIVE
    // trick applied to flatMapGroupsWithState): `StreamingOps.funnelSteps`
    // on the batch frame — identical operator, one stage-hit per (user,
    // stage) — aggregated to the same summary row the window operator
    // produces, against the SAME decorrelated-join oracle as
    // EVENT-FUNNEL-K (batch == streaming == oracle, three-way)
    "STREAM-FUNNEL-NATIVE" -> { (s, d) =>
      import s.implicits._
      val pts = events(s, d)
        .select(col("user_id").as("user"), col("event_type").as("step"),
          col("ts").cast("double").as("epoch"))
        .as[graft.streaming.FunnelPoint]
      val hits = graft.streaming.StreamingOps
        .funnelSteps(pts, Seq("view", "click", "purchase"), windowSec = 86400d)
        .toDF()
      val counted = hits.agg(
        count(when(col("stage") === 1, lit(1))).as("n_step1"),
        count(when(col("stage") === 2, lit(1))).as("n_step2"),
        count(when(col("stage") === 3, lit(1))).as("n_step3"))
      counted.select(col("n_step1"), col("n_step2"), col("n_step3"),
        when(col("n_step1") > 0,
          round(col("n_step2").cast("double") / col("n_step1"), 4)).as("conv12"),
        when(col("n_step2") > 0,
          round(col("n_step3").cast("double") / col("n_step2"), 4)).as("conv23"))
    },
    // theta time-grain rollup, mirroring the HLL rollup contract: hourly
    // per-group user sketches UNION to the per-group sketch — and because
    // theta union is order-insensitive and every group here stays in exact
    // mode (distinct users per group < 4096 nominal entries at every SF),
    // merge-of-parts equals sketch-of-whole EXACTLY, and both equal the
    // exact distinct count. rollup_exact is the strict equality; within_bound
    // is the estimation-mode-safe 5 % band that would still hold at 100 TB.
    "AGG-THETA-ROLLUP" -> { (s, d) =>
      val ev = events(s, d)
      import graft.functions.Sketches
      val fine = Sketches.thetaSketch(
        ev.withColumn("hr", date_trunc("hour", col("ts"))),
        Seq("event_type", "hr"), "user_id")
      val rolled = Sketches.thetaRollup(fine, Seq("event_type"))
        .select(col("event_type"),
          round(Sketches.thetaEstimate(col("theta")), 4).as("e_r"))
      // whole-sketch and exact distinct share one aggregation pass (same
      // grouping key; was two full scans of events)
      graft.functions.expressions.GraftFunctions.register(s)
      val wholeExact = ev.groupBy("event_type").agg(
        call_function("graft_theta_agg", col("user_id"), lit(12)).as("theta"),
        countDistinct(col("user_id")).as("x"))
        .select(col("event_type"),
          round(Sketches.thetaEstimate(col("theta")), 4).as("e_w"), col("x"))
      rolled.join(wholeExact, "event_type")
        .select(col("event_type").as("g"),
          (col("e_r") === col("e_w")).as("rollup_exact"),
          (abs(col("e_r") - col("x")) <=
            greatest(col("x") * 0.05, lit(2.0))).as("within_bound"))
        .orderBy("g")
    },
    // Gorilla block codec, oracle-checked by the MM-*-DECODE contract: the
    // REAL bit-level codec runs only on the Spark side (chunk → encode →
    // decode → re-aggregate), the oracle computes the same aggregates from
    // the raw rows — any dod-bucket or XOR-window bug shifts n/tmin/tmax/sv
    // and hash-mismatches. Chunked per (series, 6 h): block state is a few
    // hundred points at any corpus size; one shuffle in, one explode out.
    "GORILLA-ROUNDTRIP" -> { (s, d) =>
      val ev = events(s, d).select(col("user_id"),
          col("ts").cast("bigint").as("et"), col("value"))
        .withColumn("bucket", (floor(col("et") / 21600) * 21600).cast("bigint"))
      val blocks = graft.storage.Gorilla.compact(
        ev, Seq("user_id", "bucket"), "et", "value")
      val back = graft.storage.Gorilla.restore(
        blocks, Seq("user_id", "bucket"), "et", "value")
      back.groupBy("user_id", "bucket").agg(
          count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"),
          min(col("et")).as("tmin"), max(col("et")).as("tmax"))
        .orderBy("user_id", "bucket")
    },
    // EVENT-CONCURRENCY's distributed twin: the same sweep-line prefix sum,
    // but NO unpartitioned window over the delta stream. Two-level prefix
    // sum: (1) running sum within each time bucket (partitioned window —
    // parallel across buckets); (2) per-bucket delta totals, cumulated
    // EXCLUSIVE over the bucket axis (a window over #buckets rows —
    // metadata-scale: one row per 6 h of wall time) and broadcast-joined
    // back as each bucket's starting offset. peak(bucket) = offset +
    // max(local running sum). Hash-identical to the contract query.
    "EVENT-CONCURRENCY-SCALE" -> { (s, d) =>
      val ev = events(s, d).select(col("ts").cast("bigint").as("t"))
      val pts = ev.select(col("t"), lit(1).as("d"))
        .unionAll(ev.select((col("t") + 300).as("t"), lit(-1).as("d")))
        .withColumn("bucket", (floor(col("t") / 21600) * 21600).cast("bigint"))
        // the delta stream feeds BOTH the bucket-local running sum and the
        // per-bucket offset aggregate — materialize once instead of two
        // double-scan unions of events, CLUSTERED by bucket so the
        // checkpoint's preserved hash partitioning satisfies the window's
        // requirement directly (the bare union would pin 2× the parents'
        // partitions and re-shuffle per consumer)
        .repartition(col("bucket"))
        .localCheckpoint()
      val local = pts.withColumn("run",
        sum(col("d")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy(col("t"), col("d"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val offsets = pts.groupBy("bucket").agg(sum(col("d")).as("tot"))
        .withColumn("off",
          coalesce(sum(col("tot")).over(org.apache.spark.sql.expressions.Window
            .orderBy("bucket").rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("bucket", "off")
      local.groupBy("bucket").agg(max(col("run")).as("mx"))
        .join(broadcast(offsets), "bucket")
        .select(col("bucket"), (col("off") + col("mx")).as("peak"))
        .orderBy("bucket")
    },
  )

  /** Shared DuckDB CTE: distinct 3-gram shingles + the portable polynomial
    * hash (char-code fold mod P) — the bit-identical twin of
    * Dedup.portableHash over Dedup.shingles. */
  private val HASH_CTE =
    """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2],' ') AS s
      |       FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS g(i)),
      |hr AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, CAST(length(s) AS INT)), i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM sh)""".stripMargin

  /** DuckDB twin of Dedup.minhashPairs(portableHash): 16-slot affine
    * signatures, 8×2 banding, est ≥ 0.5 — constants interpolated from
    * Dedup.AB so both engines share the family. */
  private def minhashOracle: String = {
    val P = Dedup.P
    val mins = (0 until 16).map { k =>
      val (a, b) = Dedup.AB(k); s"min(($a*h+$b) % $P) AS h$k"
    }.mkString(", ")
    val sigList = (0 until 16).map(k => s"h$k").mkString("[", ",", "]")
    val bkeys = (0 until 8).map(b => s"concat(h${2 * b}, ',', h${2 * b + 1}) AS bk$b").mkString(", ")
    val bunion = (0 until 8).map(b => s"SELECT doc_id, sig, $b AS band, bk$b AS bkey FROM sig").mkString(" UNION ALL ")
    s"""$HASH_CTE,
       |sigw AS (SELECT doc_id, $mins FROM hr GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigList AS sig, $bkeys FROM sigw),
       |banded AS ($bunion),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sig AS siga, b.sig AS sigb
       |         FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |est AS (SELECT da, db, CAST(len(list_filter(generate_series(1,16), i -> siga[i] = sigb[i])) AS DOUBLE)/16 AS est_jac FROM cand)
       |SELECT da, db, round(est_jac, 4) AS est_jac FROM est WHERE est_jac >= 0.5 ORDER BY da, db""".stripMargin
  }

  /** DuckDB twin of Dedup.simhashPairsPortable: 60-bit fingerprint from two
    * affine projections, 4×15-bit chunk LSH, Hamming ≤ 3. */
  private def simhashOracle: String = {
    val P = Dedup.P
    val (a1, b1) = Dedup.AB(0)
    val (a2, b2) = Dedup.AB(1)
    s"""$HASH_CTE,
       |g AS (SELECT doc_id, ($a1*h+$b1) % $P AS g1, ($a2*h+$b2) % $P AS g2 FROM hr),
       |bits AS (SELECT doc_id, i, sum((((CASE WHEN i < 30 THEN g1 >> CAST(i AS INT) ELSE g2 >> CAST(i-30 AS INT) END) & 1)*2 - 1)) AS sb
       |         FROM g CROSS JOIN unnest(generate_series(0, 59)) AS u(i) GROUP BY doc_id, i),
       |fp AS (SELECT doc_id, CAST(sum(CASE WHEN sb > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS f
       |       FROM bits GROUP BY doc_id),
       |ch AS (SELECT doc_id, f, c, (f >> CAST(c*15 AS INT)) & 32767 AS ckey
       |       FROM fp CROSS JOIN unnest(generate_series(0, 3)) AS u(c)),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.f AS fa, b.f AS fb
       |         FROM ch a JOIN ch b ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
       |SELECT da, db, CAST(bit_count(xor(fa, fb)) AS INT) AS dist FROM cand
       |WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY da, db""".stripMargin
  }

  /** DuckDB twin of Similarity.hyperplaneBucket + hyperplaneTopK: the same
    * 8 affine-derived hyperplanes (constants interpolated from Dedup.AB),
    * dot-product sign bits, probe-bucket filter, exact-cosine rerank. */
  /** DuckDB bucket expression twin of Similarity.hyperplaneBucket. */
  private def hyperplaneBucketSql(bits: Int): String = {
    val P = Dedup.P
    val dots = (0 until bits).map { k =>
      val (a, b) = Dedup.AB(k)
      s"list_sum(list_transform(generate_series(1, 64), d -> CAST(embedding[d] AS DOUBLE) * (CAST(($a*d + $b) % $P AS DOUBLE)/$P - 0.5)))"
    }
    (0 until bits).map(k =>
      s"(CASE WHEN ${dots(k)} > 0 THEN ${1 << k} ELSE 0 END)").mkString(" + ")
  }

  private def cosineLshOracle: String = {
    val bucket = hyperplaneBucketSql(4) // must match the LLM-COSINE-LSH query variant
    s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |probe AS (SELECT embedding AS p, bucket AS pb FROM b WHERE vec_id = 0)
       |SELECT e.vec_id, e.bucket,
       |  round(CAST(list_cosine_similarity(e.embedding, probe.p) AS DOUBLE), 3) AS cos
       |FROM b e CROSS JOIN probe
       |WHERE e.bucket = probe.pb AND e.vec_id <> 0
       |ORDER BY cos DESC, e.vec_id LIMIT 5""".stripMargin
  }

  private val STOP_EN = "('the','a','of','and','is')"
  private val STOP_DE = "('der','die','das','und','ist')"
  private val STOP_ES = "('el','la','que','los','y')"
  private val STOP_FR = "('le','les','des','et','est')"

  /** Shared DuckDB CTE prefix for the nation trade graph (k inlined). */
  private def tradeDuckCtes(k: Int): String =
    s"""trade AS MATERIALIZED (
       |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS cnt
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE c_nationkey <> s_nationkey
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cnt DESC, dst) AS rn
       |  FROM trade) t WHERE rn <= $k)""".stripMargin

  /** DuckDB replay of Graph.pageRank(iterations=10, d=0.85,
    * pinDecimals=12): the power iteration unrolled as chained CTEs — one
    * (dangling, contribs, ranks) triple per step, every stored rank
    * exactly-rounded to 12 dp with the same floor(x·1e12+0.5)/1e12 pin
    * the operator applies, and every double literal written as the SAME
    * expression the Scala side evaluates ((1.0 - 0.85), not 0.15 — they
    * are different doubles). */
  private def pageRankDuckSql: String = {
    val head =
      s"""WITH ${tradeDuckCtes(3)},
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |deg AS MATERIALIZED (SELECT src AS node, count(*) AS dg FROM e GROUP BY 1),
         |r0 AS MATERIALIZED (SELECT node, floor(1.0/nn.n*1e12+0.5)/1e12 AS rank FROM nodes, nn)""".stripMargin
    val steps = (1 to 10).map { i =>
      val p = i - 1
      s""",
         |d$i AS MATERIALIZED (SELECT floor(coalesce(sum(r.rank), 0.0)*1e12+0.5)/1e12 AS dang
         |  FROM r$p r LEFT JOIN deg ON deg.node = r.node WHERE deg.dg IS NULL),
         |c$i AS MATERIALIZED (SELECT e.dst AS node, sum(r.rank / deg.dg) AS c
         |  FROM r$p r JOIN deg ON deg.node = r.node JOIN e ON e.src = r.node
         |  GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |    floor(((1.0 - 0.85)/nn.n + 0.85*(coalesce(c$i.c, 0.0) + d$i.dang/nn.n))*1e12+0.5)/1e12 AS rank
         |  FROM nodes CROSS JOIN nn CROSS JOIN d$i
         |  LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
    }.mkString
    head + steps + "\nSELECT node, rank FROM r10 ORDER BY node"
  }

  /** DuckDB replay of Graph.kCore(k=7) on the top-6 trade graph: peeling
    * unrolled as MATERIALIZED CTEs (5 rounds covers every SF's depth;
    * rounds past the fixpoint are no-ops). */
  private def kCoreDuckSql: String = {
    val head =
      s"""WITH ${tradeDuckCtes(6)},
         |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e),
         |a0 AS MATERIALIZED (SELECT u AS node FROM und UNION SELECT v FROM und)""".stripMargin
    val steps = (1 to 5).map { i =>
      val p = i - 1
      s""",
         |g$i AS MATERIALIZED (SELECT node, count(*) AS dg FROM (
         |  SELECT e2.u AS node FROM und e2 JOIN a$p x ON x.node = e2.u JOIN a$p y ON y.node = e2.v
         |  UNION ALL
         |  SELECT e2.v FROM und e2 JOIN a$p x ON x.node = e2.u JOIN a$p y ON y.node = e2.v) t
         |  GROUP BY node),
         |a$i AS MATERIALIZED (SELECT node FROM g$i WHERE dg >= 7)""".stripMargin
    }.mkString
    head + steps + "\nSELECT node, dg FROM g5 WHERE dg >= 7 ORDER BY node"
  }

  /** DuckDB replay of Graph.shortestPaths(source=0, w=1.0, maxHops=6):
    * the Bellman-Ford relaxation unrolled as MATERIALIZED CTEs — a round
    * past the fixpoint is a no-op, so unconditional unrolling matches the
    * operator's early stop. */
  private def ssspDuckSql: String = {
    val head =
      s"""WITH ${tradeDuckCtes(3)},
         |d0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS dist)""".stripMargin
    val steps = (1 to 6).map { i =>
      val p = i - 1
      s""",
         |d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
         |  SELECT e.dst AS node, d$p.dist + 1.0 AS dist
         |  FROM d$p JOIN e ON e.src = d$p.node
         |  UNION ALL SELECT node, dist FROM d$p) t GROUP BY node)""".stripMargin
    }.mkString
    head + steps + "\nSELECT node, dist FROM d6 ORDER BY node"
  }

  val oracleSql: Map[String, String] = Map(
    // the distributed two-level prefix sum must reproduce the contract
    // sweep-line exactly — same oracle text as EVENT-CONCURRENCY
    "EVENT-CONCURRENCY-SCALE" -> Inventory.concurrencyDuckSql,
    // no bytes on the oracle side — aggregates come straight from raw rows
    "GORILLA-ROUNDTRIP" ->
      """WITH b AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS et, value,
        |  CAST(floor(floor(epoch(ts))/21600)*21600 AS BIGINT) AS bucket
        |  FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events) e)
        |SELECT user_id, bucket, count(*) AS n, round(sum(value), 2) AS sv,
        |  min(et) AS tmin, max(et) AS tmax
        |FROM b GROUP BY user_id, bucket ORDER BY user_id, bucket""".stripMargin,
    "GRAPH-SSSP" -> ssspDuckSql,
    "GRAPH-TRIANGLES" ->
      s"""WITH ${tradeDuckCtes(3)},
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e)
         |SELECT count(*) AS n_triangles FROM und e1
         |  JOIN und e2 ON e2.u = e1.v
         |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "GRAPH-PAGERANK" -> pageRankDuckSql,
    // analytic twins of the real decoders: expected stats straight from
    // the generative formulas — no bytes on the oracle side, so a decoder
    // bug cannot cancel out
    "MM-WAV-DECODE" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100),
        |s AS (SELECT k, 400 + (k % 50) AS n FROM ks),
        |m AS (SELECT k, n,
        |  (SELECT sum(abs(((k*31 + i*7) % 2048) - 1024))
        |   FROM generate_series(0, 448) t(i) WHERE i < n) AS sm FROM s)
        |SELECT k, 8000 AS sample_rate, CAST(n AS INT) AS n_samples,
        |  floor(CAST(sm AS DOUBLE) / n * 1e4 + 0.5) / 1e4 AS mean_abs
        |FROM m ORDER BY k""".stripMargin,
    // every k has n >= 400, so all four 100-sample windows are complete
    "MM-WAV-RMS" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100),
        |wk AS (SELECT k, unnest([0, 1, 2, 3]) AS w FROM ks),
        |m AS (SELECT k, w,
        |  (SELECT sum(CAST(((k*31 + i*7) % 2048) - 1024 AS DOUBLE)
        |        * (((k*31 + i*7) % 2048) - 1024))
        |   FROM generate_series(0, 449) t(i)
        |   WHERE i >= w*100 AND i < w*100 + 100) AS sq
        | FROM wk)
        |SELECT k, CAST(w AS INT) AS w,
        |  floor(sqrt(sq / 100.0) * 1e4 + 0.5) / 1e4 AS rms
        |FROM m ORDER BY k, w""".stripMargin,
    // replay the nearest-neighbor index math (integer truncation) on the
    // generative pixel formulas — the resized blob exists only Spark-side
    "MM-BMP-RESIZE" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100),
        |dims AS (SELECT k, 16 + (k % 8) AS sw, 8 + (k % 4) AS sh FROM ks),
        |px AS (SELECT k,
        |    CAST(floor(x * sw / 8.0) AS BIGINT) AS sx,
        |    CAST(floor(y * sh / 4.0) AS BIGINT) AS sy
        |  FROM dims, generate_series(0, 7) tx(x), generate_series(0, 3) ty(y)),
        |m AS (SELECT k, sum((k + sx*3 + sy*5) % 256) AS sr,
        |    sum((k*2 + sx*7 + sy) % 256) AS sg,
        |    sum((k*3 + sx + sy*11) % 256) AS sb
        |  FROM px GROUP BY k)
        |SELECT k, 8 AS width, 4 AS height,
        |  floor(CAST(sr AS DOUBLE) / 32 * 1e4 + 0.5) / 1e4 AS mean_r,
        |  floor(CAST(sg AS DOUBLE) / 32 * 1e4 + 0.5) / 1e4 AS mean_g,
        |  floor(CAST(sb AS DOUBLE) / 32 * 1e4 + 0.5) / 1e4 AS mean_b
        |FROM m ORDER BY k""".stripMargin,
    "MM-BMP-DECODE" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100),
        |dims AS (SELECT k, 16 + (k % 8) AS w, 8 + (k % 4) AS h FROM ks),
        |m AS (SELECT k, w, h,
        |  (SELECT sum((k + x*3 + y*5) % 256) FROM generate_series(0, 22) tx(x),
        |     generate_series(0, 10) ty(y) WHERE x < w AND y < h) AS sr,
        |  (SELECT sum((k*2 + x*7 + y) % 256) FROM generate_series(0, 22) tx(x),
        |     generate_series(0, 10) ty(y) WHERE x < w AND y < h) AS sg,
        |  (SELECT sum((k*3 + x + y*11) % 256) FROM generate_series(0, 22) tx(x),
        |     generate_series(0, 10) ty(y) WHERE x < w AND y < h) AS sb
        |  FROM dims)
        |SELECT k, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  floor(CAST(sr AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_r,
        |  floor(CAST(sg AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_g,
        |  floor(CAST(sb AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_b
        |FROM m ORDER BY k""".stripMargin,
    // PNG is lossless: the decoded per-channel means must equal the
    // generative formula's means exactly — the oracle never touches bytes
    "MM-PNG-DECODE" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100),
        |dims AS (SELECT k, 20 + (k % 6) AS w, 10 + (k % 5) AS h FROM ks),
        |m AS (SELECT k, w, h,
        |  (SELECT sum((k*5 + x*2 + y*7) % 256) FROM generate_series(0, 24) tx(x),
        |     generate_series(0, 13) ty(y) WHERE x < w AND y < h) AS sr,
        |  (SELECT sum((k + x*11 + y*3) % 256) FROM generate_series(0, 24) tx(x),
        |     generate_series(0, 13) ty(y) WHERE x < w AND y < h) AS sg,
        |  (SELECT sum((k*7 + x*5 + y) % 256) FROM generate_series(0, 24) tx(x),
        |     generate_series(0, 13) ty(y) WHERE x < w AND y < h) AS sb
        |  FROM dims)
        |SELECT k, 'png' AS fmt, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  floor(CAST(sr AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_r,
        |  floor(CAST(sg AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_g,
        |  floor(CAST(sb AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_b
        |FROM m ORDER BY k""".stripMargin,
    // every window of the pure tone reports the planted bin
    "MM-WAV-SPECTRUM" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100),
        |d AS (SELECT k, 3 + (k % 13) AS bin, (256 + (k % 3) * 64) / 64 AS nw FROM ks)
        |SELECT k, CAST(w AS INT) AS w, CAST(bin AS INT) AS bin
        |FROM d CROSS JOIN generate_series(0, 5) tw(w)
        |WHERE w < nw ORDER BY k, w""".stripMargin,
    // GIF: lossless LZW + exact ≤256-color palette — the 64-gray field's
    // analytic mean is exact for all three channels
    "MM-GIF-DECODE" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100),
        |dims AS (SELECT k, 18 + (k % 7) AS w, 9 + (k % 6) AS h FROM ks),
        |m AS (SELECT k, w, h,
        |  (SELECT sum(((k*3 + x*5 + y*7) % 64) * 4) FROM generate_series(0, 23) tx(x),
        |     generate_series(0, 13) ty(y) WHERE x < w AND y < h) AS sv
        |  FROM dims)
        |SELECT k, 'gif' AS fmt, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  floor(CAST(sv AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_r,
        |  floor(CAST(sv AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_g,
        |  floor(CAST(sv AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_b
        |FROM m ORDER BY k""".stripMargin,
    // TIFF: lossless RGB (ImageIO sniffs the format name as 'tif')
    "MM-TIFF-DECODE" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100),
        |dims AS (SELECT k, 21 + (k % 5) AS w, 11 + (k % 4) AS h FROM ks),
        |m AS (SELECT k, w, h,
        |  (SELECT sum((k + x*11 + y*3) % 256) FROM generate_series(0, 24) tx(x),
        |     generate_series(0, 13) ty(y) WHERE x < w AND y < h) AS sr,
        |  (SELECT sum((k*2 + x*2 + y*13) % 256) FROM generate_series(0, 24) tx(x),
        |     generate_series(0, 13) ty(y) WHERE x < w AND y < h) AS sg,
        |  (SELECT sum((k*7 + x*7 + y) % 256) FROM generate_series(0, 24) tx(x),
        |     generate_series(0, 13) ty(y) WHERE x < w AND y < h) AS sb
        |  FROM dims)
        |SELECT k, 'tif' AS fmt, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  floor(CAST(sr AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_r,
        |  floor(CAST(sg AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_g,
        |  floor(CAST(sb AS DOUBLE) / (w*h) * 1e4 + 0.5) / 1e4 AS mean_b
        |FROM m ORDER BY k""".stripMargin,
    // JPEG is lossy: dimensions decode exactly; the tolerance check on the
    // channel means is computed Spark-side, so the oracle predicts true
    "MM-JPEG-DECODE" ->
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 100)
        |SELECT k, CAST(20 + (k % 6) AS INT) AS width,
        |  CAST(10 + (k % 5) AS INT) AS height, true AS ok
        |FROM ks ORDER BY k""".stripMargin,
    // layout/skew techniques never change join semantics: each oracle is
    // the PLAIN join the technique accelerates
    "JOIN-BUCKETED" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS base
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "JOIN-BLOOM" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS base
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "JOIN-SALTED" ->
      """SELECT s_nationkey, count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // a z-ordered rewrite returns exactly the raw table's rows
    "SCAN-ZORDER" ->
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
        |FROM events
        |WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 50 AND 150
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // last-write-wins MERGE replayed in plain SQL: every 5th key replaced
    "UPSERT-MERGE" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 4000),
        |m AS (SELECT k,
        |    CASE WHEN k % 5 = 0 THEN 'MERGED' ELSE prio END AS prio,
        |    CASE WHEN k % 5 = 0 THEN price + 1000.0 ELSE price END AS price
        |  FROM base)
        |SELECT prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM m GROUP BY prio ORDER BY prio""".stripMargin,
    // DSv2 reads never change content: plain SQL over raw orders
    "SCAN-SNAPSHOT-PRUNED" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
        |GROUP BY prio ORDER BY prio""".stripMargin,
    // partitioned reads never change content: plain SQL over raw orders
    "SNAPSHOT-PARTITION" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |GROUP BY prio ORDER BY prio""".stripMargin,
    "SNAPSHOT-PARTITION-COUNT" ->
      "SELECT count(*) AS n FROM orders WHERE o_orderpriority = '5-LOW'",
    "SNAPSHOT-PARTITION-TIME" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY month ORDER BY month""".stripMargin,
    "SNAPSHOT-PARTITIONS" ->
      """SELECT 'prio=' || o_orderpriority AS partition,
        |  CAST(1 AS BIGINT) AS n_files, count(*) AS total_rows
        |FROM orders GROUP BY partition ORDER BY partition""".stripMargin,
    // sorted reads never change content: plain SQL over raw orders
    "SNAPSHOT-SORTED" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey BETWEEN 500 AND 1500
        |GROUP BY prio ORDER BY prio""".stripMargin,
    // the dynamic overwrite replayed: 1-URGENT prices doubled
    "SNAPSHOT-OVERWRITE-DYNAMIC" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2)))
        |    AS DOUBLE), 2) AS total
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,
    // the scoped upsert replayed in plain SQL over raw orders
    "UPSERT-PARTITION-SCOPED" ->
      """WITH m AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    CASE WHEN o_orderpriority = '1-URGENT' AND o_orderkey % 3 = 0
        |         THEN o_totalprice + 500.0 ELSE o_totalprice END AS price
        |  FROM orders)
        |SELECT prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM m GROUP BY prio ORDER BY prio""".stripMargin,
    // both MERGE arms replayed: every 7th key deleted, every remaining
    // 5th rewritten
    "UPSERT-DELETE" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 4000),
        |m AS (SELECT k,
        |    CASE WHEN k % 5 = 0 AND k % 7 <> 0 THEN 'MERGED' ELSE prio END AS prio,
        |    CASE WHEN k % 5 = 0 AND k % 7 <> 0 THEN price + 1000.0 ELSE price END AS price
        |  FROM base WHERE k % 7 <> 0)
        |SELECT prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM m GROUP BY prio ORDER BY prio""".stripMargin,
    // append never changes content: union of the two halves
    "SNAPSHOT-APPEND" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey <= 4000
        |GROUP BY prio ORDER BY prio""".stripMargin,
    // pre-evolution rows read null for the evolved column → 'PRE'
    "SNAPSHOT-EVOLVE" ->
      """SELECT CASE WHEN o_orderkey <= 2000 THEN 'PRE' ELSE o_orderpriority END AS prio,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey <= 4000
        |GROUP BY prio ORDER BY prio""".stripMargin,
    // DDL + INSERT INTO never change content: base ∪ inserted half
    "SNAPSHOT-SQL" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey <= 4000
        |GROUP BY prio ORDER BY prio""".stripMargin,
    // compaction never changes content: plain SQL over raw events
    "OPTIMIZE-COMPACT" ->
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
        |FROM events WHERE event_id % 3 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // v1 = the pre-merge base, v2 = every 4th key's price bumped
    "SNAPSHOT-TIMETRAVEL" ->
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 2000),
        |m AS (SELECT k, CASE WHEN k % 4 = 0 THEN price + 500.0 ELSE price END AS price
        |  FROM base)
        |SELECT 'v1' AS ver, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total FROM base
        |UNION ALL
        |SELECT 'v2' AS ver, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total FROM m
        |ORDER BY ver""".stripMargin,
    // atomic CTAS: content is exactly the staged SELECT
    "SNAPSHOT-CTAS" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey <= 5000
        |GROUP BY prio ORDER BY prio""".stripMargin,
    // both eras' rows, whatever the spec era: plain relational replay
    "SNAPSHOT-PARTITION-EVOLVE" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS prio,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey <= 2000
        |GROUP BY status, prio ORDER BY status, prio""".stripMargin,
    // tag 'audited' = first insert; branch 'main' post-publish = both
    "SNAPSHOT-TAGS" ->
      """WITH first AS (SELECT o_orderpriority AS prio, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 2000),
        |published AS (SELECT o_orderpriority AS prio, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 2000
        |  UNION ALL
        |  SELECT o_orderpriority AS prio, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 1000)
        |SELECT 'published' AS ref, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM published GROUP BY prio
        |UNION ALL
        |SELECT 'tagged' AS ref, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM first GROUP BY prio
        |ORDER BY ref, prio""".stripMargin,
    // restore(2): head = first insert only; VERSION AS OF 3 = both
    "SNAPSHOT-RESTORE" ->
      """WITH first AS (SELECT o_orderpriority AS prio, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 2000),
        |allrows AS (SELECT o_orderpriority AS prio, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 2000
        |  UNION ALL
        |  SELECT o_orderpriority AS prio, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 1000)
        |SELECT 'head' AS ver, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM first GROUP BY prio
        |UNION ALL
        |SELECT 'rolled_back' AS ver, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM allrows GROUP BY prio
        |ORDER BY ver, prio""".stripMargin,
    // literal VERSION AS OF: v2 = first insert only, cur = both inserts
    "SNAPSHOT-TIMETRAVEL-SQL" ->
      """WITH first AS (SELECT o_orderpriority AS prio, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 2000),
        |allrows AS (SELECT o_orderpriority AS prio, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 4000)
        |SELECT 'v2' AS ver, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM first GROUP BY prio
        |UNION ALL
        |SELECT 'cur' AS ver, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM allrows GROUP BY prio
        |ORDER BY ver, prio""".stripMargin,
    // exactly-once source→sink: the destination holds every row once
    // epoch 1 inserts k<=2000; epoch 2 inserts the re-keyed k<=1000
    // and deletes their epoch-1 rows
    "CDC-FEED-UPSERT" ->
      """WITH changes AS (
        |  SELECT 'insert' AS change, 1 AS ver, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 2000
        |  UNION ALL
        |  SELECT 'insert' AS change, 2 AS ver, o_totalprice + 1000.0 AS price
        |    FROM orders WHERE o_orderkey <= 1000
        |  UNION ALL
        |  SELECT 'delete' AS change, 2 AS ver, o_totalprice AS price
        |    FROM orders WHERE o_orderkey <= 1000)
        |SELECT change, CAST(ver AS BIGINT) AS ver, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM changes GROUP BY change, ver ORDER BY change, ver""".stripMargin,
    // last-write-wins replay: k<=1000 re-keyed to ('UPD', price+1000)
    "STREAM-UPSERT-NATIVE" ->
      """WITH live AS (
        |  SELECT o_orderkey AS k, 'UPD' AS prio,
        |    o_totalprice + 1000.0 AS price
        |  FROM orders WHERE o_orderkey <= 1000
        |  UNION ALL
        |  SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price
        |  FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000)
        |SELECT prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM live GROUP BY prio ORDER BY prio""".stripMargin,
    "STREAM-SNAPSHOT-NATIVE" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,
    // catalog DDL + INSERT + compact never change content
    "SNAPSHOT-CATALOG" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY prio ORDER BY prio""".stripMargin,
    // the expected version ledger, computed analytically: v1 = first
    // half (4 files), v2 = + second half (4+2 files), v3 = the
    // delete-merge rewrite into 3 clustered files (every 9th key gone)
    "SNAPSHOT-HISTORY" ->
      """WITH c1 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 2 = 0),
        |c2 AS (SELECT count(*) AS n FROM orders),
        |c3 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 9 <> 0)
        |SELECT 1 AS version, CAST(4 AS BIGINT) AS n_files,
        |  CAST((SELECT n FROM c1) AS BIGINT) AS total_rows, true AS has_schema
        |UNION ALL
        |SELECT 2, 6, CAST((SELECT n FROM c2) AS BIGINT), true
        |UNION ALL
        |SELECT 3, 3, CAST((SELECT n FROM c3) AS BIGINT), true
        |ORDER BY version""".stripMargin,
    // widened table = float-cast quarters even half ∪ double odd half
    "SNAPSHOT-EVOLVE-WIDEN" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k,
        |    CAST(CAST((o_orderkey % 997) / 4.0 AS FLOAT) AS DOUBLE) AS price
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey AS k, (o_orderkey % 997) / 4.0 AS price
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT k % 5 AS g, count(*) AS n, CAST(sum(k) AS BIGINT) AS sk,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM t GROUP BY g ORDER BY g""".stripMargin,
    // the change feed after v1 is exactly the k%4 in (2,3) appends
    "CDC-SNAPSHOT" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders WHERE o_orderkey % 4 IN (2, 3)
        |GROUP BY prio ORDER BY prio""".stripMargin,
    // MERGE arms replayed in plain SQL: matched %7 keys deleted, other
    // matched %5 keys rewritten, unmatched non-DEL source keys inserted
    "SNAPSHOT-EVOLVE-RENAME" ->
      """WITH final AS (
        |  SELECT o_orderkey AS k, o_totalprice AS amount,
        |    CAST(NULL AS VARCHAR) AS flag
        |  FROM orders WHERE o_orderkey <= 1400
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, 'fresh'
        |  FROM orders WHERE o_orderkey > 1400 AND o_orderkey <= 1500)
        |SELECT coalesce(flag, 'legacy') AS flag, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sk,
        |  round(CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM final GROUP BY 1 ORDER BY flag""".stripMargin,
    "SNAPSHOT-BRANCH-WRITE" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sk,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    "UPSERT-MERGE-NMBS" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 1200),
        |src AS (SELECT o_orderkey AS k, 'SYNCED' AS prio,
        |    o_totalprice + 500.0 AS price
        |  FROM orders WHERE o_orderkey <= 1500 AND o_orderkey % 3 = 0),
        |final AS (
        |  SELECT s.k, s.prio, s.price FROM src s
        |  UNION ALL
        |  SELECT b.k, b.prio, b.price FROM base b LEFT JOIN src s ON b.k = s.k
        |  WHERE s.k IS NULL AND b.prio = '1-URGENT')
        |SELECT prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM final GROUP BY prio ORDER BY prio""".stripMargin,
    "UPSERT-MERGE-SQL" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 4000),
        |src AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'DEL' ELSE 'MERGED' END AS prio,
        |    o_totalprice + 1000.0 AS price
        |  FROM orders WHERE o_orderkey <= 5000
        |    AND (o_orderkey % 5 = 0 OR o_orderkey % 7 = 0)),
        |merged AS (
        |  SELECT b.k,
        |    CASE WHEN s.k IS NOT NULL THEN s.prio ELSE b.prio END AS prio,
        |    CASE WHEN s.k IS NOT NULL THEN s.price ELSE b.price END AS price
        |  FROM base b LEFT JOIN src s ON b.k = s.k
        |  WHERE s.k IS NULL OR s.prio <> 'DEL'
        |  UNION ALL
        |  SELECT s.k, s.prio, s.price FROM src s LEFT JOIN base b ON s.k = b.k
        |  WHERE b.k IS NULL AND s.prio <> 'DEL')
        |SELECT prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM merged GROUP BY prio ORDER BY prio""".stripMargin,
    "LLM-DEDUP-APPLY" ->
      """WITH docs AS (SELECT doc_id, lang, md5(lower(text)) AS fp FROM documents),
        |keep AS (SELECT doc_id, lang, fp FROM (
        |    SELECT doc_id, lang, fp,
        |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM docs) WHERE rn = 1)
        |SELECT lang, count(*) AS n, count(DISTINCT fp) AS uniq
        |FROM keep GROUP BY lang ORDER BY lang""".stripMargin,
    "CDC-FEED" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 4000),
        |ins AS (SELECT 'insert' AS change, 1 AS ver, prio, count(*) AS n,
        |    round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |  FROM base GROUP BY prio),
        |del AS (SELECT 'delete' AS change, 2 AS ver, prio, count(*) AS n,
        |    round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |  FROM base WHERE k % 3 = 0 AND k <= 2000 GROUP BY prio)
        |SELECT change, CAST(ver AS BIGINT) AS ver, prio, n, total
        |FROM (SELECT * FROM del UNION ALL SELECT * FROM ins)
        |ORDER BY change, ver, prio""".stripMargin,
    "CDC-FEED-UPDATES" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 4000),
        |src AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'DEL' ELSE 'UPD' END AS prio,
        |    o_totalprice + 1000.0 AS price
        |  FROM orders WHERE o_orderkey <= 5000
        |    AND (o_orderkey % 5 = 0 OR o_orderkey % 7 = 0)),
        |changes AS (
        |  SELECT 'update_preimage' AS change, b.price AS price
        |    FROM base b JOIN src s ON b.k = s.k WHERE s.prio <> 'DEL'
        |  UNION ALL
        |  SELECT 'update_postimage' AS change, s.price AS price
        |    FROM base b JOIN src s ON b.k = s.k WHERE s.prio <> 'DEL'
        |  UNION ALL
        |  SELECT 'delete' AS change, b.price AS price
        |    FROM base b JOIN src s ON b.k = s.k WHERE s.prio = 'DEL'
        |  UNION ALL
        |  SELECT 'insert' AS change, s.price AS price
        |    FROM src s LEFT JOIN base b ON s.k = b.k
        |    WHERE b.k IS NULL AND s.prio <> 'DEL')
        |SELECT change, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM changes GROUP BY change ORDER BY change""".stripMargin,
    "UPSERT-MERGE-MOR" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 4000),
        |src AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'DEL' ELSE 'MERGED' END AS prio,
        |    o_totalprice + 1000.0 AS price
        |  FROM orders WHERE o_orderkey <= 5000
        |    AND (o_orderkey % 5 = 0 OR o_orderkey % 7 = 0)),
        |merged AS (
        |  SELECT b.k,
        |    CASE WHEN s.k IS NOT NULL THEN s.prio ELSE b.prio END AS prio,
        |    CASE WHEN s.k IS NOT NULL THEN s.price ELSE b.price END AS price
        |  FROM base b LEFT JOIN src s ON b.k = s.k
        |  WHERE s.k IS NULL OR s.prio <> 'DEL'
        |  UNION ALL
        |  SELECT s.k, s.prio, s.price FROM src s LEFT JOIN base b ON s.k = b.k
        |  WHERE b.k IS NULL AND s.prio <> 'DEL')
        |SELECT prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM merged GROUP BY prio ORDER BY prio""".stripMargin,
    // post-delete content ∪ the time-traveled pre-delete base
    "UPSERT-DELETE-SQL" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 4000),
        |post AS (SELECT * FROM base WHERE NOT (k % 3 = 0 AND k <= 2000))
        |SELECT 'post' AS ver, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM post GROUP BY prio
        |UNION ALL
        |SELECT 'pre' AS ver, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM base GROUP BY prio
        |ORDER BY ver, prio""".stripMargin,
    "UPSERT-DELETE-MOR" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS price FROM orders WHERE o_orderkey <= 4000),
        |post AS (SELECT * FROM base WHERE NOT (k % 3 = 0 AND k <= 2000))
        |SELECT 'post' AS ver, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM post GROUP BY prio
        |UNION ALL
        |SELECT 'pre' AS ver, prio, count(*) AS n,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM base GROUP BY prio
        |ORDER BY ver, prio""".stripMargin,
    "SAMPLE-SPLIT" ->
      """WITH h AS (SELECT doc_id, lang,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, CAST(length(CAST(doc_id AS VARCHAR)) AS INT)),
        |        i -> CAST(ascii(substr(CAST(doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) % 100 AS b
        |  FROM documents)
        |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, count(*) AS n, min(doc_id) AS first_doc
        |FROM h GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    "TEXT-BIGRAM-LM" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |pairs AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM toks, unnest(range(1, len(ts))) AS u(i)
        |  WHERE len(ts) >= 2),
        |bg AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
        |ug AS (SELECT w1, sum(c2) AS c1 FROM bg GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS v FROM (
        |  SELECT w1 FROM pairs UNION SELECT w2 FROM pairs) t),
        |scored AS (
        |  SELECT p.doc_id,
        |    -ln((bg.c2 + 0.5) / (ug.c1 + 0.5 * vv.v)) AS lp
        |  FROM pairs p JOIN bg ON p.w1 = bg.w1 AND p.w2 = bg.w2
        |    JOIN ug ON p.w1 = ug.w1 CROSS JOIN vv)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor(exp(CAST(sum(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4 AS ppl
        |FROM scored GROUP BY doc_id ORDER BY doc_id LIMIT 60""".stripMargin,
    // the JOIN-ASOF contract SQL, reused verbatim for the native exec
    "JOIN-ASOF-NATIVE" ->
      s"""WITH purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, max(CAST(floor(epoch(c.ts)) AS BIGINT)) AS last_click_epoch
        |FROM purchases p LEFT JOIN clicks c
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |GROUP BY p.event_id ORDER BY p.event_id LIMIT 80""".stripMargin,
    "STREAM-ASOF-NATIVE" ->
      s"""WITH purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, max(CAST(floor(epoch(c.ts)) AS BIGINT)) AS last_click_epoch
        |FROM purchases p LEFT JOIN clicks c
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |GROUP BY p.event_id ORDER BY p.event_id LIMIT 80""".stripMargin,
    // the streaming CUSUM folds in the same order the TS-CUSUM window sums:
    // one oracle text serves both engine paths
    "STREAM-CUSUM-NATIVE" -> Inventory.byId("TS-CUSUM").duckSql,
    // DIM-SCD2's chg stage without the valid_to lead — the change rows
    // the streaming operator emits as versions open
    "STREAM-SCD2-NATIVE" ->
      """WITH log AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS et,
        |    event_id, CAST(floor(value / 100) AS INT) AS state
        |  FROM events WHERE user_id < 30),
        |lw AS (SELECT user_id, et, state FROM (
        |    SELECT user_id, et, state,
        |      row_number() OVER (PARTITION BY user_id, et ORDER BY event_id DESC) AS rn
        |    FROM log) t WHERE rn = 1),
        |d AS (SELECT user_id, et, state,
        |        lag(state) OVER (PARTITION BY user_id ORDER BY et) AS ps
        |      FROM lw)
        |SELECT user_id, et AS valid_from, state FROM d
        |WHERE ps IS NULL OR ps <> state
        |ORDER BY user_id, valid_from LIMIT 400""".stripMargin,
    // k-core peeling unrolled (the SSSP recipe): degree over both-ends-
    // active edges, drop below k, 5 rounds — fixpoint makes extras no-ops
    "GRAPH-KCORE" -> kCoreDuckSql,
    // KLL rank error (~1.65 % at k=200) is far inside the p40–p60 /
    // p82–p98 bands: the bound booleans are deterministically TRUE
    "STREAM-QUANTILE-NATIVE" ->
      """WITH pts AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS et
        |    FROM events)
        |SELECT event_type AS metric, (et - (et % 21600)) AS win,
        |  TRUE AS p50_ok, TRUE AS p90_ok
        |FROM pts GROUP BY event_type, (et - (et % 21600))
        |ORDER BY metric, win""".stripMargin,
    // exact replay of the streaming theta-sketch distinct counter: below
    // 2^lgK retained hashes the sketch estimate IS the exact distinct count
    "STREAM-APPROXDIST-NATIVE" ->
      """WITH pts AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS et,
        |    user_id FROM events)
        |SELECT metric, win, estimate FROM (
        |  SELECT event_type AS metric, (et - (et % 21600)) AS win,
        |    CAST(count(DISTINCT user_id) AS DOUBLE) AS estimate
        |  FROM pts GROUP BY event_type, (et - (et % 21600))) t
        |ORDER BY metric, win""".stripMargin,
    // nearest click per purchase: lexicographic [|Δt|, click-epoch] argmin
    // — the quadratic contract formulation of AsOfJoin.nearest
    "JOIN-ASOF-NEAREST" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM e WHERE event_type = 'click')
        |SELECT event_id, CAST(floor(m[2]) AS BIGINT) AS nearest_click_epoch FROM (
        |  SELECT p.event_id,
        |    min(CASE WHEN c.ts IS NOT NULL
        |      THEN [abs(epoch(c.ts) - epoch(p.ts)), epoch(c.ts)] END) AS m
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  GROUP BY p.event_id) t
        |ORDER BY event_id LIMIT 80""".stripMargin,
    "TS-LINFIT" ->
      """WITH b AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS h,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y
        |           FROM events GROUP BY 1, 2),
        |m0 AS (SELECT event_type, min(h) AS h0 FROM b GROUP BY 1),
        |j AS (SELECT b.event_type, b.h - m0.h0 AS x, b.y
        |      FROM b JOIN m0 ON b.event_type = m0.event_type),
        |a AS (SELECT event_type, count(*) AS n,
        |        CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x*y AS DECIMAL(28,4))) AS DOUBLE)
        |          - CAST(sum(x) AS DOUBLE) * CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS num,
        |        CAST(count(*) AS DOUBLE) * CAST(sum(x*x) AS DOUBLE)
        |          - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE) AS den,
        |        CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |        CAST(sum(x) AS DOUBLE) AS sx
        |      FROM j GROUP BY 1)
        |SELECT event_type, n, round(num / den, 6) AS slope,
        |  round((sy - num / den * sx) / n, 4) AS intercept
        |FROM a WHERE den > 0 ORDER BY event_type""".stripMargin,
    "TS-SEASONAL-ANOM" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, hr, sv,
        |        count(*) OVER w AS cnt,
        |        CAST(sum(CAST(sv AS DECIMAL(18,6))) OVER w AS DOUBLE) AS tsum
        |      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |        ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
        |tt AS (SELECT event_type, hr, hour(hr) AS hod, sv - tsum / cnt AS det
        |       FROM t WHERE cnt = 24),
        |seas AS (SELECT event_type, hod,
        |           CAST(sum(CAST(det AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS sidx
        |         FROM tt GROUP BY 1, 2),
        |r AS (SELECT tt.event_type, tt.hr,
        |        floor(abs(tt.det - seas.sidx) * 1e4 + 0.5) / 1e4 AS resid
        |      FROM tt JOIN seas ON tt.event_type = seas.event_type AND tt.hod = seas.hod),
        |rk AS (SELECT event_type, hr, resid,
        |        row_number() OVER (PARTITION BY event_type ORDER BY resid DESC, hr) AS rn
        |       FROM r)
        |SELECT event_type, CAST(epoch(hr) AS BIGINT) AS hr, resid
        |FROM rk WHERE rn <= 3 ORDER BY event_type, hr""".stripMargin,
    "TS-SEASONAL" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, hr, sv,
        |        count(*) OVER w AS cnt,
        |        CAST(sum(CAST(sv AS DECIMAL(18,6))) OVER w AS DOUBLE) AS tsum
        |      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |        ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
        |det AS (SELECT event_type, hour(hr) AS hod, sv - tsum / cnt AS det
        |        FROM t WHERE cnt = 24)
        |SELECT event_type, hod,
        |  floor(CAST(sum(CAST(det AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS seasonal,
        |  count(*) AS n
        |FROM det GROUP BY 1, 2 ORDER BY event_type, hod""".stripMargin,
    "STREAM-JOIN" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |b AS (SELECT user_id, event_id AS p_id, ts AS buy_ts FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, ts AS click_ts FROM e WHERE event_type = 'click')
        |SELECT p_id, count(*) AS n_clicks, max(c_id) AS last_click
        |FROM b JOIN c ON b.user_id = c.user_id
        |  AND epoch_us(buy_ts) >= epoch_us(click_ts)
        |  AND epoch_us(buy_ts) <= epoch_us(click_ts) + 1800000000
        |GROUP BY p_id ORDER BY p_id LIMIT 100""".stripMargin,
    "JOIN-RANGE-SCALE" ->
      """SELECT o_orderkey, count(*) AS cnt
        |FROM orders JOIN lineitem
        |  ON l_extendedprice >= o_totalprice / 100
        | AND l_extendedprice <= o_totalprice / 100 + 200
        |WHERE o_orderkey % 100 = 0
        |GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 100""".stripMargin,
    // window() semantics, relationally: epoch-aligned 6h buckets (and the
    // two 3h-shifted window families for slide), starts as epoch seconds
    // linear interpolation: bracketing observations via IGNORE NULLS
    // windows in both directions, time-weighted line in DOUBLE
    "TS-INTERP" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |           FROM events GROUP BY 1, 2),
        |rng AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM b GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM rng),
        |j AS (SELECT g.event_type, g.hr, b.sv FROM grid g
        |      LEFT JOIN b ON b.event_type = g.event_type AND b.hr = g.hr),
        |w AS (SELECT event_type, hr, sv,
        |        last_value(sv IGNORE NULLS) OVER bk AS pv,
        |        last_value(CASE WHEN sv IS NOT NULL THEN epoch(hr) END IGNORE NULLS) OVER bk AS ph,
        |        first_value(sv IGNORE NULLS) OVER fw AS nv,
        |        first_value(CASE WHEN sv IS NOT NULL THEN epoch(hr) END IGNORE NULLS) OVER fw AS nh
        |      FROM j WINDOW
        |        bk AS (PARTITION BY event_type ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |        fw AS (PARTITION BY event_type ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, CAST(epoch(hr) AS BIGINT) AS hr,
        |  floor((CASE WHEN sv IS NOT NULL THEN sv
        |        WHEN pv IS NOT NULL AND nv IS NOT NULL
        |          THEN pv + (nv - pv) * (epoch(hr) - ph) / (nh - ph)
        |        ELSE coalesce(pv, nv) END) * 1e4 + 0.5) / 1e4 AS v
        |FROM w ORDER BY event_type, hr""".stripMargin,
    // counter-to-rate: per-series derivative, reset restarts at v/dt,
    // zero-dt pairs dropped by the ep > pe guard on both engines
    "TS-COUNTER-RATE" ->
      """WITH e AS (SELECT event_type, event_id, epoch(CAST(ts AS TIMESTAMP)) AS ep, value
        |           FROM events WHERE user_id < 5),
        |l AS (SELECT event_type, event_id, ep, value,
        |        lag(value) OVER w AS pv, lag(ep) OVER w AS pe
        |      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ep, event_id))
        |SELECT event_type, event_id,
        |  round(CASE WHEN value >= pv THEN (value - pv) / (ep - pe)
        |        ELSE value / (ep - pe) END, 4) AS rate
        |FROM l WHERE pe IS NOT NULL AND ep > pe
        |ORDER BY event_type, event_id""".stripMargin,
    // exact top-3 (MG is exact under m distinct items), deterministic
    // tie-break count desc then item asc
    "STREAM-TOPK-NATIVE" ->
      """WITH e AS (SELECT event_type AS metric,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600 AS BIGINT) AS win,
        |    CAST(user_id % 40 AS VARCHAR) AS item
        |  FROM events),
        |c AS (SELECT metric, win, item, CAST(count(*) AS BIGINT) AS cnt
        |      FROM e GROUP BY metric, win, item),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY metric, win ORDER BY cnt DESC, item) AS rnk
        |      FROM c)
        |SELECT metric, win, item, cnt, CAST(rnk AS INT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY metric, win, rnk""".stripMargin,
    // TS-ALERT-FOR's run SQL minus each series' OPEN trailing run. "Open"
    // is identified by run IDENTITY, not by epoch: the open run is the
    // one containing the last FLAGGED point, and it is open iff that
    // point is the series' overall last point in (ep, id) order — an
    // epoch-only comparison would mis-exclude a run closed by a
    // sub-threshold point at a TIED epoch
    "STREAM-ALERT-NATIVE" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep, value
        |  FROM events WHERE user_id < 5),
        |f AS (SELECT *, row_number() OVER
        |        (PARTITION BY event_type ORDER BY ep, event_id) AS rall
        |      FROM e),
        |g AS (SELECT *, rall - row_number() OVER
        |        (PARTITION BY event_type ORDER BY ep, event_id) AS grp
        |      FROM f WHERE value > 100),
        |runs AS (SELECT event_type, grp,
        |    min(ep) AS astart, max(ep) AS aend, CAST(count(*) AS BIGINT) AS npts
        |  FROM g GROUP BY event_type, grp),
        |openr AS (SELECT event_type AS oet, max(rall) AS mfr,
        |    max_by(grp, rall) AS ogrp FROM g GROUP BY event_type),
        |alln AS (SELECT event_type AS aet, max(rall) AS mar FROM f GROUP BY event_type)
        |SELECT r.event_type, astart, aend, npts, aend - astart AS dur
        |FROM runs r
        |JOIN openr o ON r.event_type = o.oet
        |JOIN alln a ON r.event_type = a.aet
        |WHERE npts >= 2 AND aend - astart >= 600
        |  AND NOT (o.mfr = a.mar AND r.grp = o.ogrp)
        |ORDER BY r.event_type, astart""".stripMargin,
    "STREAM-TUMBLE-NATIVE" ->
      """SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600 AS BIGINT) AS wstart,
        |  event_type, count(*) AS c
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 100""".stripMargin,
    "STREAM-SLIDE-NATIVE" ->
      """WITH shifts AS (SELECT 0 AS s UNION ALL SELECT 10800),
        |b AS (SELECT CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - s) / 21600) * 21600 + s AS BIGINT) AS wstart
        |      FROM events CROSS JOIN shifts)
        |SELECT wstart, count(*) AS c FROM b GROUP BY wstart ORDER BY wstart LIMIT 100""".stripMargin,
    // session_window semantics, relationally: sessions merge while the
    // inter-event gap is STRICTLY under 30 min (windows [t, t+gap) merge
    // iff they overlap), start = first event, end = last event + gap
    "STREAM-SESSION-NATIVE" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT min(ts) AS sstart, max(ts) + INTERVAL 30 MINUTE AS send,
        |  user_id, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, sstart LIMIT 150""".stripMargin,
    // the EWMA anomaly fold replayed as a recursive CTE: state row rn holds
    // (n, mean, var) BEFORE point rn folds in; double literals pinned, and
    // every arithmetic step mirrors StreamingOps.anomalies token for token
    "STREAM-ANOMALY" ->
      """WITH RECURSIVE pts AS (
        |  SELECT event_type AS metric,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep, value AS v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT), value) AS rn
        |  FROM events WHERE user_id < 30
        |),
        |st AS (
        |  SELECT metric, CAST(1 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS n,
        |    0.0::DOUBLE AS mean, 0.0::DOUBLE AS varr
        |  FROM (SELECT DISTINCT metric FROM pts) m
        |  UNION ALL
        |  SELECT s.metric, s.rn + 1, s.n + 1,
        |    s.mean + 0.3::DOUBLE * (p.v - s.mean),
        |    (1.0::DOUBLE - 0.3::DOUBLE) * (s.varr + 0.3::DOUBLE * (p.v - s.mean) * (p.v - s.mean))
        |  FROM st s JOIN pts p ON p.metric = s.metric AND p.rn = s.rn
        |)
        |SELECT p.metric, p.ep AS epoch, round(p.v, 4) AS value,
        |  round((p.v - s.mean) / sqrt(s.varr), 4) AS zscore
        |FROM pts p JOIN st s ON s.metric = p.metric AND s.rn = p.rn
        |WHERE s.n >= 5 AND s.varr > 0
        |  AND abs((p.v - s.mean) / sqrt(s.varr)) > 2.0
        |ORDER BY p.metric, p.ep, value, zscore LIMIT 150""".stripMargin,
    // approx sketches: the oracle asserts the deterministic bound holds
    "AGG-APPROX-DISTINCT" ->
      """SELECT event_type AS g, TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY g""".stripMargin,
    "AGG-APPROX-MEDIAN" ->
      """SELECT event_type AS g, TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY g""".stripMargin,
    // theta set ops: the oracle asserts the deterministic bounds hold
    "AGG-THETA-SETOPS" ->
      """SELECT event_type AS g, TRUE AS union_ok, TRUE AS inter_ok,
        |  TRUE AS diff_ok
        |FROM events GROUP BY event_type ORDER BY g""".stripMargin,
    "AGG-APPROX-TOPK" ->
      """SELECT event_type AS g, TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY g""".stripMargin,
    // k-step funnel: decorrelated join formulation — first view, first
    // qualifying click within 24 h, first qualifying purchase within 24 h
    // (STREAM-FUNNEL-NATIVE shares it: batch == streaming == oracle)
    "EVENT-FUNNEL-K" ->
      """WITH s1 AS (SELECT user_id, min(epoch(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch(e.ts)) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch(e.ts) >= s1.t1
        |    AND epoch(e.ts) <= s1.t1 + 86400 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch(e.ts)) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s2.t2
        |    AND epoch(e.ts) <= s2.t2 + 86400 GROUP BY e.user_id)
        |SELECT n_step1, n_step2, n_step3,
        |  CASE WHEN n_step1 > 0
        |    THEN round(CAST(n_step2 AS DOUBLE) / n_step1, 4) END AS conv12,
        |  CASE WHEN n_step2 > 0
        |    THEN round(CAST(n_step3 AS DOUBLE) / n_step2, 4) END AS conv23
        |FROM (SELECT (SELECT count(*) FROM s1) AS n_step1,
        |  (SELECT count(*) FROM s2) AS n_step2,
        |  (SELECT count(*) FROM s3) AS n_step3)""".stripMargin,
    "STREAM-FUNNEL-NATIVE" ->
      """WITH s1 AS (SELECT user_id, min(epoch(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch(e.ts)) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch(e.ts) >= s1.t1
        |    AND epoch(e.ts) <= s1.t1 + 86400 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch(e.ts)) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch(e.ts) >= s2.t2
        |    AND epoch(e.ts) <= s2.t2 + 86400 GROUP BY e.user_id)
        |SELECT n_step1, n_step2, n_step3,
        |  CASE WHEN n_step1 > 0
        |    THEN round(CAST(n_step2 AS DOUBLE) / n_step1, 4) END AS conv12,
        |  CASE WHEN n_step2 > 0
        |    THEN round(CAST(n_step3 AS DOUBLE) / n_step2, 4) END AS conv23
        |FROM (SELECT (SELECT count(*) FROM s1) AS n_step1,
        |  (SELECT count(*) FROM s2) AS n_step2,
        |  (SELECT count(*) FROM s3) AS n_step3)""".stripMargin,
    // KLL quantiles: the oracle asserts the deterministic rank-error bounds
    "AGG-APPROX-QUANTILES" ->
      """SELECT event_type AS g, TRUE AS sketch_ok, TRUE AS rollup_ok
        |FROM events GROUP BY event_type ORDER BY g""".stripMargin,
    // theta rollup: exact-mode union equality + the estimation-safe bound
    "AGG-THETA-ROLLUP" ->
      """SELECT event_type AS g, TRUE AS rollup_exact, TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY g""".stripMargin,
    "TEXT-TOKENS-BPE" ->
      s"""SELECT doc_id, len(string_split(text, ' ')) AS n_ws,
        |  len(regexp_extract_all(text, '${TextAnalysis.BpePattern.replace("'", "''")}')) AS n_bpe
        |FROM documents ORDER BY doc_id LIMIT 60""".stripMargin,
    "LLM-MINHASH-LSH" -> minhashOracle,
    "LLM-COSINE-LSH" -> cosineLshOracle,
    "LLM-ANN-MULTIPROBE" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${hyperplaneBucketSql(4)} AS bucket FROM embeddings),
        |probe AS (SELECT embedding AS p, bucket AS pb0 FROM b WHERE vec_id = 0),
        |pbs AS (SELECT p, unnest([pb0, xor(pb0,1), xor(pb0,2), xor(pb0,4), xor(pb0,8)]) AS pb FROM probe)
        |SELECT e.vec_id, e.bucket,
        |  round(CAST(list_cosine_similarity(e.embedding, pbs.p) AS DOUBLE), 3) AS cos
        |FROM b e JOIN pbs ON e.bucket = pbs.pb
        |WHERE e.vec_id <> 0
        |ORDER BY cos DESC, e.vec_id LIMIT 5""".stripMargin,
    "LLM-EMB-NEARDUP" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${hyperplaneBucketSql(4)} AS bucket FROM embeddings)
        |SELECT a.vec_id AS va, c.vec_id AS vb,
        |  round(CAST(list_cosine_similarity(a.embedding, c.embedding) AS DOUBLE), 3) AS cos
        |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        |WHERE round(CAST(list_cosine_similarity(a.embedding, c.embedding) AS DOUBLE), 3) >= 0.35
        |ORDER BY cos DESC, va, vb""".stripMargin,
    "LLM-SIMHASH" -> simhashOracle,
    // same regex subset (Java ∩ RE2: classes + bounded repetition), same
    // chain order, 'g' flag to match Spark's replace-all semantics
    "TEXT-SCRUB" ->
      """SELECT p_partkey AS k,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    concat(p_name, ' mail u', p_partkey, '@ex.com ip 10.0.',
        |           p_partkey % 256, '.7 tel 555-',
        |           lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0'),
        |           '-1234 id ', p_partkey * 104729),
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
        |    '[0-9]{6,}', '[NUM]', 'g') AS scrubbed
        |FROM part WHERE p_partkey <= 2000 ORDER BY k LIMIT 100""".stripMargin,
    "TEXT-QUALITY" ->
      s"""WITH t AS (SELECT doc_id, length(text) AS n_chars, string_split(text,' ') AS toks FROM documents)
        |SELECT doc_id, n_chars, len(toks) AS n_tokens,
        |  round(CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks), 4) AS avg_tok_len,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr,
        |  round(CAST(len(list_filter(toks, x -> x IN $STOP_EN)) AS DOUBLE) / len(toks), 4) AS stop_ratio
        |FROM t ORDER BY doc_id LIMIT 50""".stripMargin,
    "TEXT-LANGID" ->
      s"""WITH v AS (SELECT doc_id, text,
        |  len(list_filter(string_split(text,' '), x -> x IN $STOP_EN)) AS v_en,
        |  len(list_filter(string_split(text,' '), x -> x IN $STOP_DE)) AS v_de,
        |  len(list_filter(string_split(text,' '), x -> x IN $STOP_ES)) AS v_es,
        |  len(list_filter(string_split(text,' '), x -> x IN $STOP_FR)) AS v_fr
        |FROM documents)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
        |       WHEN v_en >= greatest(v_de, v_es, v_fr) AND v_en > 0 THEN 'en'
        |       WHEN v_de >= greatest(v_es, v_fr) AND v_de > 0 THEN 'de'
        |       WHEN v_es >= v_fr AND v_es > 0 THEN 'es'
        |       WHEN v_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS guess,
        |  v_en, v_de, v_es, v_fr
        |FROM v ORDER BY doc_id LIMIT 60""".stripMargin,
    "LLM-DEDUP-NORM" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS digest,
        |  count(*) AS n_docs, min(doc_id) AS rep
        |FROM documents
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY digest""".stripMargin,
    "TEXT-NORMALIZE" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm,
        |  length(text) AS n_raw,
        |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_norm
        |FROM documents ORDER BY doc_id LIMIT 50""".stripMargin,
    "TEXT-FINGERPRINT" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |p AS (SELECT doc_id, i, t[i] AS tok
        |      FROM toks CROSS JOIN unnest(generate_series(1, len(t))) AS g(i))
        |SELECT doc_id,
        |  CAST(sum((ascii(substr(tok,1,1)) * 31 + length(tok)) * i) % 1000000007 AS BIGINT) AS fp
        |FROM p GROUP BY doc_id ORDER BY doc_id LIMIT 60""".stripMargin,
    // the dedupCorpus pipeline in one recursive-CTE statement: exact-clone
    // reps → jaccard pairs over rep texts → transitive closure → keep
    // everything except non-minimum cluster members
    "LLM-DEDUP-SWEEP" ->
      """WITH RECURSIVE reps AS (
        |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
        |  FROM documents GROUP BY md5(lower(text))),
        |toks AS (SELECT doc_id, string_split(text,' ') AS t FROM reps),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2],' ') AS s
        |       FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS g(i)),
        |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db
        |          FROM inter JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |          WHERE CAST(i AS DOUBLE)/(ca.c+cb.c-i) >= 0.8),
        |edges AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
        |),
        |dropped AS (SELECT node AS doc_id FROM reach GROUP BY node
        |            HAVING node <> min(r))
        |SELECT doc_id FROM reps
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id LIMIT 500""".stripMargin,
    "LLM-PREP-PIPELINE" ->
      s"""WITH q AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, string_split(text,' ') AS toks FROM documents) t
        |  WHERE len(toks) >= 20
        |    AND round(CAST(len(list_filter(toks, x -> x IN $STOP_EN)) AS DOUBLE) / len(toks), 4) >= 0.05),
        |kept AS (SELECT d.doc_id, d.lang, string_split(d.text,' ') AS t
        |         FROM documents d JOIN q ON q.doc_id = d.doc_id),
        |chunks AS (SELECT doc_id, lang, md5(array_to_string(t[st:st+49], ' ')) AS chunk_md5
        |           FROM kept CROSS JOIN unnest(generate_series(1, len(t), 40)) AS s(st))
        |SELECT lang, count(DISTINCT doc_id) AS docs_kept, count(*) AS n_chunks,
        |  count(DISTINCT chunk_md5) AS n_uniq_chunks
        |FROM chunks GROUP BY lang ORDER BY lang""".stripMargin,
    // transitive closure via recursive CTE: reach(node, r) = r is reachable
    // from node; min reachable label == component minimum (undirected graph)
    "LLM-DUP-CLUSTERS" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2],' ') AS s
        |       FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS g(i)),
        |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db
        |          FROM inter JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |          WHERE CAST(i AS DOUBLE)/(ca.c+cb.c-i) >= 0.8),
        |edges AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db AS a, da AS b FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
        |)
        |SELECT min(r) AS cluster_id, node AS doc_id FROM reach
        |GROUP BY node ORDER BY cluster_id, doc_id""".stripMargin,
    // asymmetric containment of benchmark-probe shingle sets in corpus docs
    "LLM-CONTAIN" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2],' ') AS s
        |       FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS g(i)),
        |p AS (SELECT doc_id AS probe_id, s FROM sh WHERE doc_id < 20),
        |pc AS (SELECT probe_id, count(*) AS c FROM p GROUP BY probe_id),
        |hits AS (SELECT p.probe_id, d.doc_id, count(*) AS i
        |         FROM p JOIN sh d ON d.s = p.s AND d.doc_id <> p.probe_id
        |         GROUP BY 1, 2)
        |SELECT probe_id, doc_id, round(CAST(i AS DOUBLE) / pc.c, 4) AS containment
        |FROM hits JOIN pc USING (probe_id)
        |WHERE CAST(i AS DOUBLE) / pc.c >= 0.5
        |ORDER BY probe_id, doc_id LIMIT 100""".stripMargin,
    "LLM-JACCARD-PAIRS" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2],' ') AS s
        |       FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS g(i)),
        |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT da, db, round(CAST(i AS DOUBLE)/(ca.c+cb.c-i), 4) AS jac
        |FROM inter JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |WHERE CAST(i AS DOUBLE)/(ca.c+cb.c-i) >= 0.8
        |ORDER BY jac DESC, da, db LIMIT 100""".stripMargin,
    "LLM-JACCARD-PREFIX" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2],' ') AS s
        |       FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS g(i)),
        |card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT da, db, round(CAST(i AS DOUBLE)/(ca.c+cb.c-i), 4) AS jac
        |FROM inter JOIN card ca ON ca.doc_id = da JOIN card cb ON cb.doc_id = db
        |WHERE CAST(i AS DOUBLE)/(ca.c+cb.c-i) >= 0.8
        |ORDER BY jac DESC, da, db LIMIT 100""".stripMargin,
    // repeated-span removal: positioned 8-token shingles, cross-doc
    // repeated buckets, gaps-and-islands merge to maximal spans
    "LLM-SPAN-DEDUP" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, i AS p, array_to_string(t[i:i+7],' ') AS s
        |        FROM toks CROSS JOIN unnest(generate_series(1, len(t)-7)) AS g(i)),
        |hs AS (SELECT doc_id, p, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(1, CAST(length(s) AS INT)), i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT))),
        |        (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM pos),
        |rep AS (SELECT h FROM hs GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT doc_id, p FROM hs JOIN rep USING (h)),
        |isl AS (SELECT doc_id, p, CASE WHEN lag(p) OVER w IS NULL
        |          OR p - lag(p) OVER w > 8 THEN 1 ELSE 0 END AS brk
        |        FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |grp AS (SELECT doc_id, p,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM isl)
        |SELECT doc_id, min(p) AS span_start, max(p) + 7 AS span_end,
        |  count(*) AS n_shingles
        |FROM grp GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    // span scrub: same span CTE, then token-level anti-semantics removal;
    // a fully-covered doc yields the empty string (string_agg over zero
    // kept tokens is NULL -> coalesce)
    "LLM-SPAN-SCRUB" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, i AS p, array_to_string(t[i:i+7],' ') AS s
        |        FROM toks CROSS JOIN unnest(generate_series(1, len(t)-7)) AS g(i)),
        |hs AS (SELECT doc_id, p, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(generate_series(1, CAST(length(s) AS INT)), i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT))),
        |        (acc, x) -> (acc * 31 + x) % 1000000007) AS h FROM pos),
        |rep AS (SELECT h FROM hs GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT doc_id, p FROM hs JOIN rep USING (h)),
        |isl AS (SELECT doc_id, p, CASE WHEN lag(p) OVER w IS NULL
        |          OR p - lag(p) OVER w > 8 THEN 1 ELSE 0 END AS brk
        |        FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |grp AS (SELECT doc_id, p,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM isl),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) + 7 AS e
        |       FROM grp GROUP BY doc_id, island),
        |aff AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id),
        |tokpos AS (SELECT doc_id, i AS p, t[i] AS tok FROM toks
        |           CROSS JOIN unnest(generate_series(1, len(t))) AS g(i)),
        |kept AS (SELECT tp.doc_id, tp.p, tp.tok
        |         FROM tokpos tp JOIN aff USING (doc_id)
        |         WHERE NOT EXISTS (SELECT 1 FROM sp
        |           WHERE sp.doc_id = tp.doc_id AND tp.p BETWEEN sp.s AND sp.e)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct
        |        FROM kept GROUP BY doc_id)
        |SELECT a.doc_id, coalesce(agg.ct, '') AS clean_text, a.n_spans
        |FROM aff a LEFT JOIN agg USING (doc_id) ORDER BY a.doc_id""".stripMargin,
    "LLM-EMB-PAIRS" ->
      """SELECT a.vec_id AS va, b.vec_id AS vb,
        |  round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 3) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cos DESC, va, vb LIMIT 10""".stripMargin,
    "LLM-ANN-IVF" ->
      """WITH b AS (SELECT vec_id, embedding,
        |  CAST(embedding[1] > 0 AS INT)*4 + CAST(embedding[2] > 0 AS INT)*2 + CAST(embedding[3] > 0 AS INT) AS cell
        |  FROM embeddings),
        |probe AS (SELECT embedding AS p, cell AS pcell FROM b WHERE vec_id = 0)
        |SELECT e.vec_id, e.cell,
        |  round(CAST(list_cosine_similarity(e.embedding, probe.p) AS DOUBLE), 3) AS cos
        |FROM b e CROSS JOIN probe
        |WHERE e.cell = probe.pcell AND e.vec_id <> 0
        |ORDER BY cos DESC, e.vec_id LIMIT 5""".stripMargin,
    // deterministic moments/eigensolve/projection: the oracle predicts
    // the row count and both bound booleans
    "LLM-EMB-PCA" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, 8 AS k,
        |  true AS ve_ok, true AS recon_ok
        |FROM embeddings""".stripMargin,
    // persisted IVF+PQ: n=10 results per probe and the recall bound hold
    // deterministically (seeded training) — the oracle predicts them
    "LLM-ANN-INDEXED" ->
      """SELECT CAST(x AS BIGINT) AS probe_id, 10 AS n, true AS recall_ok
        |FROM (VALUES (0), (1), (2)) t(x) ORDER BY probe_id""".stripMargin,
    // deterministic cells/edges/components: the oracle predicts the
    // count and all three post-condition booleans
    "LLM-SEMDEDUP" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, true AS no_kept_neardups_ok,
        |  true AS dropped_linked_ok, true AS kept_frac_ok
        |FROM embeddings""".stripMargin,
    "LLM-ANN-PROBES" ->
      """WITH probes AS (SELECT vec_id AS probe_id, embedding AS p FROM embeddings WHERE vec_id IN (0,1,2)),
        |scored AS (SELECT probes.probe_id, e.vec_id,
        |    round(CAST(list_cosine_similarity(e.embedding, probes.p) AS DOUBLE), 3) AS cos
        |  FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> probes.probe_id),
        |ranked AS (SELECT probe_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT probe_id, rank, vec_id, cos FROM ranked WHERE rank <= 3
        |ORDER BY probe_id, rank""".stripMargin,
    // frames 0..(2 + k%4 - 1), every 2nd sampled; uniform-color frames
    // decode to their generative formula exactly
    "MM-GIF-FRAMES" ->
      """WITH ks AS (SELECT doc_id AS k FROM documents WHERE doc_id < 12),
        |fr AS (SELECT k, CAST(g.f AS INT) AS frame_idx FROM ks
        |  CROSS JOIN unnest(generate_series(0, CAST(1 + k % 4 AS INT))) AS g(f))
        |SELECT k, frame_idx,
        |  CAST(16 + k % 5 AS INT) AS width, CAST(8 + k % 3 AS INT) AS height,
        |  CAST((k*7 + frame_idx*11) % 256 AS DOUBLE) AS mr,
        |  CAST((k*5 + frame_idx*13) % 256 AS DOUBLE) AS mg,
        |  CAST((k*3 + frame_idx*17) % 256 AS DOUBLE) AS mb
        |FROM fr WHERE frame_idx % 2 = 0 ORDER BY k, frame_idx""".stripMargin,
    "MM-BINARY-META" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS digest, upper(substr(hex(encode(text)), 1, 16)) AS head_hex
        |FROM documents ORDER BY media_id LIMIT 50""".stripMargin,
    "PARSE-COMMAKEYS" ->
      """WITH m AS (SELECT concat('svc.', event_type, '.count[user=', CAST(user_id AS VARCHAR),
        |    ',ev=', CAST(event_id AS VARCHAR), ']') AS raw FROM events)
        |SELECT regexp_extract(raw, '^([^\[]+)', 1) AS metric,
        |  CAST(regexp_extract(raw, 'user=([0-9]+)', 1) AS BIGINT) AS u,
        |  CAST(regexp_extract(raw, 'ev=([0-9]+)', 1) AS BIGINT) AS e
        |FROM m ORDER BY e LIMIT 50""".stripMargin,
    "PARSE-REWRITE" ->
      """SELECT concat('service.', event_type, '.count') AS metric, count(*) AS n,
        |  count(DISTINCT CAST(user_id AS VARCHAR)) AS nu, 'us1' AS dc
        |FROM events WHERE event_type <> 'purchase'
        |GROUP BY event_type ORDER BY metric""".stripMargin,
    "PARSE-DELIMITER" ->
      """WITH m AS (SELECT event_id, string_split(concat('svc.', event_type, '.count'), '.') AS parts
        |  FROM events)
        |SELECT event_id AS e, parts[1] AS ns, parts[2] AS etype, parts[3] AS stat
        |FROM m ORDER BY e LIMIT 50""".stripMargin,
    "PARSE-SFXEVENT" ->
      """SELECT event_type AS eventType, count(*) AS n,
        |  count(DISTINCT user_id) AS nu,
        |  max(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) * 1000) AS max_ts
        |FROM events GROUP BY event_type ORDER BY eventType""".stripMargin,
    "PARSE-SFXPROTO" ->
      """SELECT concat('order.', o_orderstatus) AS metric, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
        |  count(DISTINCT o_orderpriority) AS npri,
        |  max(o_orderkey * 1000) AS max_ts
        |FROM orders GROUP BY metric ORDER BY metric""".stripMargin,
  )
}
