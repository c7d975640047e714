package graft

import graft.cdc.CdcBatch
import graft.functions.{TextFns, VectorFns}
import graft.multimodal.Binary
import graft.operators.{Dedup, MinHashLSH, SimHash, Similarity}
import graft.search.{Aggs, IndexMapping, JsonDsl, SearchDsl}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


import graft.EntrySupport._

/** Similarity search (ANN) index builds + query paths.
  * Split out of the monolithic SparkEntry registry (round 10)
  * purely mechanically — entry bodies and oracle SQL are
  * byte-identical; SparkEntry aggregates the family maps.
  */
private[graft] object AnnEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // ── Similarity search ───────────────────────────────────────────────
    "ann_bruteforce_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0),
        "vec_id",
        "embedding",
        queryVec(s, dir, 0),
        10
      )),

    // Filtered vector search (the OpenSearch knn `filter` clause): the
    // metadata predicate applies BEFORE scoring — pre-filtering, the
    // exact-recall strategy — so the scan prunes on label and only
    // surviving vectors pay the cosine.
    "ann_filtered_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0 && col("label") === 2),
        "vec_id",
        "embedding",
        queryVec(s, dir, 0),
        10
      )),

    // MMR diversified re-rank (Carbonell-Goldstein '98): the distributed
    // retrieval stage hands a bounded top-50 window to the coordinator-
    // side greedy selection (λ·rel − (1−λ)·max-sim-to-selected), the
    // rescore-phase shape. λ=1 ≡ plain top-k (ReplicaSpec equality);
    // rows-only in the gate — emitted scores are replica-verified.
    "ann_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0),
        "vec_id",
        "embedding",
        queryVec(s, dir, 0),
        10,
        50,
        0.5
      )),

    "ann_knn_join" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity
        .knnJoin(emb.filter(col("vec_id") < 3), emb.filter(col("vec_id") >= 3), "vec_id", "embedding", 5)
        .orderBy("probe_id", "rank")
    }),

    // 4-bit sigs x 8 tables: ~16 buckets over a 500-vector corpus keeps
    // per-bucket candidate lists ~30 and multi-table union recall high
    // (ReplicaSpec pins recall >= 0.5 vs brute force with exact scores).
    // Split Bm25/IVF-style: ann_lsh_build reports the honest signature
    // build (fresh every call); ann_lsh_topk probes the amortized index.
    // r16: md5-derived hyperplanes (VectorFns.HyperplaneCache) make every
    // signature recomputable in DuckDB — full per-table occupancy
    // histogram oracle-checked (was rows-only under murmur3 planes).
    "ann_lsh_build" -> ((s, dir) =>
      Similarity
        .lshIndex(Tables.embeddings(s, dir), "vec_id", "embedding", nBits = 4, tables = 8)
        .sigs
        .groupBy("table", "sig")
        .agg(count(lit(1)).as("n"))
        .groupBy("table")
        .agg(
          count(lit(1)).as("n_buckets"),
          sum("n").as("n_rows"),
          max("n").as("max_bucket"),
          min("n").as("min_bucket")
        )
        .orderBy("table")),

    "ann_lsh_topk" -> ((s, dir) =>
      Similarity
        .scoreAgainstLsh(cachedLsh(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10)),


    // IVF ANN, split Bm25-style: ann_ivf_build reports the honest index
    // build cost (fresh every call — per-cell occupancy result);
    // ann_ivf_topk scores against the amortized per-JVM index, which is
    // the per-query cost a deployment actually pays. Approximate ->
    // rows-only.
    "ann_ivf_build" -> ((s, dir) =>
      Similarity
        .ivfIndex(Tables.embeddings(s, dir), "vec_id", "embedding", nLists = 16)
        .assigned
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cell")),

    "ann_ivf_topk" -> ((s, dir) =>
      Similarity
        .scoreAgainstIvf(cachedIvf(s, dir, nLists = 16), "vec_id", "embedding", queryVec(s, dir, 0), 10, nProbe = 6)),

    // IVF incremental maintenance — the faiss add() contract: today's
    // vectors (vec_id % 5 == 0) assign to the EXISTING centroids in one
    // delta-sized scan and union into the memoized base assignment
    // table; the same query then searches the grown index. Centroid
    // drift is the documented trade (cells reflect train-time data;
    // periodic retrain is the remedy). SimilaritySpec checks the folded
    // cells against first-principles nearest-centroid math.
    "ann_ivf_incremental" -> ((s, dir) => {
      val delta = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0)
      val idx = Similarity.addToIvf(cachedIvfBase(s, dir), delta, "vec_id", "embedding")
      Similarity.scoreAgainstIvf(idx, "vec_id", "embedding", queryVec(s, dir, 0), 10, nProbe = 6)
    }),

    "ann_ivf_kmeans_topk" -> ((s, dir) =>
      Similarity
        .scoreAgainstIvf(cachedIvfKMeans(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10, nProbe = 6)),

    // Graph ANN (the NSW/HNSW family — OpenSearch's default knn engine).
    // Honest build: k-means blocking + in-cell exact top-m adjacency,
    // fresh every call, summarized per node-degree (approximate-by-design
    // -> rows-only; structure proven in ReplicaSpec).
    "ann_graph_build" -> ((s, dir) =>
      Similarity
        .graphIndex(Tables.embeddings(s, dir), "vec_id", "embedding")
        .neighbors
        .groupBy("id")
        .agg(count(lit(1)).as("degree"))
        .groupBy("degree")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")),

    // Beam search over the amortized graph: fixed expand/score/prune
    // rounds, exact emitted cosines, recall floor in ReplicaSpec.
    "ann_graph_topk" -> ((s, dir) =>
      Similarity
        .graphSearch(cachedGraph(s, dir), Tables.embeddings(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10)),

    // The ONLINE serving tier (r15): the bucketed GraphServing handle —
    // id-hash-partitioned cached RDDs, per-round partition-pruned
    // point-reads, no per-query SQL planning (the measured majority of
    // single-probe latency; ANN_QPS_r15 graph_seq 1.18 → ~9 QPS).
    // Result-identical to ann_graph_topk by GraphServingSpec's
    // bit-parity pin (same probe, same policy, same cosine fold).
    "ann_graph_serving" -> ((s, dir) => {
      import s.implicits._
      Similarity
        .graphSearchServe(cachedGraphServing(s, dir), queryVec(s, dir, 0), 10)
        .toDF("id", "cos")
    }),

    // The batched SERVING tier (r16): the whole (bounded) probe set
    // advances through the bucketed point-read handle together — one
    // adjacency fetch + one vector fetch per round for the BATCH, each
    // id read once however many probes want it. Result rows are
    // bit-identical per probe to ann_graph_serving / the DataFrame
    // beam (GraphServingSpec pins it); this is the online batch path,
    // ann_graph_batch_topk below stays the unbounded probe-set plan.
    "ann_graph_serving_batch" -> ((s, dir) => {
      import s.implicits._
      val probes = (0 until 3).map(i => i.toLong -> queryVec(s, dir, i))
      Similarity
        .graphSearchServeBatch(cachedGraphServing(s, dir), probes, 10)
        .toDF("probe_id", "id", "cos")
        .orderBy("probe_id", "id")
    }),

    // The batch form: every probe advances through the SAME fixed
    // rounds as a set-based (probe_id, id, cos) beam frame — constant
    // job count regardless of probe count, zero driver collects.
    "ann_graph_batch_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity
        .graphSearchBatch(cachedGraph(s, dir), emb, "vec_id", "embedding", emb.filter(col("vec_id") < 3), 10)
        .orderBy("probe_id", "rank")
    }),

    // Two-layer graph descent (HNSW's hierarchy, Spark-shaped): honest
    // top-layer build cost — the ~1/8 id-hash sample's own neighbor
    // table — reported like every *_build row (the bottom layer's cost
    // is ann_graph_build). r18: the sample hash is md5-derived (matching
    // graphIndex2), so this whole build replays in DuckDB — FULL oracle.
    "ann_graph_hier_build" -> ((s, dir) =>
      Similarity
        .graphIndex(
          Tables
            .embeddings(s, dir)
            .filter(functions.Md5PrefixLong.md5PrefixLong(col("vec_id").cast("string"), 15) % 8 === 0),
          "vec_id",
          "embedding"
        )
        .neighbors
        .groupBy("id")
        .agg(count(lit(1)).as("degree"))
        .groupBy("degree")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")),

    // Descend: brief top-layer beam picks warm entry points, bottom runs
    // the standard fixed-round search from them — fewer bottom rounds
    // (2 vs 3) at equal-or-better recall (ReplicaSpec measures the A/B).
    "ann_graph_hier_topk" -> ((s, dir) =>
      Similarity
        .graphSearch2(cachedGraph2(s, dir), Tables.embeddings(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10)),

    // PQ maintenance without retrain — the quantized-index add(): the
    // delta encodes against the FROZEN centroids+codebooks in one
    // delta-sized scan and unions into the memoized code table; the
    // standard query then runs the ADC path over the grown index.
    // Codebook drift documented at Similarity.addToPq; SimilaritySpec
    // re-derives every delta code first-principles.
    "ann_pq_incremental" -> ((s, dir) => {
      val delta = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0)
      val grown = Similarity.addToPq(cachedPqBase(s, dir), delta, "vec_id", "embedding")
      Similarity.scoreAgainstPq(grown, "vec_id", "embedding", queryVec(s, dir, 0), 10, nProbe = 4)
    }),

    // NSW insert — graph maintenance without a rebuild: today's vectors
    // (vec_id % 50 == 0 — a 2% daily delta) beam-search the base graph for their m
    // neighbors, link both directions, and only touched adjacency lists
    // re-prune; the standard query (vec 0 IS a delta vector) then runs
    // over the grown graph, proving new nodes are searchable. Entry-point
    // and batch-internal-edge trades documented at Similarity.addToGraph;
    // ReplicaSpec measures post-insert recall.
    "ann_graph_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val delta = emb.filter(col("vec_id") % 50 === 0)
      // Insert budget below the query budget (beam 12 / 2 rounds): the
      // insert only needs m=8 good neighbors, not a full search —
      // ReplicaSpec measures post-insert recall at exactly these params.
      val grown0 =
        Similarity.addToGraph(cachedGraphBase(s, dir), emb, "vec_id", "embedding", delta, beam = 12, rounds = 2)
      // Materialize the folded adjacency ONCE (a live tier writes it
      // durably after the insert — this is that write): the scalar beam
      // search issues several driver actions, and without this each one
      // would re-run the whole insert DAG. The suite owns the cache
      // lifecycle (clearCache between queries).
      val grown = grown0.copy(
        neighbors = grown0.neighbors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      )
      Similarity.graphSearch(grown, emb, "vec_id", "embedding", queryVec(s, dir, 0), 10)
    }),

    // Honest PQ build cost: the full encode (coarse assign + residual
    // codebook training + per-vector codes) runs on every call.
    "ann_ivf_pq_build" -> ((s, dir) =>
      Similarity
        .pqIndex(Tables.embeddings(s, dir), "vec_id", "embedding")
        .codes
        .filter(col("cell") >= 0)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cell")),

    // ADC scan over the probed cells' 8-byte codes (no vectors read for
    // ranking), exact-cosine rescore of the short rerank list — replica
    // bounds in ReplicaSpec (recall vs brute force, exact scores,
    // compression vs the raw-vector IVF table).
    "ann_ivf_pq_topk" -> ((s, dir) =>
      Similarity
        .scoreAgainstPq(cachedPq(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10, nProbe = 6)),

    // Range (radius) search: fixed cosine threshold instead of top-k —
    // the dedup-query shape (the query itself excluded, as bruteforce).
    "ann_range_search" -> ((s, dir) =>
      Similarity
        .rangeSearch(
          Tables.embeddings(s, dir).filter(col("vec_id") =!= 0),
          "vec_id",
          "embedding",
          queryVec(s, dir, 0),
          minCos = 0.3
        )),

    // OPQ (Ge CVPR'13): learned orthonormal residual rotation before the
    // subspace split — sample-trained on the driver (best-of-iterations,
    // never worse than identity = plain PQ), corpus encode still one
    // projection scan. Honest fresh build; topk probes the amortized
    // index through the same ADC + exact-rescore path.
    "ann_ivf_opq_build" -> ((s, dir) =>
      Similarity
        .opqIndex(Tables.embeddings(s, dir), "vec_id", "embedding")
        .codes
        .filter(col("cell") >= 0)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cell")),

    "ann_ivf_opq_topk" -> ((s, dir) =>
      Similarity
        .scoreAgainstPq(cachedOpq(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10, nProbe = 6, rerank = 100)),

    // Distributed OPQ (the R7 candidate landed): rotation trained on the
    // FULL corpus — Procrustes cross-covariance Σ x·yᵀ accumulated by a
    // native TypedImperativeAggregate (dim² doubles per partition on the
    // shuffle, never vectors), codebooks refit by corpus-wide means, only
    // the dim×dim SVD driver-side. Honest fresh build; topk probes the
    // amortized index through the shared ADC + exact-rescore path.
    "ann_ivf_opq_full_build" -> ((s, dir) =>
      Similarity
        .opqIndexFull(Tables.embeddings(s, dir), "vec_id", "embedding")
        .codes
        .filter(col("cell") >= 0)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("cell")),

    "ann_ivf_opq_full_topk" -> ((s, dir) =>
      Similarity
        .scoreAgainstPq(cachedOpqFull(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10, nProbe = 6, rerank = 100)),

    // Vectorized multi-probe batch ANN: every probe's (radius-1) buckets
    // generated as one small frame, ONE pass over the signature table for
    // the whole batch, TopKPerKey bounded-heap ranking — per-probe result
    // sets identical to scoreAgainstLsh at the same radius (ReplicaSpec).
    // PCA fit (the dimensionality-reduction/whitening step of an
    // embedding pipeline): one corpus pass accumulates count, per-dim
    // sums, and the native outer-product Σx·xᵀ (shuffle carries dim²
    // doubles, never vectors); the 64×64 eigensolve is driver math.
    // Honest fresh fit per call; rows-only + PcaSpec contracts
    // (orthonormality, variance capture, reconstruction identity).
    "ann_pca_build" -> ((s, dir) => {
      import s.implicits._
      val m = operators.Pca.fit(Tables.embeddings(s, dir), "embedding", 64, 16)
      m.eigenvalues.zipWithIndex
        .map { case (ev, i) =>
          (i + 1, math.round(ev * 1e6) / 1e6, math.round(ev / m.totalVariance * 1e6) / 1e6)
        }
        .toSeq
        .toDF("component", "eigenvalue", "explained_ratio")
        .orderBy("component")
    }),

    // Two-phase PCA ANN: rank by 16-dim projected distance (4× less
    // arithmetic per candidate — the learned-variance analogue of the
    // matryoshka slice; the projection is one HOF matrix-vector
    // expression, no UDF), exact-cosine rescore of the top window.
    // The projection is learned float math, so candidates are not
    // SQL-reproducible: rows-only + PcaSpec recall floor vs brute force
    // with exact emitted scores.
    "ann_pca_topk" -> ((s, dir) =>
      operators.Pca.pcaTopK(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0),
        "vec_id",
        "embedding",
        cachedPca(s, dir),
        queryVec(s, dir, 0),
        window = 100,
        kOut = 10
      )),

    // Matryoshka (MRL) truncation: rank by the cosine of the first 16
    // dims (4× less arithmetic and memory traffic per candidate — the
    // nested-embedding accelerator), exact-rescore the top rerank window
    // on full vectors. Both phases deterministic, so the whole two-phase
    // pipeline is oracle-checkable — no recall bound needed.
    "ann_matryoshka_topk" -> ((s, dir) => {
      val q = queryVec(s, dir, 0)
      val q16 = q.take(16)
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      val cand = emb
        .select(
          col("vec_id"),
          VectorFns.cosine(slice(col("embedding"), 1, 16), array(q16.map(x => lit(x.toDouble)): _*)).as("tcos")
        )
        .orderBy(col("tcos").desc, col("vec_id"))
        .limit(50)
        .select("vec_id")
      emb
        .join(cand, Seq("vec_id"))
        .select(
          col("vec_id"),
          round(VectorFns.cosine(col("embedding"), array(q.map(x => lit(x.toDouble)): _*)), 6).as("cos")
        )
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // Late-interaction (ColBERT-style) maxsim: a multi-vector query
    // scored against multi-vector documents (labels play the document
    // grouping) — per (doc, query-token) MAX cosine, summed over query
    // tokens. The probe set broadcasts (a query is a handful of token
    // vectors); corpus-side work is one scan + one hash agg, and the
    // final sum is a FIXED b0+b1+b2 tree (not a 3-row float sum), so
    // both engines add in the same order.
    "ann_maxsim" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cos = VectorFns.cosine(col("embedding"), col("q_emb"))
      emb
        .filter(col("vec_id") >= 3)
        .crossJoin(broadcast(probes))
        .select(col("label"), col("q_id"), cos.as("cos"))
        .groupBy("label")
        .agg(
          max(when(col("q_id") === 0, col("cos"))).as("b0"),
          max(when(col("q_id") === 1, col("cos"))).as("b1"),
          max(when(col("q_id") === 2, col("cos"))).as("b2")
        )
        .select(col("label"), round(col("b0") + col("b1") + col("b2"), 6).as("maxsim"))
        .orderBy(col("maxsim").desc, col("label"))
    }),

    // SQ8 scalar quantization (the per-dim grid complement to PQ's
    // per-subspace codebooks): honest fresh build — min/max agg + encode
    // scan; topk ranks on dequantized byte codes (no float vectors read)
    // then exact-rescores, like every ANN path here. r17: the encode
    // arithmetic is double-precision, so the WHOLE code table is DuckDB-
    // recomputable — the build entry emits the per-dim grid bounds plus
    // exact integer moments of every stored code (sum/min/max/distinct),
    // a full-strength oracle over the quantizer (was a 1-row rows-only
    // count).
    "ann_sq8_build" -> ((s, dir) => {
      import s.implicits._
      val idx = Similarity.sqIndex(Tables.embeddings(s, dir), "vec_id", "embedding")
      val loHi = idx.lo.indices.map(i => (i, idx.lo(i).toDouble, idx.hi(i).toDouble)).toDF("d", "lo", "hi")
      val decode = udf((code: Array[Byte]) => code.map(b => b + 128))
      idx.codes
        .select(posexplode(decode(col("code"))).as(Seq("d", "q")))
        .groupBy("d")
        .agg(
          count(lit(1)).as("n"),
          sum("q").as("sum_q"),
          min("q").as("min_q"),
          max("q").as("max_q"),
          countDistinct(col("q")).as("n_codes")
        )
        .join(loHi, "d")
        .select("d", "lo", "hi", "n", "sum_q", "min_q", "max_q", "n_codes")
        .orderBy("d")
    }),

    "ann_sq8_topk" -> ((s, dir) =>
      Similarity.scoreAgainstSq(cachedSq(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10)),

    // Binary quantization: 1 bit per dim (sign vs the per-dim corpus
    // mean), so a 64-dim vector is ONE 64-bit word — 32× under float32,
    // the rung below SQ8. The sign test runs in double, the candidate
    // ranking is bit_count(xor) Hamming with id tie-break, and the top-50
    // rescore is exact — every step deterministic, so unlike the
    // replica-bounded rungs this ENTIRE path is oracle-checked (DuckDB
    // reproduces the bits, the candidate set, and the exact scores).
    "ann_bq_build" -> ((s, dir) => {
      val idx = Similarity.bqIndex(Tables.embeddings(s, dir), "vec_id", "embedding")
      idx.codes
        .select(expr("aggregate(transform(code, w -> bit_count(w)), 0, (a, x) -> a + x)").as("_ones"))
        .agg(
          count(lit(1)).as("n_vectors"),
          sum(col("_ones")).as("total_ones"),
          min(col("_ones")).as("min_ones"),
          max(col("_ones")).as("max_ones")
        )
    }),

    "ann_bq_topk" -> ((s, dir) =>
      Similarity.scoreAgainstBq(cachedBqIdx(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10)),

    "ann_lsh_batch_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity
        .knnJoinLsh(cachedLsh4(s, dir), emb.filter(col("vec_id") < 3), "vec_id", "embedding", 5, probeRadius = 1)
        .orderBy("probe_id", "rank")
    }),

    "ann_lsh_multiprobe_topk" -> ((s, dir) =>
      Similarity
        .scoreAgainstLsh(cachedLsh4(s, dir), "vec_id", "embedding", queryVec(s, dir, 0), 10, probeRadius = 1)),

    // The LSH ONLINE serving tier (r16): (table, sig)-bucketed cached
    // RDDs, probe signature computed driver-side through the SAME
    // kernel the index build ran, TWO pruned point-read jobs per probe
    // — result rows bit-identical to ann_lsh_topk (LshServingSpec), so
    // this serving tier shares its DuckDB oracle VERBATIM: a fully
    // oracle-checked online path.
    "ann_lsh_serving" -> ((s, dir) => {
      import s.implicits._
      Similarity
        .lshSearchServe(cachedLshServing(s, dir), queryVec(s, dir, 0), 10)
        .toDF("vec_id", "cos")
    }),

    // The batched serving form over the 4-table multi-probe index:
    // the whole probe set shares the two pruned jobs; per-probe rows
    // equal knnJoinLsh's result set at the same radius (minus the rank
    // column — ranks are the consumer's ORDER BY here), so the oracle
    // replays the same bucket expansion + rescore.
    "ann_lsh_serving_batch" -> ((s, dir) => {
      import s.implicits._
      val probes = (0 until 3).map(i => i.toLong -> queryVec(s, dir, i))
      Similarity
        .lshSearchServeBatch(cachedLshServing4(s, dir), probes, 5, probeRadius = 1)
        .toDF("probe_id", "cand_id", "cos")
        .orderBy("probe_id", "cand_id")
    }),

    // IVF ONLINE serving tier (r17, closing the graph/LSH/IVF serving
    // set): the assignment table as a cell-hash-bucketed RDD, ONE
    // partition-pruned job scoring the probe inside the tasks (a cell is
    // NOT driver-bounded at scale, so only per-task top-k heaps travel).
    // Same centroids, same probe rule, same cosine fold as ann_ivf_topk
    // — result rows bit-identical (IvfServingSpec), so this tier shares
    // ann_ivf_topk's DuckDB oracle VERBATIM: fully oracle-checked.
    "ann_ivf_serving" -> ((s, dir) => {
      import s.implicits._
      Similarity
        .ivfSearchServe(cachedIvfServing(s, dir), queryVec(s, dir, 0), 10, nProbe = 6)
        .toDF("vec_id", "cos")
    })
  )

  private val own: Map[String, String] = Map(

    "ann_bruteforce_topk" ->
      """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |FROM embeddings WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // FULL LSH replication (r16): hyperplane components from md5
    // ("p:d:seed" → [0,1e5) → [-0.5,0.5)), per-(vector,table) 4-bit sign
    // signatures via list_dot_product (sequential fold — sig-value parity
    // with the JVM kernel pinned 4000/4000 on this corpus), then the
    // per-table bucket-occupancy histogram the entry emits.
    "ann_lsh_build" ->
      """WITH planes AS (
        |  SELECT t.t, p.p,
        |         list_transform(generate_series(1,64), d ->
        |           (CAST(('0x'||substr(md5(p.p || ':' || (d-1) || ':' || (t.t*7919+1)),1,15)) AS BIGINT) % 100000)/100000.0 - 0.5) AS pl
        |  FROM generate_series(0,7) t(t) CROSS JOIN generate_series(0,3) p(p)),
        |sigs AS (
        |  SELECT e.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pl) > 0 THEN (1 << pl.p) ELSE 0 END) AS sig
        |  FROM embeddings e CROSS JOIN planes pl
        |  WHERE e.embedding IS NOT NULL
        |  GROUP BY e.vec_id, pl.t),
        |occ AS (SELECT t, sig, count(*) AS n FROM sigs GROUP BY t, sig)
        |SELECT CAST(t AS INTEGER) AS "table", CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(n) AS BIGINT) AS n_rows, CAST(max(n) AS BIGINT) AS max_bucket,
        |       CAST(min(n) AS BIGINT) AS min_bucket
        |FROM occ GROUP BY t ORDER BY "table"""".stripMargin,

    // FULL coarse-quantizer replication (r16): centroid sampling order
    // is md5(id) (re-derivable), assignment = argmin of sequential-fold
    // L2 (ties → lower cell, the NearestCells insertion rule) — the
    // whole IVF build is recomputed in SQL.
    "ann_ivf_build" ->
      """WITH cents AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell,
        |         CAST(embedding AS DOUBLE[]) AS c
        |  FROM embeddings WHERE embedding IS NOT NULL
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |dists AS (SELECT e.vec_id, c.cell, list_distance(CAST(e.embedding AS DOUBLE[]), c.c) AS d
        |          FROM embeddings e CROSS JOIN cents c WHERE e.embedding IS NOT NULL),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dists) WHERE rn = 1)
        |SELECT CAST(cell AS INTEGER) AS cell, count(*) AS n_vectors FROM assign GROUP BY cell ORDER BY cell""".stripMargin,

    // FULL PQ replication (r17): the training trajectory is
    // deterministic and SQL-expressible end-to-end — seed codebooks
    // from the md5(id||":pq")-ordered residual sample (the salt keeps
    // seeds off the coarse-centroid rows, whose residuals are exactly
    // zero), ONE per-subspace Lloyd round with EXACT fixed-point means
    // (Σ floor(x·10⁶+0.5) BIGINT sums, one double division, cast
    // through REAL — the ivfRefine idiom), residuals in double
    // everywhere. DuckDB re-derives seeds → codebooks → every stored
    // code → the query's per-cell ADC tables (list_dot_product(diff,
    // diff): the same sequential j-ascending fold as the JVM loop) →
    // the rank-50 ADC window → the exact-cosine rescore. Approximation
    // lives only in recall; the emitted rows are bit-checked.
    "ann_ivf_pq_topk" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
        |cents AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell, v AS c
        |  FROM base
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN cents c) WHERE rn = 1),
        |resid AS (
        |  SELECT b.vec_id, a.cell, list_transform(generate_series(1,64), d -> b.v[d] - c.c[d]) AS r
        |  FROM base b JOIN assign a USING (vec_id) JOIN cents c ON c.cell = a.cell),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)||':pq'),1,15)) AS BIGINT), vec_id) - 1 AS code,
        |         list_transform(r, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS sr
        |  FROM resid
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)||':pq'),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |b0 AS (SELECT m.m AS sub, s.code, list_slice(s.sr, m.m*8+1, m.m*8+8) AS bk
        |       FROM seeds s CROSS JOIN generate_series(0,7) m(m)),
        |subres AS (SELECT vec_id, m.m AS sub, list_slice(r, m.m*8+1, m.m*8+8) AS sr
        |           FROM resid CROSS JOIN generate_series(0,7) m(m)),
        |la AS (SELECT vec_id, sub, code FROM (
        |  SELECT s.vec_id, s.sub, b.code,
        |         row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY list_distance(s.sr, b.bk), b.code) AS rn
        |  FROM subres s JOIN b0 b ON b.sub = s.sub) WHERE rn = 1),
        |ms AS (SELECT la.sub, la.code, d.d,
        |              sum(CAST(floor(s.sr[d.d]*1000000.0 + 0.5) AS BIGINT)) AS fs,
        |              count(*) AS n
        |       FROM subres s JOIN la ON la.vec_id = s.vec_id AND la.sub = s.sub
        |       CROSS JOIN generate_series(1,8) d(d)
        |       GROUP BY la.sub, la.code, d.d),
        |b0d AS (SELECT sub, code, d.d, bk[d.d] AS x FROM b0 CROSS JOIN generate_series(1,8) d(d)),
        |b1 AS (SELECT b0d.sub, b0d.code,
        |              list(CASE WHEN ms.n IS NOT NULL AND ms.n > 0
        |                   THEN CAST(CAST(CAST(ms.fs AS DOUBLE)/(CAST(ms.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |                   ELSE b0d.x END ORDER BY b0d.d) AS bk
        |       FROM b0d LEFT JOIN ms ON ms.sub = b0d.sub AND ms.code = b0d.code AND ms.d = b0d.d
        |       GROUP BY b0d.sub, b0d.code),
        |codes AS (SELECT vec_id, sub, code FROM (
        |  SELECT s.vec_id, s.sub, b.code,
        |         row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY list_distance(s.sr, b.bk), b.code) AS rn
        |  FROM subres s JOIN b1 b ON b.sub = s.sub) WHERE rn = 1),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |probed AS (SELECT cell FROM (
        |  SELECT c.cell, row_number() OVER (ORDER BY list_distance((SELECT qe FROM q), c.c), c.cell) AS rn FROM cents c) WHERE rn <= 6),
        |qres AS (SELECT p.cell, list_transform(generate_series(1,64), d -> q.qe[d] - c.c[d]) AS qr
        |         FROM probed p JOIN cents c ON c.cell = p.cell CROSS JOIN q),
        |lut AS (SELECT t.cell, t.sub, t.code, list_dot_product(t.diff, t.diff) AS dv FROM (
        |         SELECT qres.cell, b.sub, b.code,
        |                list_transform(generate_series(1,8), j -> qres.qr[b.sub*8+j] - b.bk[j]) AS diff
        |         FROM qres CROSS JOIN b1 b) t),
        |adc AS (SELECT c2.vec_id,
        |               list_dot_product(list(l.dv ORDER BY l.sub), [1.0,1.0,1.0,1.0,1.0,1.0,1.0,1.0]) AS adc
        |        FROM codes c2 JOIN assign a ON a.vec_id = c2.vec_id
        |        JOIN lut l ON l.cell = a.cell AND l.sub = c2.sub AND l.code = c2.code
        |        GROUP BY c2.vec_id),
        |cand AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 50)
        |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q)), 6) AS cos
        |FROM embeddings e JOIN cand USING (vec_id)
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // Incremental PQ = the faiss add() contract over the replayable
    // trainer: centroids/seeds/codebooks from the BASE corpus
    // (vec_id % 5 <> 0) only, every vector (base ∪ delta) then coded
    // against the FROZEN books, probe path over the grown code table
    // at nprobe 4 — the delta's encode leg is the same argmin the base
    // rows took, so one SQL replay covers both.
    "ann_pq_incremental" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
        |cents AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell, v AS c
        |  FROM base WHERE vec_id % 5 <> 0
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN cents c) WHERE rn = 1),
        |resid AS (
        |  SELECT b.vec_id, a.cell, list_transform(generate_series(1,64), d -> b.v[d] - c.c[d]) AS r
        |  FROM base b JOIN assign a USING (vec_id) JOIN cents c ON c.cell = a.cell),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)||':pq'),1,15)) AS BIGINT), vec_id) - 1 AS code,
        |         list_transform(r, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS sr
        |  FROM resid WHERE vec_id % 5 <> 0
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)||':pq'),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |b0 AS (SELECT m.m AS sub, s.code, list_slice(s.sr, m.m*8+1, m.m*8+8) AS bk
        |       FROM seeds s CROSS JOIN generate_series(0,7) m(m)),
        |subres AS (SELECT vec_id, m.m AS sub, list_slice(r, m.m*8+1, m.m*8+8) AS sr
        |           FROM resid CROSS JOIN generate_series(0,7) m(m)),
        |la AS (SELECT vec_id, sub, code FROM (
        |  SELECT s.vec_id, s.sub, b.code,
        |         row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY list_distance(s.sr, b.bk), b.code) AS rn
        |  FROM subres s JOIN b0 b ON b.sub = s.sub WHERE s.vec_id % 5 <> 0) WHERE rn = 1),
        |ms AS (SELECT la.sub, la.code, d.d,
        |              sum(CAST(floor(s.sr[d.d]*1000000.0 + 0.5) AS BIGINT)) AS fs,
        |              count(*) AS n
        |       FROM subres s JOIN la ON la.vec_id = s.vec_id AND la.sub = s.sub
        |       CROSS JOIN generate_series(1,8) d(d)
        |       GROUP BY la.sub, la.code, d.d),
        |b0d AS (SELECT sub, code, d.d, bk[d.d] AS x FROM b0 CROSS JOIN generate_series(1,8) d(d)),
        |b1 AS (SELECT b0d.sub, b0d.code,
        |              list(CASE WHEN ms.n IS NOT NULL AND ms.n > 0
        |                   THEN CAST(CAST(CAST(ms.fs AS DOUBLE)/(CAST(ms.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |                   ELSE b0d.x END ORDER BY b0d.d) AS bk
        |       FROM b0d LEFT JOIN ms ON ms.sub = b0d.sub AND ms.code = b0d.code AND ms.d = b0d.d
        |       GROUP BY b0d.sub, b0d.code),
        |codes AS (SELECT vec_id, sub, code FROM (
        |  SELECT s.vec_id, s.sub, b.code,
        |         row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY list_distance(s.sr, b.bk), b.code) AS rn
        |  FROM subres s JOIN b1 b ON b.sub = s.sub) WHERE rn = 1),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |probed AS (SELECT cell FROM (
        |  SELECT c.cell, row_number() OVER (ORDER BY list_distance((SELECT qe FROM q), c.c), c.cell) AS rn FROM cents c) WHERE rn <= 4),
        |qres AS (SELECT p.cell, list_transform(generate_series(1,64), d -> q.qe[d] - c.c[d]) AS qr
        |         FROM probed p JOIN cents c ON c.cell = p.cell CROSS JOIN q),
        |lut AS (SELECT t.cell, t.sub, t.code, list_dot_product(t.diff, t.diff) AS dv FROM (
        |         SELECT qres.cell, b.sub, b.code,
        |                list_transform(generate_series(1,8), j -> qres.qr[b.sub*8+j] - b.bk[j]) AS diff
        |         FROM qres CROSS JOIN b1 b) t),
        |adc AS (SELECT c2.vec_id,
        |               list_dot_product(list(l.dv ORDER BY l.sub), [1.0,1.0,1.0,1.0,1.0,1.0,1.0,1.0]) AS adc
        |        FROM codes c2 JOIN assign a ON a.vec_id = c2.vec_id
        |        JOIN lut l ON l.cell = a.cell AND l.sub = c2.sub AND l.code = c2.code
        |        GROUP BY c2.vec_id),
        |cand AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 50)
        |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q)), 6) AS cos
        |FROM embeddings e JOIN cand USING (vec_id)
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // The probe path: the query's 6 nearest cells (same argmin rule),
    // then exact-cosine top-10 within the probed cells.
    "ann_ivf_topk" ->
      """WITH cents AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell,
        |         CAST(embedding AS DOUBLE[]) AS c
        |  FROM embeddings WHERE embedding IS NOT NULL
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |probed AS (SELECT cell FROM (
        |  SELECT c.cell, row_number() OVER (ORDER BY list_distance((SELECT qe FROM q), c.c), c.cell) AS rn
        |  FROM cents c) WHERE rn <= 6),
        |dists AS (SELECT e.vec_id, c.cell, list_distance(CAST(e.embedding AS DOUBLE[]), c.c) AS d
        |          FROM embeddings e CROSS JOIN cents c WHERE e.embedding IS NOT NULL),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dists) WHERE rn = 1)
        |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q)), 6) AS cos
        |FROM embeddings e JOIN assign a USING (vec_id) JOIN probed p ON a.cell = p.cell
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // Incremental = the faiss add() contract: centroids from the BASE
    // corpus (vec_id % 5 <> 0), every vector (base ∪ delta) assigned to
    // those frozen centroids, same probe path over the grown index.
    "ann_ivf_incremental" ->
      """WITH cents AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell,
        |         CAST(embedding AS DOUBLE[]) AS c
        |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 5 <> 0
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |probed AS (SELECT cell FROM (
        |  SELECT c.cell, row_number() OVER (ORDER BY list_distance((SELECT qe FROM q), c.c), c.cell) AS rn
        |  FROM cents c) WHERE rn <= 6),
        |dists AS (SELECT e.vec_id, c.cell, list_distance(CAST(e.embedding AS DOUBLE[]), c.c) AS d
        |          FROM embeddings e CROSS JOIN cents c WHERE e.embedding IS NOT NULL),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM dists) WHERE rn = 1)
        |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q)), 6) AS cos
        |FROM embeddings e JOIN assign a USING (vec_id) JOIN probed p ON a.cell = p.cell
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // Batched serving over the 4-table multi-probe index: same bucket
    // expansion + rescore as ann_lsh_batch_topk, top-5 per probe,
    // re-ordered by (probe, candidate) as the entry emits.
    "ann_lsh_serving_batch" ->
      """WITH planes AS (
        |  SELECT t.t, p.p,
        |         list_transform(generate_series(1,64), d ->
        |           (CAST(('0x'||substr(md5(p.p || ':' || (d-1) || ':' || (t.t*7919+1)),1,15)) AS BIGINT) % 100000)/100000.0 - 0.5) AS pl
        |  FROM generate_series(0,3) t(t) CROSS JOIN generate_series(0,3) p(p)),
        |sigs AS (
        |  SELECT e.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pl) > 0 THEN (1 << pl.p) ELSE 0 END) AS sig
        |  FROM embeddings e CROSS JOIN planes pl
        |  WHERE e.embedding IS NOT NULL
        |  GROUP BY e.vec_id, pl.t),
        |q AS (SELECT s.vec_id AS probe_id, s.t, xor(s.sig, m.m) AS sig
        |      FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,4,8]) AS m) m
        |      WHERE s.vec_id < 3),
        |cand AS (SELECT DISTINCT q.probe_id, s.vec_id AS cand_id
        |         FROM sigs s JOIN q ON s.t = q.t AND s.sig = q.sig),
        |scored AS (SELECT c.probe_id, c.cand_id,
        |             round(list_cosine_similarity(CAST(ec.embedding AS DOUBLE[]), CAST(ep.embedding AS DOUBLE[])), 6) AS cos
        |           FROM cand c
        |           JOIN embeddings ec ON ec.vec_id = c.cand_id
        |           JOIN embeddings ep ON ep.vec_id = c.probe_id),
        |ranked AS (SELECT probe_id, cand_id, cos,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rank
        |           FROM scored)
        |SELECT probe_id, cand_id, cos FROM ranked WHERE rank <= 5
        |ORDER BY probe_id, cand_id""".stripMargin,

    // Multi-probe (radius 1): the probe's bucket PLUS each single-bit
    // flip per table (masks 0,1,2,4,8 on the 4-table/4-bit index) —
    // candidate set and exact-cosine rescore both recomputed.
    "ann_lsh_multiprobe_topk" ->
      """WITH planes AS (
        |  SELECT t.t, p.p,
        |         list_transform(generate_series(1,64), d ->
        |           (CAST(('0x'||substr(md5(p.p || ':' || (d-1) || ':' || (t.t*7919+1)),1,15)) AS BIGINT) % 100000)/100000.0 - 0.5) AS pl
        |  FROM generate_series(0,3) t(t) CROSS JOIN generate_series(0,3) p(p)),
        |sigs AS (
        |  SELECT e.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pl) > 0 THEN (1 << pl.p) ELSE 0 END) AS sig
        |  FROM embeddings e CROSS JOIN planes pl
        |  WHERE e.embedding IS NOT NULL
        |  GROUP BY e.vec_id, pl.t),
        |q AS (SELECT s.t, xor(s.sig, m.m) AS sig
        |      FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,4,8]) AS m) m
        |      WHERE s.vec_id = 0),
        |cand AS (SELECT DISTINCT s.vec_id FROM sigs s JOIN q ON s.t = q.t AND s.sig = q.sig)
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |FROM embeddings e JOIN cand USING (vec_id)
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // The batch knn-join at radius 1 over the same 4-table index: per
    // probe the same bucket expansion, exact rescore, top-5 with ranks.
    "ann_lsh_batch_topk" ->
      """WITH planes AS (
        |  SELECT t.t, p.p,
        |         list_transform(generate_series(1,64), d ->
        |           (CAST(('0x'||substr(md5(p.p || ':' || (d-1) || ':' || (t.t*7919+1)),1,15)) AS BIGINT) % 100000)/100000.0 - 0.5) AS pl
        |  FROM generate_series(0,3) t(t) CROSS JOIN generate_series(0,3) p(p)),
        |sigs AS (
        |  SELECT e.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pl) > 0 THEN (1 << pl.p) ELSE 0 END) AS sig
        |  FROM embeddings e CROSS JOIN planes pl
        |  WHERE e.embedding IS NOT NULL
        |  GROUP BY e.vec_id, pl.t),
        |q AS (SELECT s.vec_id AS probe_id, s.t, xor(s.sig, m.m) AS sig
        |      FROM sigs s CROSS JOIN (SELECT unnest([0,1,2,4,8]) AS m) m
        |      WHERE s.vec_id < 3),
        |cand AS (SELECT DISTINCT q.probe_id, s.vec_id AS cand_id
        |         FROM sigs s JOIN q ON s.t = q.t AND s.sig = q.sig),
        |scored AS (SELECT c.probe_id, c.cand_id,
        |             round(list_cosine_similarity(CAST(ec.embedding AS DOUBLE[]), CAST(ep.embedding AS DOUBLE[])), 6) AS cos
        |           FROM cand c
        |           JOIN embeddings ec ON ec.vec_id = c.cand_id
        |           JOIN embeddings ep ON ep.vec_id = c.probe_id),
        |ranked AS (SELECT probe_id, cand_id, cos,
        |             CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS INTEGER) AS rank
        |           FROM scored)
        |SELECT probe_id, cand_id, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY probe_id, rank""".stripMargin,

    // Same signature replication, then the probe path: candidates = rows
    // sharing the probe's signature in ≥1 table (radius 0), exact-cosine
    // rescore, top-10 — the candidate SET and the scores are both
    // oracle-checked end-to-end.
    "ann_lsh_topk" ->
      """WITH planes AS (
        |  SELECT t.t, p.p,
        |         list_transform(generate_series(1,64), d ->
        |           (CAST(('0x'||substr(md5(p.p || ':' || (d-1) || ':' || (t.t*7919+1)),1,15)) AS BIGINT) % 100000)/100000.0 - 0.5) AS pl
        |  FROM generate_series(0,7) t(t) CROSS JOIN generate_series(0,3) p(p)),
        |sigs AS (
        |  SELECT e.vec_id, pl.t,
        |         sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pl) > 0 THEN (1 << pl.p) ELSE 0 END) AS sig
        |  FROM embeddings e CROSS JOIN planes pl
        |  WHERE e.embedding IS NOT NULL
        |  GROUP BY e.vec_id, pl.t),
        |q AS (SELECT t, sig FROM sigs WHERE vec_id = 0),
        |cand AS (SELECT DISTINCT s.vec_id FROM sigs s JOIN q ON s.t = q.t AND s.sig = q.sig)
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |FROM embeddings e JOIN cand USING (vec_id)
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "ann_matryoshka_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id,
        |         list_cosine_similarity(CAST(list_slice(embedding, 1, 16) AS DOUBLE[]),
        |                                (SELECT CAST(list_slice(qe, 1, 16) AS DOUBLE[]) FROM q)) AS tcos
        |  FROM embeddings WHERE vec_id <> 0
        |  ORDER BY tcos DESC, vec_id LIMIT 50)
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q)), 6) AS cos
        |FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id
        |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,

    // Lloyd-refined IVF FULL replication (r17): the engine's fixed-point
    // means (Σ floor(x·10⁶+0.5) LONG sums → one double division → REAL)
    // are partition-order-proof, so both refinement rounds replay in SQL
    // — seeds, assignments, means, final probe path all recomputed.
    "ann_ivf_kmeans_topk" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell, v AS c
        |  FROM base
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |a0 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c0 c) WHERE rn = 1),
        |s1 AS (
        |  SELECT a0.cell, d.d,
        |         sum(CAST(floor(b.v[d.d]*1000000.0 + 0.5) AS BIGINT)) AS s,
        |         count(b.v[d.d]) AS n
        |  FROM base b JOIN a0 USING (vec_id) CROSS JOIN generate_series(1,64) d(d)
        |  GROUP BY a0.cell, d.d),
        |c0d AS (SELECT cell, d.d, c[d.d] AS x FROM c0 CROSS JOIN generate_series(1,64) d(d)),
        |c1 AS (
        |  SELECT c0d.cell,
        |         list(CASE WHEN s1.n IS NOT NULL AND s1.n > 0
        |              THEN CAST(CAST(CAST(s1.s AS DOUBLE)/(CAST(s1.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |              ELSE c0d.x END ORDER BY c0d.d) AS c
        |  FROM c0d LEFT JOIN s1 ON s1.cell = c0d.cell AND s1.d = c0d.d
        |  GROUP BY c0d.cell),
        |a1 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c1 c) WHERE rn = 1),
        |s2 AS (SELECT a1.cell, d.d, sum(CAST(floor(b.v[d.d]*1000000.0 + 0.5) AS BIGINT)) AS s, count(b.v[d.d]) AS n
        |  FROM base b JOIN a1 USING (vec_id) CROSS JOIN generate_series(1,64) d(d) GROUP BY a1.cell, d.d),
        |c1d AS (SELECT cell, d.d, c[d.d] AS x FROM c1 CROSS JOIN generate_series(1,64) d(d)),
        |c2 AS (SELECT c1d.cell, list(CASE WHEN s2.n IS NOT NULL AND s2.n > 0
        |              THEN CAST(CAST(CAST(s2.s AS DOUBLE)/(CAST(s2.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |              ELSE c1d.x END ORDER BY c1d.d) AS c
        |  FROM c1d LEFT JOIN s2 ON s2.cell = c1d.cell AND s2.d = c1d.d GROUP BY c1d.cell),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |probed AS (SELECT cell FROM (
        |  SELECT c.cell, row_number() OVER (ORDER BY list_distance((SELECT qe FROM q), c.c), c.cell) AS rn FROM c2 c) WHERE rn <= 6),
        |a2 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c2 c) WHERE rn = 1)
        |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q)), 6) AS cos
        |FROM embeddings e JOIN a2 USING (vec_id) JOIN probed p ON a2.cell = p.cell
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // NSW graph build FULL replication (r17c): the k-means blocking is
    // the same 2-round fixed-point Lloyd the ann_ivf_kmeans_topk oracle
    // replays; the 2-assignment is the top-2 of the same argmin; the
    // skew-split sub-bucket moved to md5(cell||':'||id) (engine r17) so
    // the pair-ownership rule replays at ANY cell census (at this
    // corpus nsub=1 everywhere and the bucket term is inert); pairs
    // join inside (cell, bucket), dedup across the ≤2 meet cells is
    // DISTINCT (the emitted triple is cell-independent), per-node top-8
    // by (cos desc, nbr asc) on the same 6dp-rounded cosine, then the
    // degree histogram the entry emits.
    "ann_graph_build" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell, v AS c
        |  FROM base
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        |  LIMIT 16),
        |a0 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c0 c) WHERE rn = 1),
        |s1 AS (
        |  SELECT a0.cell, d.d,
        |         sum(CAST(floor(b.v[d.d]*1000000.0 + 0.5) AS BIGINT)) AS s,
        |         count(b.v[d.d]) AS n
        |  FROM base b JOIN a0 USING (vec_id) CROSS JOIN generate_series(1,64) d(d)
        |  GROUP BY a0.cell, d.d),
        |c0d AS (SELECT cell, d.d, c[d.d] AS x FROM c0 CROSS JOIN generate_series(1,64) d(d)),
        |c1 AS (
        |  SELECT c0d.cell,
        |         list(CASE WHEN s1.n IS NOT NULL AND s1.n > 0
        |              THEN CAST(CAST(CAST(s1.s AS DOUBLE)/(CAST(s1.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |              ELSE c0d.x END ORDER BY c0d.d) AS c
        |  FROM c0d LEFT JOIN s1 ON s1.cell = c0d.cell AND s1.d = c0d.d
        |  GROUP BY c0d.cell),
        |a1 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c1 c) WHERE rn = 1),
        |s2 AS (SELECT a1.cell, d.d, sum(CAST(floor(b.v[d.d]*1000000.0 + 0.5) AS BIGINT)) AS s, count(b.v[d.d]) AS n
        |  FROM base b JOIN a1 USING (vec_id) CROSS JOIN generate_series(1,64) d(d) GROUP BY a1.cell, d.d),
        |c1d AS (SELECT cell, d.d, c[d.d] AS x FROM c1 CROSS JOIN generate_series(1,64) d(d)),
        |c2 AS (SELECT c1d.cell, list(CASE WHEN s2.n IS NOT NULL AND s2.n > 0
        |              THEN CAST(CAST(CAST(s2.s AS DOUBLE)/(CAST(s2.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |              ELSE c1d.x END ORDER BY c1d.d) AS c
        |  FROM c1d LEFT JOIN s2 ON s2.cell = c1d.cell AND s2.d = c1d.d GROUP BY c1d.cell),
        |ac2 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c2 c) WHERE rn <= 2),
        |census AS (SELECT cell, CAST(ceil(count(*)/4096.0) AS BIGINT) AS nsub FROM ac2 GROUP BY cell),
        |bkt AS (SELECT a.vec_id, a.cell, b.v,
        |               CAST(('0x'||substr(md5(CAST(a.cell AS VARCHAR)||':'||CAST(a.vec_id AS VARCHAR)),1,15)) AS BIGINT) % cs.nsub AS g
        |        FROM ac2 a JOIN base b USING (vec_id) JOIN census cs ON cs.cell = a.cell),
        |half AS (SELECT DISTINCT l.vec_id AS id, r.vec_id AS nbr,
        |                round(list_cosine_similarity(l.v, r.v), 6) AS cos
        |         FROM bkt l JOIN bkt r ON l.cell = r.cell AND l.g = r.g AND l.vec_id < r.vec_id),
        |sym AS (SELECT id, nbr, cos FROM half UNION ALL SELECT nbr AS id, id AS nbr, cos FROM half),
        |nb AS (SELECT id FROM (
        |  SELECT id, row_number() OVER (PARTITION BY id ORDER BY cos DESC, nbr) AS rn FROM sym) WHERE rn <= 8),
        |deg AS (SELECT id, count(*) AS degree FROM nb GROUP BY id)
        |SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree""".stripMargin,

    // Graph SEARCH family FULL replication (r18): the beam is a fixed
    // number of expand/score/prune rounds over 6dp cosines with
    // (cos desc, id asc) ties — [[GraphOracle]] unrolls it as CTE blocks
    // over ann_graph_build's replayed adjacency + entry points. The
    // serving tiers emit bit-identical rows to the DataFrame beam
    // (GraphServingSpec pins it), so all four share the replay.
    "ann_graph_topk" -> GraphOracle.singleTopkSql("id"),
    "ann_graph_serving" -> GraphOracle.singleTopkSql("id"),
    "ann_graph_serving_batch" -> GraphOracle.servingBatchSql,
    "ann_graph_batch_topk" -> GraphOracle.batchTopkSql,

    // Two-layer keys (r18): the top-layer sample hash moved to
    // md5Int60(id) % 8 (the r16 centroid-sample / r17 sub-bucket swap),
    // so BOTH layers' builds and the 2+2-round descent replay end-to-end.
    "ann_graph_hier_build" -> GraphOracle.hierBuildSql,
    "ann_graph_hier_topk" -> GraphOracle.hierTopkSql,

    // MMR FULL replication (r17): the greedy Carbonell-Goldstein
    // selection is k bounded steps over a 50-candidate window — a
    // recursive CTE carries the chosen set and replays each argmax
    // (objective desc, rel desc, id asc — the engine's tie tuple), with
    // the similarity penalty recomputed from the same double-cast
    // vectors the engine folds (the engine's pairwise kernel uses the
    // CosineSim √·√ convention precisely so this expression matches).
    "ann_mmr_rerank" ->
      """WITH RECURSIVE
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM qv)),6) AS rel,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id <> 0 AND embedding IS NOT NULL
        |  ORDER BY rel DESC, vec_id LIMIT 50),
        |pairs AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j, list_cosine_similarity(a.v, b.v) AS s
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        |sel AS (
        |  (SELECT 1 AS rank, vec_id, rel, round(0.5*rel, 6) AS mmr_score, [vec_id] AS chosen
        |   FROM cand ORDER BY 0.5*rel DESC, rel DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT s.rank+1, n.vec_id, n.rel, round(n.obj,6), list_append(s.chosen, n.vec_id)
        |  FROM sel s,
        |  LATERAL (
        |    SELECT c.vec_id, c.rel, 0.5*c.rel - 0.5*ms.m AS obj
        |    FROM cand c
        |    JOIN (SELECT p.i, max(p.s) AS m FROM pairs p WHERE list_contains(s.chosen, p.j) GROUP BY p.i) ms
        |      ON ms.i = c.vec_id
        |    WHERE NOT list_contains(s.chosen, c.vec_id)
        |    ORDER BY obj DESC, c.rel DESC, c.vec_id LIMIT 1
        |  ) n
        |  WHERE s.rank < 10
        |)
        |SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel, mmr_score FROM sel ORDER BY rank""".stripMargin,

    // SQ8 FULL replication (r17): per-dim grid bounds are exact
    // (min/max, order-free), the double-precision encode is the literal
    // IEEE754 expression DuckDB evaluates — every stored code's integer
    // moments recomputed and hash-checked.
    "ann_sq8_build" ->
      """WITH mm AS (
        |  SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS lo, max(CAST(embedding[d] AS DOUBLE)) AS hi
        |  FROM embeddings CROSS JOIN generate_series(1,64) t(d)
        |  WHERE embedding IS NOT NULL GROUP BY d),
        |codes AS (
        |  SELECT e.vec_id, m.d, m.lo, m.hi,
        |         CASE WHEN m.hi <= m.lo THEN 0
        |              ELSE least(255, greatest(0, CAST(round(255.0*(CAST(e.embedding[m.d] AS DOUBLE)-m.lo)/(m.hi-m.lo)) AS INTEGER))) END AS q
        |  FROM embeddings e CROSS JOIN mm m WHERE e.embedding IS NOT NULL)
        |SELECT CAST(d-1 AS INTEGER) AS d, any_value(lo) AS lo, any_value(hi) AS hi,
        |       CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sum_q,
        |       CAST(min(q) AS INTEGER) AS min_q, CAST(max(q) AS INTEGER) AS max_q,
        |       CAST(count(DISTINCT q) AS BIGINT) AS n_codes
        |FROM codes GROUP BY d ORDER BY d""".stripMargin,

    // The approx ranking is recomputed from the re-derived codes (same
    // double dequantization expression), the top-50 rerank window's
    // exact-cosine rescore replayed — candidate set AND scores checked.
    "ann_sq8_topk" ->
      """WITH mm AS (
        |  SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS lo, max(CAST(embedding[d] AS DOUBLE)) AS hi
        |  FROM embeddings CROSS JOIN generate_series(1,64) t(d)
        |  WHERE embedding IS NOT NULL GROUP BY d),
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |deq AS (
        |  SELECT e.vec_id, m.d,
        |         CASE WHEN m.hi <= m.lo THEN m.lo
        |              ELSE m.lo + least(255, greatest(0, CAST(round(255.0*(CAST(e.embedding[m.d] AS DOUBLE)-m.lo)/(m.hi-m.lo)) AS INTEGER)))*(m.hi-m.lo)/255.0 END AS x
        |  FROM embeddings e CROSS JOIN mm m WHERE e.embedding IS NOT NULL),
        |acos AS (
        |  SELECT deq.vec_id,
        |         sum(deq.x * qe[deq.d]) / sqrt(sum(deq.x*deq.x) * sum(qe[deq.d]*qe[deq.d])) AS a
        |  FROM deq, qv GROUP BY deq.vec_id),
        |cand AS (SELECT vec_id FROM acos ORDER BY a DESC, vec_id LIMIT 50)
        |SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM qv)), 6) AS cos
        |FROM embeddings e JOIN cand USING (vec_id)
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "ann_bq_build" ->
      """WITH m AS (SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS mean
        |           FROM embeddings CROSS JOIN generate_series(1, 64) t(i)
        |           GROUP BY i),
        |bits AS (SELECT e.vec_id,
        |                sum(CASE WHEN CAST(e.embedding[m.i] AS DOUBLE) > m.mean THEN 1 ELSE 0 END) AS ones
        |         FROM embeddings e CROSS JOIN m
        |         GROUP BY e.vec_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_vectors, CAST(sum(ones) AS BIGINT) AS total_ones,
        |       CAST(min(ones) AS INTEGER) AS min_ones, CAST(max(ones) AS INTEGER) AS max_ones
        |FROM bits""".stripMargin,

    "ann_bq_topk" ->
      """WITH m AS (SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS mean
        |           FROM embeddings CROSS JOIN generate_series(1, 64) t(i)
        |           GROUP BY i),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |h AS (SELECT e.vec_id,
        |             sum(CASE WHEN (CAST(e.embedding[m.i] AS DOUBLE) > m.mean)
        |                       <> (CAST(q.qe[m.i] AS DOUBLE) > m.mean) THEN 1 ELSE 0 END) AS ham
        |      FROM embeddings e CROSS JOIN m CROSS JOIN q
        |      GROUP BY e.vec_id),
        |cand AS (SELECT vec_id FROM h ORDER BY ham, vec_id LIMIT 50)
        |SELECT e.vec_id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    (SELECT CAST(qe AS DOUBLE[]) FROM q)), 6) AS cos
        |FROM embeddings e JOIN cand USING (vec_id)
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "ann_maxsim" ->
      """WITH probes AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
        |                FROM embeddings WHERE vec_id < 3),
        |pm AS (SELECT label,
        |         max(CASE WHEN q_id = 0 THEN list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) END) AS b0,
        |         max(CASE WHEN q_id = 1 THEN list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) END) AS b1,
        |         max(CASE WHEN q_id = 2 THEN list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) END) AS b2
        |       FROM embeddings, probes WHERE vec_id >= 3 GROUP BY label)
        |SELECT label, round(b0 + b1 + b2, 6) AS maxsim FROM pm
        |ORDER BY maxsim DESC, label""".stripMargin,

    "ann_filtered_topk" ->
      """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |FROM embeddings WHERE vec_id <> 0 AND label = 2 ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "ann_knn_join" ->
      """SELECT probe_id, cand_id, cos, rank FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |         round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cos,
        |         CAST(row_number() OVER (PARTITION BY p.vec_id
        |           ORDER BY round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
        |                    c.vec_id) AS INTEGER) AS rank
        |  FROM embeddings p, embeddings c WHERE p.vec_id < 3 AND c.vec_id >= 3) t
        |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "ann_range_search" ->
      """SELECT vec_id, cos FROM (
        |  SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
        |  FROM embeddings WHERE vec_id <> 0) t
        |WHERE cos >= 0.3 ORDER BY cos DESC, vec_id""".stripMargin
  )

  val oracleSql: Map[String, String] = own ++ Map(
    // PQ/OPQ builds histogram the same ivfIndex(nLists = 16) cells, picked from the raw vector.
    "ann_ivf_pq_build" -> own("ann_ivf_build"),
    "ann_ivf_opq_build" -> own("ann_ivf_build"),
    "ann_ivf_opq_full_build" -> own("ann_ivf_build"),
    // Same md5-sampled centroids, nearest-cell probe rule and cosine fold as ann_ivf_topk.
    "ann_ivf_serving" -> own("ann_ivf_topk"),
    // Same signature kernel, candidate rule and cosine fold as ann_lsh_topk.
    "ann_lsh_serving" -> own("ann_lsh_topk")
  )
}
