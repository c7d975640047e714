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

/** Text analysis, sampling, and curation.
  * Split out of the monolithic SparkEntry registry (round 10)
  * purely mechanically — entry bodies and oracle SQL are
  * byte-identical; SparkEntry aggregates the family maps.
  */
private[graft] object TextEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Weighted corpus mixing: per-language keep rates as a pure function
    // of md5(id) at 16-bit grain — the data-recipe knob (down-weight one
    // source, up-weight another), stable under growth and repartitioning.
    "sample_weighted" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .filter(
          operators.Sampling.weightedKeep(
            col("doc_id"),
            col("lang"),
            Map("en" -> 0.9, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.25, "zh" -> 0.1)
          )
        )
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),


    // ── Text analysis ───────────────────────────────────────────────────
    "text_token_count" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          TextFns.distinctTokenCount(col("text")).as("n_distinct")
        )
        .orderBy("doc_id")),

    // Sliding-window chunking (the RAG/provenance chunker): 32-token
    // windows at stride 24 (8-token overlap), chunk provenance
    // (doc_id, chunk_id) on every row, trailing partials emitted — one
    // codegen'd projection + explode, a map-only stage at any scale
    // (padding/packing to a fixed budget is sample_pack_sequences).
    "text_chunk_sliding" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(col("doc_id"), explode(TextFns.slidingChunks(col("text"), window = 32, stride = 24)).as("c"))
        .select(
          col("doc_id"),
          col("c.chunk_id").cast("long").as("chunk_id"),
          size(col("c.toks")).cast("long").as("n_tokens"),
          array_join(col("c.toks"), " ").as("chunk_text")
        )
        .orderBy("doc_id", "chunk_id")),

    // Sentence-boundary chunking: the boundary-aware grain (vs the
    // fixed-stride sliding window above) — one lookaround-free regex
    // both engines run identically, trimmed, empties dropped; map-only.
    // The synthetic corpus carries no terminators, so the entry injects
    // them deterministically (replace-all on two literal words — the
    // derived-geo-coordinates precedent): the operator then sees real
    // multi-sentence inputs with MIXED terminators and unterminated
    // tails, not a vacuous one-sentence-per-doc pass.
    "text_chunk_sentences" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .withColumn("_t", expr("replace(replace(text, 'table', 'table.'), 'value', 'value!')"))
        .select(col("doc_id"), posexplode(TextFns.sentences(col("_t"))).as(Seq("sent_idx", "sentence")))
        .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"), col("sentence"))
        .orderBy("doc_id", "sent_idx")),

    // Fractional-epoch mixture materialization: src0 runs 2.5 epochs,
    // src1 1.4, src2 0.6, src3 1.0; the other 16 sources are excluded —
    // floor(e) full copies + a deterministic hash-draw partial epoch,
    // one explode, map-only (output volume IS the recipe's budget).
    "sample_epochs_upsample" -> ((s, dir) =>
      operators.Sampling
        .epochsUpsample(
          Tables.documents(s, dir).select("doc_id", "source"),
          col("doc_id"),
          col("source"),
          Map("src0" -> 2.5, "src1" -> 1.4, "src2" -> 0.6, "src3" -> 1.0)
        )
        .orderBy("doc_id", "epoch")),

    "text_quality_score" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          TextFns.tokenCount(col("text")).as("n_tokens"),
          // 6-dp rounding: for rationals with denominator <= ~600 a tie at
          // the 6th decimal would need a denominator divisible by 2^7*5^k,
          // so Spark's round-of-shortest-repr and DuckDB's round-of-binary
          // cannot disagree (they do at 2dp: 189/40 = 4.725).
          round(TextFns.avgTokenLen(col("text")), 6).as("avg_token_len"),
          round(TextFns.stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(TextFns.charRatio(col("text"), "0-9"), 6).as("digit_ratio")
        )
        .orderBy("doc_id")),

    "text_lang_id" -> ((s, dir) => {
      val scoreCols = TextFns.langScores(col("text")).map { case (l, c) => c.as(s"s_$l") }
      Tables
        .documents(s, dir)
        .select((col("doc_id") +: scoreCols) :+ TextFns.langPredict(col("text")).as("pred_lang"): _*)
        .orderBy("doc_id")
    }),

    // BPE-ish regex tokenizer: letter runs, digit runs, single punctuation
    // marks — the pre-tokenization shape byte-pair encoders start from.
    "text_token_count_regex" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_subtokens")
        )
        .orderBy("doc_id")),

    // Rolling-hash document shingle fingerprints (content-defined
    // chunking / fuzzy-match keys). r16: md5-based polynomial rolling
    // mod 2^31-1 (OracleHash) — every window value recomputable in
    // DuckDB, so the key is FULLY oracle-checked (was rows-only under
    // murmur3). min_hash is the chunk-boundary selection signal CDC-
    // style chunkers cut on.
    "text_rolling_hash" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), TextFns.rollingHashesFromTokens(col("_toks"), 5).as("hashes"))
        .select(
          col("doc_id"),
          size(col("hashes")).as("n_windows"),
          try_element_at(col("hashes"), lit(1)).as("first_hash"),
          array_min(col("hashes")).as("min_hash")
        )
        .orderBy("doc_id")),

    "text_ngram_freq" -> ((s, dir) =>
      Tables
        .ensureParallelism(Tables.documents(s, dir).select("text"))
        .select(TextFns.tokens(col("text")).as("_toks"))
        .select(explode(TextFns.ngramsFromTokens(col("_toks"), 2)).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)),


    // Duplicated-span statistics (Lee et al. ACL'22 substring dedup at
    // 8-token shingle granularity): per doc, how many of its distinct
    // spans also occur in ANOTHER document — the span-level contamination
    // signal document-level dedup cannot see.
    "text_dup_spans" -> ((s, dir) =>
      Dedup
        .dupSpanStats(Tables.documents(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")),


    // The Lee '22 span-dedup SURGERY the statistics above inform: shared
    // 8-token spans survive only in their lowest-id keeper doc; every
    // other doc drops the covered tokens and re-joins the survivors in
    // order (fully-excised docs come back empty — dropping them is
    // quality filtering's call). Same single gram-frequency exchange as
    // text_dup_spans; text never rides a shuffle.
    "text_dup_spans_excise" -> ((s, dir) =>
      Dedup
        .exciseDupSpans(Tables.documents(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")),

    // Benchmark decontamination: training docs (id >= 10) sharing any
    // 4-gram with the "benchmark" docs (id < 10) — the pre-training leak
    // check every LLM pipeline runs.
    "text_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Contamination
        .sharedNgrams(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10), "doc_id", "text", 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Chunk-level decontamination: the chunker composed with the exact
    // n-gram contamination check — (doc_id, chunk_id, n_shared) per
    // CONTAMINATED CHUNK, the surgical-removal unit (drop the chunk,
    // keep the document; doc-level text_decontaminate would discard the
    // whole doc). Same broadcast-gram join shape; chunk provenance
    // rides a composite key through the generic operator.
    "text_chunk_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val chunks = docs
        .filter(col("doc_id") >= 10)
        .select(col("doc_id"), explode(TextFns.slidingChunks(col("text"), window = 32, stride = 24)).as("c"))
        .select(
          concat(col("doc_id"), lit(":"), col("c.chunk_id")).as("cid"),
          array_join(col("c.toks"), " ").as("chunk_text")
        )
      val bench = docs
        .filter(col("doc_id") < 10)
        .select(col("doc_id").cast("string").as("cid"), col("text").as("chunk_text"))
      operators.Contamination
        .sharedNgrams(chunks, bench, "cid", "chunk_text", 4)
        .select(
          split(col("id"), ":").getItem(0).cast("long").as("doc_id"),
          split(col("id"), ":").getItem(1).cast("long").as("chunk_id"),
          col("n_shared")
        )
        .orderBy("doc_id", "chunk_id")
    }),

    // The Bloom-pruned decontamination path: identical answer (bloom has
    // no false negatives; the exact confirm join removes its false
    // positives) through a ~1.2-byte-per-gram broadcast instead of the
    // raw gram strings — the shape for eval suites too big to broadcast.
    // Shares text_decontaminate's oracle: hash-equal, not approximate.
    "text_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Contamination
        .sharedNgramsBloom(docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10), "doc_id", "text", 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // PII scrubbing: match counts + redacted text for the email/digit-run
    // patterns (training-data hygiene pass) — customer names carry the
    // corpus's only long digit runs.
    "text_pii_redact" -> ((s, dir) =>
      Tables
        .customer(s, dir)
        .select(
          col("c_custkey").as("id"),
          TextFns.piiCount(col("c_name"), TextFns.PiiPatterns(0)._2).as("n_email"),
          TextFns.piiCount(col("c_name"), TextFns.PiiPatterns(1)._2).as("n_digit_runs"),
          TextFns.piiRedact(col("c_name")).as("redacted")
        )
        .orderBy("id")),

    // BPE vocabulary induction (Sennrich ACL'16): merge learning on the
    // word-frequency table — the corpus pays ONE (word, freq) pass, each
    // round then rides |vocab| (pair count + argmax + codegen'd array
    // fold). Honest fresh train per call (the *_build convention);
    // rows-only + BpeSpec's exact-equality contract vs an in-memory
    // reference implementation.
    "text_bpe_train" -> ((s, dir) =>
      graft.functions.Bpe.train(Tables.documents(s, dir), "text", 12).merges.orderBy("rank")),

    // Tokenizer economics under the LEARNED vocabulary: docs join their
    // word occurrences against the segmented vocab (tokens-per-word), so
    // the merge chain never re-runs on the corpus; scores the data
    // recipe the way a real tokenizer swap would.
    "text_bpe_economics" -> ((s, dir) =>
      graft.functions.Bpe
        .economics(Tables.documents(s, dir), "source", "text", cachedBpe(s, dir))
        .select(col("source"), col("bytes"), col("tokens"), round(col("bytes_per_token"), 6).as("bytes_per_token"))
        .orderBy("source")),

    // Tokenizer-economics facet: bytes per token per source (the
    // data-recipe dashboard number) — exact integer sums, one double
    // division at the end.
    // octet_length, not length: the column names promise BYTES, and the
    // two diverge on any non-ASCII corpus (length counts characters).
    "text_bytes_per_token" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(col("source"), octet_length(col("text")).cast("long").as("n_bytes"), TextFns.tokenCount(col("text")).as("n_tokens"))
        .groupBy("source")
        .agg(
          sum(col("n_bytes")).as("total_bytes"),
          sum(col("n_tokens")).as("total_tokens"),
          round(sum(col("n_bytes")).cast("double") / sum(col("n_tokens")), 6).as("bytes_per_token")
        )
        .orderBy("source")),

    // Sequence-packing planner input: docs and token mass per power-of-2
    // length bucket (a fixed CASE ladder — engine-stable, no log2
    // boundary ambiguity), one codegen'd scan.
    "text_length_buckets" -> ((s, dir) => {
      val n = TextFns.tokenCount(col("text"))
      val bucket = when(n <= 16, 16)
        .when(n <= 32, 32)
        .when(n <= 64, 64)
        .when(n <= 128, 128)
        .otherwise(256)
      Tables
        .documents(s, dir)
        .select(bucket.as("len_bucket"), n.as("n_tokens"))
        .groupBy("len_bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy("len_bucket")
    }),

    // Quality-weighted deterministic sampling: keep probability ∝ the
    // doc's stopword ratio (prose-ness), decided by a pure integer hash
    // u(doc_id) = (id·2654435761 mod 2¹⁶)/2¹⁶ — exact binary fraction,
    // replayable across runs/engines/partitionings, no rand().
    // Temperature-flattened source mixing (α=0.5): per-source keep rate
    // (min_mass/mass)^(1−α) derived in-plan from the n_chars mass — the
    // smallest source keeps all docs, heavier ones downsample toward the
    // flattened share; membership is the deterministic Knuth-hash draw.
    "sample_temperature_mix" -> ((s, dir) =>
      operators.Sampling
        .temperatureMix(Tables.documents(s, dir), "doc_id", "source", col("n_chars"), alpha = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // Concat-and-chunk sequence packing at a 256-token budget. Shards
    // are (source, 128-doc id block) — the file-level granularity real
    // pipelines pack at — so the window's partition count SCALES with
    // the corpus (a source-only key would funnel each source's entire
    // history through one task's sort, the quartiles-class scale bug).
    "sample_pack_sequences" -> ((s, dir) =>
      operators.Sampling
        .packSequences(
          Tables.documents(s, dir).withColumn("shard", floor(col("doc_id") / 128).cast("long")),
          "doc_id",
          TextFns.tokenCount(col("text")),
          Seq("source", "shard"),
          budget = 256
        )
        .orderBy("source", "shard", "doc_id")),

    "sample_weighted_quality" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .filter(
          graft.operators.Sampling.hashFrac(col("doc_id")) <
            least(lit(1.0), round(TextFns.stopwordRatio(col("text")), 6) * 3.0)
        )
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // DSIR-style importance weighting (Xie et al., NeurIPS'23 "Data
    // Selection for Language Models via Importance Resampling"): score
    // every raw doc by log p_target(x) − log p_raw(x) under add-1
    // unigram LMs (target = the English slice), keep the most
    // target-like top 100 (the resampling step made deterministic).
    // Plan: ONE term-keyed shuffle builds both LMs (conditional sums in
    // the same aggregate), totals are a 1-row broadcast, and the weight
    // is a per-doc hash agg — the two-pass shape of every LM entry here;
    // shuffles carry (term, count) pairs, never text.
    "sample_dsir_weights" -> ((s, dir) => {
      val toks = Tables
        .documents(s, dir)
        .select(col("doc_id"), col("lang"), explode(TextFns.tokens(col("text"))).as("term"))
      val isTgt = when(col("lang") === "en", 1L).otherwise(0L)
      val tf = toks.groupBy("term").agg(count(lit(1)).as("cr"), sum(isTgt).as("ct"))
      // Totals derive from the term table (Σcr, Σct, row count) — the
      // corpus is scanned once for tf and once for the per-doc join, not
      // a third time for totals.
      val tot = tf.agg(sum("cr").as("nr"), sum("ct").as("nt"), count(lit(1)).as("v"))
      toks
        .join(tf, "term")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          round(
            sum(
              log((col("ct") + 1).cast("double") / (col("cr") + 1)) -
                log((col("nt") + col("v")).cast("double") / (col("nr") + col("v")))
            ),
            6
          ).as("log_ratio")
        )
        .orderBy(col("log_ratio").desc, col("doc_id"))
        .limit(100)
    }),

    // Deterministic md5-bucket train/val/test assignment: membership is a
    // pure function of the id — stable across runs, engines, and corpus
    // growth.
    "sample_split" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .groupBy(operators.Sampling.split(col("doc_id")).as("split"))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_total"))
        .orderBy("split")),

    // Deterministic ~25% sample within every language stratum.
    "sample_stratified" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(operators.Sampling.stratifiedKeep(col("doc_id"), 0.25).cast("long")).as("n_sampled")
        )
        .orderBy("lang")),

    // Corpus cartography: k-means topic clusters over the embedding
    // space labeled with each cluster's most discriminative terms
    // (cluster-TF × corpus-IDF over per-doc distinct tokens, top-3 off
    // the bounded-heap TopKPerKey). r17: the fixed-point Lloyd means make
    // the k-means blocking SQL-replayable, so the WHOLE operator is
    // oracle-checked; PipelineOpsSpec contracts (partition invariance,
    // size conservation, exclusive-term ranking) retained.
    "text_cluster_topics" -> ((s, dir) =>
      operators.ClusterTopics
        .clusterTopics(
          Tables.embeddings(s, dir),
          "vec_id",
          "embedding",
          Tables.documents(s, dir),
          "doc_id",
          "text",
          k = 8,
          iters = 2,
          topTerms = 3
        )
        .orderBy("cell", "rank")),

    // Seeded fixed-size uniform sample (the distributed reservoir): rank
    // every row by md5(id : seed) and take the k smallest — a pure
    // function of the id, so the sample is stable across runs, engines,
    // and partitionings, and re-running with a larger k EXTENDS the
    // sample (nested property the classic stateful reservoir lacks).
    // Plan: TakeOrderedAndProject — per-partition top-k then a k-row
    // driver merge, no global sort, no state; at 100 TB the shuffle is
    // k rows per partition, nothing else.
    "sample_reservoir" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(col("doc_id"), md5(concat(col("doc_id").cast("string"), lit(":r11"))).as("rk"))
        .orderBy("rk")
        .limit(64)),

    // Deterministic training-shard shuffle: the "globally shuffle the
    // corpus into N ordered shards" step every LLM training run needs.
    // shard = multiplicative hash of the id; within-shard order = an
    // independent md5 rank. Both are pure id functions (reproducible,
    // resumable); the orderBy is a range-partitioned sort — each shard's
    // order is defined by data, not by arrival, so a 1000-executor
    // writer emits identical shard files to this local run.
    "sample_shuffle_shards" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(
          (graft.operators.Sampling.knuthDraw16(col("doc_id")) % 8).cast("long").as("shard"),
          col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit(":shuf"))).as("rk")
        )
        .orderBy("shard", "rk")),

    // Per-source token-budget fill: data recipes are specified in TOKEN
    // budgets, not doc counts — greedily admit docs per source in
    // deterministic md5-of-id order until the source's cumulative token
    // count reaches the budget. A windowed running sum PARTITIONED BY
    // source (every partition is one source's docs — parallel across
    // sources, never a global single-reducer window), then one filter.
    "sample_token_budget" -> ((s, dir) => {
      val w = Window
        .partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          col("source"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("h")
        )
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .filter(col("cum_tokens") <= 500)
        .select("source", "doc_id", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    }),

    // Per-group quota sampling: at most k docs per source, picked in
    // deterministic md5-of-id order (stable under corpus growth) — the
    // "cap any one domain's share of the training mix" op, executed by
    // the bounded-heap TopKPerKey operator, not a window sort.
    "sample_cap_per_source" -> ((s, dir) => {
      val ranked = Tables
        .documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), md5(col("doc_id").cast("string")).as("h"))
      graft.plans.TopKPerKey
        .perKey(ranked, Seq("source"), Seq("h" -> true, "doc_id" -> true), 10)
        .select(col("source"), col("doc_id"), col("n_chars"), col("rank"))
        .orderBy("source", "rank")
    }),

    // Shannon entropy of the token distribution — low-entropy docs are
    // boilerplate/spam candidates.
    "text_token_entropy" -> ((s, dir) =>
      TextFns
        .tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // Unigram-LM self-perplexity (the CCNet/quality-filter signal, with
    // the corpus itself as the LM): token frequencies in one aggregation,
    // per-doc cross-entropy −avg ln p(token) in a second. The shuffle
    // carries (term, count) partials and (doc_id, term) pairs — never
    // text; the vocab join is AQE-sized (broadcast when the vocab is
    // small, shuffle when web-scale).
    // Bigram-LM perplexity (interpolated: λ·p(w2|w1) + (1-λ)·p(w2), the
    // Jelinek-Mercer smoothing KenLM-style filters approximate): a
    // sharper fluency signal than the unigram model — word-salad text
    // with common words scores badly here but fine there. All model
    // tables (bigram counts, left-context counts, unigram counts) are
    // vocabulary-scale aggregates; joins shuffle (term, count) pairs,
    // never document text.
    "text_perplexity_bigram" -> ((s, dir) => {
      val docs = Tables
        .documents(s, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      val uni = docs.select(col("doc_id"), explode(col("toks")).as("term"))
      val tf = uni.groupBy("term").agg(count(lit(1)).as("cnt"))
      val tot = uni.agg(count(lit(1)).as("n"))
      val bi = docs
        .filter(size(col("toks")) >= 2)
        .select(
          col("doc_id"),
          explode(
            expr("transform(slice(toks, 1, size(toks) - 1), (t, i) -> struct(t AS w1, toks[i + 1] AS w2))")
          ).as("b")
        )
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val bigramCnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val leftCnt = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      val logp = log(
        lit(0.75) * col("c12").cast("double") / col("c1")
          + lit(0.25) * col("cnt").cast("double") / col("n")
      )
      bi.join(bigramCnt, Seq("w1", "w2"))
        .join(leftCnt, Seq("w1"))
        .join(tf.withColumnRenamed("term", "w2"), Seq("w2"))
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          round(-avg(logp), 6).as("cross_entropy"),
          round(exp(-avg(logp)), 6).as("perplexity")
        )
        .orderBy("doc_id")
    }),

    "text_perplexity_unigram" -> ((s, dir) => {
      val toks = Tables
        .documents(s, dir)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n"))
      val logp = log(col("cnt").cast("double") / col("n"))
      toks
        .join(tf, "term")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          round(-avg(logp), 6).as("cross_entropy"),
          round(exp(-avg(logp)), 6).as("perplexity")
        )
        .orderBy("doc_id")
    }),

    // Composite quality gate: first failing rule (in a fixed order) or
    // 'keep' — the decision + audit-reason column a filtering pipeline
    // writes. All rules are per-row codegen'd expressions; one scan.
    "text_filter_chain" -> ((s, dir) => {
      val nTok = TextFns.tokenCount(col("text"))
      val avgLen = TextFns.avgTokenLen(col("text"))
      val stopR = TextFns.stopwordRatio(col("text"))
      val digitR = TextFns.charRatio(col("text"), "0-9")
      val firstFail = when(nTok < 50, "too_short")
        .when(nTok > 2000, "too_long")
        .when(avgLen < 3 || avgLen > 10, "odd_token_len")
        .when(stopR < 0.03, "low_stopword")
        .when(digitR > 0.2, "digit_heavy")
      Tables
        .documents(s, dir)
        .select(col("doc_id"), coalesce(firstFail, lit("keep")).as("verdict"))
        .orderBy("doc_id")
    }),


    // Gopher-style repetition signals (Rae et al. 2021 quality filters):
    // the share of tokens claimed by the most common bigram and the
    // duplicate-token fraction — per-row expressions, no shuffle.
    "text_repetition" -> ((s, dir) =>
      Tables
        .documents(s, dir)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("_toks"))
        .select(
          col("doc_id"),
          size(col("_toks")).as("n_tokens"),
          round(TextFns.maxBigramCount(col("_toks")) * lit(2.0) / size(col("_toks")), 6)
            .as("top_bigram_frac"),
          round(lit(1) - size(array_distinct(col("_toks"))).cast("double") / size(col("_toks")), 6)
            .as("dup_token_frac")
        )
        .orderBy("doc_id")),

    // Zipf slope of the token-frequency distribution: OLS of ln(count)
    // on ln(rank) — the corpus-health fingerprint (natural prose ≈ −1).
    // The vocabulary table is the only windowed input (|V| rows, tiny);
    // the corpus-scale work is the one explode + hash count.
    "text_zipf_slope" -> ((s, dir) => {
      val tf = Tables
        .documents(s, dir)
        .select(explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("cnt"))
      val ranked = tf
        .withColumn("rank", row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
        .select(log(col("rank").cast("double")).as("x"), log(col("cnt").cast("double")).as("y"))
      ranked
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy")
        )
        .select(
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")),
            6
          ).as("zipf_slope"),
          col("n").as("vocab_size")
        )
    }),

    // ── Corpus analysis / curation (r7) ─────────────────────────────────
    // fasttext-style linear quality classifier: interpretable features
    // (token count, stopword ratio, type-token ratio, average word
    // length) through a fixed-weight logistic — the cheap quality gate a
    // curation pipeline runs before any model-based scorer. Whole-row
    // codegen'd expressions; avg word length derives from n_chars
    // arithmetic (single-space tokenization), no second pass.
    "text_quality_logistic" -> ((s, dir) => {
      val toks = TextFns.tokens(col("text"))
      val stops = Seq("the", "a", "to", "of", "and")
      val n = size(toks).cast("double")
      val stopRatio = size(filter(toks, t => t.isInCollection(stops))) / n
      val ttr = size(array_distinct(toks)) / n
      val avgLen = (col("n_chars") - n + lit(1.0)) / n
      val z = lit(-2.0) + lit(0.35) * log(n) + lit(2.5) * stopRatio - lit(1.2) * ttr + lit(0.08) * avgLen
      val q = lit(1.0) / (lit(1.0) + exp(-z))
      Tables
        .documents(s, dir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), round(q, 6).as("quality_prob"), (q >= 0.5).as("keep"))
        .orderBy("doc_id")
    }),

    // TF-IDF keyword extraction: top-3 terms per document — tf over the
    // target docs, df over the FULL corpus (one vocab-keyed agg), ranked
    // inside bounded per-doc windows.
    "text_idf_keywords" -> ((s, dir) => {
      val toks = Tables
        .documents(s, dir)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val docFreq = toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("_n"))
      val tf = toks.filter(col("doc_id") < 50).groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(docFreq, "term")
        .crossJoin(broadcast(nDocs))
        .select(
          col("doc_id"),
          col("term"),
          col("tf"),
          round(col("tf") * log(col("_n").cast("double") / col("df")), 6).as("tfidf")
        )
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy("doc_id", "rank")
    }),

    // PMI collocations: adjacent-bigram pointwise mutual information
    // ln(c12·N / (c1·c2)) with a min-count floor — marginals and joint
    // from one bigram table, counts cast to double BEFORE multiplying so
    // the products cannot overflow long at corpus scale.
    "text_cooccurrence_pmi" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select(TextFns.tokens(col("text")).as("toks"))
      val bi = base
        .filter(size(col("toks")) >= 2)
        .select(
          explode(
            expr("transform(slice(toks, 1, size(toks) - 1), (t, i) -> struct(t AS w1, toks[i + 1] AS w2))")
          ).as("b")
        )
        .select(col("b.w1"), col("b.w2"))
      val joint = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val leftM = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      val rightM = bi.groupBy("w2").agg(count(lit(1)).as("c2"))
      val tot = bi.agg(count(lit(1)).as("_n2"))
      joint
        .filter(col("c12") >= 20)
        .join(leftM, "w1")
        .join(rightM, "w2")
        .crossJoin(broadcast(tot))
        .select(
          col("w1"),
          col("w2"),
          col("c12"),
          round(
            log(col("c12").cast("double") * col("_n2") / (col("c1").cast("double") * col("c2"))),
            6
          ).as("pmi")
        )
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    })
  )

  private val own: Map[String, String] = Map(

    "sample_weighted" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_kept FROM documents
        |WHERE CASE lang
        |  WHEN 'en' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |  WHEN 'de' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |  WHEN 'es' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |  WHEN 'fr' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |  WHEN 'zh' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '199a'
        |  ELSE TRUE END
        |GROUP BY 1 ORDER BY lang""".stripMargin,

    "text_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 7), ' ') AS g
        |  FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
        |),
        |freq AS (SELECT g, count(*) AS nd FROM grams GROUP BY 1)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
        |       round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_frac
        |FROM grams JOIN freq USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_dup_spans_excise" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, unnest(t) AS tok, unnest(range(len(t))) AS p FROM toks),
        |grams AS (
        |  SELECT doc_id, i - 1 AS p, array_to_string(list_slice(t, i, i + 7), ' ') AS g
        |  FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
        |),
        |freq AS (SELECT g, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper FROM grams GROUP BY 1),
        |cov AS (
        |  SELECT DISTINCT b.doc_id, b.p + o.o AS p
        |  FROM (SELECT DISTINCT grams.doc_id, grams.p
        |        FROM grams JOIN freq USING (g)
        |        WHERE freq.nd > 1 AND freq.keeper <> grams.doc_id) b
        |  CROSS JOIN unnest(generate_series(0, 7)) AS o(o)
        |),
        |kept AS (SELECT pos.doc_id, pos.p, pos.tok FROM pos ANTI JOIN cov USING (doc_id, p)),
        |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(reb.text, '') AS text
        |FROM toks t LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    "text_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |g AS (SELECT doc_id,
        |             unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |                                   for i in generate_series(1, len(t) - 3)])) AS gram
        |      FROM toks WHERE len(t) >= 4),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, count(*) AS n_shared
        |FROM g JOIN bench USING (gram) WHERE g.doc_id >= 10
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_chunk_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |bench_g AS (SELECT DISTINCT unnest(list_distinct(
        |              [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |               for i in generate_series(1, len(toks) - 3)])) AS gram
        |            FROM t WHERE doc_id < 10 AND len(toks) >= 4),
        |ch AS (SELECT doc_id, k AS chunk_id, toks[k*24 + 1 : k*24 + 32] AS ct
        |       FROM (SELECT doc_id, toks, unnest(range(0, (len(toks) - 1) // 24 + 1)) AS k
        |             FROM t WHERE doc_id >= 10)),
        |cg AS (SELECT doc_id, chunk_id, unnest(list_distinct(
        |              [ct[i] || ' ' || ct[i+1] || ' ' || ct[i+2] || ' ' || ct[i+3]
        |               for i in generate_series(1, len(ct) - 3)])) AS gram
        |       FROM ch WHERE len(ct) >= 4)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, count(*) AS n_shared
        |FROM cg JOIN bench_g USING (gram)
        |GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin,

    "text_pii_redact" ->
      """SELECT c_custkey AS id,
        |       CAST(len(regexp_extract_all(c_name, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER) AS n_email,
        |       CAST(len(regexp_extract_all(c_name, '[0-9]{4,}')) AS INTEGER) AS n_digit_runs,
        |       regexp_replace(regexp_replace(c_name,
        |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[PII]', 'g'),
        |           '[0-9]{4,}', '[PII]', 'g') AS redacted
        |FROM customer ORDER BY id""".stripMargin,

    "sample_cap_per_source" ->
      """SELECT source, doc_id, n_chars, rank FROM (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |  FROM documents) t
        |WHERE rank <= 10 ORDER BY source, rank""".stripMargin,

    "text_token_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents),
        |cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS s FROM cnt GROUP BY 1)
        |SELECT doc_id, round(log2(n) - s / n, 6) AS entropy FROM agg ORDER BY doc_id""".stripMargin,

    "text_filter_chain" ->
      """SELECT doc_id,
        |  CASE WHEN len(string_split(lower(text), ' ')) < 50 THEN 'too_short'
        |       WHEN len(string_split(lower(text), ' ')) > 2000 THEN 'too_long'
        |       WHEN (CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' '))) < 3
        |         OR (CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' '))) > 10
        |         THEN 'odd_token_len'
        |       WHEN (CAST(len(list_filter(string_split(lower(text), ' '),
        |                     t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
        |             / len(string_split(lower(text), ' '))) < 0.03 THEN 'low_stopword'
        |       WHEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) > 0.2
        |         THEN 'digit_heavy'
        |       ELSE 'keep' END AS verdict
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sample_split" ->
      """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0' THEN 'train'
        |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e0' THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,

    "sample_stratified" ->
      """SELECT lang, count(*) AS n_total,
        |       CAST(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,

    "sample_reservoir" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':r11') AS rk
        |FROM documents ORDER BY rk LIMIT 64""".stripMargin,

    "sample_token_budget" ->
      """SELECT source, doc_id, n_tokens, cum_tokens FROM (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        |         CAST(sum(CAST(len(string_split(lower(text), ' ')) AS BIGINT)) OVER
        |           (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM documents) t
        |WHERE cum_tokens <= 500 ORDER BY source, cum_tokens""".stripMargin,

    "sample_shuffle_shards" ->
      """SELECT CAST((doc_id * 2654435761) % 65536 % 8 AS BIGINT) AS shard, doc_id,
        |       md5(CAST(doc_id AS VARCHAR) || ':shuf') AS rk
        |FROM documents ORDER BY shard, rk""".stripMargin,

    "text_bytes_per_token" ->
      """SELECT source,
        |       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        |       CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
        |       round(CAST(sum(strlen(text)) AS DOUBLE) / sum(len(string_split(lower(text), ' '))), 6) AS bytes_per_token
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "text_length_buckets" ->
      """SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
        |            WHEN n <= 128 THEN 128 ELSE 256 END AS len_bucket,
        |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM (SELECT CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n FROM documents) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sample_temperature_mix" ->
      """WITH mass AS (SELECT source, sum(n_chars) AS m FROM documents GROUP BY source),
        |r AS (SELECT source, pow(CAST((SELECT min(m) FROM mass) AS DOUBLE) / m, 0.5) AS rate FROM mass)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE ((d.doc_id * 2654435761) % 65536) / 65536.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,

    "sample_pack_sequences" ->
      """SELECT source, shard, doc_id, n_tokens,
        |       CAST(floor((cum_end - n_tokens) / 256.0) AS BIGINT) AS pack_id,
        |       CAST((cum_end - n_tokens) % 256 AS BIGINT) AS pack_offset,
        |       (CAST(floor((cum_end - 1) / 256.0) AS BIGINT)
        |          > CAST(floor((cum_end - n_tokens) / 256.0) AS BIGINT)) AS spans_boundary
        |FROM (SELECT source, CAST(floor(doc_id / 128.0) AS BIGINT) AS shard, doc_id,
        |             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        |             sum(len(string_split(lower(text), ' ')))
        |               OVER (PARTITION BY source, CAST(floor(doc_id / 128.0) AS BIGINT) ORDER BY doc_id) AS cum_end
        |      FROM documents) t
        |ORDER BY source, shard, doc_id""".stripMargin,

    "sample_weighted_quality" ->
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id * 2654435761) % 65536) / 65536.0 <
        |      least(1.0, round(CAST(len(list_filter(string_split(lower(text), ' '),
        |                   t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
        |            / len(string_split(lower(text), ' ')), 6) * 3.0)
        |ORDER BY doc_id""".stripMargin,

    "sample_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT term, count(*) AS cr, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        |       FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS nr, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
        |               count(DISTINCT term) AS v
        |        FROM toks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       round(sum(ln(CAST(ct + 1 AS DOUBLE) / (cr + 1))
        |                 - ln(CAST(nt + v AS DOUBLE) / (nr + v))), 6) AS log_ratio
        |FROM toks JOIN tf USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY log_ratio DESC, doc_id LIMIT 100""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
        |       CAST(len(list_distinct(string_split(lower(text), ' '))) AS INTEGER) AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Corpus-cartography FULL replication (r17): the k-means blocking is
    // the shared IVF trainer, whose fixed-point Lloyd means are now
    // bit-replayable in SQL (see ann_ivf_kmeans_topk); the TF×IDF term
    // scoring and bounded top-3 ranking were always SQL — so the whole
    // operator promotes from rows-only to hash-checked.
    "text_cluster_topics" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id) - 1 AS cell, v AS c
        |  FROM base
        |  ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)) AS BIGINT), vec_id
        |  LIMIT 8),
        |a0 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c0 c) WHERE rn = 1),
        |s1 AS (SELECT a0.cell, d.d, sum(CAST(floor(b.v[d.d]*1000000.0 + 0.5) AS BIGINT)) AS s, count(b.v[d.d]) AS n
        |  FROM base b JOIN a0 USING (vec_id) CROSS JOIN generate_series(1,64) d(d) GROUP BY a0.cell, d.d),
        |c0d AS (SELECT cell, d.d, c[d.d] AS x FROM c0 CROSS JOIN generate_series(1,64) d(d)),
        |c1 AS (SELECT c0d.cell, list(CASE WHEN s1.n IS NOT NULL AND s1.n > 0
        |        THEN CAST(CAST(CAST(s1.s AS DOUBLE)/(CAST(s1.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |        ELSE c0d.x END ORDER BY c0d.d) AS c
        |  FROM c0d LEFT JOIN s1 ON s1.cell = c0d.cell AND s1.d = c0d.d GROUP BY c0d.cell),
        |a1 AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c1 c) WHERE rn = 1),
        |s2 AS (SELECT a1.cell, d.d, sum(CAST(floor(b.v[d.d]*1000000.0 + 0.5) AS BIGINT)) AS s, count(b.v[d.d]) AS n
        |  FROM base b JOIN a1 USING (vec_id) CROSS JOIN generate_series(1,64) d(d) GROUP BY a1.cell, d.d),
        |c1d AS (SELECT cell, d.d, c[d.d] AS x FROM c1 CROSS JOIN generate_series(1,64) d(d)),
        |c2 AS (SELECT c1d.cell, list(CASE WHEN s2.n IS NOT NULL AND s2.n > 0
        |        THEN CAST(CAST(CAST(s2.s AS DOUBLE)/(CAST(s2.n AS DOUBLE)*1000000.0) AS REAL) AS DOUBLE)
        |        ELSE c1d.x END ORDER BY c1d.d) AS c
        |  FROM c1d LEFT JOIN s2 ON s2.cell = c1d.cell AND s2.d = c1d.d GROUP BY c1d.cell),
        |assign AS (SELECT vec_id, cell FROM (
        |  SELECT b.vec_id, c.cell, row_number() OVER (PARTITION BY b.vec_id ORDER BY list_distance(b.v, c.c), c.cell) AS rn
        |  FROM base b CROSS JOIN c2 c) WHERE rn = 1),
        |sizes AS (SELECT cell, count(*) AS n_docs FROM assign GROUP BY cell),
        |docterms AS (SELECT doc_id, unnest(list_distinct(string_split(lower(text),' '))) AS term FROM documents),
        |corpus AS (SELECT term, count(*) AS df FROM docterms GROUP BY term),
        |nd AS (SELECT count(*) AS n FROM documents),
        |cellterm AS (SELECT a.cell, dt.term, count(*) AS cf FROM docterms dt JOIN assign a ON a.vec_id = dt.doc_id GROUP BY a.cell, dt.term),
        |scored AS (SELECT ct.cell, s.n_docs, ct.term, ct.cf,
        |   round(CAST(ct.cf AS DOUBLE)/s.n_docs * ln(CAST((SELECT n FROM nd) AS DOUBLE)/c.df), 6) AS score
        |   FROM cellterm ct JOIN corpus c USING (term) JOIN sizes s USING (cell)),
        |ranked AS (SELECT CAST(cell AS INTEGER) AS cell, n_docs, CAST(row_number() OVER (PARTITION BY cell ORDER BY score DESC, term) AS INTEGER) AS rank, term, cf, score FROM scored)
        |SELECT cell, n_docs, rank, term, cf, score FROM ranked WHERE rank <= 3 ORDER BY cell, rank""".stripMargin,

    "text_chunk_sliding" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |             unnest(range(0, (len(toks) - 1) // 24 + 1)) AS k
        |      FROM t)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |       CAST(len(toks[k*24 + 1 : k*24 + 32]) AS BIGINT) AS n_tokens,
        |       array_to_string(toks[k*24 + 1 : k*24 + 32], ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "text_chunk_sentences" ->
      """WITH a AS (SELECT doc_id,
        |                  list_filter(list_transform(regexp_extract_all(
        |                      replace(replace(text, 'table', 'table.'), 'value', 'value!'),
        |                      '[^.!?]+[.!?]*'), x -> trim(x)),
        |                              x -> x <> '') AS sents
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(unnest(range(len(sents))) AS BIGINT) AS sent_idx,
        |       unnest(sents) AS sentence
        |FROM a ORDER BY doc_id, sent_idx""".stripMargin,

    "sample_epochs_upsample" ->
      """WITH p AS (SELECT doc_id, source,
        |                  CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.4
        |                              WHEN 'src2' THEN 0.6 WHEN 'src3' THEN 1.0 ELSE 0 END AS e
        |           FROM documents),
        |c AS (SELECT doc_id, source, CAST(floor(e) AS BIGINT) AS nf, e - floor(e) AS fr FROM p),
        |k AS (SELECT doc_id, source,
        |             nf + CASE WHEN ((doc_id + nf) * 2654435761) % 65536 / 65536.0 < fr THEN 1 ELSE 0 END AS copies
        |      FROM c)
        |SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS epoch
        |FROM k ORDER BY doc_id, epoch""".stripMargin,

    "text_quality_score" ->
      """SELECT doc_id,
        |       CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
        |       round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' ')), 6) AS avg_token_len,
        |       round(CAST(len(list_filter(string_split(lower(text), ' '),
        |                    t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
        |             / len(string_split(lower(text), ' ')), 6) AS stop_ratio,
        |       round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 6) AS digit_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_lang_id" ->
      """SELECT doc_id, s_en, s_fr, s_de, s_es,
        |       CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
        |            WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
        |            WHEN s_de >= s_es THEN 'de'
        |            ELSE 'es' END AS pred_lang
        |FROM (SELECT doc_id,
        |        CAST(len(list_filter(string_split(lower(text), ' '), t -> list_contains(['the','a','of','and'], t))) AS INTEGER) AS s_en,
        |        CAST(len(list_filter(string_split(lower(text), ' '), t -> list_contains(['le','la','et','les'], t))) AS INTEGER) AS s_fr,
        |        CAST(len(list_filter(string_split(lower(text), ' '), t -> list_contains(['der','die','und','das'], t))) AS INTEGER) AS s_de,
        |        CAST(len(list_filter(string_split(lower(text), ' '), t -> list_contains(['el','los','que','y'], t))) AS INTEGER) AS s_es
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "text_token_count_regex" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_subtokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Full recomputation of the md5-based polynomial rolling hash: token
    // bases from the first 15 md5 hex chars mod P, window values by the
    // same Horner fold the kernel's rolling recurrence is spec-pinned to.
    "text_rolling_hash" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |h AS (SELECT doc_id,
        |        list_transform(t, x -> CAST(('0x' || substr(md5(x),1,15)) AS BIGINT) % 2147483647) AS b,
        |        len(t) AS n
        |      FROM toks),
        |wins AS (SELECT doc_id,
        |        list_transform(generate_series(1, greatest(n-4, 0)), i ->
        |          (((((((((b[i]*1000003 + b[i+1]) % 2147483647)*1000003 + b[i+2]) % 2147483647)*1000003 + b[i+3]) % 2147483647)*1000003 + b[i+4]) % 2147483647))) AS hs
        |      FROM h)
        |SELECT doc_id, CAST(len(hs) AS INTEGER) AS n_windows, hs[1] AS first_hash, list_min(hs) AS min_hash
        |FROM wins ORDER BY doc_id""".stripMargin,

    "text_ngram_freq" ->
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT t[i] || ' ' || t[i + 1] AS bigram
        |  FROM (SELECT string_split(lower(text), ' ') AS t FROM documents) d
        |  CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS u(i)) b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        |big AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
        |        FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS u(i)
        |        WHERE len(t) >= 2),
        |mx AS (SELECT doc_id, max(c) AS mc
        |       FROM (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2) GROUP BY 1)
        |SELECT toks.doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
        |       round(CAST(coalesce(mc, 0) * 2 AS DOUBLE) / len(t), 6) AS top_bigram_frac,
        |       round(1 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS dup_token_frac
        |FROM toks LEFT JOIN mx USING (doc_id) ORDER BY doc_id""".stripMargin,

    "text_zipf_slope" ->
      """WITH tf AS (
        |  SELECT tok, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |ranked AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
        |         ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM tf)
        |SELECT round((count(*) * sum(x * y) - sum(x) * sum(y))
        |             / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS zipf_slope,
        |       count(*) AS vocab_size
        |FROM ranked""".stripMargin,

    "text_perplexity_bigram" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |uni AS (SELECT doc_id, unnest(ts) AS term FROM d),
        |tf AS (SELECT term, count(*) AS cnt FROM uni GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM uni),
        |bi AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
        |       FROM d WHERE len(ts) >= 2),
        |bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |lc AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-avg(ln(0.75 * CAST(c12 AS DOUBLE) / c1 + 0.25 * CAST(cnt AS DOUBLE) / n)), 6) AS cross_entropy,
        |       round(exp(-avg(ln(0.75 * CAST(c12 AS DOUBLE) / c1 + 0.25 * CAST(cnt AS DOUBLE) / n))), 6) AS perplexity
        |FROM bi JOIN bc USING (w1, w2) JOIN lc USING (w1)
        |     JOIN tf ON bi.w2 = tf.term CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_perplexity_unigram" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       round(-avg(ln(CAST(cnt AS DOUBLE) / n)), 6) AS cross_entropy,
        |       round(exp(-avg(ln(CAST(cnt AS DOUBLE) / n))), 6) AS perplexity
        |FROM toks JOIN tf USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_quality_logistic" ->
      """SELECT doc_id, round(q, 6) AS quality_prob, q >= 0.5 AS keep FROM (
        |  SELECT doc_id,
        |         1.0 / (1.0 + exp(-(-2.0 + 0.35 * ln(n) + 2.5 * stop_ratio - 1.2 * ttr + 0.08 * avg_len))) AS q
        |  FROM (SELECT doc_id,
        |               CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n,
        |               len(list_filter(string_split(lower(text), ' '),
        |                               t -> t IN ('the', 'a', 'to', 'of', 'and')))
        |                 / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stop_ratio,
        |               len(list_distinct(string_split(lower(text), ' ')))
        |                 / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS ttr,
        |               (n_chars - CAST(len(string_split(lower(text), ' ')) AS DOUBLE) + 1.0)
        |                 / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS avg_len
        |        FROM documents WHERE doc_id < 100) f) t
        |ORDER BY doc_id""".stripMargin,

    "text_idf_keywords" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE doc_id < 50 GROUP BY 1, 2),
        |sc AS (SELECT doc_id, term, tf,
        |              round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        |       FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, tfidf, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM sc) t
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "text_cooccurrence_pmi" ->
      """WITH toks AS (SELECT doc_id, tok, p FROM (
        |       SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
        |              generate_subscripts(string_split(lower(text), ' '), 1) AS p
        |       FROM documents) t),
        |bi AS (SELECT w1, w2 FROM (
        |         SELECT doc_id, tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY p) AS w2
        |         FROM toks) b
        |       WHERE w2 IS NOT NULL),
        |joint AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |lm AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
        |rm AS (SELECT w2, count(*) AS c2 FROM bi GROUP BY 1),
        |tot AS (SELECT count(*) AS n2 FROM bi)
        |SELECT w1, w2, c12,
        |       round(ln(CAST(c12 AS DOUBLE) * n2 / (CAST(c1 AS DOUBLE) * c2)), 6) AS pmi
        |FROM joint JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tot
        |WHERE c12 >= 20
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin
  )

  val oracleSql: Map[String, String] = own ++ Map(
    // The bloom path prunes, then confirms exactly, so it answers as text_decontaminate does.
    "text_decontaminate_bloom" -> own("text_decontaminate")
  )
}
