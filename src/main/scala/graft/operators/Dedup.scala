package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact + fingerprint deduplication.
  *
  * Both are a single hash-aggregate on a digest of the content: map-side
  * partial aggregation collapses per-partition duplicates, so the shuffle
  * carries one (digest, partial) pair per distinct key per partition — the
  * only dedup plan that survives 100 TB (never `dropDuplicates` on the raw
  * text column, which would shuffle full documents).
  */
object Dedup {

  /** Duplicate groups by exact content hash: (hash, group size, kept id). */
  def exactGroups(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(md5(content).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"))

  /** Near-dup groups via the normalization fingerprint (lower/dedupe/sort
    * tokens): catches reorderings and repeated-token variants.
    */
  def fingerprintGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(TextFns.fingerprint(text).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"))

  /** Compiled exact-Jaccard over two string sets (hash-set intersection) —
    * interpreted array_intersect/array_union measured ~5x slower on the
    * candidate-verification hot path.
    */
  /** Register dedup kernels for SQL use: jaccard_sim(a, b). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.udf.register("jaccard_sim", jaccardUdf)

  val jaccardUdf = udf((a: Seq[String], b: Seq[String]) => {
    val sa = a.toSet
    val sb = b.toSet
    var inter = 0
    sb.foreach(x => if (sa.contains(x)) inter += 1)
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  })

  /** Threshold-aware verify kernel: exact Jaccard with early abandon.
    * Jaccard >= t requires overlap >= t/(1+t)·(|a|+|b|); while probing b's
    * elements against a's hash set, once the best still-reachable overlap
    * (found so far + elements left to probe) drops below that, no later
    * probe can save the pair — bail with -1 (any value < t works: callers
    * filter `>= threshold`, so the abandoned value never surfaces).
    * Lossless: pairs at/above t always run to completion and return the
    * exact score.
    */
  val jaccardAtLeastUdf = udf((a: Seq[String], b: Seq[String], t: Double) => {
    val sa = a.toSet
    val nb = b.size
    val minInter = t / (1 + t) * (sa.size + nb) - 1e-7
    var inter = 0
    var probed = 0
    var abandoned = false
    val it = b.iterator
    while (!abandoned && it.hasNext) {
      if (sa.contains(it.next())) inter += 1
      probed += 1
      if (inter + (nb - probed) < minInter) abandoned = true
    }
    if (abandoned) -1.0
    else {
      val union = sa.size + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
  })

  /** Exact n-gram (token shingle) Jaccard pairs above `threshold`, via
    * frequency-ordered prefix filtering (the PPJoin family, Xiao et al.
    * WWW'08):
    *
    * Order every doc's shingles by ascending corpus document-frequency;
    * two sets with Jaccard >= t MUST share at least one shingle within each
    * other's first `floor((1-t)*|sh|) + 1` shingles, and because those
    * prefixes now hold the RAREST shingles, the equi-join on prefix
    * shingles generates few collisions (canonical-hash ordering measured
    * 577k candidates for 256 true pairs on a shared-vocab corpus;
    * df-ordering cuts that by orders of magnitude). A size-ratio filter
    * (t*|b| <= |a| <= |b|/t) prunes before the exact verify; the verify
    * joins full shingle arrays back by id so the candidate distinct()
    * shuffles only (a, b) id pairs.
    *
    * Shuffles: one per groupBy/join on small keys — document-frequency
    * count, prefix ranking window (partitioned by doc id), prefix-key join,
    * and the verify joins. No cross join, no within-bucket quadratic.
    */
  /** Cross-document duplicated-span statistics (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    * substring-level dedup, here approximated at n-token shingle
    * granularity): per document, how many of its distinct n-gram spans
    * also occur in at least one OTHER document, and the fraction. The
    * curation signal for span-level contamination that document-level
    * dedup (exact/MinHash) cannot see — two distinct documents sharing a
    * boilerplate paragraph score high here and identical nowhere else.
    *
    * Two hash aggregations with map-side partials; grams are distinct per
    * doc, so the corpus frequency is a plain count. The shuffle carries
    * (span, id) pairs — at 100 TB you would xxhash64 the span so 8 bytes
    * travel instead of the text (collision-safe at any realistic corpus);
    * kept as text here so the DuckDB oracle can replay it verbatim.
    * Documents shorter than n tokens have no spans and are absent, as in
    * the paper's pipeline.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val grams = graft.Tables
      .ensureParallelism(df.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(col("id"), explode(array_distinct(TextFns.ngramsFromTokens(TextFns.tokens(col("_t")), n))).as("g"))
    // Census stays agg + join, NOT a window (a window over g cannot
    // partial-aggregate or be AQE-skew-split — a boilerplate span would
    // serialize one reducer at 100 TB). r19 adds the merge hint: the
    // broadcast form shipped the census driver-side and re-derived the
    // gram pipeline on the unexchanged probe side; under sort-merge both
    // sides' (g) exchanges are plan-reused and the pipeline runs once
    // per side (guide §3.1, §2.4).
    val freq = grams.groupBy("g").agg(count(lit(1)).as("nd"))
    grams
      .join(freq.hint("merge"), "g")
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("dup_spans")
      )
      .select(
        col("doc_id"),
        col("n_spans"),
        col("dup_spans"),
        round(col("dup_spans") / col("n_spans"), 6).as("dup_frac")
      )
  }

  /** Lee et al. ACL'22 substring-dedup SURGERY — the removal op the span
    * statistics above inform: every n-token span occurring in MORE THAN
    * ONE document survives only in its lowest-id document (the
    * deterministic keeper); every other document drops the tokens its
    * duplicated spans cover, and the survivors re-join in token order.
    * Fully-excised documents come back as empty text (the caller
    * decides whether to drop them — quality filtering's job, not the
    * surgeon's). Keeper granularity is the DOCUMENT: the keeper keeps
    * all its occurrences. When shared spans with DIFFERENT keepers
    * overlap inside one document, the cuts union — a doc can lose part
    * of a span it is itself the keeper of (the conservative bias:
    * never retain two copies beats keeper courtesy; DedupSpec pins the
    * case).
    *
    * Plan: positional n-grams (one posexplode), gram frequency + keeper
    * in one hash agg (count distinct ids + min id — map-side partials),
    * an equi-join back on the gram key (never all-pairs), covered
    * positions via one bounded n-offset explode, one anti-join, and a
    * per-doc ordered re-join (array_sort over (pos, token) structs — no
    * window, no global sort). Shuffles carry (id, gram) and (id, pos)
    * pairs, never document text; at 100 TB the gram-frequency agg is
    * the only corpus-wide exchange, the same one dupSpanStats already
    * pays.
    */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val toks = graft.Tables
      .ensureParallelism(df.select(col(idCol).as("id"), col(textCol).as("_t0")))
      .select(col("id"), TextFns.tokens(col("_t0")).as("_t"))
    val pos = toks.select(col("id"), posexplode(col("_t")).as(Seq("p", "tok")))
    // gram k (0-based start) covers tokens [k, k+n-1]
    val grams = toks.select(col("id"), posexplode(TextFns.ngramsFromTokens(col("_t"), n)).as(Seq("p", "g")))
    // "occurs in MORE THAN ONE document" needs only min(id) ≠ max(id),
    // not a count — r19: the count_distinct form planned as a two-phase
    // distinct aggregate (an extra (g, id) Exchange + three aggregate
    // passes); min/max partials aggregate map-side in one exchange.
    val freq = grams.groupBy("g").agg(min("id").as("keeper"), max("id").as("_maxid"))
    val covered = grams
      .join(freq, "g")
      .filter(col("_maxid") =!= col("keeper") && col("id") =!= col("keeper"))
      .select(col("id"), explode(sequence(col("p"), col("p") + lit(n - 1))).as("p"))
    // No distinct(): the only consumer is the left_anti join below, which
    // is duplicate-insensitive — the old distinct paid a full (id, p)
    // shuffle + two aggregate passes to remove rows the join ignores
    // anyway (r19; guide §2.4 "a distinct on data whose consumer doesn't
    // need it").
    val rebuilt = pos
      .join(covered, Seq("id", "p"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("tok")))), x => x.getField("tok")),
          " "
        ).as("_kept")
      )
    toks
      .select(col("id").as(idCol))
      .join(rebuilt.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_kept"), lit("")).as(textCol))
  }

  /** CCNet-style corpus-wide exact paragraph deduplication with document
    * reassembly (Wenzek '20 §3.1; RefinedWeb and Dolma run the same
    * pass before any fuzzy dedup). The synthetic corpus is single-line,
    * so "paragraph" is the deterministic non-overlapping
    * `paraTokens`-token window — the unit is a parameter, the algorithm
    * is the published one: hash every paragraph, keep the corpus-wide
    * FIRST occurrence (min (id, idx)), drop every other copy, and
    * reassemble each document from its surviving paragraphs in order.
    * A document whose every paragraph was seen earlier collapses to
    * NULL text but keeps its ledger row (n_kept = 0), so the drop is
    * auditable downstream.
    *
    * Scale shape: explode to paragraph rows (map-only), one hash
    * aggregate on the 16-byte digest to elect winners — map-side
    * partials absorb hot paragraphs (the boilerplate a real corpus
    * repeats millions of times collapses inside each partition), which
    * is why this is an agg + join and NOT a row_number window over the
    * digest: a window cannot partial-aggregate, so its hottest key
    * would serialize one reducer at 100 TB. The join back is
    * digest-keyed (16-byte keys on the wire, not text), AQE-sized; the
    * final groupBy(id) reassembly shuffles each document's surviving
    * paragraphs once.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String, paraTokens: Int = 20): DataFrame = {
    val paras = graft.Tables
      .ensureParallelism(df.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(
        col("id"),
        explode(TextFns.slidingChunks(col("_t"), window = paraTokens, stride = paraTokens)).as("c")
      )
      .select(col("id"), col("c.chunk_id").cast("long").as("pidx"), array_join(col("c.toks"), " ").as("ptext"))
      .withColumn("h", md5(col("ptext")))
    // Census stays agg + join, NOT a window (the docstring's skew
    // argument: a window over the digest cannot partial-aggregate or be
    // AQE-skew-split, so a boilerplate paragraph would serialize one
    // reducer at 100 TB). r19 adds the merge hint: the broadcast form
    // shipped the census driver-side AND left the probe side without an
    // exchange, so the chunk+md5 pipeline re-ran per consumer; under
    // sort-merge both sides' (h) exchanges are plan-reused and the
    // pipeline runs once per side — the strategy a 100 TB census join
    // uses anyway (guide §3.1, §2.4).
    val firsts = paras.groupBy("h").agg(min(struct(col("id"), col("pidx"))).as("first"))
    paras
      .join(firsts.hint("merge"), "h")
      .withColumn("kept", struct(col("id"), col("pidx")) === col("first"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("pidx"), col("ptext"))))),
            x => x.getField("ptext")
          ),
          " "
        ).as("_kept_raw")
      )
      .select(
        col("id"),
        col("n_paras"),
        col("n_kept"),
        when(col("n_kept") > 0, col("_kept_raw")).as("kept_text")
      )
  }

  /** Rare-n-gram containment pairs — the ASYMMETRIC near-dup signal
    * C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| that catches quote
    * inclusion and partial copies, which symmetric Jaccard dilutes (a
    * short doc fully contained in a long one scores low Jaccard but
    * containment 1.0 from the short side).
    *
    * Candidate evidence is restricted to grams with document frequency
    * ≤ `dfCap` (rare-gram blocking): stop-grams never generate
    * candidate pairs, so the per-gram pair fan-out is bounded by dfCap²
    * and the gram self-join stays near-linear at corpus scale — the
    * standard trick, here made DETERMINISTIC and oracle-shared by
    * computing the metric over the same rare-gram universe on both
    * sides (pairs overlapping ONLY in stop-grams are out of scope by
    * definition, not silently dropped). Shuffles carry (gram, id) pairs
    * and id pairs — never text.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      dfCap: Int = 50,
      threshold: Double = 0.5
  ): DataFrame = {
    // Deliberately NOT persisted (r18): the gram pipeline appears several
    // times in the physical plan, but the JIT-warm recompute is cheaper
    // than materializing the full gram table through the memory store —
    // measured in the bench instrument 2.3 s as-is vs 3.0 s
    // rare-persisted vs worse with grams too.
    val grams = graft.Tables
      .ensureParallelism(df.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(col("id"), explode(array_distinct(TextFns.ngramsFromTokens(TextFns.tokens(col("_t")), n))).as("g"))
    // Rare-gram census: agg + MERGE join (r19; was a groupBy census
    // joined back under a broadcast — the census shipped driver-side and
    // the unexchanged probe side re-derived the gram pipeline per
    // consumer, 8× across the plan). Under sort-merge, the census's and
    // probe's (g) exchanges are each plan-reused by every downstream
    // consumer (sizes + both self-join sides), so the tokenize+shingle
    // pipeline runs once per side instead of 8× (guide §2.4, §3.1). NOT
    // a window: a window over g cannot partial-aggregate or be
    // AQE-skew-split, so a stop-gram would serialize one reducer at
    // 100 TB. Same df values, same row set, same metric.
    val rare = grams
      .join(grams.groupBy("g").agg(count(lit(1)).as("_df")).filter(col("_df") <= dfCap).hint("merge"), "g")
      .select("id", "g")
    val sizes = rare.groupBy(col("id")).agg(count(lit(1)).as("n_rare"))
    val shared = rare
      .select(col("id").as("a"), col("g"))
      .join(rare.select(col("id").as("b"), col("g")), "g")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("a"), col("n_rare").as("n_a")), "a")
      .join(sizes.select(col("id").as("b"), col("n_rare").as("n_b")), "b")
      .select(
        col("a"),
        col("b"),
        round(col("shared") / col("n_a"), 4).as("containment_ab"),
        round(col("shared") / col("n_b"), 4).as("containment_ba")
      )
      .filter(greatest(col("containment_ab"), col("containment_ba")) >= threshold)
      .orderBy("a", "b")
  }

  /** @param suffixFilter
    *   enable the two suffix-side prunes (both lossless, flag kept so the
    *   spec can assert set-equality of the two paths): (a) the
    *   all-shared-prefix positional bound `overlap <= c + min(|x|-i_last,
    *   |y|-j_last)` — the c shared prefix shingles are counted, anything
    *   else in common sits strictly after BOTH last shared positions —
    *   which tightens the classic first-position bound whenever a pair
    *   shares more than one prefix shingle; (b) early-abandoning
    *   verification (jaccardAtLeastUdf).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.4,
      suffixFilter: Boolean = true
  ): DataFrame = {
    // Persisted: referenced by the prefix path and both verify sides; at
    // scale this is the standard "materialize the shingle table once"
    // step of a dedup job (spills to disk if it outgrows memory).
    val base = graft.Tables
      .ensureParallelism(df.select(col(idCol).as("id"), col(textCol).as("_text")))
      .select(col("id"), TextFns.tokens(col("_text")).as("_toks"))
      .select(col("id"), array_distinct(TextFns.ngramsFromTokens(col("_toks"), n)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), size(col("sh")).as("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Grams ride the prefix pipeline as 64-bit xxhash64 keys (r19; guide
    // §2.3 shuffle keys, not payloads): the document-frequency shuffle,
    // the ranking window, and the candidate self-join all carry 8 bytes
    // per gram instead of the gram text. LOSSLESS for the emitted pair
    // set: the prefix-filter theorems hold for ANY global total order of
    // the gram universe — (df, hash) is one — and a hash collision can
    // only MERGE two grams' identities, which inflates df/overlap counts
    // and loosens every positional bound (more candidates admitted,
    // never fewer); the verify join re-checks exact Jaccard on the full
    // textual shingle arrays, so admitted non-pairs die there and true
    // pairs cannot be lost. DedupSpec's suffix-filter set-equality drill
    // and the dedup oracle keys pin the end-to-end pair set.
    val exploded = base
      .select(col("id"), col("sz"), explode(col("sh")).as("_pt"))
      .select(col("id"), col("sz"), xxhash64(col("_pt")).as("p"))
    val docFreq = exploded.groupBy(col("p")).agg(count(lit(1)).as("_df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("_df").asc, col("p").asc)
    // Persisted (r18): both sides of the candidate self-join consume
    // `prefix`; unpersisted, the docFreq join + ranking window ran once
    // PER SIDE (the window sits above the reusable exchange, so stage
    // reuse cannot dedup it). The post-rank-filter table is small, so
    // materialization beats the double window: 3.40 s → 2.64 s in the
    // bench instrument at sf0.1.
    val prefix = exploded
      .join(docFreq, "p")
      .withColumn("_rk", row_number().over(rankW))
      .filter(col("_rk") <= floor(col("sz") * (1 - threshold)) + 1)
      .select(col("id"), col("sz"), col("p"), col("_rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val l = prefix.as("l")
    val r = prefix.as("r")
    // PPJoin+ positional filter (Xiao et al. WWW'08 §4): prefix positions
    // rank shingles in ONE global (df, shingle) order, so the earliest
    // common prefix shingle of a pair attains min(l._rk) and min(r._rk)
    // simultaneously, and every other common shingle sits strictly after it
    // in BOTH docs. Hence overlap <= 1 + min(|x|-i, |y|-j) — and Jaccard
    // >= t forces overlap >= t/(1+t)·(|x|+|y|). Grouping collision rows per
    // pair (the same shuffle the old distinct() did) makes the bound
    // computable and prunes candidates before the expensive verify join;
    // the 1e-7 slack only protects against float rounding of the exact
    // rational threshold (slack admits candidates, never drops them —
    // lossless).
    val overlapMin = lit(threshold / (1 + threshold)) * (col("sza") + col("szb")) - lit(1e-7)
    val grouped = l
      .join(
        r,
        col("l.p") === col("r.p") && col("l.id") < col("r.id") &&
          col("l.sz") >= col("r.sz") * threshold && col("r.sz") >= col("l.sz") * threshold
      )
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(
        first(col("l.sz")).as("sza"),
        first(col("r.sz")).as("szb"),
        min(col("l._rk")).as("li"),
        min(col("r._rk")).as("rj"),
        count(lit(1)).as("c"),
        max(col("l._rk")).as("li_max"),
        max(col("r._rk")).as("rj_max")
      )
      .filter(lit(1) + least(col("sza") - col("li"), col("szb") - col("rj")) >= overlapMin)
    val cands = (
      if (suffixFilter)
        // Suffix-side positional bound over ALL shared prefix shingles:
        // the c shared ones are in hand; every other common shingle sits
        // strictly after position li_max in x AND rj_max in y (same
        // global (df, shingle) order), so overlap <= c + min(sza-li_max,
        // szb-rj_max). Equal to the classic bound at c=1, strictly
        // tighter when a pair shares several prefix shingles — exactly
        // the pairs the first-position filter cannot reject.
        grouped.filter(col("c") + least(col("sza") - col("li_max"), col("szb") - col("rj_max")) >= overlapMin)
      else grouped
    ).select(col("a"), col("b"))

    val sa = base.select(col("id").as("a"), col("sh").as("sh_a"))
    val sb = base.select(col("id").as("b"), col("sh").as("sh_b"))
    val verified = cands
      .join(sa, "a")
      .join(sb, "b")
    val score =
      // native kernels (r18): same arithmetic as the retired UDFs
      // without the per-pair Seq[String] conversion — see JaccardExprs
      if (suffixFilter) graft.functions.JaccardExprs.jaccardAtLeast(col("sh_a"), col("sh_b"), threshold)
      else graft.functions.JaccardExprs.jaccardSim(col("sh_a"), col("sh_b"))
    verified
      .select(col("a"), col("b"), round(score, 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
