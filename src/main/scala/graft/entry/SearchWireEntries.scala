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

/** Search wire twins: the JSON request-body executor surface.
  * Split out of the monolithic SparkEntry registry (round 10)
  * purely mechanically — entry bodies and oracle SQL are
  * byte-identical; SparkEntry aggregates the family maps. A twin whose
  * answer must equal a structured key's names that key's oracle in
  * `oracleSql` rather than repeating its text.
  */
private[graft] object SearchWireEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The wire twin, with the analyzer declared in the WIRE mapping
    // format end-to-end: a settings.analysis block names the chain
    // (stop filter + s_stem), the text field binds it by name, and the
    // match clause compiles against it — exactly how a real index
    // declares stemming; no programmatic analyzer plumbing.
    "search_dsl_json_match_stemmed" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match": {"text": "scans joins the"}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}""".stripMargin,
        IndexMapping.fromJson(
          """{"settings": {"analysis": {
            |   "filter": {"my_stop": {"type": "stop", "stopwords": ["the", "a"]}},
            |   "analyzer": {"light_english": {"filter": ["lowercase", "my_stop", "s_stem"]}}}},
            | "mappings": {"properties": {
            |   "doc_id":  {"type": "long"},
            |   "text":    {"type": "text", "analyzer": "light_english"},
            |   "lang":    {"type": "keyword"},
            |   "source":  {"type": "keyword"},
            |   "n_chars": {"type": "long"}
            |}}}""".stripMargin
        )
      )),

    // match with operator:and (the object form): ALL query terms must be
    // present, not any — r14, after the percolator's indexed≡compiled
    // tier-equality contract caught the compiled tier silently dropping
    // the operator and applying OR semantics.
    "search_dsl_json_match_operator_and" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match": {"text": {"query": "merge batch vector", "operator": "and"}}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id", "source"]}""".stripMargin,
        IndexMapping(Map("text" -> "text"))
      )),

    // match with fuzziness (r14): per-token edit distance against the
    // analyzed doc tokens — "merg" reaches "merge" at distance 1 while
    // "batch" stays exact; OR across tokens (the match default).
    "search_dsl_json_match_fuzziness" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match": {"text": {"query": "merg windoww", "fuzziness": 1}}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id", "n_chars"]}""".stripMargin,
        IndexMapping(Map("text" -> "text"))
      )),

    // search-as-you-type over the wire: the mapping's settings.analysis
    // declares an edge_ngram filter, the text field indexes with it and
    // sets search_analyzer=standard — so the typed prefix "spa" matches
    // the INDEXED prefix tokens (an analyzed-token equality, the
    // autocomplete scale path) without being expanded itself. The
    // asymmetric analyzer pair is the whole point: symmetric expansion
    // would match any document sharing a 2-char prefix with the query.
    "search_dsl_json_match_sayt" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match": {"text": "spa"}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id", "n_chars"]}""".stripMargin,
        IndexMapping.fromJson(
          """{"settings": {"analysis": {
            |   "filter": {"auto_edge": {"type": "edge_ngram", "min_gram": 2, "max_gram": 8}},
            |   "analyzer": {"autocomplete": {"filter": ["lowercase", "auto_edge"]}}}},
            | "mappings": {"properties": {
            |   "doc_id":  {"type": "long"},
            |   "text":    {"type": "text", "analyzer": "autocomplete", "search_analyzer": "standard"},
            |   "lang":    {"type": "keyword"},
            |   "source":  {"type": "keyword"},
            |   "n_chars": {"type": "long"}
            |}}}""".stripMargin
        )
      )),

    // ── JSON request-body executor: the reference's actual wire format
    // (DASHBOARD_GUIDE.md Dev Tools bodies) compiled onto SearchDsl/Aggs.
    // docsMapping mirrors the TDD §4 index definition for `documents`.
    // The _count API: a query body evaluated for its hit count only — no
    // fetch phase, no sort; one filtered count(*) whose predicate pushes
    // into the scan.
    "search_dsl_json_count" -> ((s, dir) =>
      JsonDsl.countOnly(
        Tables.documents(s, dir),
        """{"query": {"bool": {
          |  "must": [{"match": {"text": "spark"}}],
          |  "filter": [{"range": {"n_chars": {"gte": 150}}}]
          |}}}""".stripMargin,
        docsMapping
      )),

    // _terms_enum over a text field: the enumerated terms are the INDEX
    // analyzer's token stream (what match queries actually hit), prefix
    // filtered before the distinct, bounded TakeOrdered — never a
    // vocabulary collect.
    "search_dsl_json_terms_enum" -> ((s, dir) =>
      JsonDsl.termsEnum(
        Tables.documents(s, dir),
        """{"field": "text", "string": "sp", "size": 10}""",
        docsMapping
      )),

    // _terms_enum over a keyword field, exercising the full request
    // surface: case-insensitive prefix (terms return AS STORED) and
    // search_after resuming strictly after a prior page's last term —
    // the paging contract that makes the endpoint usable on a large
    // vocabulary.
    "search_dsl_json_terms_enum_keyword" -> ((s, dir) =>
      JsonDsl.termsEnum(
        Tables.documents(s, dir),
        """{"field": "source", "string": "SRC1", "case_insensitive": true,
          | "search_after": "src12", "size": 5}""".stripMargin,
        docsMapping
      )),

    // wrapper + match_none from the wire format: the term query rides
    // base64-encoded inside a wrapper clause (the raw-query escape hatch),
    // OR-ed with a match_none that must contribute nothing. Oracle = the
    // decoded term query alone.
    "search_dsl_json_wrapper" -> ((s, dir) => {
      val encoded = java.util.Base64.getEncoder.encodeToString(
        """{"term": {"lang": {"value": "de"}}}""".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      )
      JsonDsl.parse(
        Tables.documents(s, dir),
        s"""{"query": {"bool": {"should": [
           |   {"wrapper": {"query": "$encoded"}},
           |   {"match_none": {}}
           | ], "minimum_should_match": 1}},
           | "sort": [{"doc_id": {"order": "asc"}}],
           | "_source": ["doc_id", "lang"]}""".stripMargin,
        docsMapping
      )
    }),

    "search_dsl_json_agg" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"query": {"range": {"value": {"gte": 100}}},
          | "aggs": {"by_month": {
          |   "date_histogram": {"field": "ts", "calendar_interval": "month"},
          |   "aggs": {"n_users": {"value_count": {"field": "user_id"}}}
          | }}}""".stripMargin
      )),

    // date_histogram with time_zone: daily buckets on AMERICA/NEW_YORK
    // wall clock — a 04:59 UTC event belongs to the PREVIOUS New-York
    // day. The field shifts to local before truncation and the emitted
    // key is the UTC instant of the local midnight (OpenSearch's
    // epoch-millis key); the DuckDB oracle replays the identical
    // AT TIME ZONE round-trip. DST-boundary behavior is pinned by the
    // TimeZoneSpec fixture (the testdata window sits inside EST).
    "search_dsl_json_dh_timezone" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"by_day": {
          |  "date_histogram": {"field": "ts", "calendar_interval": "day", "time_zone": "America/New_York"},
          |  "aggs": {"total": {"sum": {"field": "value"}}}
          |}}}""".stripMargin
      )),

    // range query with time_zone: the endpoints are wall-clock datetimes
    // in the given zone, converted ONCE to UTC instants (constant-folded
    // literals — the comparison stays a scan-pushable predicate).
    "search_dsl_json_range_timezone" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"query": {"range": {"ts": {"gte": "2024-01-10 00:00:00", "lt": "2024-01-20 00:00:00",
          |                            "time_zone": "America/New_York"}}},
          | "sort": ["event_id"], "_source": ["event_id", "ts"]}""".stripMargin
      )),

    // date_range aggregation with time_zone: bucket boundaries are local
    // wall-clock instants (same endpoint conversion as the range query).
    "search_dsl_json_date_range_timezone" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"spans": {"date_range": {"field": "ts", "time_zone": "America/New_York",
          |  "ranges": [{"key": "early", "to": "2024-01-10 00:00:00"},
          |             {"key": "mid", "from": "2024-01-10 00:00:00", "to": "2024-01-20 00:00:00"},
          |             {"key": "late", "from": "2024-01-20 00:00:00"}]}}}}""".stripMargin
      )),

    // terms with the `missing:` substitution parameter: docs WITHOUT the
    // field take the given value instead of bucketing nowhere — the
    // substituted bucket competes in the same doc_count-desc order.
    // Runs on the join-derived sparse field so the option actually
    // fires (top_priority IS NULL for most customers).
    "search_dsl_json_terms_missing_param" -> ((s, dir) => {
      val top = Tables
        .orders(s, dir)
        .filter(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderpriority")).as("top_priority"))
      val j = Tables.customer(s, dir).join(top, col("c_custkey") === col("o_custkey"), "left")
      JsonDsl.parse(
        j,
        """{"aggs": {"m": {"terms": {"field": "top_priority", "missing": "NONE", "size": 10}}}}"""
      )
    }),

    // runtime-field division over a REAL zero-bearing divisor
    // (l_discount = 0 on ~5% of lineitem): x/0 is NULL, never a crash —
    // ScriptExpr compiles `/` to try_divide because Spark's default ANSI
    // mode throws SparkArithmeticException on the plain operator (the
    // ScriptExprFuzzSpec finding, r15; one bad row must not kill the
    // query). DuckDB's double division already yields NULL at 0, so the
    // oracle is the plain quotient.
    "search_dsl_json_runtime_try_divide" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"runtime_mappings": {"ratio": {"type": "double", "script": "l_extendedprice / l_discount"}},
          | "query": {"range": {"l_orderkey": {"lte": 600}}},
          | "sort": ["l_orderkey", "l_linenumber"],
          | "_source": ["l_orderkey", "l_linenumber", "ratio"]}""".stripMargin
      )),

    // terms with min_doc_count: buckets under the floor drop BEFORE the
    // size truncation (a pruned bucket frees a slot) — a bucket-table
    // HAVING on the same one-pass hash aggregate. The frame is pinned to
    // the first 200 partkeys (the sf0.001 universe, identical at every
    // SF), so the 8 floor prunes SOME brands and keeps others at every
    // gate — the pruning semantics are value-gated everywhere instead of
    // degenerating with scale.
    "search_dsl_json_terms_min_doc_count" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.part(s, dir).filter(col("p_partkey") <= 200),
        """{"aggs": {"brands": {"terms": {"field": "p_brand", "size": 25, "min_doc_count": 8}}}}"""
      )),

    // date_histogram with offset: "+6h" shifts the day boundary to 6am
    // (truncate ts − 6h, emit bucket + 6h) — the shift-work dashboard
    // knob; composes with time_zone (offset applies on the wall clock,
    // AggsFuzzSpec's date-histogram arm fuzzes the composition).
    "search_dsl_json_dh_offset" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"shifted_days": {
          |  "date_histogram": {"field": "ts", "calendar_interval": "day", "offset": "+6h"},
          |  "aggs": {"total": {"sum": {"field": "value"}}}
          |}}}""".stripMargin
      )),

    // numeric histogram with offset: key = floor((x − o)/w)·w + o.
    "search_dsl_json_histogram_offset" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"price_bands": {"histogram": {"field": "l_extendedprice",
          |  "interval": 10000, "offset": 2500}}}}""".stripMargin
      )),

    // _msearch: four searches over two indices in ONE batch — same-index
    // searches fold into a single conditional-count scan (2 scans total,
    // not 4), one (ordinal, hits) row per search in request order.
    "search_dsl_json_msearch" -> ((s, dir) =>
      JsonDsl.msearchCounts(
        Map(
          "documents" -> Tables.documents(s, dir),
          "events" -> Tables.events(s, dir)
        ),
        """{}
          |{"query": {"term": {"lang": "en"}}}
          |{"index": "documents"}
          |{"query": {"bool": {"must": [{"range": {"n_chars": {"gte": 500}}}], "must_not": [{"term": {"source": "src3"}}]}}}
          |{"index": "events"}
          |{"query": {"range": {"value": {"gte": 250}}}}
          |{"index": "documents"}
          |{"query": {"prefix": {"source": {"value": "src1"}}}}""".stripMargin,
        defaultIndex = "documents",
        docsMapping
      )),

    // best_fields multi_match: analyzed on the text-mapped field, exact on
    // the keyword-mapped one — one OR predicate, one scan.
    "search_dsl_json_multi_match" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"multi_match": {"query": "spark", "fields": ["text", "source"]}},
          | "sort": ["doc_id"], "_source": ["doc_id", "source", "n_chars"]}""".stripMargin,
        docsMapping
      )),

    // The reference PUTs /{index}/_doc/{id}: `_id` is the indexed key, so
    // the frame exposes its key column under that name.
    "search_dsl_json_ids" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir).withColumnRenamed("doc_id", "_id"),
        """{"query": {"ids": {"values": [3, 11, 42]}}, "sort": ["_id"], "_source": ["_id", "lang", "n_chars"]}""",
        docsMapping
      )),

    "search_dsl_json_fuzzy" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"fuzzy": {"text": {"value": "sparc", "fuzziness": 1}}},
          | "sort": ["doc_id"], "_source": ["doc_id", "n_chars"]}""".stripMargin,
        docsMapping
      )),

    // Deep paging from the wire format: search_after compiles to a
    // lexicographic cursor predicate over the sort keys — a filter, not
    // an offset, so page 1000 scans no more than page 1.
    "search_dsl_json_search_after" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"sort": [{"o_orderdate": "desc"}, {"o_orderkey": "desc"}],
          | "search_after": ["2000-06-15 00:00:00", 900],
          | "size": 10,
          | "_source": ["o_orderkey", "o_orderdate", "o_totalprice"]}""".stripMargin
      )),

    // Highlighting from the wire format: a snippet column around the
    // first query-term occurrence, null where the term is not literally
    // present (OpenSearch omits those highlights).
    "search_dsl_json_highlight" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match": {"text": "spark"}},
          | "highlight": {"fields": {"text": {"fragment_size": 40}}},
          | "sort": ["doc_id"],
          | "_source": ["doc_id", "n_chars"]}""".stripMargin,
        docsMapping
      )),

    // significant_text: which WORDS are over-represented in the query's
    // foreground set vs the whole index — the frame reaches the
    // aggregation unfiltered (filtering first would lose the background).
    "search_dsl_json_significant_text" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"term": {"lang": "de"}},
          | "aggs": {"keywords": {"significant_text": {"field": "text", "size": 5}}}}""".stripMargin,
        docsMapping
      )),

    // terms buckets ordered by a metric sub-aggregation (Kibana's "order
    // by metric") — one bucketing pass, only the bucket-table sort changes.
    "search_dsl_json_terms_order" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"by_priority": {
          |   "terms": {"field": "o_orderpriority", "size": 5, "order": {"avg_price": "desc"}},
          |   "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}}}
          | }}}""".stripMargin
      )),

    // date_range agg: explicit calendar buckets over the event stream.
    "search_dsl_json_date_range" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"periods": {"date_range": {"field": "ts", "ranges": [
          |   {"key": "early",  "to": "2024-01-10 00:00:00"},
          |   {"key": "middle", "from": "2024-01-10 00:00:00", "to": "2024-01-20 00:00:00"},
          |   {"key": "late",   "from": "2024-01-20 00:00:00"}
          | ]}}}}""".stripMargin
      )),

    // top_metrics agg: the metric carried by the top-sorted row — one
    // max_by hash aggregate, no global sort, no window.
    "search_dsl_json_top_metrics" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"latest": {"top_metrics": {
          |   "metrics": {"field": "value"}, "sort": {"event_id": "desc"}
          | }}}}""".stripMargin
      )),

    // scroll emulation: page 2 (0-based) of the sorted stream — each page
    // an independent search_after cursor query, O(page) not O(offset).
    "search_dsl_json_scroll" -> ((s, dir) =>
      JsonDsl.scroll(
        Tables.orders(s, dir),
        """{"sort": [{"o_orderdate": "desc"}, {"o_orderkey": "desc"}],
          | "size": 10,
          | "_source": ["o_orderkey", "o_orderdate", "o_totalprice"]}""".stripMargin,
        page = 2
      )),

    // Sliced scroll: slice 1-of-4 partitions the scroll into independent
    // parallel streams (id-modulo on the primary sort key — OpenSearch's
    // _id-hash slicing with integer ids); page 1 proves the cursor walks
    // WITHIN the slice.
    "search_dsl_json_scroll_sliced" -> ((s, dir) =>
      JsonDsl.scroll(
        Tables.documents(s, dir),
        """{"sort": [{"doc_id": "asc"}],
          | "size": 20,
          | "slice": {"id": 1, "max": 4},
          | "_source": ["doc_id", "lang", "n_chars"]}""".stripMargin,
        page = 1
      )),

    // Query-time synonym expansion (the synonym_graph filter's query-time
    // form): 'join' expands to {join, merge} via the mapping's declared
    // dictionary — the match clause compiles the expanded term set in the
    // same single pass.
    "search_dsl_json_synonyms" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match": {"text": "join"}},
          | "sort": [{"doc_id": {"order": "asc"}}],
          | "_source": ["doc_id"]}""".stripMargin,
        docsMapping.withSynonyms(Map("join" -> Seq("merge")))
      )),

    // runtime_mappings: a computed field declared in the request body,
    // used by the range filter like a stored field — the script's
    // arithmetic compiles to a codegen'd expression (ScriptExpr), so the
    // runtime field costs one projection, not per-hit interpretation.
    "search_dsl_json_runtime_field" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"runtime_mappings": {"verbosity": {"type": "double",
          |                                    "script": "ln(doc.n_chars) * 2 + n_chars / 100"}},
          | "query": {"range": {"verbosity": {"gte": 14}}},
          | "sort": [{"doc_id": {"order": "asc"}}],
          | "_source": ["doc_id", "n_chars"]}""".stripMargin,
        docsMapping
      )),

    // regexp query: anchored whole-value match on a keyword field.
    "search_dsl_json_regexp" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"regexp": {"lang": {"value": "e[ns]"}}},
          | "sort": ["doc_id"], "_source": ["doc_id", "lang"]}""".stripMargin,
        docsMapping
      )),

    // filters agg: named buckets in ONE conditional-count pass, not one
    // scan per filter.
    "search_dsl_json_filters" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"event_buckets": {"filters": {"filters": {
          |   "errors":     {"term":  {"event_type": "error"}},
          |   "high_value": {"range": {"value": {"gte": 150}}}
          | }}}}}""".stripMargin
      )),

    "search_dsl_json_terms_metrics" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"by_priority": {
          |   "terms": {"field": "o_orderpriority", "size": 5},
          |   "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}},
          |            "total":     {"sum": {"field": "o_totalprice"}}}
          | }}}""".stripMargin
      )),

    "search_dsl_json_percentiles" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"query": {"range": {"l_shipdate": {"gte": "1996-01-01 00:00:00"}}},
          | "aggs": {"qty": {"percentiles": {"field": "l_quantity", "percents": [50, 90, 99]}}}}""".stripMargin
      )),

    // percentiles as a SUB-aggregation of terms (the under-bucket metric
    // set matches the top-level set, r12): ONE hash agg with an
    // array-percentile per group — never a second scan, a join, or k
    // independent percentile buffers.
    "search_dsl_json_terms_percentiles" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"by_priority": {
          |   "terms": {"field": "o_orderpriority", "size": 5},
          |   "aggs": {"price": {"percentiles": {"field": "o_totalprice", "percents": [50, 90]}}}
          | }}}""".stripMargin
      )),

    // Sketch twin (the blessed 100 TB path): "approx": true compiles the
    // grouped ladder to approx_percentile — per-group buffers bounded at
    // O(accuracy) and mergeable map-side, so a hot terms key holding 10⁹
    // rows cannot blow one aggregation buffer the way grouped exact
    // percentile() would. Same columns, same one-hash-agg plan;
    // per-bucket rank-band contract in ReplicaSpec.
    "search_dsl_json_terms_percentiles_approx" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"by_priority": {
          |   "terms": {"field": "o_orderpriority", "size": 5},
          |   "aggs": {"price": {"percentiles": {"field": "o_totalprice", "percents": [50, 90], "approx": true}}}
          | }}}""".stripMargin
      )),

    // grouped boxplot under terms: five numbers per bucket from one
    // hash agg (exact min/max selections + one array-percentile).
    "search_dsl_json_terms_boxplot" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"by_flag": {
          |   "terms": {"field": "l_returnflag", "size": 3},
          |   "aggs": {"price": {"boxplot": {"field": "l_extendedprice"}}}
          | }}}""".stripMargin
      )),

    // Sketch twin of the grouped boxplot: quartiles from one grouped GK
    // sketch, min/max stay exact selections (bounded by definition).
    "search_dsl_json_terms_boxplot_approx" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"by_flag": {
          |   "terms": {"field": "l_returnflag", "size": 3},
          |   "aggs": {"price": {"boxplot": {"field": "l_extendedprice", "approx": true}}}
          | }}}""".stripMargin
      )),

    // extended_stats under terms: per-bucket population moments derived
    // from exact decimal sums in a fixed double tree (the family-wide
    // OpenSearch convention), still one hash agg.
    "search_dsl_json_terms_extended_stats" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"by_priority": {
          |   "terms": {"field": "o_orderpriority", "size": 5},
          |   "aggs": {"price": {"extended_stats": {"field": "o_totalprice"}}}
          | }}}""".stripMargin
      )),

    // percentiles + cardinality under a date_histogram — the same
    // one-hash-agg compilation on the calendar spine.
    "search_dsl_json_dh_percentiles" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {"price": {"percentiles": {"field": "o_totalprice", "percents": [50, 90]}},
          |            "buyers": {"cardinality": {"field": "o_custkey"}}}
          | }}}""".stripMargin
      )),

    // Sketch twin on the calendar spine: a month of a 100 TB fact table
    // is billions of rows behind one bucket — grouped approx_percentile
    // keeps that bucket's buffer bounded where exact percentile() would
    // buffer the whole month, and the buyers cardinality rides HLL++
    // (an exact count_distinct here would reintroduce the
    // distinct-expand + second shuffle the sketch tier exists to avoid).
    "search_dsl_json_dh_percentiles_approx" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {"price": {"percentiles": {"field": "o_totalprice", "percents": [50, 90], "approx": true}},
          |            "buyers": {"cardinality": {"field": "o_custkey", "approx": true}}}
          | }}}""".stripMargin
      )),

    // Pipeline over a rich metric: moving_avg addresses ONE column of the
    // percentiles sibling through OpenSearch's dotted buckets_path
    // ("price.50") — the window still runs over the tiny bucket table,
    // after the one-hash-agg rich-metric compilation.
    "search_dsl_json_dh_percentiles_moving" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {"price": {"percentiles": {"field": "o_totalprice", "percents": [50]}},
          |            "trend": {"moving_avg": {"buckets_path": "price.50", "window": 3}}}
          | }}}""".stripMargin
      )),

    // The OpenSearch vector-search clause from the wire format, routed to
    // the brute-force ANN plan (one scan + TakeOrderedAndProject). The
    // vector is serialized at double precision so the literal in the body
    // is bit-identical to the stored float upcast.
    "search_dsl_json_knn" -> ((s, dir) => {
      val qv = queryVec(s, dir, 0).map(_.toDouble).mkString("[", ",", "]")
      JsonDsl.parse(
        Tables.embeddings(s, dir).withColumnRenamed("vec_id", "_id").select("_id", "embedding"),
        s"""{"query": {"knn": {"embedding": {"vector": $qv, "k": 10}}},
           | "sort": ["_id"], "_source": ["_id", "_score"]}""".stripMargin
      )
    }),

    // Filtered vector search from the wire format: knn.filter applies
    // BEFORE scoring (OpenSearch's knn.filter semantics — the top k come
    // from the filtered subset with exact recall, never a post-filter
    // that could return fewer than k). Same pre-filter plan as
    // ann_filtered_topk (JsonDslSpec asserts plan equality).
    "search_dsl_json_knn_filtered" -> ((s, dir) => {
      val qv = queryVec(s, dir, 0).map(_.toDouble).mkString("[", ",", "]")
      JsonDsl.parse(
        Tables.embeddings(s, dir).withColumnRenamed("vec_id", "_id").select("_id", "embedding", "label"),
        s"""{"query": {"knn": {"embedding": {"vector": $qv, "k": 10,
           |  "filter": {"bool": {"must_not": [{"ids": {"values": [0]}}],
           |             "filter": [{"term": {"label": 2}}]}}}}},
           | "sort": ["_id"], "_source": ["_id", "_score"]}""".stripMargin
      )
    }),

    // knn.min_score from the wire format: radius vector search (every
    // vector with cosine >= 0.3 of the query) — the wire twin of
    // ann_range_search, sharing its filter + bounded-sort shape.
    "search_dsl_json_knn_min_score" -> ((s, dir) => {
      val qv = queryVec(s, dir, 0).map(_.toDouble).mkString("[", ",", "]")
      JsonDsl.parse(
        Tables.embeddings(s, dir).withColumnRenamed("vec_id", "_id").select("_id", "embedding"),
        s"""{"query": {"knn": {"embedding": {"vector": $qv, "min_score": 0.3,
           |  "filter": {"bool": {"must_not": [{"ids": {"values": [0]}}]}}}}},
           | "sort": ["_id"], "_source": ["_id", "_score"]}""".stripMargin
      )
    }),

    // _rank_eval from the wire format: per-request knn ranking (one with
    // a knn.filter) judged against the body's explicit graded ratings,
    // scored with OpenSearch's normalized-dcg metric (NDCG@10). Each
    // request is the knn top-k + a broadcast ratings join + a 1-row
    // aggregate; the ideal DCG folds from the request's own ratings
    // driver-side (a pure function of the body, like the query vector).
    "search_dsl_json_rank_eval" -> ((s, dir) => {
      val qv = queryVec(s, dir, 0).map(_.toDouble).mkString("[", ",", "]")
      JsonDsl.rankEval(
        Tables.embeddings(s, dir).withColumnRenamed("vec_id", "_id").select("_id", "embedding", "label"),
        "_id",
        s"""{"requests": [
           |  {"id": "q_all", "request": {"query": {"knn": {"embedding": {"vector": $qv, "k": 10}}}},
           |   "ratings": [{"_id": 1, "rating": 2}, {"_id": 2, "rating": 1}, {"_id": 3, "rating": 0},
           |               {"_id": 5, "rating": 3}, {"_id": 8, "rating": 1}, {"_id": 13, "rating": 2}]},
           |  {"id": "q_label2", "request": {"query": {"knn": {"embedding": {"vector": $qv, "k": 10,
           |      "filter": {"term": {"label": 2}}}}}},
           |   "ratings": [{"_id": 1, "rating": 1}, {"_id": 4, "rating": 2}, {"_id": 9, "rating": 1},
           |               {"_id": 16, "rating": 2}, {"_id": 25, "rating": 1}]}],
           | "metric": {"dcg": {"k": 10, "normalize": true}}}""".stripMargin
      )
    }),

    // top_hits sub-aggregation from the wire format, executed by the
    // bounded-heap TopKPerKey operator.
    "search_dsl_json_top_hits" -> ((s, dir) =>
      JsonDsl
        .parse(
          Tables.orders(s, dir).select("o_orderpriority", "o_orderkey", "o_totalprice"),
          """{"aggs": {"by_priority": {"terms": {"field": "o_orderpriority"},
            |  "aggs": {"top": {"top_hits": {"size": 3,
            |    "sort": [{"o_totalprice": "desc"}, {"o_orderkey": "asc"}]}}}}}}""".stripMargin
        )
        .orderBy("o_orderpriority", "rank")),

    // significant_terms from the wire format: the body's query is the
    // foreground, the index the background — one unfiltered pass.
    "search_dsl_json_significant" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"query": {"range": {"value": {"gt": 150}}},
          | "aggs": {"sig": {"significant_terms": {"field": "event_type"}}}}""".stripMargin
      )),

    "search_dsl_json_rare_terms" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"aggs": {"rare_langs": {"rare_terms": {"field": "lang", "max_doc_count": 100}}}}"""
      )),

    // multi_terms over a join-derived SPARSE key: docs missing ANY
    // source value bucket nowhere (the composite-source rule applied to
    // multi_terms — pins the AggsFuzzSpec terms-family null fix at the
    // oracle gate on the search_terms_agg_sparse derivation).
    "search_dsl_json_multi_terms_sparse" -> ((s, dir) => {
      val top = Tables
        .orders(s, dir)
        .filter(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderpriority")).as("top_priority"))
      val j = Tables.customer(s, dir).join(top, col("c_custkey") === col("o_custkey"), "left")
      JsonDsl.parse(
        j,
        """{"aggs": {"m": {"multi_terms": {
          |  "terms": [{"field": "top_priority"}, {"field": "c_mktsegment"}], "size": 12}}}}""".stripMargin
      )
    }),

    // significant_terms over a join-derived SPARSE term field: NULL
    // terms bucket nowhere but STAY IN subset/superset totals —
    // OpenSearch's subset_size/superset_size count the fg/bg DOC SETS,
    // not the term-bearing docs (the r14 advice finding: summing the
    // null-filtered buckets would dilute every score on sparse data).
    // This entry pins the rule at the oracle gate on data that actually
    // has NULL terms.
    "search_dsl_json_significant_terms_sparse" -> ((s, dir) => {
      val top = Tables
        .orders(s, dir)
        .filter(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderpriority")).as("top_priority"))
      val j = Tables.customer(s, dir).join(top, col("c_custkey") === col("o_custkey"), "left")
      JsonDsl.parse(
        j,
        """{"query": {"term": {"c_mktsegment": "BUILDING"}},
          | "aggs": {"sig": {"significant_terms": {"field": "top_priority"}}}}""".stripMargin
      )
    }),

    "search_dsl_json_composite" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"page": {"composite": {"size": 5,
          |  "sources": [{"k0": {"terms": {"field": "o_orderpriority"}}},
          |              {"k1": {"terms": {"field": "o_orderstatus"}}}],
          |  "after": {"k0": "2-HIGH", "k1": "F"}}}}}""".stripMargin
      )),

    // composite over a join-derived SPARSE source: docs with a missing
    // source value bucket nowhere (OpenSearch missing_bucket=false
    // default). Pins the CompositeFuzzSpec null-key fix at the oracle
    // gate — a NULL bucket here wouldn't just be a wrong row, it would
    // poison the after-cursor of every subsequent page (k > NULL is
    // never true). Same sparse-field derivation as search_terms_agg_sparse.
    "search_dsl_json_composite_sparse" -> ((s, dir) => {
      val top = Tables
        .orders(s, dir)
        .filter(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderpriority")).as("top_priority"))
      val j = Tables.customer(s, dir).join(top, col("c_custkey") === col("o_custkey"), "left")
      JsonDsl.parse(
        j,
        """{"aggs": {"page": {"composite": {"size": 8,
          |  "sources": [{"k0": {"terms": {"field": "top_priority"}}},
          |              {"k1": {"terms": {"field": "c_mktsegment"}}}],
          |  "after": {"k0": "1-URGENT", "k1": "BUILDING"}}}}}""".stripMargin
      )
    }),

    // span_near from the wire format: 'big' before 'table' within 3
    // token positions — same token-position HOF plan as the structured
    // search_span_near (shared oracle shape).
    "search_dsl_json_span_near" -> ((s, dir) =>
      JsonDsl
        .parse(
          Tables.documents(s, dir).select("doc_id", "text"),
          """{"query": {"span_near": {"clauses": [
            |   {"span_term": {"text": "big"}}, {"span_term": {"text": "table"}}],
            |   "slop": 3, "in_order": true}},
            | "sort": ["doc_id"], "_source": ["doc_id"]}""".stripMargin
        )),

    // collapse from the wire format: one top order per priority under
    // the body's sort, executed by the bounded-heap TopKPerKey operator
    // (JsonDslSpec asserts the operator appears in the plan).
    "search_dsl_json_collapse" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir).select("o_orderpriority", "o_orderkey", "o_totalprice"),
        """{"collapse": {"field": "o_orderpriority"},
          | "sort": [{"o_totalprice": "desc"}, {"o_orderkey": "asc"}],
          | "_source": ["o_orderpriority", "o_orderkey", "o_totalprice"]}""".stripMargin
      )),

    // Pipeline aggregations from the wire format (cumulative_sum /
    // derivative / moving_avg with buckets_path, the Kibana time-series
    // body): windows run over the month-bucket table, never the facts.
    "search_dsl_json_pipeline" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir).select("o_orderdate", "o_totalprice"),
        """{"aggs": {"by_month": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |  "aggs": {"cum_docs": {"cumulative_sum": {"buckets_path": "_count"}},
          |           "deriv_docs": {"derivative": {"buckets_path": "_count"}},
          |           "mov_docs": {"moving_avg": {"buckets_path": "_count", "window": 3}}}}}}""".stripMargin
      )),

    // Request-level search_pipeline with a filter_query processor: the
    // pipeline's query ANDs onto the body's own — one fused predicate on
    // the scan (Catalyst pushes both down together), zero extra passes.
    "search_dsl_json_pipeline_filter_query" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir).drop("text"),
        """{"search_pipeline": {"request_processors": [
          |    {"filter_query": {"query": {"term": {"lang": "en"}}}}]},
          | "query": {"range": {"n_chars": {"gte": 500}}},
          | "sort": [{"doc_id": "asc"}], "size": 20,
          | "_source": ["doc_id", "lang", "source", "n_chars"]}""".stripMargin
      )),

    // The hybrid query from the wire format: the match leg BM25-scores
    // against the Memo'd posting artifact, the knn leg carries the
    // must_not self-exclusion filter, RRF fuses in rank space — same
    // answer as the structured search_hybrid_rrf (shared oracle shape).
    "search_dsl_json_hybrid" -> ((s, dir) => {
      val qv = queryVec(s, dir, 0).map(_.toDouble).mkString("[", ",", "]")
      JsonDsl.hybrid(
        cachedBm25(s, dir),
        Tables.embeddings(s, dir).select(col("vec_id").as("_id"), col("embedding")),
        "_id",
        s"""{"query": {"hybrid": {"queries": [
           |  {"match": {"text": "spark query"}},
           |  {"knn": {"embedding": {"vector": $qv, "k": 10,
           |     "filter": {"bool": {"must_not": [{"ids": {"values": [0]}}]}}}}}]}},
           | "size": 10}""".stripMargin
      )
    }),

    // Score-space hybrid via a request-level search_pipeline with the
    // normalization-processor (min_max per leg over its top-k, weighted
    // arithmetic mean, weights bound to declared sub-query order) — the
    // default OpenSearch hybrid configuration; the rank-space RRF twin
    // is search_dsl_json_hybrid.
    "search_dsl_json_hybrid_normalized" -> ((s, dir) => {
      val qv = queryVec(s, dir, 0).map(_.toDouble).mkString("[", ",", "]")
      JsonDsl.hybridNormalized(
        cachedBm25(s, dir),
        Tables.embeddings(s, dir).select(col("vec_id").as("_id"), col("embedding")),
        "_id",
        s"""{"query": {"hybrid": {"queries": [
           |  {"match": {"text": "spark query"}},
           |  {"knn": {"embedding": {"vector": $qv, "k": 10,
           |     "filter": {"bool": {"must_not": [{"ids": {"values": [0]}}]}}}}}]}},
           | "size": 10,
           | "search_pipeline": {"phase_results_processors": [
           |   {"normalization-processor": {
           |      "normalization": {"technique": "min_max"},
           |      "combination": {"technique": "arithmetic_mean",
           |                      "parameters": {"weights": [0.3, 0.7]}}}}]}}""".stripMargin
      )
    }),

    // neural_sparse from the wire format: query_text analyzed with the
    // standard chain, scored as a sparse dot product against the Memo'd
    // posting artifact (deterministic statistical encoder — see
    // Bm25.neuralSparseScored); same answer as search_neural_sparse.
    "search_dsl_json_neural_sparse" -> ((s, dir) =>
      JsonDsl.neuralSparse(
        cachedBm25(s, dir),
        """{"query": {"neural_sparse": {"text": {"query_text": "spark query"}}}, "size": 10}"""
      )),

    // Point-in-time search over the CDC changelog: the pit id is the
    // snapshot timestamp, the frozen index is the latest-state reduction
    // at or before it, and the rest of the body runs as a plain search
    // over the materialized state — exact PIT semantics on append-only
    // data (time travel the upsert-only reference index cannot answer).
    "search_dsl_json_pit" -> ((s, dir) =>
      JsonDsl.pitSearch(
        Tables.events(s, dir),
        "user_id",
        Seq("ts", "event_id"),
        "ts",
        Seq("event_id", "ts", "event_type", "value"),
        """{"pit": {"id": "2024-01-15 00:00:00"},
          | "query": {"term": {"event_type": "purchase"}},
          | "sort": [{"user_id": "asc"}], "size": 40,
          | "_source": ["user_id", "event_id", "ts", "event_type", "value"]}""".stripMargin
      )),

    // The canonical PIT usage: deep paging with search_after against a
    // FROZEN snapshot — the cursor predicate composes with the pit
    // reduction (page N of a consistent index, however many writes land
    // while paging; the exact problem PIT exists to solve).
    "search_dsl_json_pit_search_after" -> ((s, dir) =>
      JsonDsl.pitSearch(
        Tables.events(s, dir),
        "user_id",
        Seq("ts", "event_id"),
        "ts",
        Seq("event_id", "ts", "event_type", "value"),
        """{"pit": {"id": "2024-01-20 00:00:00"},
          | "query": {"term": {"event_type": "purchase"}},
          | "sort": [{"user_id": "asc"}], "search_after": [2], "size": 25,
          | "_source": ["user_id", "event_id", "ts", "event_type", "value"]}""".stripMargin
      )),

    // _mget: batch point lookup in request order with found flags —
    // missing ids come back found=false (an ids QUERY would drop them);
    // the request ids prune the corpus scan, the request frame joins
    // only the survivors.
    "search_dsl_json_mget" -> ((s, dir) =>
      JsonDsl.mget(
        Tables.documents(s, dir),
        "doc_id",
        """{"docs": [{"_id": 7}, {"_id": 3}, {"_id": 999999999}, {"_id": 12}],
          | "_source": ["lang", "source", "n_chars"]}""".stripMargin
      )),

    // _bulk: the per-operation result ledger with OpenSearch's
    // result/error vocabulary and the sequential within-bulk contract
    // (delete-then-create creates; create on existing conflicts; bare
    // update cannot create) — presence folds in closed form, the corpus
    // pays one IN-pruned membership scan.
    "search_dsl_json_bulk" -> ((s, dir) =>
      JsonDsl.bulkLedger(
        Tables.documents(s, dir),
        "doc_id",
        """{"index": {"_id": 3}}
          |{"text": "replacement body"}
          |{"create": {"_id": 3}}
          |{"text": "conflicting create"}
          |{"delete": {"_id": 3}}
          |{"create": {"_id": 3}}
          |{"text": "recreated after delete"}
          |{"update": {"_id": 999999999}}
          |{"doc": {"text": "bare update cannot create"}}
          |{"index": {"_id": 999999999}}
          |{"text": "now indexed"}
          |{"update": {"_id": 999999999}}
          |{"doc": {"text": "and now updatable"}}
          |{"delete": {"_id": 888888888}}
          |{"update": {"_id": 7}}
          |{"doc": {"text": "existing doc updates fine"}}
          |{"delete": {"_id": 7}}""".stripMargin
      )),

    // _update_by_query: script applied to every query match; the emitted
    // frame is the post-update state of the matched docs (count() = the
    // wire `updated`). Predicate pushes into the scan, script is a
    // codegen'd projection — map-only at any corpus size.
    "search_dsl_json_update_by_query" -> ((s, dir) =>
      JsonDsl
        .updateByQuery(
          Tables.documents(s, dir).drop("text"),
          """{"query": {"bool": {"must": [{"term": {"lang": "de"}},
            |                             {"range": {"n_chars": {"lt": 400}}}]}},
            | "script": {"source": "ctx._source.n_chars = ctx._source.n_chars * 2 + 1",
            |            "lang": "painless"}}""".stripMargin
        )
        .orderBy("doc_id")),

    // _delete_by_query: the result ledger (deleted/remaining/total) from
    // one conditional-count scan — `deleted` is the wire response field.
    "search_dsl_json_delete_by_query" -> ((s, dir) =>
      JsonDsl.deleteByQuery(
        Tables.documents(s, dir),
        """{"query": {"range": {"n_chars": {"gte": 1000}}}}"""
      )),

    // _reindex: source query + _source projection + per-doc script into
    // the dest index — filter and column prune reach the source scan, so
    // the copy pays only for surviving bytes.
    "search_dsl_json_reindex" -> ((s, dir) =>
      JsonDsl
        .reindex(
          Tables.documents(s, dir),
          "doc_id",
          """{"source": {"index": "documents",
            |            "query": {"term": {"lang": "fr"}},
            |            "_source": ["lang", "source", "n_chars"]},
            | "dest": {"index": "documents_fr"},
            | "script": {"source": "ctx._source.n_kilochars = ctx._source.n_chars / 1000"}}""".stripMargin
        )
        .orderBy("doc_id")),

    // bucket_selector from the wire format: buckets_path maps the script
    // variable onto the sibling avg metric; same bucket-table HAVING plan
    // as the structured twin (JsonDslSpec asserts plan equality).
    "search_dsl_json_bucket_selector" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir).select("o_orderdate", "o_totalprice"),
        """{"aggs": {"monthly": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |  "aggs": {"max_price": {"max": {"field": "o_totalprice"}},
          |           "rich_months": {"bucket_selector": {"buckets_path": {"top": "max_price"},
          |                                               "script": "params.top > 450000"}}}}}}""".stripMargin
      )),

    // nested from the wire format: same clause through the JSON compiler
    // (path-prefixed fields resolving against the lambda element).
    // Queries SCORE against the memoized artifact (cachedNested — the
    // Bm25 build/score split); the honest build cost is
    // search_nested_build, CDC maintenance search_nested_incremental.
    "search_dsl_json_nested" -> ((s, dir) => {
      val nested = cachedNested(s, dir)
      JsonDsl.parse(
        nested,
        """{"query": {"nested": {"path": "items",
          |   "query": {"bool": {"must": [
          |     {"term": {"items.l_returnflag": {"value": "R"}}},
          |     {"range": {"items.l_quantity": {"gte": 48}}}]}}}},
          | "sort": [{"o_orderkey": "asc"}],
          | "_source": ["o_orderkey", "o_orderstatus", "o_totalprice"]}""".stripMargin
      )
    }),

    // inner_hits from the wire format: one row per MATCHING element of
    // each matching parent — filter HOF then explode, multiplying only
    // matched rows by their matched-element count.
    "search_dsl_json_nested_inner_hits" -> ((s, dir) => {
      val nested = cachedNested(s, dir)
      JsonDsl.innerHits(
        nested,
        """{"query": {"nested": {"path": "items", "inner_hits": {},
          |   "query": {"bool": {"must": [
          |     {"term": {"items.l_returnflag": {"value": "R"}}},
          |     {"range": {"items.l_quantity": {"gte": 48}}}]}}}},
          | "sort": [{"o_orderkey": "asc"}, {"l_linenumber": "asc"},
          |          {"l_quantity": "asc"}, {"l_extendedprice": "asc"}],
          | "_source": ["o_orderkey"]}""".stripMargin
      )
    }),

    // function_score from the wire format (field_value_factor body):
    // the inner match filters, boost × ln1p(factor × n_chars) ranks —
    // the same filter-then-project-then-top-k plan as the structured
    // twin (JsonDslSpec asserts the shape), emitted as _score per the
    // wire convention.
    "search_dsl_json_function_score" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir).select("doc_id", "text", "n_chars"),
        """{"query": {"function_score": {
          |   "query": {"match": {"text": "spark"}},
          |   "field_value_factor": {"field": "n_chars", "modifier": "ln1p", "factor": 1.0},
          |   "boost": 1.5}},
          | "sort": [{"doc_id": "asc"}], "size": 20,
          | "_source": ["doc_id", "n_chars", "_score"]}""".stripMargin,
        docsMapping
      )),

    // constant_score from the wire format: same filter-plus-fixed-boost
    // plan as the structured twin (JsonDslSpec asserts plan equality).
    "search_dsl_json_constant_score" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir).select("doc_id", "text"),
        """{"query": {"constant_score": {"filter": {"match": {"text": "vector"}}, "boost": 1.2}},
          | "sort": ["doc_id"], "_source": ["doc_id", "_score"]}""".stripMargin,
        docsMapping
      )),

    // dis_max from the wire format: both constant_score clauses evaluate
    // in ONE pass over each row, fused as best + tie_breaker × rest —
    // same single-scan shape as the structured search_dis_max.
    "search_dsl_json_dis_max" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir).select("doc_id", "text"),
        """{"query": {"dis_max": {"tie_breaker": 0.3, "queries": [
          |   {"constant_score": {"filter": {"match": {"text": "spark"}}, "boost": 2.0}},
          |   {"constant_score": {"filter": {"match": {"text": "query"}}, "boost": 1.5}}]}},
          | "sort": ["doc_id"], "_source": ["doc_id", "_score"]}""".stripMargin,
        docsMapping
      )),

    // JSON-body twins of the new agg/query types — same parameters as the
    // structured entries, so they share the oracle SQL and (plan-asserted
    // in JsonDslSpec) the Catalyst plan.
    "search_dsl_json_adjacency" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"aggs": {"interactions": {"adjacency_matrix": {"filters": {
          |  "en":   {"term": {"lang": "en"}},
          |  "long": {"range": {"n_chars": {"gt": 300}}},
          |  "src1": {"term": {"source": "src1"}}
          |}}}}}""".stripMargin,
        docsMapping
      )),

    "search_dsl_json_scripted_metric" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"revenue": {"scripted_metric": {
          |  "map_script": "l_extendedprice * (1 - l_discount)",
          |  "reduce_script": "sum"}}}}""".stripMargin
      )),

    // JSON-body more_like_this (free-text `like` form): analyzed like-
    // terms as an msm-gated match.
    "search_dsl_json_mlt" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"more_like_this": {"fields": ["text"], "like": "big data table scan",
          |  "minimum_should_match": 3}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}""".stripMargin,
        docsMapping
      )),

    // JSON-body geo aggs over the struct geo field; the grid twin shares
    // search_geotile_grid's oracle, the centroid is the ungrouped form.
    "search_dsl_json_geotile" -> ((s, dir) =>
      JsonDsl.parse(
        geoEvents(s, dir).select(struct(col("lat"), col("lon")).as("location")),
        """{"aggs": {"grid": {"geotile_grid": {"field": "location", "precision": 15, "size": 20}}}}"""
      )),

    // intervals from the wire format: all_of(ordered, max_gaps=3) with an
    // any_of alternative — oracle identical to search_intervals_any.
    "search_dsl_json_intervals" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"intervals": {"text": {"all_of": {
          |   "ordered": true, "max_gaps": 3,
          |   "intervals": [
          |     {"any_of": {"intervals": [{"match": {"query": "big"}}, {"match": {"query": "fast"}}]}},
          |     {"match": {"query": "table"}}
          |   ]}}}},
          | "sort": [{"doc_id": {"order": "asc"}}],
          | "_source": ["doc_id"]}""".stripMargin,
        docsMapping
      )),

    // match_phrase_prefix from the wire format: 'big dat…' — oracle
    // identical to the structured entry.
    "search_dsl_json_match_phrase_prefix" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match_phrase_prefix": {"text": "big dat"}},
          | "sort": [{"doc_id": {"order": "asc"}}],
          | "_source": ["doc_id"]}""".stripMargin,
        docsMapping
      )),

    // geo_polygon from the wire format: the points list rides the body,
    // same pnpoly predicate over a struct geo field — shared oracle.
    "search_dsl_json_geo_polygon" -> ((s, dir) =>
      JsonDsl.parse(
        geoEvents(s, dir).select(col("event_type"), struct(col("lat"), col("lon")).as("location")),
        """{"query": {"geo_polygon": {"location": {"points": [
          |   {"lat": 0.0, "lon": -90.0}, {"lat": 45.0, "lon": 0.0},
          |   {"lat": 0.0, "lon": 90.0}, {"lat": -45.0, "lon": 0.0}
          | ]}}},
          | "aggs": {"types": {"terms": {"field": "event_type", "size": 100}}}}""".stripMargin
      ).orderBy("key")),

    // geohash_grid from the wire format: same precision-5 integer
    // encoder (Aggs.geohash5), struct field carrying the hundredth-
    // degree grid — oracle shared with search_geohash_grid's shape.
    "search_dsl_json_geohash" -> ((s, dir) =>
      JsonDsl.parse(
        Tables
          .events(s, dir)
          .select(
            struct(
              pmod(col("user_id") * 1237, lit(18000)).as("la100"),
              pmod(col("event_id") * 91, lit(36000)).as("lo100")
            ).as("position")
          ),
        """{"aggs": {"cells": {"geohash_grid": {"field": "position", "precision": 5, "size": 20}}}}"""
      )),

    // Sibling pipeline from the wire format: a date_histogram with a sum
    // sub-agg feeding a stats_bucket sibling via buckets_path — the
    // two-top-level-agg request shape OpenSearch uses for bucket stats.
    "search_dsl_json_stats_bucket" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {
          |  "monthly": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |              "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}},
          |  "rev_stats": {"stats_bucket": {"buckets_path": "monthly>revenue"}}
          |}}""".stripMargin
      )),

    // span_or from the wire format: span_term OR span_near, compiled to
    // one per-row predicate pass — oracle identical to search_span_or.
    "search_dsl_json_span_or" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"span_or": {"clauses": [
          |   {"span_term": {"text": {"value": "dup"}}},
          |   {"span_near": {"clauses": [
          |      {"span_term": {"text": {"value": "big"}}},
          |      {"span_term": {"text": {"value": "data"}}}
          |    ], "slop": 2, "in_order": true}}
          | ]}},
          | "sort": [{"doc_id": {"order": "asc"}}],
          | "_source": ["doc_id"]}""".stripMargin,
        docsMapping
      )),

    "search_dsl_json_geo_centroid" -> ((s, dir) =>
      JsonDsl.parse(
        geoEvents(s, dir).select(struct(col("lat"), col("lon")).as("location")),
        """{"aggs": {"c": {"geo_centroid": {"field": "location"}}}}"""
      )),

    // JSON-body geo_distance over a struct geo field — same predicate as
    // the flat-column search_geo_distance (ids-only projection).
    "search_dsl_json_geo" -> ((s, dir) =>
      JsonDsl.parse(
        geoEvents(s, dir).select(col("event_id"), struct(col("lat"), col("lon")).as("location")),
        """{"query": {"geo_distance": {"distance": "1000km", "location": {"lat": 10.0, "lon": 20.0}}},
          | "sort": [{"event_id": "asc"}], "_source": ["event_id"]}""".stripMargin
      )),

    "search_dsl_json_t_test" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"vals": {"t_test": {
          |  "a": {"field": "value", "filter": {"term": {"event_type": "purchase"}}},
          |  "b": {"field": "value", "filter": {"term": {"event_type": "view"}}},
          |  "type": "heteroscedastic"}}}}""".stripMargin
      )),

    "search_dsl_json_boxplot" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"price_box": {"boxplot": {"field": "l_extendedprice"}}}}"""
      )),

    "search_dsl_json_terms_set" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"terms_set": {"text": {
          |   "terms": ["spark", "query", "merge"], "minimum_should_match": 2}}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id", "lang"]}""".stripMargin,
        docsMapping
      )),

    // percolate from the JSON wire format: the registry rows are
    // OpenSearch request bodies; JsonDsl compiles each ONCE into the
    // same predicate the forward search would apply, and a single doc
    // scan emits every (doc, stored-query) match — the same one-pass
    // plan shape as the structured search_percolate above.
    "search_dsl_json_percolate" -> ((s, dir) => {
      val registry = Seq(
        1L -> """{"query": {"term": {"o_orderstatus": "O"}}}""",
        2L -> """{"query": {"range": {"o_totalprice": {"gt": 200000}}}}""",
        3L -> """{"query": {"prefix": {"o_orderpriority": "1"}}}""",
        4L -> """{"query": {"bool": {"must": [{"term": {"o_orderstatus": "F"}},
                 {"range": {"o_totalprice": {"lte": 100000}}}]}}}"""
      )
      JsonDsl
        .percolate(
          Tables
            .orders(s, dir)
            .filter(col("o_orderkey") < 100)
            .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"),
          registry
        )
        .select(col("o_orderkey"), col("query_id"))
        .orderBy("o_orderkey", "query_id")
    }),

    // percolate from the JSON wire format at the INDEX tier (r14): the
    // registry rows are the same OpenSearch bodies, but instead of
    // compiling each into the plan (~10³ ceiling) they compile into
    // rich queries-as-data rows (Percolate.compileJsonRegistry) and run
    // through the field-qualified posting join — the bridge that takes
    // a JSON rule registry to 10⁵–10⁶ scale. PercolateSpec proves
    // compiled-registry ≡ hand-built-registry results and fail-fast on
    // non-indexable bodies.
    "search_dsl_json_percolate_indexed" -> ((s, dir) => {
      val registry = Seq(
        1L -> """{"query": {"match_phrase": {"text": "fast sort"}}}""",
        2L -> """{"query": {"bool": {"must": [{"match": {"text": "dup vector"}},
                 {"match": {"text": {"query": "merge batch", "operator": "and"}}}]}}}""",
        3L -> """{"query": {"bool": {"must": [{"match": {"text": "spark"}},
                 {"match": {"source": "src3 src5"}}]}}}""",
        4L -> """{"query": {"bool": {"must": [{"match_phrase": {"text": "table value"}}],
                 "filter": [{"range": {"n_chars": {"gt": 200}}}]}}}""",
        5L -> """{"query": {"bool": {"must": [{"match": {"text": {"query": "scan filter", "operator": "and"}}},
                 {"match_phrase": {"text": "the line"}}]}}}""",
        6L -> """{"query": {"match": {"source": "src1"}}}""",
        7L -> """{"query": {"match_phrase": {"text": "a row fast"}}}""",
        8L -> """{"query": {"bool": {"must": [{"match": {"text": {"query": "window group", "operator": "and"}}},
                 {"match": {"source": "src2 src4 src6"}}],
                 "filter": [{"range": {"n_chars": {"lte": 400}}}]}}}"""
      )
      val specs = graft.search.Percolate.compileJsonRegistry(s, registry, Seq("text", "source"), "n_chars")
      graft.search.Percolate
        .percolateRich(
          graft.search.Percolate.buildIndexRich(specs),
          Tables.documents(s, dir),
          "doc_id", Seq("text", "source"), "n_chars"
        )
        .orderBy("doc_id", "query_id")
    }),

    // function_score gauss decay from the wire format — same scorer as
    // the structured search_decay_gauss (JsonDslSpec asserts the plan),
    // emitted as _score per the wire convention.
    "search_dsl_json_decay" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        """{"query": {"function_score": {
          |   "query": {"range": {"o_orderkey": {"lt": 500}}},
          |   "gauss": {"o_totalprice": {
          |     "origin": 150000.0, "scale": 50000.0, "offset": 10000.0, "decay": 0.5}}}},
          | "sort": [{"o_orderkey": "asc"}], "size": 20,
          | "_source": ["o_orderkey", "_score"]}""".stripMargin
      )),

    // exists from the wire format, in must_not position: customers whose
    // enriched order-key field is missing (the sparse left-join field
    // search_exists buckets) — the executor's exists → isNotNull plus
    // the bool must_not NULL-keeping coalesce.
    "search_dsl_json_exists" -> ((s, dir) => {
      val buyers =
        Tables.orders(s, dir).filter(col("o_totalprice") > 450000).select(col("o_custkey")).distinct()
      val enriched = Tables
        .customer(s, dir)
        .join(buyers, col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "c_mktsegment", "o_custkey")
      JsonDsl.parse(
        enriched,
        """{"query": {"bool": {"must_not": [{"exists": {"field": "o_custkey"}}]}},
          | "sort": [{"c_custkey": "asc"}], "size": 50,
          | "_source": ["c_custkey", "c_mktsegment"]}""".stripMargin
      )
    }),

    // simple_query_string from the wire format — same parser, reached
    // through the JSON clause compiler (fields list + default_operator).
    "search_dsl_json_simple_query_string" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"simple_query_string": {
          |   "query": "spark + (merge | \"hash join\") -slow",
          |   "fields": ["text"], "default_operator": "and"}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id", "lang"]}""".stripMargin,
        docsMapping
      )),

    // ── Wire-format completeness sweep (r8): JSON twins for the last
    //    structured-only query-DSL families ─────────────────────────────
    // boosting from the wire format: positive kept, negative demoted.
    "search_dsl_json_boosting" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"boosting": {
          |   "positive": {"match": {"text": "spark"}},
          |   "negative": {"match": {"text": "slow"}},
          |   "negative_boost": 0.5}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id", "_score"]}""".stripMargin,
        docsMapping
      )),

    // rank_feature as a bool should scoring clause (saturation form).
    "search_dsl_json_rank_feature" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"bool": {
          |   "must": [{"match": {"text": "spark"}}],
          |   "should": [{"rank_feature": {"field": "n_chars",
          |                "saturation": {"pivot": 250}, "boost": 2.0}}]}},
          | "sort": [{"doc_id": "asc"}], "size": 20,
          | "_source": ["doc_id", "n_chars", "_score"]}""".stripMargin,
        docsMapping
      )),

    // distance_feature as a bool should scoring clause (ISO origin +
    // duration pivot over the event timestamp).
    "search_dsl_json_distance_feature" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"query": {"bool": {
          |   "must": [{"term": {"event_type": {"value": "purchase"}}}],
          |   "should": [{"distance_feature": {"field": "ts",
          |                "origin": "2024-02-01T00:00:00Z", "pivot": "7d", "boost": 2.0}}]}},
          | "sort": [{"event_id": "asc"}], "size": 10,
          | "_source": ["event_id", "_score"]}""".stripMargin
      )),

    // rescore from the wire format: windowed second phase over the
    // first-phase sort.
    "search_dsl_json_rescore" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match_all": {}},
          | "sort": [{"n_chars": "desc"}, {"doc_id": "asc"}],
          | "rescore": {"window_size": 50,
          |   "query": {"rescore_query": {"match": {"text": "spark query table"}}}},
          | "size": 10, "_source": ["doc_id", "n_chars", "_score"]}""".stripMargin,
        docsMapping
      )),

    // has_child from the wire format: the child side arrives via
    // `relations`, the join keys via the clause's `join` object (the
    // wire stand-in for OpenSearch's join-field mapping).
    "search_dsl_json_has_child" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"query": {"has_child": {"type": "lineitem",
          |   "join": {"parent": "o_orderkey", "child": "l_orderkey"},
          |   "query": {"bool": {"must": [
          |     {"term": {"l_returnflag": {"value": "R"}}},
          |     {"range": {"l_quantity": {"gte": 45}}}]}}}},
          | "sort": [{"o_orderkey": "asc"}], "size": 100,
          | "_source": ["o_orderkey", "o_orderstatus", "o_totalprice"]}""".stripMargin,
        relations = Map("lineitem" -> Tables.lineitem(s, dir))
      )),

    "search_dsl_json_has_parent" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"query": {"has_parent": {"parent_type": "orders",
          |   "join": {"parent": "o_orderkey", "child": "l_orderkey"},
          |   "query": {"bool": {"must": [
          |     {"term": {"o_orderpriority": {"value": "1-URGENT"}}},
          |     {"range": {"o_totalprice": {"gt": 400000}}}]}}}},
          | "sort": [{"l_orderkey": "asc"}, {"l_linenumber": "asc"}, {"l_quantity": "asc"}],
          | "_source": ["l_orderkey", "l_linenumber", "l_quantity"]}""".stripMargin,
        relations = Map("orders" -> Tables.orders(s, dir))
      )),

    // terms lookup from the wire format (index/id/path form): the term
    // list is a row of the lookup relation, broadcast onto the corpus.
    "search_dsl_json_terms_lookup" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir).filter(col("doc_id") =!= 0L),
        """{"query": {"terms": {"text": {"index": "documents", "id": 0,
          |   "path": "text", "min_term_length": 5}}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id", "lang"]}""".stripMargin,
        relations = Map("documents" -> Tables.documents(s, dir).withColumnRenamed("doc_id", "_id"))
      )),

    // span family from the wire format — filter-context predicates over
    // token positions, one per-row HOF pass each.
    "search_dsl_json_span_first" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"span_first": {
          |   "match": {"span_term": {"text": {"value": "spark"}}}, "end": 5}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}""".stripMargin
      )),

    "search_dsl_json_span_not" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"span_not": {
          |   "include": {"span_term": {"text": {"value": "data"}}},
          |   "exclude": {"span_term": {"text": {"value": "big"}}}, "pre": 1}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}""".stripMargin
      )),

    "search_dsl_json_span_within" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"span_within": {
          |   "little": {"span_term": {"text": {"value": "fast"}}},
          |   "big": {"span_near": {"clauses": [
          |     {"span_term": {"text": {"value": "stream"}}},
          |     {"span_term": {"text": {"value": "merge"}}}], "slop": 6, "in_order": true}}}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}""".stripMargin
      )),

    "search_dsl_json_span_containing" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"span_containing": {
          |   "big": {"span_near": {"clauses": [
          |     {"span_term": {"text": {"value": "sort"}}},
          |     {"span_term": {"text": {"value": "scan"}}}], "slop": 5, "in_order": true}},
          |   "little": {"span_term": {"text": {"value": "key"}}}}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}""".stripMargin
      )),

    "search_dsl_json_match_bool_prefix" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match_bool_prefix": {"text": {"query": "spark quer"}}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}""".stripMargin
      )),

    // agg twins: weighted_avg / multi_terms / percentile_ranks from the
    // wire format — each one hash agg, shared plan with the structured
    // entry.
    "search_dsl_json_weighted_avg" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"w": {"weighted_avg": {
          |   "value": {"field": "l_extendedprice"},
          |   "weight": {"field": "l_quantity"}}}}}""".stripMargin
      )),

    "search_dsl_json_multi_terms" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"m": {"multi_terms": {
          |   "terms": [{"field": "o_orderpriority"}, {"field": "o_orderstatus"}],
          |   "size": 5}}}}""".stripMargin
      )),

    "search_dsl_json_percentile_ranks" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"p": {"percentile_ranks": {
          |   "field": "o_totalprice", "values": [100000, 300000]}}}}""".stripMargin
      )),

    // remaining metric-agg twins: the wire compiler already had these
    // cases; the entries close the name-level gap with shared oracles.
    "search_dsl_json_auto_date_histogram" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"a": {"auto_date_histogram": {"field": "ts", "buckets": 40}}}}"""
      )),

    "search_dsl_json_string_stats" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"aggs": {"s": {"string_stats": {"field": "text"}}}}"""
      )),

    "search_dsl_json_mad" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"m": {"median_absolute_deviation": {"field": "o_totalprice"}}}}"""
      )),

    "search_dsl_json_extended_stats" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"e": {"extended_stats": {"field": "o_totalprice"}}}}"""
      )),

    "search_dsl_json_histogram" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"h": {"histogram": {"field": "o_totalprice", "interval": 50000}}}}"""
      )),

    // histogram with metric sub-aggregations: they ride the SAME hash
    // aggregate as doc_count (previously silently dropped — the
    // AggsFuzzSpec finding; OpenSearch allows the full metric set under
    // any bucketing agg).
    "search_dsl_json_histogram_metrics" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"query": {"term": {"event_type": "purchase"}},
          | "aggs": {"h": {"histogram": {"field": "value", "interval": 100},
          |   "aggs": {"rev": {"sum": {"field": "value"}},
          |            "n_users": {"value_count": {"field": "user_id"}}}}}}""".stripMargin
      )),

    "search_dsl_json_cardinality" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"n_parts": {"cardinality": {"field": "l_partkey"}}}}"""
      )),

    // pipeline-agg twins over the monthly bucket table: serial_diff /
    // moving_fn / normalize ride the date_histogram sub-agg compiler —
    // bounded windows over tens of buckets, never the fact table.
    "search_dsl_json_serial_diff" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "yoy_diff": {"serial_diff": {"buckets_path": "revenue", "lag": 12}}}}}}""".stripMargin
      )),

    "search_dsl_json_moving_fn" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "mov_max": {"moving_fn": {"buckets_path": "revenue", "window": 3,
          |                 "script": "MovingFunctions.max(values)"}}}}}}""".stripMargin
      )),

    // derivative from the wire format, with `unit: day` → the extra
    // normalized_value column (diff / real day gap between bucket starts —
    // calendar months are 28-31 days, so the divisor is per-row).
    "search_dsl_json_derivative" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "deriv": {"derivative": {"buckets_path": "revenue", "unit": "day"}}}}}}""".stripMargin
      )),

    // cumulative_sum from the wire format: running revenue total over the
    // bucket table — an unbounded-preceding frame over tens of rows.
    "search_dsl_json_cumulative_sum" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "cum_revenue": {"cumulative_sum": {"buckets_path": "revenue"}}}}}}""".stripMargin
      )),

    // moving_avg (the legacy pre-moving_fn spelling, still parsed by the
    // wire compiler): trailing-6 mean of monthly revenue.
    "search_dsl_json_moving_avg" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "mov_avg": {"moving_avg": {"buckets_path": "revenue", "window": 6}}}}}}""".stripMargin
      )),

    "search_dsl_json_normalize" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "pct_of_sum": {"normalize": {"buckets_path": "revenue",
          |                    "method": "percent_of_sum"}}}}}}""".stripMargin
      )),

    // pinned from the wire format: curated _ids first in list order,
    // organic matches follow — the structured search_pinned tier plan.
    "search_dsl_json_pinned" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir).withColumnRenamed("doc_id", "_id"),
        """{"query": {"pinned": {
          |   "ids": [7, 3, 11],
          |   "organic": {"match": {"text": "spark"}}}},
          | "sort": [{"_id": "asc"}], "size": 10, "_source": ["_id", "lang"]}""".stripMargin,
        docsMapping
      )),

    // _search/template: mustache-lite {{param}} substitution, then the
    // ordinary wire executor — the plan is identical to the direct body.
    "search_dsl_json_template" -> ((s, dir) =>
      JsonDsl.parseTemplate(
        Tables.documents(s, dir),
        """{"source": "{\"query\": {\"bool\": {\"must\": [{\"match\": {\"text\": \"{{term}}\"}}, {\"range\": {\"n_chars\": {\"gte\": {{min_chars}}}}}]}}, \"sort\": [{\"doc_id\": \"asc\"}], \"_source\": [\"doc_id\", \"n_chars\"]}",
          | "params": {"term": "spark", "min_chars": 200}}""".stripMargin,
        docsMapping
      )),

    // ── R9: wire twins for the remaining agg families ──────────────────
    // Sibling pipelines (avg/max/percentiles_bucket, change_point) ride
    // the two-agg sibling detector; bucket_script / moving_ewma /
    // moving_percentiles / cumulative_cardinality the date_histogram
    // sub-agg compiler; ip_prefix / ip_range / categorize_text /
    // variable_width_histogram / geo_line are first-class agg cases.
    "search_dsl_json_avg_bucket" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {
          |  "monthly": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |              "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}},
          |  "rev_avg": {"avg_bucket": {"buckets_path": "monthly>revenue"}}
          |}}""".stripMargin
      )),

    "search_dsl_json_max_bucket" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {
          |  "monthly": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |              "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}},
          |  "best": {"max_bucket": {"buckets_path": "monthly>revenue"}}
          |}}""".stripMargin
      )),

    "search_dsl_json_percentiles_bucket" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {
          |  "monthly": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |              "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}},
          |  "ladder": {"percentiles_bucket": {"buckets_path": "monthly>revenue", "percents": [25, 50, 75]}}
          |}}""".stripMargin
      )),

    "search_dsl_json_change_point" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {
          |  "monthly": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |              "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}},
          |  "shift": {"change_point": {"buckets_path": "monthly>revenue"}}
          |}}""".stripMargin
      )),

    "search_dsl_json_bucket_script" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "aov": {"bucket_script": {"buckets_path": {"r": "revenue", "c": "_count"},
          |             "script": "params.r / params.c"}}}}}}""".stripMargin
      )),

    "search_dsl_json_cumulative_cardinality" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"daily": {
          |   "date_histogram": {"field": "ts", "calendar_interval": "day"},
          |   "aggs": {
          |     "u": {"cardinality": {"field": "user_id"}},
          |     "cum_users": {"cumulative_cardinality": {"buckets_path": "u"}}}}}}""".stripMargin
      )),

    // sketch twin of the wire cumulative_cardinality (r14): "approx"
    // routes the whole request to the HLL plan — bucket-keyed sketch
    // aggregate + cumulative union, no per-key shuffle, no Expand.
    // Replica contract rides the structured twin (ReplicaSpec).
    "search_dsl_json_cumulative_cardinality_approx" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"daily": {
          |   "date_histogram": {"field": "ts", "calendar_interval": "day"},
          |   "aggs": {
          |     "u": {"cardinality": {"field": "user_id"}},
          |     "cum_users": {"cumulative_cardinality": {"buckets_path": "u", "approx": true}}}}}}""".stripMargin
      )),

    "search_dsl_json_moving_ewma" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"daily": {
          |   "date_histogram": {"field": "ts", "calendar_interval": "day"},
          |   "aggs": {
          |     "ewma": {"moving_fn": {"buckets_path": "_count", "window": 10000,
          |              "script": "MovingFunctions.ewma(values, 0.3)"}}}}}}""".stripMargin
      )),

    "search_dsl_json_moving_percentiles" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "p50_6m": {"moving_percentiles": {"buckets_path": "revenue", "window": 6, "percent": 50}},
          |     "p90_6m": {"moving_percentiles": {"buckets_path": "revenue", "window": 6, "percent": 90}}}}}}""".stripMargin
      )),

    "search_dsl_json_categorize_text" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"aggs": {"patterns": {"categorize_text": {"field": "text", "size": 10}}}}"""
      )),

    "search_dsl_json_variable_width_histogram" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"price_clusters": {"variable_width_histogram": {"field": "o_totalprice", "buckets": 8}}}}"""
      )),

    "search_dsl_json_ip_prefix" -> ((s, dir) =>
      JsonDsl.parse(
        ipEvents(s, dir),
        """{"aggs": {"nets": {
          |   "ip_prefix": {"field": "ip", "prefix_length": 16, "size": 20},
          |   "aggs": {"unique_users": {"cardinality": {"field": "user_id"}}}}}}""".stripMargin
      )),

    "search_dsl_json_ip_range" -> ((s, dir) =>
      JsonDsl.parse(
        ipEvents(s, dir),
        """{"aggs": {"tiers": {"ip_range": {"field": "ip", "ranges": [
          |   {"key": "a_low", "to": "10.5.0.0"},
          |   {"key": "b_mid", "from": "10.5.0.0", "to": "10.10.0.0"},
          |   {"key": "c_high", "from": "10.10.0.0"}]}}}}""".stripMargin
      )),

    "search_dsl_json_suggest" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"suggest": {"spell": {"text": "sparc",
          |   "term": {"field": "text", "max_edits": 2, "size": 5}}}}""".stripMargin
      )),

    "search_dsl_json_suggest_completion" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"suggest": {"c": {"prefix": "s",
          |   "completion": {"field": "text", "size": 5}}}}""".stripMargin
      )),

    "search_dsl_json_geo_distance_rings" -> ((s, dir) =>
      JsonDsl.parse(
        geoEvents(s, dir).select(struct(col("lat"), col("lon")).as("location")),
        """{"aggs": {"rings": {"geo_distance": {
          |   "field": "location", "origin": {"lat": 10.0, "lon": 20.0},
          |   "ranges": [{"to": 1000.0}, {"from": 1000.0, "to": 3000.0},
          |              {"from": 3000.0, "to": 8000.0}, {"from": 8000.0}]}}}}""".stripMargin
      )),

    "search_dsl_json_rate" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {"r": {"rate": {"field": "o_totalprice", "unit": "day"}}}}}}""".stripMargin
      )),

    "search_dsl_json_bucket_sort" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"monthly": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |   "aggs": {
          |     "revenue": {"sum": {"field": "o_totalprice"}},
          |     "top_months": {"bucket_sort": {"sort": [{"revenue": {"order": "desc"}}, {"bucket": "asc"}],
          |                    "size": 5}}}}}}""".stripMargin
      )),

    "search_dsl_json_filters_other" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"aggs": {"kinds": {"filters": {
          |   "filters": {
          |     "clicks": {"term": {"event_type": "click"}},
          |     "errors": {"term": {"event_type": "error"}}},
          |   "other_bucket": true}}}}""".stripMargin
      )),

    "search_dsl_json_geo_bounds" -> ((s, dir) =>
      JsonDsl.parse(
        geoEvents(s, dir)
          .select(col("event_type"), struct(col("lat"), col("lon")).as("location")),
        """{"aggs": {"by_type": {
          |   "terms": {"field": "event_type"},
          |   "aggs": {"box": {"geo_bounds": {"field": "location"}}}}}}""".stripMargin
      )),

    "search_dsl_json_frequent_pairs" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir).select(col("user_id"), date_trunc("day", col("ts")).as("day"), col("event_type")),
        """{"aggs": {"pairs": {"frequent_item_sets": {
          |   "fields": [{"field": "event_type"}],
          |   "basket": {"fields": ["user_id", "day"]},
          |   "minimum_set_size": 2, "size": 10}}}}""".stripMargin
      )),

    "search_dsl_json_geo_line" -> ((s, dir) =>
      JsonDsl.parse(
        geoEvents(s, dir)
          .select(col("event_type"), col("ts"), col("event_id"), struct(col("lat"), col("lon")).as("location")),
        """{"aggs": {"tracks": {
          |   "terms": {"field": "event_type"},
          |   "aggs": {"line": {"geo_line": {
          |     "point": {"field": "location"}, "sort": {"field": "ts"},
          |     "tie_breaker": "event_id", "size": 10}}}}}}""".stripMargin
      )),

    // ── R9b: wire twins for the last structured-only families ──────────
    // script_score / combined_fields / function_score random_score /
    // script_fields ride the query compiler; matrix_stats / global /
    // children / diversified_sampler / date_histogram min_doc_count=0
    // the agg compiler. Each shares its structured twin's plan shape.
    "search_dsl_json_script_score" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"script_score": {
          |   "query": {"match": {"text": "spark"}},
          |   "script": {"source": "ln(1 + n_chars) * 1.5 + mod(doc_id, 7)"}}},
          | "sort": [{"doc_id": "asc"}], "size": 15, "_source": ["doc_id", "_score"]}""".stripMargin,
        docsMapping
      )),

    "search_dsl_json_combined_fields" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.part(s, dir).select("p_partkey", "p_name", "p_type"),
        """{"query": {"combined_fields": {
          |   "query": "small large", "fields": ["p_name", "p_type^0.5"]}},
          | "sort": [{"p_partkey": "asc"}], "size": 20, "_source": ["p_partkey", "_score"]}""".stripMargin
      )),

    "search_dsl_json_random_score" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"function_score": {
          |   "random_score": {"seed": 42, "field": "doc_id"}}},
          | "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id", "_score"]}""".stripMargin
      )),

    "search_dsl_json_script_fields" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"query": {"term": {"o_orderpriority": "1-URGENT"}},
          | "script_fields": {"charge": {"script": {"source": "o_totalprice * 1.1"}}},
          | "sort": [{"o_orderkey": "asc"}], "_source": ["o_orderkey", "charge"]}""".stripMargin
      )),

    "search_dsl_json_matrix_stats" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"stats": {"matrix_stats": {
          |   "fields": ["l_quantity", "l_extendedprice", "l_discount"]}}}}""".stripMargin
      )),

    "search_dsl_json_global" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.events(s, dir),
        """{"query": {"term": {"event_type": "purchase"}},
          | "aggs": {
          |   "hits_avg_value": {"avg": {"field": "value"}},
          |   "all_docs": {"global": {},
          |     "aggs": {"total_avg_value": {"avg": {"field": "value"}}}}}}""".stripMargin
      )),

    "search_dsl_json_children" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"per_priority": {
          |   "terms": {"field": "o_orderpriority"},
          |   "aggs": {"to_line": {
          |     "children": {"type": "lineitem",
          |                  "join": {"parent": "o_orderkey", "child": "l_orderkey"}},
          |     "aggs": {
          |       "child_count": {"value_count": {"field": "l_orderkey"}},
          |       "total_qty": {"sum": {"field": "l_quantity"}}}}}}}}""".stripMargin,
        relations = Map("lineitem" -> Tables.lineitem(s, dir))
      )),

    "search_dsl_json_sampler" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"aggs": {"sample": {
          |   "diversified_sampler": {"field": "lang", "max_docs_per_value": 20, "id_field": "doc_id"},
          |   "aggs": {"sources": {"terms": {"field": "source"}}}}}}""".stripMargin
      )),

    "search_dsl_json_date_histogram_filled" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"query": {"range": {"o_totalprice": {"gt": 450000}}},
          | "aggs": {"daily": {
          |   "date_histogram": {"field": "o_orderdate", "calendar_interval": "day", "min_doc_count": 0},
          |   "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}}}}""".stripMargin
      )),

    "search_dsl_json_phrase_suggest" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"suggest": {"fix": {"text": "fast qery",
          |   "phrase": {"field": "text", "max_errors": 2, "size": 5}}}}""".stripMargin
      )),

    "search_dsl_json_missing" -> ((s, dir) => {
      val buyers =
        Tables.orders(s, dir).filter(col("o_totalprice") > 450000).select(col("o_custkey")).distinct()
      JsonDsl.parse(
        Tables.customer(s, dir).join(buyers, col("c_custkey") === col("o_custkey"), "left"),
        """{"aggs": {"no_vip": {"missing": {"field": "o_custkey"},
          |   "aggs": {"avg_acctbal": {"avg": {"field": "c_acctbal"}}}}}}""".stripMargin
      )
    }),

    "search_dsl_json_filter_agg" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {"urgent": {"filter": {"term": {"o_orderpriority": "1-URGENT"}},
          |   "aggs": {"avg_price": {"avg": {"field": "o_totalprice"}}}}}}""".stripMargin
      )),

    "search_dsl_json_nested_agg" -> ((s, dir) =>
      JsonDsl.parse(
        cachedNested(s, dir),
        """{"aggs": {"line_items": {"nested": {"path": "items"},
          |   "aggs": {"avg_l_quantity": {"avg": {"field": "items.l_quantity"}}}}}}""".stripMargin
      )),

    "search_dsl_json_reverse_nested" -> ((s, dir) =>
      JsonDsl.parse(
        cachedNested(s, dir),
        """{"aggs": {"line_items": {"nested": {"path": "items"},
          |   "aggs": {"by_flag": {"terms": {"field": "items.l_returnflag"},
          |     "aggs": {"parents": {"reverse_nested": {"id_field": "o_orderkey"}}}}}}}}""".stripMargin
      )),

    "search_dsl_json_parent" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.lineitem(s, dir),
        """{"aggs": {"by_flag": {"terms": {"field": "l_returnflag"},
          |   "aggs": {"to_order": {
          |     "parent": {"type": "order", "join": {"parent": "o_orderkey", "child": "l_orderkey"}},
          |     "aggs": {"avg_order_value": {"avg": {"field": "o_totalprice"}}}}}}}}""".stripMargin,
        relations = Map("order" -> Tables.orders(s, dir))
      )),

    // _script sort from the wire format: the compiled arithmetic subset
    // as the ranking key — a projection under TakeOrderedAndProject.
    "search_dsl_json_script_sort" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"match_all": {}},
          | "sort": [{"_script": {"type": "number",
          |    "script": {"source": "n_chars / (doc_id + 1)"}, "order": "desc"}},
          |   {"doc_id": "asc"}],
          | "size": 10, "_source": ["doc_id", "n_chars"]}""".stripMargin
      )),

    // extended_stats_bucket: moments of the monthly-revenue bucket
    // metric from exact decimal sums in a fixed double tree.
    "search_dsl_json_extended_stats_bucket" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.orders(s, dir),
        """{"aggs": {
          |  "monthly": {"date_histogram": {"field": "o_orderdate", "calendar_interval": "month"},
          |              "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}},
          |  "spread": {"extended_stats_bucket": {"buckets_path": "monthly>revenue"}}
          |}}""".stripMargin
      )),

    // sampler (plain): md5-ordered first-100 docs feeding a terms
    // sub-agg — a bounded TakeOrderedAndProject, never a full sort.
    "search_dsl_json_sampler_plain" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"aggs": {"sample": {
          |   "sampler": {"shard_size": 100, "id_field": "doc_id"},
          |   "aggs": {"sources": {"terms": {"field": "source"}}}}}}""".stripMargin
      )),

    "search_dsl_json_span_multi" -> ((s, dir) =>
      JsonDsl.parse(
        Tables.documents(s, dir),
        """{"query": {"span_near": {
          |   "clauses": [
          |     {"span_multi": {"match": {"prefix": {"text": {"value": "spar"}}}}},
          |     {"span_term": {"text": {"value": "fast"}}}],
          |   "slop": 5, "in_order": false}},
          | "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}""".stripMargin,
        docsMapping
      )),

    // knn with method=ivf from the wire format: the SCALE path — only
    // the probed cells score (the in-band knn handler is the exact
    // brute-force baseline). Approximate by design → rows-only; the spec
    // pins equality with the structured ann_ivf_topk for the same body.
    "search_dsl_json_knn_ivf" -> ((s, dir) => {
      val v = queryVec(s, dir, 0).mkString("[", ",", "]")
      JsonDsl.knnIvf(
        cachedIvf(s, dir, nLists = 16),
        "vec_id",
        "embedding",
        s"""{"query": {"knn": {"embedding": {"vector": $v, "k": 10,
           |  "method": {"name": "ivf", "nprobe": 6}}}}}""".stripMargin
      )
    }),

    // knn with method=ivf + encoder=pq from the wire format (the faiss
    // method spelling): candidate ranking over 8-byte PQ codes, exact
    // rescore of the deterministic top window. Approximate by design →
    // rows-only; the spec pins equality with the structured
    // ann_ivf_pq_topk for the same body.
    "search_dsl_json_knn_pq" -> ((s, dir) => {
      val v = queryVec(s, dir, 0).mkString("[", ",", "]")
      JsonDsl.knnPq(
        cachedPq(s, dir),
        "vec_id",
        "embedding",
        s"""{"query": {"knn": {"embedding": {"vector": $v, "k": 10,
           |  "method": {"name": "ivf", "encoder": {"name": "pq"}, "nprobe": 6}}}}}""".stripMargin
      )
    }),

    // knn with method=hnsw from the wire format: the graph-index engine
    // behind the same wire face — beam search over the runtime-bound
    // neighbor graph (ef_search = beam width). Approximate by design →
    // rows-only; the spec pins equality with the structured graphSearch
    // for the same body (JsonDslSpec).
    "search_dsl_json_knn_hnsw" -> ((s, dir) => {
      val v = queryVec(s, dir, 0).mkString("[", ",", "]")
      JsonDsl.knnGraph(
        cachedGraph(s, dir),
        Tables.embeddings(s, dir),
        "vec_id",
        "embedding",
        s"""{"query": {"knn": {"embedding": {"vector": $v, "k": 10,
           |  "method": {"name": "hnsw", "ef_search": 16, "rounds": 3}}}}}""".stripMargin
      )
    })
  )

  val oracleSql: Map[String, String] = Map(

    // Same memoized index, query vector, k and nprobe as the structured ann_ivf_topk.
    "search_dsl_json_knn_ivf" -> AnnEntries.oracleSql("ann_ivf_topk"),

    // The wire hnsw path is graphSearch against the SAME memoized graph,
    // query vector, k=10, ef_search=16, rounds=3 as the structured
    // ann_graph_topk — whose beam replay landed in r18 (GraphOracle), so
    // this key shares the oracle with the id column renamed to the wire
    // shape's vec_id (the knn_ivf / knn_pq precedent).
    "search_dsl_json_knn_hnsw" -> GraphOracle.singleTopkSql("vec_id"),

    // Same memoized PQ index, query vector, k, nprobe and rerank window as ann_ivf_pq_topk.
    "search_dsl_json_knn_pq" -> AnnEntries.oracleSql("ann_ivf_pq_topk"),

    // indexed edge-ngram (2..8) membership of 'spa' ≡ a token with that
    // prefix (the prefix length is inside the gram range)
    "search_dsl_json_match_sayt" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE len(list_filter(string_split(lower(text), ' '), t -> starts_with(t, 'spa'))) > 0
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_match_stemmed" ->
      """WITH toks AS (
        |  SELECT doc_id, list_transform(
        |    list_filter(string_split(lower(text), ' '), t -> t NOT IN ('the', 'a')),
        |    t -> CASE
        |      WHEN length(t) > 3 AND t LIKE '%ies' AND t NOT LIKE '%eies' AND t NOT LIKE '%aies'
        |        THEN regexp_replace(t, 'ies$', 'y')
        |      WHEN length(t) > 3 AND t LIKE '%es' AND t NOT LIKE '%aes' AND t NOT LIKE '%ees' AND t NOT LIKE '%oes'
        |        THEN regexp_replace(t, 'es$', 'e')
        |      WHEN length(t) > 2 AND t LIKE '%s' AND t NOT LIKE '%us' AND t NOT LIKE '%ss'
        |        THEN regexp_replace(t, 's$', '')
        |      ELSE t END) AS tt
        |  FROM documents)
        |SELECT doc_id FROM toks
        |WHERE list_contains(tt, 'scan') OR list_contains(tt, 'join')
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_match_operator_and" ->
      """SELECT doc_id, source FROM documents
        |WHERE list_has_all(string_split(lower(text), ' '), ['merge', 'batch', 'vector'])
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_match_fuzziness" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE len(list_filter(string_split(lower(text), ' '), t -> levenshtein(t, 'merg') <= 1)) > 0
        |   OR len(list_filter(string_split(lower(text), ' '), t -> levenshtein(t, 'windoww') <= 1)) > 0
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_agg" ->
      """SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket, count(*) AS doc_count,
        |       count(user_id) AS n_users
        |FROM events WHERE value >= 100 GROUP BY 1 ORDER BY bucket""".stripMargin,

    "search_dsl_json_dh_timezone" -> SearchEntries.oracleSql("search_date_histogram_tz"),

    "search_dsl_json_range_timezone" ->
      """SELECT event_id, ts FROM events
        |WHERE ts >= (TIMESTAMP '2024-01-10 00:00:00' AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC'
        |  AND ts <  (TIMESTAMP '2024-01-20 00:00:00' AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC'
        |ORDER BY event_id""".stripMargin,

    "search_dsl_json_date_range_timezone" ->
      """WITH b AS (SELECT (TIMESTAMP '2024-01-10 00:00:00' AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS b1,
        |                  (TIMESTAMP '2024-01-20 00:00:00' AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS b2)
        |SELECT bucket, count(*) AS doc_count FROM (
        |  SELECT CASE WHEN ts < b1 THEN 'early'
        |              WHEN ts >= b1 AND ts < b2 THEN 'mid'
        |              WHEN ts >= b2 THEN 'late' END AS bucket
        |  FROM events CROSS JOIN b) t
        |WHERE bucket IS NOT NULL GROUP BY 1 ORDER BY bucket""".stripMargin,

    "search_dsl_json_terms_min_doc_count" ->
      """SELECT p_brand AS "key", count(*) AS doc_count
        |FROM part WHERE p_partkey <= 200 GROUP BY 1 HAVING count(*) >= 8
        |ORDER BY doc_count DESC, "key" LIMIT 25""".stripMargin,

    "search_dsl_json_dh_offset" ->
      """SELECT CAST(date_trunc('day', ts - INTERVAL 6 HOUR) + INTERVAL 6 HOUR AS TIMESTAMP) AS bucket,
        |       count(*) AS doc_count,
        |       round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "search_dsl_json_histogram_offset" ->
      """SELECT floor((l_extendedprice - 2500) / 10000) * 10000 + 2500 AS bucket, count(*) AS doc_count
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,

    "search_dsl_json_runtime_try_divide" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice / l_discount AS ratio
        |FROM lineitem WHERE l_orderkey <= 600
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "search_dsl_json_terms_missing_param" ->
      """WITH t AS (SELECT o_custkey, max(o_orderpriority) AS top_priority
        |           FROM orders WHERE o_totalprice > 400000 GROUP BY 1)
        |SELECT coalesce(top_priority, 'NONE') AS "key", count(*) AS doc_count
        |FROM customer LEFT JOIN t ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY doc_count DESC, "key" LIMIT 10""".stripMargin,

    "search_dsl_json_msearch" ->
      """SELECT 0 AS search, count(*) AS hits FROM documents WHERE lang = 'en'
        |UNION ALL
        |SELECT 1, count(*) FROM documents WHERE n_chars >= 500 AND NOT coalesce(source = 'src3', false)
        |UNION ALL
        |SELECT 2, count(*) FROM events WHERE value >= 250
        |UNION ALL
        |SELECT 3, count(*) FROM documents WHERE source LIKE 'src1%'
        |ORDER BY search""".stripMargin,

    "search_dsl_json_multi_match" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark') OR source = 'spark'
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_ids" ->
      """SELECT doc_id AS "_id", lang, n_chars FROM documents
        |WHERE doc_id IN (3, 11, 42) ORDER BY 1""".stripMargin,

    "search_dsl_json_fuzzy" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE len(list_filter(string_split(lower(text), ' '), t -> levenshtein(t, 'sparc') <= 1)) > 0
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_search_after" -> SearchEntries.oracleSql("search_search_after"),

    "search_dsl_json_highlight" ->
      """SELECT doc_id, n_chars,
        |       CASE WHEN strpos(text, 'spark') > 0
        |            THEN substring(text, greatest(CAST(strpos(text, 'spark') AS INTEGER) - 15, 1), 40)
        |       END AS text_highlight
        |FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_scroll" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice FROM orders
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10 OFFSET 20""".stripMargin,

    "search_dsl_json_significant_text" ->
      """WITH toks AS (SELECT doc_id, lang = 'de' AS fg,
        |                     unnest(list_distinct(string_split(lower(text), ' '))) AS term
        |              FROM documents),
        |counts AS (SELECT term,
        |                  CAST(sum(CASE WHEN fg THEN 1 ELSE 0 END) AS BIGINT) AS fg_count,
        |                  CAST(count(*) AS BIGINT) AS bg_count
        |           FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS fg_total,
        |               CAST(count(*) AS BIGINT) AS bg_total
        |        FROM documents)
        |SELECT term, fg_count, bg_count,
        |       round(CAST(fg_count AS DOUBLE) / fg_total - CAST(bg_count AS DOUBLE) / bg_total, 6) AS score
        |FROM counts CROSS JOIN tot ORDER BY score DESC, term LIMIT 5""".stripMargin,

    "search_dsl_json_terms_order" ->
      """SELECT o_orderpriority AS "key", CAST(count(*) AS BIGINT) AS doc_count,
        |       round(avg(o_totalprice), 6) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY avg_price DESC, "key" LIMIT 5""".stripMargin,

    "search_dsl_json_date_range" ->
      """SELECT bucket, CAST(count(*) AS BIGINT) AS doc_count FROM (
        |  SELECT CASE WHEN ts < TIMESTAMP '2024-01-10 00:00:00' THEN 'early'
        |              WHEN ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'middle'
        |              WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 'late'
        |         END AS bucket
        |  FROM events) t
        |WHERE bucket IS NOT NULL GROUP BY 1 ORDER BY bucket""".stripMargin,

    "search_dsl_json_top_metrics" ->
      """SELECT max_by(value, event_id) AS value, max(event_id) AS sort_value
        |FROM events""".stripMargin,

    "search_dsl_json_regexp" ->
      """SELECT doc_id, lang FROM documents
        |WHERE regexp_full_match(lang, 'e[ns]') ORDER BY doc_id""".stripMargin,

    "search_dsl_json_filters" ->
      """SELECT count(*) AS n_total,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        |       CAST(sum(CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS BIGINT) AS high_value
        |FROM events""".stripMargin,

    "search_dsl_json_terms_metrics" ->
      """SELECT o_orderpriority AS "key", count(*) AS doc_count,
        |       round(avg(o_totalprice), 6) AS avg_price, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY doc_count DESC, "key" LIMIT 5""".stripMargin,

    "search_dsl_json_percentiles" ->
      """SELECT round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |       round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |       round(quantile_cont(l_quantity, 0.99), 6) AS p99
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'""".stripMargin,

    "search_dsl_json_terms_percentiles" ->
      """SELECT o_orderpriority AS "key", count(*) AS doc_count,
        |       round(quantile_cont(o_totalprice, 0.5), 6) AS price_p50,
        |       round(quantile_cont(o_totalprice, 0.9), 6) AS price_p90
        |FROM orders GROUP BY 1 ORDER BY doc_count DESC, "key" LIMIT 5""".stripMargin,

    "search_dsl_json_terms_boxplot" ->
      """SELECT l_returnflag AS "key", count(*) AS doc_count,
        |       round(min(l_extendedprice), 2) AS price_min,
        |       round(quantile_cont(l_extendedprice, 0.25), 6) AS price_q1,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS price_q2,
        |       round(quantile_cont(l_extendedprice, 0.75), 6) AS price_q3,
        |       round(max(l_extendedprice), 2) AS price_max
        |FROM lineitem GROUP BY 1 ORDER BY doc_count DESC, "key" LIMIT 3""".stripMargin,

    "search_dsl_json_terms_extended_stats" ->
      """WITH m AS (SELECT o_orderpriority AS "key", count(*) AS doc_count,
        |                  count(o_totalprice) AS n,
        |                  sum(CAST(o_totalprice AS DECIMAL(12,2))) AS s,
        |                  sum(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS ss
        |           FROM orders GROUP BY 1)
        |SELECT "key", doc_count,
        |       n AS price_count,
        |       round(CAST(s AS DOUBLE), 2) AS price_sum,
        |       round(CAST(s AS DOUBLE) / n, 6) AS price_avg,
        |       round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n, 2) AS price_variance,
        |       round(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n), 6) AS price_std
        |FROM m ORDER BY doc_count DESC, "key" LIMIT 5""".stripMargin,

    "search_dsl_json_dh_percentiles" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket, count(*) AS doc_count,
        |       round(quantile_cont(o_totalprice, 0.5), 6) AS price_p50,
        |       round(quantile_cont(o_totalprice, 0.9), 6) AS price_p90,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS buyers
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "search_dsl_json_dh_percentiles_moving" ->
      """WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |                  count(*) AS doc_count,
        |                  round(quantile_cont(o_totalprice, 0.5), 6) AS price_p50
        |           FROM orders GROUP BY 1)
        |SELECT bucket, doc_count, price_p50,
        |       round(avg(price_p50) OVER (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS trend
        |FROM b ORDER BY bucket""".stripMargin,

    "search_dsl_json_significant" -> SearchEntries.oracleSql("search_significant_terms"),

    "search_dsl_json_rare_terms" ->
      """SELECT lang AS "key", count(*) AS doc_count FROM documents
        |GROUP BY 1 HAVING count(*) <= 100 ORDER BY doc_count, "key"""".stripMargin,

    "search_dsl_json_composite" -> SearchEntries.oracleSql("search_composite_after"),

    "search_dsl_json_multi_terms_sparse" ->
      """WITH t AS (SELECT o_custkey, max(o_orderpriority) AS top_priority
        |           FROM orders WHERE o_totalprice > 400000 GROUP BY 1)
        |SELECT top_priority AS k0, c_mktsegment AS k1, count(*) AS doc_count
        |FROM customer LEFT JOIN t ON c_custkey = o_custkey
        |WHERE top_priority IS NOT NULL AND c_mktsegment IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY doc_count DESC, k0, k1 LIMIT 12""".stripMargin,

    "search_dsl_json_significant_terms_sparse" ->
      """WITH t AS (SELECT o_custkey, max(o_orderpriority) AS top_priority
        |           FROM orders WHERE o_totalprice > 400000 GROUP BY 1),
        |j AS (SELECT top_priority, c_mktsegment
        |      FROM customer LEFT JOIN t ON c_custkey = o_custkey)
        |SELECT term, fg_count, bg_count,
        |       round(CAST(fg_count AS DOUBLE) / fg_total - CAST(bg_count AS DOUBLE) / bg_total, 6) AS score
        |FROM (SELECT top_priority AS term,
        |             count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS fg_count,
        |             count(*) AS bg_count
        |      FROM j WHERE top_priority IS NOT NULL GROUP BY 1) a
        |CROSS JOIN (SELECT count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS fg_total,
        |                   count(*) AS bg_total FROM j) b
        |ORDER BY score DESC, term""".stripMargin,

    "search_dsl_json_composite_sparse" ->
      """WITH t AS (SELECT o_custkey, max(o_orderpriority) AS top_priority
        |           FROM orders WHERE o_totalprice > 400000 GROUP BY 1)
        |SELECT top_priority AS k0, c_mktsegment AS k1, count(*) AS doc_count
        |FROM customer LEFT JOIN t ON c_custkey = o_custkey
        |WHERE top_priority IS NOT NULL AND c_mktsegment IS NOT NULL
        |GROUP BY 1, 2
        |HAVING top_priority > '1-URGENT' OR (top_priority = '1-URGENT' AND c_mktsegment > 'BUILDING')
        |ORDER BY k0, k1 LIMIT 8""".stripMargin,

    "search_dsl_json_knn" ->
      """SELECT * FROM (
        |  SELECT vec_id AS "_id",
        |         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS "_score"
        |  FROM embeddings ORDER BY "_score" DESC, "_id" LIMIT 10) t
        |ORDER BY "_id"""".stripMargin,

    "search_dsl_json_knn_min_score" ->
      """SELECT * FROM (
        |  SELECT vec_id AS "_id",
        |         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS "_score"
        |  FROM embeddings WHERE vec_id <> 0) t
        |WHERE "_score" >= 0.3
        |ORDER BY "_id"""".stripMargin,

    "search_dsl_json_knn_filtered" ->
      """SELECT * FROM (
        |  SELECT vec_id AS "_id",
        |         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS "_score"
        |  FROM embeddings WHERE vec_id <> 0 AND label = 2
        |  ORDER BY "_score" DESC, "_id" LIMIT 10) t
        |ORDER BY "_id"""".stripMargin,

    "search_dsl_json_rank_eval" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |top1 AS (SELECT vec_id,
        |       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q)), 6) AS s
        |       FROM embeddings ORDER BY s DESC, vec_id LIMIT 10),
        |j1 AS (SELECT CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS INTEGER) AS rank,
        |              coalesce(r.rating, 0) AS rating
        |       FROM top1 LEFT JOIN (VALUES (1, 2), (2, 1), (3, 0), (5, 3), (8, 1), (13, 2)) AS r(id, rating)
        |         ON top1.vec_id = r.id),
        |d1 AS (SELECT coalesce(sum((pow(2.0, rating) - 1.0) / (ln(rank + 1) / ln(2.0))), 0.0) AS dcg FROM j1),
        |i1 AS (SELECT sum((pow(2.0, rating) - 1.0) / (ln(rn + 1) / ln(2.0))) AS ideal
        |       FROM (SELECT rating, row_number() OVER (ORDER BY rating DESC) AS rn
        |             FROM (VALUES (2), (1), (3), (1), (2)) AS t(rating)) s WHERE rn <= 10),
        |top2 AS (SELECT vec_id,
        |       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q)), 6) AS s
        |       FROM embeddings WHERE label = 2 ORDER BY s DESC, vec_id LIMIT 10),
        |j2 AS (SELECT CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS INTEGER) AS rank,
        |              coalesce(r.rating, 0) AS rating
        |       FROM top2 LEFT JOIN (VALUES (1, 1), (4, 2), (9, 1), (16, 2), (25, 1)) AS r(id, rating)
        |         ON top2.vec_id = r.id),
        |d2 AS (SELECT coalesce(sum((pow(2.0, rating) - 1.0) / (ln(rank + 1) / ln(2.0))), 0.0) AS dcg FROM j2),
        |i2 AS (SELECT sum((pow(2.0, rating) - 1.0) / (ln(rn + 1) / ln(2.0))) AS ideal
        |       FROM (SELECT rating, row_number() OVER (ORDER BY rating DESC) AS rn
        |             FROM (VALUES (1), (2), (1), (2), (1)) AS t(rating)) s WHERE rn <= 10)
        |SELECT 'q_all' AS request_id, round(d1.dcg / i1.ideal, 6) AS metric_score FROM d1, i1
        |UNION ALL
        |SELECT 'q_label2' AS request_id, round(d2.dcg / i2.ideal, 6) AS metric_score FROM d2, i2
        |ORDER BY request_id""".stripMargin,

    "search_dsl_json_top_hits" -> SearchEntries.oracleSql("search_top_hits"),

    "search_dsl_json_span_near" -> SearchEntries.oracleSql("search_span_near"),

    "search_dsl_json_collapse" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,

    "search_dsl_json_pipeline" ->
      """SELECT bucket, doc_count,
        |       CAST(sum(doc_count) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
        |       CAST(doc_count - lag(doc_count) OVER (ORDER BY bucket) AS BIGINT) AS deriv_docs,
        |       round(avg(doc_count) OVER (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_docs
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |             CAST(count(*) AS BIGINT) AS doc_count
        |      FROM orders GROUP BY 1) t
        |ORDER BY bucket""".stripMargin,

    "search_dsl_json_hybrid" -> SearchEntries.oracleSql("search_hybrid_rrf"),

    "search_dsl_json_hybrid_normalized" ->
      """WITH base AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS toks,
        |                     len(string_split(lower(text), ' ')) AS dl
        |              FROM documents),
        |postings AS (SELECT id, dl, t.term, count(*) AS tf
        |             FROM base, unnest(toks) AS t(term)
        |             WHERE t.term IN ('spark', 'query') GROUP BY id, dl, t.term),
        |docfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
        |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
        |lexs AS (SELECT id, round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |                             * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        |         FROM postings JOIN docfreq USING (term) CROSS JOIN corpus
        |         GROUP BY id ORDER BY score DESC, id LIMIT 10),
        |lexn AS (SELECT id, CASE WHEN mx = mn THEN 1.0 ELSE (score - mn) / (mx - mn) END AS lex_n
        |         FROM (SELECT id, score, min(score) OVER () AS mn, max(score) OVER () AS mx FROM lexs) t),
        |vq AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |vecs_ AS (SELECT vec_id AS id,
        |                 round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qe FROM vq)), 6) AS cos
        |          FROM embeddings WHERE vec_id <> 0 ORDER BY cos DESC, id LIMIT 10),
        |vecn AS (SELECT id, CASE WHEN mx = mn THEN 1.0 ELSE (cos - mn) / (mx - mn) END AS vec_n
        |         FROM (SELECT id, cos, min(cos) OVER () AS mn, max(cos) OVER () AS mx FROM vecs_) t)
        |SELECT coalesce(l.id, v.id) AS id,
        |       round((coalesce(lex_n, 0.0) * 0.3 + coalesce(vec_n, 0.0) * 0.7) / (0.3 + 0.7), 6) AS hybrid_score
        |FROM lexn l FULL OUTER JOIN vecn v ON l.id = v.id
        |ORDER BY hybrid_score DESC, id LIMIT 10""".stripMargin,

    "search_dsl_json_pit" -> CdcEntries.oracleSql("cdc_pit_read"),

    "search_dsl_json_pit_search_after" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00') t
        |WHERE rn = 1 AND event_type = 'purchase' AND user_id > 2
        |ORDER BY user_id LIMIT 25""".stripMargin,

    "search_dsl_json_mget" ->
      """SELECT CAST(req.seq AS BIGINT) AS seq, CAST(req._id AS VARCHAR) AS _id,
        |       d.doc_id IS NOT NULL AS found, d.lang, d.source, d.n_chars
        |FROM (VALUES (1, 7), (2, 3), (3, 999999999), (4, 12)) req(seq, _id)
        |LEFT JOIN documents d ON d.doc_id = req._id
        |ORDER BY seq""".stripMargin,

    "search_dsl_json_bulk" ->
      """WITH ops(seq, action, _id) AS (
        |  SELECT * FROM (VALUES
        |    (1, 'index', '3'), (2, 'create', '3'), (3, 'delete', '3'), (4, 'create', '3'),
        |    (5, 'update', '999999999'), (6, 'index', '999999999'), (7, 'update', '999999999'),
        |    (8, 'delete', '888888888'), (9, 'update', '7'), (10, 'delete', '7')) v),
        |pre AS (
        |  SELECT seq, action, _id,
        |         coalesce(
        |           last_value(CASE WHEN action = 'update' THEN NULL
        |                           WHEN action = 'delete' THEN false ELSE true END IGNORE NULLS)
        |             OVER (PARTITION BY _id ORDER BY seq
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           EXISTS (SELECT 1 FROM documents d WHERE CAST(d.doc_id AS VARCHAR) = ops._id)
        |         ) AS before
        |  FROM ops)
        |SELECT CAST(seq AS BIGINT) AS seq, action, _id,
        |       CASE WHEN action = 'index'  THEN CASE WHEN before THEN 'updated' ELSE 'created' END
        |            WHEN action = 'create' THEN CASE WHEN before THEN 'version_conflict' ELSE 'created' END
        |            WHEN action = 'update' THEN CASE WHEN before THEN 'updated' ELSE 'document_missing' END
        |            ELSE CASE WHEN before THEN 'deleted' ELSE 'not_found' END END AS result
        |FROM pre ORDER BY seq""".stripMargin,

    "search_dsl_json_pipeline_filter_query" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents WHERE lang = 'en' AND n_chars >= 500
        |ORDER BY doc_id LIMIT 20""".stripMargin,

    "search_dsl_json_update_by_query" ->
      """SELECT doc_id, lang, source, CAST(n_chars * 2.0 + 1.0 AS BIGINT) AS n_chars
        |FROM documents WHERE lang = 'de' AND n_chars < 400 ORDER BY doc_id""".stripMargin,

    "search_dsl_json_delete_by_query" ->
      """SELECT count(*) FILTER (WHERE n_chars >= 1000) AS deleted,
        |       count(*) FILTER (WHERE NOT n_chars >= 1000) AS remaining,
        |       count(*) AS total
        |FROM documents""".stripMargin,

    "search_dsl_json_reindex" ->
      """SELECT doc_id, lang, source, n_chars, n_chars / 1000.0 AS n_kilochars
        |FROM documents WHERE lang = 'fr' ORDER BY doc_id""".stripMargin,

    "search_dsl_json_neural_sparse" -> SearchEntries.oracleSql("search_neural_sparse"),

    "search_dsl_json_bucket_selector" -> SearchEntries.oracleSql("search_bucket_selector"),

    "search_dsl_json_nested" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R' AND l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin,

    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    // so the sort adds qty + price to stay total on both engines
    "search_dsl_json_nested_inner_hits" ->
      """SELECT o_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R' AND l_quantity >= 48
        |ORDER BY o_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "search_dsl_json_adjacency" -> adjacencyMatrixSql,

    "search_dsl_json_boxplot" -> boxplotSql,

    "search_dsl_json_terms_set" ->
      """SELECT doc_id, lang FROM documents
        |WHERE len(list_intersect(list_distinct(string_split(lower(text), ' ')),
        |                         ['spark', 'query', 'merge'])) >= 2
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_dis_max" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN list_contains(string_split(lower(text), ' '), 'spark')
        |       THEN CAST(2.0 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS s1,
        |  CASE WHEN list_contains(string_split(lower(text), ' '), 'query')
        |       THEN CAST(1.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS s2
        |FROM documents)
        |SELECT doc_id, round(greatest(s1, s2) + 0.3 * (s1 + s2 - greatest(s1, s2)), 6) AS "_score"
        |FROM t WHERE s1 + s2 > 0 ORDER BY "_score" DESC, doc_id""".stripMargin,

    "search_dsl_json_function_score" ->
      """SELECT doc_id, n_chars, round(1.5 * ln(1.0 + n_chars), 6) AS "_score"
        |FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id LIMIT 20""".stripMargin,

    "search_dsl_json_boosting" ->
      """SELECT doc_id,
        |       CASE WHEN list_contains(string_split(lower(text), ' '), 'slow')
        |            THEN CAST(0.5 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS _score
        |FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY _score DESC, doc_id""".stripMargin,

    "search_dsl_json_rank_feature" ->
      """SELECT doc_id, n_chars, round(2.0 * n_chars / (n_chars + 250.0), 6) AS _score
        |FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY _score DESC, doc_id LIMIT 20""".stripMargin,

    "search_dsl_json_distance_feature" ->
      """SELECT event_id,
        |       round(2.0 * 604800.0 / (604800.0 + abs(floor(epoch(ts)) - 1706745600)), 6) AS _score
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY _score DESC, event_id LIMIT 10""".stripMargin,

    "search_dsl_json_rescore" ->
      """WITH first AS (SELECT doc_id, n_chars, list_distinct(string_split(lower(text), ' ')) AS toks
        |               FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50)
        |SELECT doc_id, n_chars,
        |       CAST(len(list_intersect(toks, ['spark', 'query', 'table'])) AS INTEGER) AS _score
        |FROM first ORDER BY _score DESC, n_chars DESC, doc_id LIMIT 10""".stripMargin,

    "search_dsl_json_has_child" -> SearchEntries.oracleSql("search_has_child"),

    "search_dsl_json_has_parent" -> SearchEntries.oracleSql("search_has_parent"),

    "search_dsl_json_terms_lookup" -> SearchEntries.oracleSql("search_terms_lookup"),

    "search_dsl_json_span_first" ->
      """SELECT doc_id FROM documents
        |WHERE list_position(string_split(lower(text), ' '), 'spark') BETWEEN 1 AND 5
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_span_not" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        |SELECT doc_id FROM t
        |WHERE len(list_filter(range(1, len(toks) + 1),
        |                      i -> toks[i] = 'data' AND (i = 1 OR toks[i - 1] <> 'big'))) > 0
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_span_within" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |p AS (SELECT doc_id,
        |        list_filter(range(1, len(toks) + 1), i -> toks[i] = 'stream') AS pa,
        |        list_filter(range(1, len(toks) + 1), i -> toks[i] = 'merge') AS pb,
        |        list_filter(range(1, len(toks) + 1), i -> toks[i] = 'fast') AS pp
        |      FROM t)
        |SELECT doc_id FROM p
        |WHERE len(list_filter(pp, p -> len(list_filter(pa, a -> len(list_filter(pb,
        |          b -> b > a AND b - a <= 6 AND p > a AND p < b)) > 0)) > 0)) > 0
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_span_containing" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |p AS (SELECT doc_id,
        |        list_filter(range(1, len(toks) + 1), i -> toks[i] = 'sort') AS pa,
        |        list_filter(range(1, len(toks) + 1), i -> toks[i] = 'scan') AS pb,
        |        list_filter(range(1, len(toks) + 1), i -> toks[i] = 'key') AS pp
        |      FROM t)
        |SELECT doc_id FROM p
        |WHERE len(list_filter(pa, a -> len(list_filter(pb,
        |          b -> b > a AND b - a <= 5 AND len(list_filter(pp, x -> x > a AND x < b)) > 0)) > 0)) > 0
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_match_bool_prefix" -> SearchEntries.oracleSql("search_match_bool_prefix"),

    "search_dsl_json_weighted_avg" -> SearchEntries.oracleSql("search_weighted_avg"),

    "search_dsl_json_multi_terms" -> SearchEntries.oracleSql("search_multi_terms"),

    "search_dsl_json_percentile_ranks" ->
      """SELECT round(avg(CASE WHEN o_totalprice <= 100000 THEN 1.0 ELSE 0.0 END), 6) AS pr_100000,
        |       round(avg(CASE WHEN o_totalprice <= 300000 THEN 1.0 ELSE 0.0 END), 6) AS pr_300000
        |FROM orders""".stripMargin,

    "search_dsl_json_auto_date_histogram" -> SearchEntries.oracleSql("search_auto_date_histogram"),

    "search_dsl_json_string_stats" -> SearchEntries.oracleSql("search_string_stats"),

    "search_dsl_json_mad" -> SearchEntries.oracleSql("search_mad"),

    "search_dsl_json_extended_stats" -> SearchEntries.oracleSql("search_extended_stats"),

    "search_dsl_json_histogram" -> SearchEntries.oracleSql("search_histogram_agg"),

    "search_dsl_json_histogram_metrics" ->
      """SELECT floor(value / 100) * 100 AS bucket, count(*) AS doc_count,
        |       round(sum(value), 2) AS rev, count(user_id) AS n_users
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "search_dsl_json_cardinality" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts FROM lineitem""".stripMargin,

    "search_dsl_json_serial_diff" ->
      """SELECT bucket, doc_count, revenue,
        |       round(revenue - lag(revenue, 12) OVER (ORDER BY bucket), 2) AS yoy_diff
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |             count(*) AS doc_count, round(sum(o_totalprice), 2) AS revenue
        |      FROM orders GROUP BY 1) t
        |ORDER BY bucket""".stripMargin,

    "search_dsl_json_moving_fn" ->
      """SELECT bucket, doc_count, revenue,
        |       round(max(revenue) OVER (ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mov_max
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |             count(*) AS doc_count, round(sum(o_totalprice), 2) AS revenue
        |      FROM orders GROUP BY 1) t
        |ORDER BY bucket""".stripMargin,

    "search_dsl_json_derivative" ->
      """SELECT bucket, doc_count, revenue,
        |       round(revenue - lag(revenue, 1) OVER (ORDER BY bucket), 2) AS deriv,
        |       round((revenue - lag(revenue, 1) OVER (ORDER BY bucket))
        |             / date_diff('day', CAST(lag(bucket, 1) OVER (ORDER BY bucket) AS DATE), CAST(bucket AS DATE)), 6) AS deriv_normalized
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |             count(*) AS doc_count, round(sum(o_totalprice), 2) AS revenue
        |      FROM orders GROUP BY 1) t
        |ORDER BY bucket""".stripMargin,

    "search_dsl_json_cumulative_sum" ->
      """SELECT bucket, doc_count, revenue,
        |       round(sum(revenue) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |             count(*) AS doc_count, round(sum(o_totalprice), 2) AS revenue
        |      FROM orders GROUP BY 1) t
        |ORDER BY bucket""".stripMargin,

    "search_dsl_json_moving_avg" ->
      """SELECT bucket, doc_count, revenue,
        |       round(avg(revenue) OVER (ORDER BY bucket ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS mov_avg
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |             count(*) AS doc_count, round(sum(o_totalprice), 2) AS revenue
        |      FROM orders GROUP BY 1) t
        |ORDER BY bucket""".stripMargin,

    "search_dsl_json_normalize" ->
      """WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |                  count(*) AS doc_count, round(sum(o_totalprice), 2) AS revenue
        |           FROM orders GROUP BY 1)
        |SELECT bucket, doc_count, revenue,
        |       round(revenue / (SELECT sum(revenue) FROM b) * 100.0, 6) AS pct_of_sum
        |FROM b ORDER BY bucket""".stripMargin,

    "search_dsl_json_wrapper" ->
      """SELECT doc_id, lang FROM documents WHERE lang = 'de' ORDER BY doc_id""".stripMargin,

    "search_dsl_json_count" ->
      """SELECT count(*) AS count FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark') AND n_chars >= 150""".stripMargin,

    "search_dsl_json_terms_enum" ->
      """SELECT DISTINCT tok AS terms
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) t
        |WHERE starts_with(tok, 'sp') ORDER BY tok LIMIT 10""".stripMargin,

    "search_dsl_json_terms_enum_keyword" ->
      """SELECT DISTINCT source AS terms FROM documents
        |WHERE starts_with(lower(source), 'src1') AND source > 'src12'
        |ORDER BY source LIMIT 5""".stripMargin,

    "search_dsl_json_intervals" -> SearchEntries.oracleSql("search_intervals_any"),

    "search_dsl_json_match_phrase_prefix" -> SearchEntries.oracleSql("search_match_phrase_prefix"),

    "search_dsl_json_constant_score" -> SearchEntries.oracleSql("search_constant_score"),

    "search_dsl_json_geo_polygon" ->
      s"""SELECT event_type AS key, count(*) AS doc_count
         |FROM (SELECT event_type, ((user_id * 1237) % 18000) / 100.0 - 90.0 AS lat,
         |             ((event_id * 91) % 36000) / 100.0 - 180.0 AS lon
         |      FROM events) g
         |WHERE $geoPolygonPredSql
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "search_dsl_json_geohash" -> geohashGridOracleSql,

    "search_dsl_json_stats_bucket" ->
      """WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |                  round(sum(o_totalprice), 2) AS revenue
        |           FROM orders GROUP BY 1)
        |SELECT count(*) AS "count", round(min(revenue), 2) AS "min", round(max(revenue), 2) AS "max",
        |       round(CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS "avg",
        |       CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) AS "sum"
        |FROM b""".stripMargin,

    "search_dsl_json_scroll_sliced" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 4 = 1 ORDER BY doc_id LIMIT 20 OFFSET 20""".stripMargin,

    "search_dsl_json_synonyms" -> SearchEntries.oracleSql("search_match_synonyms_index"),

    "search_dsl_json_runtime_field" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE ln(n_chars) * 2 + n_chars / 100 >= 14
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_span_or" -> SearchEntries.oracleSql("search_span_or"),

    "search_dsl_json_scripted_metric" -> SearchEntries.oracleSql("search_scripted_metric"),

    "search_dsl_json_mlt" ->
      """SELECT doc_id FROM documents
        |WHERE len(list_intersect(list_distinct(string_split(lower(text), ' ')),
        |                         ['big', 'data', 'table', 'scan'])) >= 3
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_geotile" -> SearchEntries.oracleSql("search_geotile_grid"),

    "search_dsl_json_geo_centroid" ->
      """SELECT round(CAST(sum(CAST(((user_id * 1237) % 18000) / 100.0 - 90.0 AS DECIMAL(9,2))) AS DOUBLE) / count(*), 6) AS centroid_lat,
        |       round(CAST(sum(CAST(((event_id * 91) % 36000) / 100.0 - 180.0 AS DECIMAL(9,2))) AS DOUBLE) / count(*), 6) AS centroid_lon,
        |       count(*) AS doc_count
        |FROM events""".stripMargin,

    "search_dsl_json_geo" ->
      """WITH g AS (
        |  SELECT event_id,
        |         ((user_id * 1237) % 18000) / 100.0 - 90.0 AS lat,
        |         ((event_id * 91) % 36000) / 100.0 - 180.0 AS lon
        |  FROM events)
        |SELECT event_id FROM g
        |WHERE sqrt((lat - 10.0) * (lat - 10.0)
        |           + ((lon - 20.0) * 0.7071067811865476) * ((lon - 20.0) * 0.7071067811865476)) * 111.195 <= 1000.0
        |ORDER BY event_id""".stripMargin,

    "search_dsl_json_t_test" ->
      """WITH a AS (
        |  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS s1,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS ss1,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS s2,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS ss2
        |  FROM events)
        |SELECT round((s1 / n1 - s2 / n2)
        |             / sqrt(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1 + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2), 6) AS t_stat,
        |       round(s1 / n1, 6) AS mean_a,
        |       round(s2 / n2, 6) AS mean_b
        |FROM a""".stripMargin,

    "search_dsl_json_percolate" ->
      """WITH docs AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |              FROM orders WHERE o_orderkey < 100)
        |SELECT o_orderkey, query_id FROM (
        |  SELECT o_orderkey, CAST(1 AS BIGINT) AS query_id FROM docs WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderkey, CAST(2 AS BIGINT) FROM docs WHERE o_totalprice > 200000
        |  UNION ALL
        |  SELECT o_orderkey, CAST(3 AS BIGINT) FROM docs WHERE o_orderpriority LIKE '1%'
        |  UNION ALL
        |  SELECT o_orderkey, CAST(4 AS BIGINT) FROM docs
        |  WHERE o_orderstatus = 'F' AND o_totalprice <= 100000) t
        |ORDER BY o_orderkey, query_id""".stripMargin,

    // The wire bodies compile to the same rich registry rows as the structured key.
    "search_dsl_json_percolate_indexed" -> SearchEntries.oracleSql("search_percolate_indexed_rich"),

    "search_dsl_json_decay" ->
      """SELECT o_orderkey,
        |       round(1.0 * exp((-0.6931471805599453 / (50000.0 * 50000.0))
        |                 * greatest(abs(o_totalprice - 150000.0) - 10000.0, 0.0)
        |                 * greatest(abs(o_totalprice - 150000.0) - 10000.0, 0.0)), 6) AS "_score"
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey LIMIT 20""".stripMargin,

    "search_dsl_json_exists" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
        |                         WHERE o_totalprice > 450000) o
        |  ON c_custkey = o_custkey
        |WHERE o_custkey IS NULL
        |ORDER BY c_custkey LIMIT 50""".stripMargin,

    "search_dsl_json_simple_query_string" -> SearchEntries.oracleSql("search_simple_query_string"),

    "search_dsl_json_pinned" ->
      """SELECT "_id", lang FROM (
        |  SELECT doc_id AS "_id", lang,
        |         coalesce(list_position([7, 3, 11], doc_id), 0) AS pin,
        |         list_contains(string_split(lower(text), ' '), 'spark') AS organic
        |  FROM documents) t
        |WHERE pin > 0 OR organic
        |ORDER BY CASE WHEN pin > 0 THEN pin ELSE 9223372036854775807 END, "_id"
        |LIMIT 10""".stripMargin,

    "search_dsl_json_template" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark') AND n_chars >= 200
        |ORDER BY doc_id""".stripMargin,

    "search_dsl_json_avg_bucket" -> SearchEntries.oracleSql("search_avg_bucket"),

    "search_dsl_json_max_bucket" -> SearchEntries.oracleSql("search_max_bucket"),

    "search_dsl_json_percentiles_bucket" -> SearchEntries.oracleSql("search_percentiles_bucket"),

    "search_dsl_json_change_point" -> SearchEntries.oracleSql("search_change_point"),

    "search_dsl_json_bucket_script" ->
      """SELECT bucket, doc_count, revenue,
        |       round(revenue / doc_count, 6) AS aov
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |             count(*) AS doc_count, round(sum(o_totalprice), 2) AS revenue
        |      FROM orders GROUP BY 1) t
        |ORDER BY bucket""".stripMargin,

    "search_dsl_json_cumulative_cardinality" -> SearchEntries.oracleSql("search_cumulative_cardinality"),

    "search_dsl_json_moving_ewma" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, count(*) AS doc_count
        |  FROM events GROUP BY 1),
        |a AS (SELECT list(bucket ORDER BY bucket) AS bl,
        |             list(doc_count ORDER BY bucket) AS cl,
        |             list(CAST(doc_count AS DOUBLE) ORDER BY bucket) AS vl FROM daily)
        |SELECT unnest(bl) AS bucket, unnest(cl) AS doc_count,
        |       unnest(list_transform(vl, (x, i) ->
        |         round(list_reduce(list_slice(vl, 1, i), (acc, y) -> y * 0.3 + acc * 0.7), 6))) AS ewma
        |FROM a ORDER BY bucket""".stripMargin,

    "search_dsl_json_moving_percentiles" ->
      """WITH b AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |                  count(*) AS doc_count, round(sum(o_totalprice), 2) AS revenue
        |           FROM orders GROUP BY 1)
        |SELECT bucket, doc_count, revenue,
        |       round(quantile_cont(revenue, 0.5) OVER (ORDER BY bucket
        |               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS p50_6m,
        |       round(quantile_cont(revenue, 0.9) OVER (ORDER BY bucket
        |               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS p90_6m
        |FROM b ORDER BY bucket""".stripMargin,

    "search_dsl_json_categorize_text" -> SearchEntries.oracleSql("search_categorize_text"),

    "search_dsl_json_variable_width_histogram" -> SearchEntries.oracleSql("search_variable_width_histogram"),

    "search_dsl_json_ip_prefix" -> SearchEntries.oracleSql("search_ip_prefix"),

    "search_dsl_json_ip_range" -> SearchEntries.oracleSql("search_ip_range"),

    "search_dsl_json_suggest" -> SearchEntries.oracleSql("search_suggest"),

    "search_dsl_json_suggest_completion" -> SearchEntries.oracleSql("search_suggest_completion"),

    "search_dsl_json_geo_distance_rings" -> SearchEntries.oracleSql("search_geo_distance_rings"),

    "search_dsl_json_rate" -> SearchEntries.oracleSql("search_rate"),

    "search_dsl_json_bucket_sort" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket,
        |       count(*) AS doc_count,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1
        |ORDER BY revenue DESC, bucket LIMIT 5""".stripMargin,

    "search_dsl_json_filters_other" -> SearchEntries.oracleSql("search_filters_other"),

    "search_dsl_json_geo_bounds" -> SearchEntries.oracleSql("search_geo_bounds"),

    "search_dsl_json_frequent_pairs" -> SearchEntries.oracleSql("search_frequent_pairs"),

    "search_dsl_json_geo_line" -> SearchEntries.oracleSql("search_geo_line"),

    "search_dsl_json_script_score" ->
      """SELECT doc_id, round(ln(1 + n_chars) * 1.5 + CAST(doc_id % 7 AS DOUBLE), 6) AS "_score"
        |FROM documents
        |WHERE list_contains(string_split(lower(text), ' '), 'spark')
        |ORDER BY doc_id LIMIT 15""".stripMargin,

    "search_dsl_json_combined_fields" ->
      """WITH f AS (SELECT p_partkey,
        |             1.0 * len(list_filter(string_split(lower(p_name), ' '), x -> x = 'small'))
        |               + 0.5 * len(list_filter(string_split(lower(p_type), ' '), x -> x = 'small')) AS ctf_small,
        |             1.0 * len(list_filter(string_split(lower(p_name), ' '), x -> x = 'large'))
        |               + 0.5 * len(list_filter(string_split(lower(p_type), ' '), x -> x = 'large')) AS ctf_large
        |           FROM part),
        |s AS (SELECT count(*) AS n,
        |             sum(CASE WHEN ctf_small > 0 THEN 1 ELSE 0 END) AS df_small,
        |             sum(CASE WHEN ctf_large > 0 THEN 1 ELSE 0 END) AS df_large
        |      FROM f)
        |SELECT p_partkey, "_score" FROM (
        |  SELECT p_partkey,
        |         round(ln(1.0 + (n - df_small + 0.5) / (df_small + 0.5)) * (ctf_small / (ctf_small + 1.2))
        |               + ln(1.0 + (n - df_large + 0.5) / (df_large + 0.5)) * (ctf_large / (ctf_large + 1.2)),
        |               6) AS "_score"
        |  FROM f CROSS JOIN s) t
        |WHERE "_score" > 0 ORDER BY p_partkey LIMIT 20""".stripMargin,

    "search_dsl_json_random_score" ->
      """SELECT doc_id,
        |       round(CAST(concat('0x', substring(md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT)
        |             / 4294967296.0, 6) AS "_score"
        |FROM documents ORDER BY doc_id LIMIT 10""".stripMargin,

    "search_dsl_json_script_fields" ->
      """SELECT o_orderkey, o_totalprice * 1.1 AS charge
        |FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey""".stripMargin,

    "search_dsl_json_matrix_stats" -> SearchEntries.oracleSql("search_matrix_stats"),

    "search_dsl_json_global" -> SearchEntries.oracleSql("search_global_agg"),

    "search_dsl_json_children" -> SearchEntries.oracleSql("search_children_agg"),

    "search_dsl_json_sampler" -> SearchEntries.oracleSql("search_sampler_diversified"),

    "search_dsl_json_date_histogram_filled" -> SearchEntries.oracleSql("search_date_histogram_filled"),

    "search_dsl_json_phrase_suggest" -> SearchEntries.oracleSql("search_phrase_suggest"),

    "search_dsl_json_missing" -> SearchEntries.oracleSql("search_missing_agg"),

    "search_dsl_json_filter_agg" -> SearchEntries.oracleSql("search_filter_agg"),

    "search_dsl_json_nested_agg" -> SearchEntries.oracleSql("search_nested_agg"),

    "search_dsl_json_reverse_nested" -> SearchEntries.oracleSql("search_reverse_nested"),

    "search_dsl_json_parent" -> SearchEntries.oracleSql("search_parent_agg"),

    "search_dsl_json_script_sort" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY (CAST(n_chars AS DOUBLE) / (doc_id + 1)) DESC, doc_id LIMIT 10""".stripMargin,

    "search_dsl_json_extended_stats_bucket" ->
      """WITH b AS (SELECT date_trunc('month', o_orderdate) AS bucket,
        |                  round(sum(o_totalprice), 2) AS revenue
        |           FROM orders GROUP BY 1),
        |m AS (SELECT count(*) AS n,
        |             CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |             CAST(sum(CAST(revenue AS DECIMAL(28,2)) * CAST(revenue AS DECIMAL(28,2))) AS DOUBLE) AS ss,
        |             round(min(revenue), 2) AS mn, round(max(revenue), 2) AS mx
        |      FROM b)
        |SELECT n AS count, mn AS min, mx AS max, round(s / n, 6) AS avg, s AS sum,
        |       round(ss, -6) AS sum_of_squares,
        |       round((ss - s * s / n) / n, -4) AS variance,
        |       round(sqrt((ss - s * s / n) / n), 4) AS std_deviation
        |FROM m""".stripMargin,

    "search_dsl_json_sampler_plain" ->
      """WITH s AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
        |           ORDER BY h, doc_id LIMIT 100)
        |SELECT source AS key, count(*) AS doc_count FROM s
        |GROUP BY 1 ORDER BY doc_count DESC, key""".stripMargin,

    "search_dsl_json_span_multi" -> SearchEntries.oracleSql("search_span_multi")
  )
}
