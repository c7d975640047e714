package graft.search

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Per-index field mappings — the reference's index-definition surface
  * (TDD aurora-postgresql-cdc-opensearchtdd.md §4: each indexed table
  * declares keyword vs text vs date/numeric fields; consumer.py creates
  * the index with those mappings before the first upsert).
  *
  * The mapping decides ANALYZED vs EXACT semantics at query-compile time:
  * a `match` on a `text` field tokenizes and tests analyzed terms, while
  * the same `match` on a `keyword` field is exact equality — precisely
  * OpenSearch's behavior. Declared per index and consulted by
  * [[JsonDsl]]; everything stays a declarative Catalyst predicate either
  * way, so pushdown is unaffected.
  */
/** One stage of an analyzer's token-filter chain. Filters compose in
  * DECLARED order (the OpenSearch contract: `filter: ["s_stem",
  * "my_stop"]` stems first, so the stopword list must be in stemmed
  * form to fire) — each stage sees the tokens the previous stage
  * emitted, never the raw stream.
  */
sealed trait TokenFilter extends Product with Serializable
object TokenFilter {

  /** `stop`: drops a token whose CURRENT form (post earlier stages) is
    * in the list.
    */
  final case class Stop(words: Seq[String]) extends TokenFilter

  /** `s_stem`: Harman's S-stemmer (see [[Analyzer.sStem]]). */
  case object SStem extends TokenFilter

  /** `edge_ngram`: one token expands to its minGram..maxGram prefixes —
    * the autocomplete filter (OpenSearch `edge_ngram`). A token shorter
    * than minGram emits nothing; maxGram caps at the token's length.
    */
  final case class EdgeNgram(minGram: Int, maxGram: Int) extends TokenFilter {
    require(minGram >= 1 && maxGram >= minGram, s"edge_ngram needs 1 <= min_gram <= max_gram, got ($minGram, $maxGram)")
  }
}

/** A configurable per-field token-filter chain — the index-settings
  * `analyzer` block (OpenSearch's `analysis` section cut to the filters
  * this engine supports as exact, oracle-reproducible expressions):
  * whitespace tokenize → lowercase (always, the standard base) → the
  * declared [[TokenFilter]]s applied IN ORDER (stopword removal,
  * Harman-1991 light English S-stemming — "How effective is
  * suffixing?": -ies→-y, -es→-e, -s→∅ with the published exception
  * lists — and edge_ngram prefix expansion). The same chain applies at
  * INDEX time (the analyzed column, [[SearchDsl.analyzeWith]]) and at
  * QUERY time (the compiled query terms, [[normalizeTerms]]) — the
  * symmetry OpenSearch guarantees when search_analyzer is unset. The
  * S-stemmer is chosen over Porter because every rule is a suffix test
  * + literal rewrite, so the DuckDB oracle can run the identical
  * algorithm in SQL and hash-compare exactly.
  */
final case class Analyzer(
    name: String = "standard",
    filters: Seq[TokenFilter] = Nil
) {

  /** Every stopword any stage declares (diagnostic accessor; matching
    * consults the ordered chain, not this flattened view).
    */
  def stopwords: Seq[String] = filters.collect { case TokenFilter.Stop(w) => w }.flatten

  def stem: Boolean = filters.contains(TokenFilter.SStem)

  /** The query-time twin of the column chain: lowercase, then each
    * declared filter in order — MUST mirror [[SearchDsl.analyzeWith]]'s
    * SQL rules token for token (AnalyzerSpec pins the equivalence).
    * One input token can map to zero (stopped), one, or many
    * (edge_ngram) output tokens.
    */
  def normalizeAll(t: String): Seq[String] =
    filters.foldLeft(Seq(t.toLowerCase)) {
      case (ts, TokenFilter.Stop(words)) => ts.filterNot(words.contains)
      case (ts, TokenFilter.SStem)       => ts.map(Analyzer.sStem)
      case (ts, TokenFilter.EdgeNgram(mn, mx)) =>
        ts.flatMap(tok => (mn to math.min(mx, tok.length)).map(tok.substring(0, _)))
    }

  def normalizeTerm(t: String): Option[String] = normalizeAll(t).headOption

  def normalizeTerms(ts: Seq[String]): Seq[String] = ts.flatMap(normalizeAll)
}

object Analyzer {
  val standard: Analyzer = Analyzer()

  /** The fixed stop-then-stem shape as a convenience constructor (the
    * common declaration; any other order goes through the primary
    * `filters` constructor).
    */
  def apply(name: String, stopwords: Seq[String], stem: Boolean): Analyzer =
    Analyzer(
      name,
      (if (stopwords.nonEmpty) Seq[TokenFilter](TokenFilter.Stop(stopwords)) else Nil) ++
        (if (stem) Seq[TokenFilter](TokenFilter.SStem) else Nil)
    )

  /** Harman's S-stemmer on one lowercase token (JVM twin of the SQL
    * rules in [[SearchDsl.sStem]]; keep the two in lockstep).
    */
  def sStem(t: String): String =
    if (t.length > 3 && t.endsWith("ies") && !t.endsWith("eies") && !t.endsWith("aies"))
      t.dropRight(3) + "y"
    else if (t.length > 3 && t.endsWith("es") && !t.endsWith("aes") && !t.endsWith("ees") && !t.endsWith("oes"))
      t.dropRight(1)
    else if (t.length > 2 && t.endsWith("s") && !t.endsWith("us") && !t.endsWith("ss"))
      t.dropRight(1)
    else t
}

final case class IndexMapping(
    fields: Map[String, String],
    synonyms: Map[String, Seq[String]] = Map.empty,
    analyzers: Map[String, Analyzer] = Map.empty,
    searchAnalyzers: Map[String, Analyzer] = Map.empty
) {

  /** OpenSearch's dynamic-mapping default for strings is keyword-with-
    * text-subfield; exact is the safe default for undeclared fields.
    */
  def fieldType(name: String): String = fields.getOrElse(name, "keyword")

  def isText(name: String): Boolean = fieldType(name) == "text"

  /** The analyzer declared for a field (standard when undeclared). */
  def analyzerFor(name: String): Analyzer = analyzers.getOrElse(name, Analyzer.standard)

  /** The QUERY-side analyzer for a field: its declared `search_analyzer`
    * when one exists, else the index analyzer — OpenSearch's resolution
    * order. The asymmetric pair is the autocomplete pattern: index with
    * edge_ngram, search with the plain chain, so the typed prefix
    * matches the indexed prefix tokens without being expanded itself.
    */
  def searchAnalyzerFor(name: String): Analyzer =
    searchAnalyzers.getOrElse(name, analyzerFor(name))

  /** Declare a per-field analyzer chain (the index-settings `analysis`
    * block): consulted by every text query compile against that field.
    */
  def withAnalyzer(field: String, a: Analyzer): IndexMapping =
    copy(analyzers = analyzers + (field -> a))

  /** Declare query-time synonym expansion (the synonym_graph token
    * filter in its query-time form — the recommended OpenSearch setup,
    * since index-time synonyms bake the dictionary into the postings).
    * A query term expands to itself plus its declared synonyms; the
    * dictionary is one-directional, matching the `term => syn1, syn2`
    * rule format.
    */
  def withSynonyms(dict: Map[String, Seq[String]]): IndexMapping = copy(synonyms = dict)

  /** A query term plus its declared synonyms (identity if undeclared). */
  def expand(term: String): Seq[String] = term +: synonyms.getOrElse(term, Nil)
}

object IndexMapping {

  val empty: IndexMapping = IndexMapping(Map.empty)

  /** Infer a mapping from the data itself — OpenSearch's dynamic mapping,
    * done honestly: string fields whose sampled values average more than
    * `textThreshold` tokens are `text` (prose — analyze it), shorter ones
    * `keyword` (codes/enums — exact match); timestamps/dates map to
    * `date`, numerics to their own type. ONE aggregate pass over a
    * bounded sample computes every string column's average token count —
    * never a pass per field.
    */
  def infer(
      df: org.apache.spark.sql.DataFrame,
      sampleN: Int = 1000,
      textThreshold: Double = 3.0
  ): IndexMapping = {
    import org.apache.spark.sql.functions.{avg, col, hash, size, split}
    import org.apache.spark.sql.types._
    val stringCols = df.schema.fields.collect { case f if f.dataType == StringType => f.name }
    val avgToks: Map[String, Double] =
      if (stringCols.isEmpty) Map.empty
      else {
        val row = df
          // Deterministic sample: the sampleN smallest whole-row hashes
          // (one TakeOrdered pass). A bare limit() takes whichever rows
          // arrive first, so a field sitting near textThreshold could
          // flip text/keyword across partition layouts — at odds with
          // the determinism-everywhere contract.
          .orderBy(hash(df.columns.map(col): _*))
          .limit(sampleN)
          .agg(
            avg(size(split(col(stringCols.head), "\\s+"))).as(stringCols.head),
            stringCols.tail.map(c => avg(size(split(col(c), "\\s+"))).as(c)): _*
          )
          .head()
        stringCols.map(c => c -> Option(row.getAs[Any](c)).fold(0.0)(_.asInstanceOf[Double])).toMap
      }
    IndexMapping(df.schema.fields.map { f =>
      f.name -> (f.dataType match {
        case StringType                   => if (avgToks(f.name) > textThreshold) "text" else "keyword"
        case TimestampType | DateType     => "date"
        case dt: NumericType              => dt.simpleString
        case _                            => "keyword"
      })
    }.toMap)
  }

  /** The `_field_caps` API: per-field capabilities derived from the
    * frame's schema plus the declared mapping — (field, es_type,
    * searchable, aggregatable). Undeclared fields take the dynamic
    * default (string→keyword, timestamp/date→date, numerics→their own
    * type); `text` fields are searchable but NOT aggregatable (no
    * fielddata), everything else is both — OpenSearch's rule. The output
    * is schema-sized (driver-scale), not data-sized.
    */
  def fieldCaps(df: org.apache.spark.sql.DataFrame, mapping: IndexMapping): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    import spark.implicits._
    df.schema.fields.toSeq
      .map { f =>
        val es = mapping.fields.getOrElse(
          f.name,
          f.dataType match {
            case StringType               => "keyword"
            case TimestampType | DateType => "date"
            case dt: NumericType          => dt.simpleString
            case _                        => "keyword"
          }
        )
        (f.name, es, true, es != "text")
      }
      .sortBy(_._1)
      .toDF("field", "es_type", "searchable", "aggregatable")
  }

  /** Parse the OpenSearch `_mapping` body format the reference's TDD uses:
    * `{"properties": {"field": {"type": "text"}, ...}}` (a top-level
    * `{"mappings": {...}}` wrapper is accepted too). An index-settings
    * `analysis` block declares named analyzer chains in the OpenSearch
    * format — `settings.analysis.analyzer.<name>.filter` lists the
    * token filters (`lowercase` always-on, `s_stem`, or a named custom
    * filter resolved from `settings.analysis.filter.<name>` with
    * `{"type": "stop", "stopwords": [...]}`) — and a text field binds
    * one by name (`{"type": "text", "analyzer": "<name>"}`), exactly
    * how a real index declares stemming. The parsed chain is the same
    * [[Analyzer]] every text query compiles against.
    */
  def fromJson(body: String): IndexMapping = {
    val root0 = new ObjectMapper().readTree(body)
    require(root0 != null && root0.isObject, s"mapping body must be a JSON object: $body")
    // Named custom filters, then named analyzers, from the settings block.
    // A chain's declared filter ORDER is preserved: ["s_stem", "my_stop"]
    // stems before testing stopwords (the list must be in stemmed form),
    // the reverse order tests raw tokens first — OpenSearch composes the
    // stages exactly as listed and so does the parsed [[Analyzer]].
    val analysis = Option(root0.get("settings")).flatMap(s => Option(s.get("analysis")))
    val namedFilters: Map[String, TokenFilter] = analysis
      .flatMap(a => Option(a.get("filter")))
      .map(_.fields().asScala.map { e =>
        val spec = e.getValue
        val f: TokenFilter =
          Option(spec.get("type")).map(_.asText).getOrElse("") match {
            case "stop" =>
              val words = Option(spec.get("stopwords"))
                .map(_.elements().asScala.map(_.asText).toSeq)
                .getOrElse(throw new IllegalArgumentException(s"stop filter '${e.getKey}' needs a stopwords list"))
              TokenFilter.Stop(words)
            case "edge_ngram" =>
              val mn = Option(spec.get("min_gram")).map(_.asInt).getOrElse(1)
              val mx = Option(spec.get("max_gram")).map(_.asInt).getOrElse(2)
              TokenFilter.EdgeNgram(mn, mx)
            case other =>
              throw new IllegalArgumentException(s"unsupported custom token filter type '$other' ('${e.getKey}')")
          }
        e.getKey -> f
      }.toMap)
      .getOrElse(Map.empty)
    val namedAnalyzers: Map[String, Analyzer] = analysis
      .flatMap(a => Option(a.get("analyzer")))
      .map(_.fields().asScala.map { e =>
        val spec = e.getValue
        val filters = Option(spec.get("filter")).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        val chain = filters.flatMap {
          case "lowercase" => None // the always-on base stage
          case "s_stem"    => Some(TokenFilter.SStem)
          case custom =>
            Some(
              namedFilters
                .getOrElse(custom, throw new IllegalArgumentException(s"undeclared token filter '$custom'"))
            )
        }
        e.getKey -> Analyzer(e.getKey, chain)
      }.toMap)
      .getOrElse(Map.empty)
    def resolveAnalyzer(field: String, name: String): Analyzer =
      if (name == "standard") Analyzer.standard
      else
        namedAnalyzers.getOrElse(
          name,
          throw new IllegalArgumentException(s"field '$field' binds undeclared analyzer '$name'")
        )
    val root = if (root0.has("mappings")) root0.get("mappings") else root0
    val props = root.get("properties")
    require(props != null && props.isObject, s"mapping body needs a 'properties' object: $body")
    val entries = props.fields().asScala.toSeq
    val fieldAnalyzers = entries.flatMap { e =>
      Option(e.getValue.get("analyzer")).map(an => e.getKey -> resolveAnalyzer(e.getKey, an.asText))
    }.toMap
    val fieldSearchAnalyzers = entries.flatMap { e =>
      Option(e.getValue.get("search_analyzer")).map { an =>
        require(
          e.getValue.get("analyzer") != null,
          s"field '${e.getKey}' declares search_analyzer without an (index) analyzer"
        )
        e.getKey -> resolveAnalyzer(e.getKey, an.asText)
      }
    }.toMap
    IndexMapping(
      entries.map(e => e.getKey -> Option(e.getValue.get("type")).map(_.asText).getOrElse("keyword")).toMap,
      analyzers = fieldAnalyzers,
      searchAnalyzers = fieldSearchAnalyzers
    )
  }
}
