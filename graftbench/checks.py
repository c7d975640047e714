"""Output checks against references that do not use the engine.

- search_dashboard: each distinct response is compared with DuckDB's
  evaluation of the same request over the same parquet files.
- cdc_ingest: the truth is the fold of every envelope by `source.lsn`. The
  engine orders by `ts_ms` instead and drops every envelope of a key after
  the first in one millisecond, a known defect. So each document, in every
  readback and in the final index, must equal either the lsn fold or, where
  the two differ, the fold by the engine's rule; documents that take the
  second are counted as wrong documents. Any other difference fails the run.
- corpus_prep: exact-duplicate groups must equal the planted clusters,
  language counts the generated languages, and near-duplicate recall over
  the planted pairs must reach a floor; reported pairs must really be that
  similar, and PQ top-k scores must be exact cosines in order.
"""

import glob
import json
import math
import os
import statistics

import duckdb

# Parameters of the operators as the benchmark calls them (engine defaults).
NGRAM_THRESHOLD = 0.4
MINHASH_THRESHOLD = 0.5
MINHASH_BANDS = 16
MINHASH_ROWS = 128 // 16


def _counts(raw):
    return len(raw["ops"]), sum(not o["ok"] for o in raw["ops"])


# ------------------------------------------------------------------ search

def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # Money values are 2-decimal; the engine rounds some metrics to 2
        # places where DuckDB keeps full precision.
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0051)
    return a == b


def _rows_equal(got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if list(g) != list(w):
            return False
        if not all(_same(g[k], w[k]) for k in g):
            return False
    return True


def _reference(con, tables, req):
    """The request's expected rows, from DuckDB."""
    t = lambda name: f"read_parquet('{os.path.join(tables, name + '.parquet')}')"
    body = req["body"]
    tpl = req["template"]
    q = lambda sql, *args: [dict(zip([d[0] for d in con.description], row)) for row in con.execute(sql, list(args)).fetchall()]
    if tpl == "msearch":
        lines = [json.loads(x) for x in body.strip().split("\n")]
        out = []
        for i in range(0, len(lines), 2):
            idx, clause = lines[i]["index"], lines[i + 1]["query"]
            kind, spec = next(iter(clause.items()))
            field, value = next(iter(spec.items()))
            if kind == "term":
                n = q(f"select count(*) hits from {t(idx)} where {field} = ?", value)[0]["hits"]
            else:
                n = q(f"select count(*) hits from {t(idx)} where {field} >= ?", value["gte"])[0]["hits"]
            out.append({"search": i // 2, "hits": n})
        return out
    b = json.loads(body)
    filt = b["query"]["bool"]["filter"] if "bool" in b.get("query", {}) else None
    if tpl == "match":
        seg = b["query"]["bool"]["must"][0]["match"]["c_mktsegment"]
        lo = filt[0]["range"]["c_acctbal"]["gte"]
        return q(f"select c_custkey, c_acctbal from {t('customer')} where c_mktsegment = ? and c_acctbal >= ? "
                 "order by c_acctbal desc, c_custkey limit 10", seg, lo)
    if tpl == "bool_term":
        st, lo = filt[0]["term"]["o_orderstatus"], filt[1]["range"]["o_totalprice"]["gte"]
        pr = b["query"]["bool"]["must_not"][0]["term"]["o_orderpriority"]
        return q(f"select o_orderkey, o_totalprice from {t('orders')} where o_orderstatus = ? and o_totalprice >= ? "
                 "and o_orderpriority <> ? order by o_totalprice desc, o_orderkey limit 20", st, lo, pr)
    if tpl == "range":
        rg = b["query"]["range"]["l_extendedprice"]
        return q(f"select l_orderkey, l_linenumber, l_extendedprice from {t('lineitem')} where l_extendedprice >= ? "
                 "and l_extendedprice < ? order by l_orderkey, l_linenumber limit 10", rg["gte"], rg["lt"])
    if tpl == "wildcard":
        pat = b["query"]["wildcard"]["c_name"].replace("*", "%")
        return q(f"select c_custkey, c_name from {t('customer')} where c_name like ? order by c_custkey limit 10", pat)
    if tpl in ("count", "date_histogram_sum"):
        et, lo = filt[0]["term"]["event_type"], filt[1]["range"]["value"]["gte"]
        if tpl == "count":
            return q(f"select count(*) as count from {t('events')} where event_type = ? and value >= ?", et, lo)
        rows = q(f"select strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') bucket, count(*) doc_count, "
                 f"sum(value) total from {t('events')} where event_type = ? and value >= ? group by 1 order by 1", et, lo)
        return rows
    if tpl == "terms":
        lo = b["query"]["range"]["o_totalprice"]["gte"]
        return q(f"select o_orderpriority as key, count(*) doc_count from {t('orders')} where o_totalprice >= ? "
                 "group by 1 order by 2 desc, 1 limit 5", lo)
    if tpl == "stats":
        fl, lo = filt[0]["term"]["l_returnflag"], filt[1]["range"]["l_quantity"]["gte"]
        return q(f"select count(l_extendedprice) cnt, min(l_extendedprice) min_v, max(l_extendedprice) max_v, "
                 f"avg(l_extendedprice) avg_v, sum(l_extendedprice::decimal(18,2))::double sum_v from {t('lineitem')} "
                 "where l_returnflag = ? and l_quantity >= ?", fl, lo)
    if tpl == "cardinality":
        lo = b["query"]["range"]["value"]["gte"]
        return q(f"select count(distinct user_id) users from {t('events')} where value >= ?", lo)
    if tpl == "percentiles":
        st, lo = filt[0]["term"]["o_orderstatus"], filt[1]["range"]["o_totalprice"]["gte"]
        return q(f"select quantile_cont(o_totalprice, 0.5) p50, quantile_cont(o_totalprice, 0.95) p95, "
                 f"quantile_cont(o_totalprice, 0.99) p99 from {t('orders')} where o_orderstatus = ? and o_totalprice >= ?",
                 st, lo)
    if tpl == "top_n":
        lo = b["query"]["range"]["l_quantity"]["gte"]
        return q(f"select l_orderkey, l_linenumber, l_extendedprice from {t('lineitem')} where l_quantity >= ? "
                 "order by l_extendedprice desc, l_orderkey, l_linenumber limit 10", lo)
    raise ValueError(f"no reference for template {tpl}")


def check_search(work, raw):
    attempted, failed = _counts(raw)
    with open(os.path.join(work, "requests.jsonl")) as f:
        requests = {r["id"]: r for r in map(json.loads, f)}
    con = duckdb.connect()
    tables = os.path.join(work, "tables")
    bad = []
    responses = raw["extra"]["responses"]
    for rid, rows in responses.items():
        req = requests[int(rid)]
        got = [json.loads(x) for x in rows]
        want = _reference(con, tables, req)
        if req["template"] in ("percentiles",):
            want = [{k: round(v, 6) for k, v in r.items()} for r in want]
        if not _rows_equal(got, want):
            bad.append(f"request {rid} ({req['template']}): got {got[:3]} want {want[:3]}")
    notes = [f"search: {len(responses)} distinct responses checked against DuckDB, {len(bad)} differ"] + bad[:5]
    errors = [o["error"] for o in raw["ops"] if not o["ok"]][:3]
    return {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed, "notes": notes + errors}


# --------------------------------------------------------------------- cdc

def _envelopes(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _fold_by_ts(state, envelopes):
    """Fold one landed file into `state` ({key: (ts_ms, doc or None)}) by
    the engine's rule (`CdcStream.applyChanges`): a key's envelopes are
    taken in `ts_ms` order, and one applies only if its `ts_ms` is above
    the key's last applied one. The generated files are in `ts_ms` order,
    so file order is that order, and of several envelopes of a key in one
    millisecond the first wins."""
    for e in envelopes:
        key = (e["after"] or e["before"])["id"]
        if key not in state or state[key][0] < e["ts_ms"]:
            state[key] = (e["ts_ms"], None if e["op"] == "d" else e["after"])


def check_cdc(work, raw):
    attempted, failed = _counts(raw)
    extra = raw["extra"]
    cycles = extra["warmup"] + raw["ops"]
    with open(os.path.join(work, "plan.json")) as f:
        files = [c["file"] for c in json.load(f)["cycles"]]
    with open(os.path.join(work, "truth", "snapshot.json")) as f:
        by_lsn = dict(json.load(f)["upserts"])
    by_ts = {}
    _fold_by_ts(by_ts, _envelopes(os.path.join(work, "snapshot.jsonl")))

    def live_by_ts():
        return {k: doc for k, (_, doc) in by_ts.items() if doc is not None}

    def unexplained(keys, got, lsn, ts):
        """Keys whose value in `got` is neither the lsn fold's nor, where
        the folds differ, the engine rule's."""
        return sorted(k for k in keys if got(k) != lsn(k) and (lsn(k) == ts(k) or got(k) != ts(k)))

    readback_bad = []
    for op in sorted(cycles, key=lambda o: o["cycle"]):
        with open(os.path.join(work, "truth", f"cycle-{op['cycle']:04d}.json")) as f:
            truth = json.load(f)
        by_lsn.update(truth["upserts"])
        for k in truth["deletes"]:
            by_lsn.pop(k, None)
        batch = _envelopes(os.path.join(work, files[op["cycle"]]))
        _fold_by_ts(by_ts, batch)
        if op["ok"]:
            # The readback returns the batch's keys that are live after it.
            ids, ts_live = set(op["ids"]), live_by_ts()
            touched = {(e["after"] or e["before"])["id"] for e in batch}
            bad = unexplained(touched | ids, lambda k: k in ids, lambda k: k in touched and k in by_lsn,
                              lambda k: k in touched and k in ts_live)
            if bad:
                readback_bad.append(f"cycle {op['cycle']}: readback differs on {bad[:5]}")
    if extra["cycles_run"] != len(cycles):
        readback_bad.append(f"{extra['cycles_run']} cycles ran but {len(cycles)} were recorded")
    index = {}
    for path in glob.glob(os.path.join(work, extra["index_dir"], "*.json")):
        with open(path) as f:
            doc = json.loads(f.read())
        index[doc["_id"]] = json.loads(doc["payload"])
    ts_live = live_by_ts()
    keys = set(by_lsn) | set(index) | set(ts_live)
    wrong = [k for k in keys if index.get(k) != by_lsn.get(k)]
    bad = unexplained(keys, index.get, by_lsn.get, ts_live.get)
    notes = [f"cdc: {len(by_lsn)} live documents in the lsn fold, {len(index)} in the index, {len(wrong)} differ "
             f"({len(wrong) - len(bad)} as the engine's same-millisecond rule predicts, the known ts_ms-ordering defect)"]
    if bad:
        notes.append(f"cdc: documents wrong for another reason: {bad[:5]}")
    warm_failed = sum(not o["ok"] for o in extra["warmup"])
    errors = [o["error"] for o in cycles if not o["ok"]][:3]
    return {"correct": not bad and not readback_bad and failed == 0 and warm_failed == 0,
            "attempted": attempted, "failed": failed, "wrong_docs": len(wrong) - len(bad),
            "notes": notes + readback_bad[:5] + errors}


# ------------------------------------------------------------------ corpus

def _shingles(text, n=3):
    toks = text.lower().split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b) if a | b else 0.0


def check_corpus(work, raw):
    attempted, failed = _counts(raw)
    out = raw["extra"]["outputs"]
    with open(os.path.join(work, "truth.json")) as f:
        truth = json.load(f)
    texts = dict(duckdb.sql(f"select doc_id, text from read_parquet('{work}/tables/documents.parquet')").fetchall())
    notes, ok = [], failed == 0 and bool(out)
    if not out:
        return {"correct": False, "attempted": attempted, "failed": failed, "notes": ["corpus: no completed pass"]}

    exact = sorted([int(r[1]), int(r[2])] for r in out["exact"])
    if exact != truth["exact_groups"]:
        ok = False
        notes.append(f"corpus: exact groups differ from the planted clusters ({len(exact)} vs {len(truth['exact_groups'])})")
    langs = {r[0]: int(r[1]) for r in out["quality"]}
    if langs != truth["langs"]:
        ok = False
        notes.append(f"corpus: language counts {langs} != generated {truth['langs']}")

    planted = {tuple(p) for p in truth["near_pairs"]}
    sims = {}

    def sim(a, b):
        if (a, b) not in sims:
            sims[(a, b)] = _jaccard(_shingles(texts[a]), _shingles(texts[b]))
        return sims[(a, b)]

    # n-gram Jaccard is exact: every planted pair at or above its threshold.
    # MinHash LSH finds a pair of similarity J with probability
    # 1 - (1 - J^rows)^bands; its floor is that expectation over the planted
    # pairs less four binomial standard deviations.
    p_lsh = [1 - (1 - sim(*p) ** MINHASH_ROWS) ** MINHASH_BANDS if sim(*p) >= MINHASH_THRESHOLD else 0.0
             for p in sorted(planted)]
    expected = sum(p_lsh)
    sd = math.sqrt(sum(p * (1 - p) for p in p_lsh))
    floors = {"minhash_lsh": (max(0.0, expected - 4 * sd) / len(planted), MINHASH_THRESHOLD),
              "ngram_jaccard": (sum(sim(*p) >= NGRAM_THRESHOLD for p in planted) / len(planted), NGRAM_THRESHOLD)}
    for name, (floor, threshold) in floors.items():
        pairs = {(int(r[0]), int(r[1])) for r in out[name]}
        recall = len(pairs & planted) / len(planted)
        false = [p for p in pairs if sim(*p) < threshold - 1e-9]
        notes.append(f"corpus: {name} found {len(pairs)} pairs, recall {recall:.4f} of {len(planted)} planted "
                     f"pairs (floor {floor:.4f})")
        if recall < floor - 1e-9 or false:
            ok = False
            notes.append(f"corpus: {name} below its recall floor or reported dissimilar pairs {false[:3]}")
    simhash = {(int(r[0]), int(r[1])) for r in out["simhash"]}
    notes.append(f"corpus: simhash found {len(simhash)} pairs, recall {len(simhash & planted) / len(planted):.4f}")

    # PQ top-k: the reported scores are exact cosines in descending order;
    # recall against brute force is reported.
    with open(os.path.join(work, "plan.json")) as f:
        queries = json.load(f)["queries"]
    emb = dict(duckdb.sql(f"select vec_id, embedding from read_parquet('{work}/tables/embeddings.parquet')").fetchall())
    cos = lambda a, b: sum(x * y for x, y in zip(a, b)) / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))
    recalls = []
    for qi, q in enumerate(queries):
        got = [(int(r[1]), float(r[2])) for r in out["pq_topk"] if int(r[0]) == qi]
        exact = sorted(emb, key=lambda v: (-cos(q, emb[v]), v))[:10]
        recalls.append(len({v for v, _ in got} & set(exact)) / 10)
        scores = [c for _, c in got]
        wrong = [(v, c) for v, c in got if abs(cos(q, emb[v]) - c) > 1e-5]
        if len(got) != 10 or wrong or scores != sorted(scores, reverse=True):
            ok = False
            notes.append(f"corpus: PQ query {qi} returned {len(got)} hits, inexact or unordered scores {wrong[:2]}")
    notes.append(f"corpus: PQ recall@10 against brute force {statistics.mean(recalls):.2f}")
    cells = {int(r[0]): int(r[1]) for r in out["cluster_topics"]}
    if sum(cells.values()) != len(emb):
        ok = False
        notes.append(f"corpus: cluster sizes sum to {sum(cells.values())}, not {len(emb)}")
    errors = [o["error"] for o in raw["ops"] if not o["ok"]][:3]
    return {"correct": ok, "attempted": attempted, "failed": failed, "notes": notes + errors}


def check(workload, work, raw):
    verdict = {"search_dashboard": check_search, "cdc_ingest": check_cdc, "corpus_prep": check_corpus}[workload](work, raw)
    if raw["ops"] == []:
        verdict["correct"] = False
    return verdict
