"""Seeded input generators for the three benchmark workloads.

Each generator writes everything the engine receives (parquet tables, a
request list, Debezium envelope files) plus the ground truth the checks
compare against, and returns the plan the JVM driver reads. The same seed
gives byte-identical inputs.
"""

import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes; NOTES.md and the workload lines of BENCHMARK.json quote them.
SEARCH = dict(orders=150_000, lineitem=600_000, events=100_000, customer=15_000, requests=4000,
              warmup_rotations=1)
CDC = dict(snapshot_keys=100, envelopes_per_cycle=800, warmup_cycles=6, max_cycles_per_s=4,
           events_per_ms=8, zipf_s=1.1, index="accounts")
CORPUS = dict(docs=3000, vecs=1500, dim=64, exact_clusters=115, near_clusters=115,
              topics=16, queries=2, setup_docs=1000)
SETUP_REPS = 3


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng, lo, hi, n):
    """2-decimal amounts, so sums are exact at the engine's decimal scale."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


# ---------------------------------------------------------------- search

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
FLAGS = ["A", "N", "R"]


def search_tables(tables, seed):
    rng = np.random.default_rng(seed)
    n = SEARCH
    epoch = np.datetime64("1992-01-01")
    days = 2400
    orders = pa.table({
        "o_orderkey": np.arange(1, n["orders"] + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n["customer"] + 1, n["orders"]).astype(np.int64),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.choice(3, n["orders"], p=[.49, .49, .02])]),
        "o_totalprice": _money(rng, 900, 500_000, n["orders"]),
        "o_orderdate": pa.array(epoch + rng.integers(0, days, n["orders"]).astype("timedelta64[D]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n["orders"])]),
    })
    lineitem = pa.table({
        # Four lines per order, so (l_orderkey, l_linenumber) is unique and
        # every sort in the request templates is a total order.
        "l_orderkey": (np.arange(n["lineitem"]) // 4 + 1).astype(np.int64),
        "l_partkey": rng.integers(1, 20_000, n["lineitem"]).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_000, n["lineitem"]).astype(np.int64),
        "l_linenumber": (np.arange(n["lineitem"]) % 4 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100_000, n["lineitem"]),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, n["lineitem"])]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n["lineitem"])]),
        "l_shipdate": pa.array(epoch + rng.integers(0, days, n["lineitem"]).astype("timedelta64[D]")),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    events = pa.table({
        "event_id": np.arange(1, n["events"] + 1, dtype=np.int64),
        "ts": pa.array(ts0 + rng.integers(0, 60 * 86_400_000_000, n["events"]).astype("timedelta64[us]")),
        "user_id": rng.integers(1, 5001, n["events"]).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n["events"])]),
        "value": _money(rng, 0, 1000, n["events"]),
        "props": pa.array([f'{{"v":{i % 7}}}' for i in range(n["events"])]),
    })
    customer = pa.table({
        "c_custkey": np.arange(1, n["customer"] + 1, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n["customer"] + 1)]),
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])]),
    })
    for name, t in [("orders", orders), ("lineitem", lineitem), ("events", events), ("customer", customer)]:
        _write(os.path.join(tables, f"{name}.parquet"), t)


class Strata:
    """Stratified parameter draws. Each named parameter walks a golden-ratio
    sequence from a seeded offset, so the first few draws of every seed
    already cover the parameter's range evenly: the seed changes the
    literals, not the mix of cheap and expensive requests."""

    def __init__(self, seed):
        self.r = random.Random(seed)
        self.state = {}

    def u(self, key):
        if key not in self.state:
            self.state[key] = self.r.random()
        self.state[key] = (self.state[key] + 0.6180339887498949) % 1.0
        return self.state[key]

    def uniform(self, key, lo, hi):
        return round(lo + (hi - lo) * self.u(key), 2)

    def choice(self, key, options):
        return options[int(self.u(key) * len(options))]


def _templates(s):
    """(template, api, index, body maker) for the twelve request shapes."""
    d = json.dumps

    def msearch():
        lines = [{"index": "orders"}, {"query": {"term": {"o_orderstatus": s.choice("ms.status", STATUSES)}}},
                 {"index": "customer"}, {"query": {"range": {"c_acctbal": {"gte": s.uniform("ms.bal", -900, 9_900)}}}},
                 {"index": "orders"}, {"query": {"range": {"o_totalprice": {"gte": s.uniform("ms.price", 1_000, 490_000)}}}}]
        return "\n".join(d(x) for x in lines) + "\n"

    def ranged():
        lo = s.uniform("range.lo", 900, 99_000)
        return {"gte": lo, "lt": round(lo + s.uniform("range.width", 10, 400), 2)}

    return [
        ("match", "search", "customer", lambda: d({
            "query": {"bool": {"must": [{"match": {"c_mktsegment": s.choice("match.seg", SEGMENTS)}}],
                               "filter": [{"range": {"c_acctbal": {"gte": s.uniform("match.bal", -900, 9_900)}}}]}},
            "size": 10, "sort": [{"c_acctbal": "desc"}, {"c_custkey": "asc"}],
            "_source": ["c_custkey", "c_acctbal"]})),
        ("bool_term", "search", "orders", lambda: d({
            "query": {"bool": {"filter": [{"term": {"o_orderstatus": s.choice("bool.status", STATUSES)}},
                                          {"range": {"o_totalprice": {"gte": s.uniform("bool.price", 1_000, 490_000)}}}],
                               "must_not": [{"term": {"o_orderpriority": s.choice("bool.prio", PRIORITIES)}}]}},
            "size": 20, "sort": [{"o_totalprice": "desc"}, {"o_orderkey": "asc"}],
            "_source": ["o_orderkey", "o_totalprice"]})),
        ("range", "search", "lineitem", lambda: d({
            "query": {"range": {"l_extendedprice": ranged()}},
            "size": 10, "sort": [{"l_orderkey": "asc"}, {"l_linenumber": "asc"}],
            "_source": ["l_orderkey", "l_linenumber", "l_extendedprice"]})),
        ("wildcard", "search", "customer", lambda: d({
            "query": {"wildcard": {"c_name": f"Customer#0000{int(s.u('wild.prefix') * 150):03d}*"}},
            "size": 10, "sort": [{"c_custkey": "asc"}], "_source": ["c_custkey", "c_name"]})),
        ("count", "count", "events", lambda: d({
            "query": {"bool": {"filter": [{"term": {"event_type": s.choice("count.type", EVENT_TYPES)}},
                                          {"range": {"value": {"gte": s.uniform("count.value", 0, 990)}}}]}}})),
        ("terms", "search", "orders", lambda: d({
            "size": 0, "query": {"range": {"o_totalprice": {"gte": s.uniform("terms.price", 1_000, 490_000)}}},
            "aggs": {"by_priority": {"terms": {"field": "o_orderpriority", "size": 5}}}})),
        ("date_histogram_sum", "search", "events", lambda: d({
            "size": 0,
            "query": {"bool": {"filter": [{"term": {"event_type": s.choice("hist.type", EVENT_TYPES)}},
                                          {"range": {"value": {"gte": s.uniform("hist.value", 0, 990)}}}]}},
            "aggs": {"per_day": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                                 "aggs": {"total": {"sum": {"field": "value"}}}}}})),
        ("stats", "search", "lineitem", lambda: d({
            "size": 0,
            "query": {"bool": {"filter": [{"term": {"l_returnflag": s.choice("stats.flag", FLAGS)}},
                                          {"range": {"l_quantity": {"gte": 1 + int(s.u("stats.qty") * 50)}}}]}},
            "aggs": {"price": {"stats": {"field": "l_extendedprice"}}}})),
        ("cardinality", "search", "events", lambda: d({
            "size": 0, "query": {"range": {"value": {"gte": s.uniform("card.value", 0, 990)}}},
            "aggs": {"users": {"cardinality": {"field": "user_id"}}}})),
        ("percentiles", "search", "orders", lambda: d({
            "size": 0,
            "query": {"bool": {"filter": [{"term": {"o_orderstatus": s.choice("pct.status", STATUSES[:2])}},
                                          {"range": {"o_totalprice": {"gte": s.uniform("pct.price", 1_000, 490_000)}}}]}},
            "aggs": {"price": {"percentiles": {"field": "o_totalprice", "percents": [50, 95, 99]}}}})),
        ("top_n", "search", "lineitem", lambda: d({
            "query": {"range": {"l_quantity": {"gte": 1 + int(s.u("top.qty") * 50)}}},
            "size": 10, "sort": [{"l_extendedprice": "desc"}, {"l_orderkey": "asc"}, {"l_linenumber": "asc"}],
            "_source": ["l_orderkey", "l_linenumber", "l_extendedprice"]})),
        ("msearch", "msearch", "orders", msearch),
    ]


def search(work, seed, seconds):
    """Tables, then a request list cycling through the templates in a fixed
    order. Every second request of a template repeats one of its earlier
    bodies (the stated repeat rate, 50%); the others carry fresh literals,
    which Spark compiles into new generated classes."""
    tables = os.path.join(work, "tables")
    search_tables(tables, seed)
    r = random.Random(seed)
    templates = _templates(Strata(seed))
    seen = {name: [] for name, *_ in templates}
    with open(os.path.join(work, "requests.jsonl"), "w") as f:
        for i in range(SEARCH["requests"]):
            name, api, index, make = templates[i % len(templates)]
            if (i // len(templates)) % 2 == 1:
                body = r.choice(seen[name])
            else:
                body = make()
                seen[name].append(body)
            f.write(json.dumps({"id": i, "template": name, "api": api, "index": index, "body": body}) + "\n")
    # One rotation for the set-ups, then SEARCH["warmup_rotations"] more run
    # once before the window; each with literals of its own.
    with open(os.path.join(work, "warmup.jsonl"), "w") as f:
        for w in range(1 + SEARCH["warmup_rotations"]):
            for i, (name, api, index, make) in enumerate(_templates(Strata(seed + 1_000_003 * (w + 1)))):
                rid = -1 - w * len(templates) - i
                f.write(json.dumps({"id": rid, "template": name, "api": api, "index": index, "body": make()}) + "\n")
    return {"tables": "tables", "requests": "requests.jsonl", "warmup": "warmup.jsonl",
            "rotation": len(templates), "setup_reps": SETUP_REPS}


# ------------------------------------------------------------------- cdc

def _account(r, key, rev):
    return {"id": key, "owner": f"owner-{r.randint(0, 99999):05d}", "status": r.choice(["ACTIVE", "PENDING", "CLOSED"]),
            "balance": f"{r.randint(0, 10_000_000) / 100:.2f}", "rev": str(rev)}


def cdc(work, seed, seconds):
    """Snapshot of live keys, then cycles of c/u/d envelopes (10% creates,
    10% deletes, 80% updates).

    Keys for updates are Zipf-skewed over the live set, deletes uniform;
    creates and deletes balance, so the live set stays near its snapshot
    size. `source.lsn` strictly increases; `ts_ms` advances one millisecond
    every `events_per_ms` envelopes, so two envelopes of a hot key share a
    millisecond at the rate this traffic produces them. The truth for each
    cycle is its fold by lsn: the documents it leaves live and those it
    deletes. There are enough cycles for the warm-up and a window of
    `seconds` at `max_cycles_per_s`; the same seed writes the same cycles
    whatever their number.
    """
    c = CDC
    r = random.Random(seed)
    os.makedirs(os.path.join(work, "cycles"), exist_ok=True)
    os.makedirs(os.path.join(work, "truth"), exist_ok=True)
    lsn = 1_000
    ts = 1_700_000_000_000
    emitted = 0
    live, rev, next_key = [], {}, 0

    def envelope(op, key, before, after):
        nonlocal lsn, ts, emitted
        lsn += r.randint(1, 40)
        emitted += 1
        if emitted % c["events_per_ms"] == 0:
            ts += 1
        return {"before": before, "after": after, "op": op, "ts_ms": ts,
                "source": {"table": c["index"], "lsn": lsn, "db": "bench"}}

    docs = {}
    with open(os.path.join(work, "snapshot.jsonl"), "w") as f:
        for _ in range(c["snapshot_keys"]):
            key = f"acct-{next_key:07d}"
            next_key += 1
            rev[key] = 0
            docs[key] = _account(r, key, 0)
            live.append(key)
            f.write(json.dumps(envelope("r", key, None, docs[key])) + "\n")
    with open(os.path.join(work, "truth", "snapshot.json"), "w") as f:
        json.dump({"upserts": docs, "deletes": []}, f)

    # Zipf(s) over ranks of the live list (rank 0 hottest), by inverting
    # the continuous power-law CDF.
    def zipf_rank():
        n, e = len(live), 1.0 - c["zipf_s"]
        x = ((n ** e - 1.0) * r.random() + 1.0) ** (1.0 / e)
        return min(int(x) - 1, n - 1)

    cycles = []
    for ci in range(c["warmup_cycles"] + math.ceil(seconds * c["max_cycles_per_s"])):
        first_ts = ts + 1
        ts += 1
        upserts, deletes = {}, set()
        lines = []
        for _ in range(c["envelopes_per_cycle"]):
            # Creates and deletes are equally likely at the snapshot size;
            # the create share leans against drift so the live set, and so
            # the readback's work, stays near that size.
            x = r.random()
            if x < 0.1 * c["snapshot_keys"] / len(live):
                key = f"acct-{next_key:07d}"
                next_key += 1
                rev[key] = 0
                doc = _account(r, key, 0)
                env = envelope("c", key, None, doc)
                live.append(key)
                docs[key] = doc
                upserts[key] = doc
                deletes.discard(key)
            elif x < 0.2:
                key = live.pop(r.randrange(len(live)))
                env = envelope("d", key, docs.pop(key), None)
                upserts.pop(key, None)
                deletes.add(key)
            else:
                key = live[zipf_rank()]
                rev[key] += 1
                doc = _account(r, key, rev[key])
                env = envelope("u", key, docs[key], doc)
                docs[key] = doc
                upserts[key] = doc
            lines.append(json.dumps(env))
        name = f"cycles/cycle-{ci:04d}.jsonl"
        with open(os.path.join(work, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        with open(os.path.join(work, "truth", f"cycle-{ci:04d}.json"), "w") as f:
            json.dump({"upserts": upserts, "deletes": sorted(deletes)}, f)
        cycles.append({"file": name, "envelopes": len(lines), "first_ts": first_ts})
        ts += 1
    return {"index": c["index"], "snapshot": "snapshot.jsonl", "cycles": cycles,
            "setup_reps": SETUP_REPS, "warmup_cycles": c["warmup_cycles"]}


# ---------------------------------------------------------------- corpus

LANG_MARKERS = {
    "en": ["the", "a", "of", "and"],
    "fr": ["le", "la", "et", "les"],
    "de": ["der", "die", "und", "das"],
    "es": ["el", "los", "que", "y"],
}


def corpus(work, seed, seconds):
    """Documents of 40-80 tokens in four marker-word languages, with planted
    exact-duplicate clusters (verbatim copies) and near-duplicate clusters
    (copies with one or two tokens replaced), plus clustered embeddings for
    the first `vecs` documents.
    """
    c = CORPUS
    r = random.Random(seed)
    rng = np.random.default_rng(seed)
    vocab = [f"w{i:05d}" for i in range(30_000)]
    langs = list(LANG_MARKERS)

    def fresh():
        lang = r.choice(langs)
        n = r.randint(40, 80)
        toks = [r.choice(LANG_MARKERS[lang]) if r.random() < 0.15 else r.choice(vocab) for _ in range(n)]
        toks[0] = LANG_MARKERS[lang][0]
        return lang, toks

    n_docs = c["docs"]
    texts, lang_of = [None] * n_docs, [None] * n_docs
    # Planted clusters sit at seeded random positions among fresh documents.
    slots = list(range(n_docs))
    r.shuffle(slots)
    exact_truth, near_pairs = [], []
    pos = 0
    for _ in range(c["exact_clusters"]):
        lang, toks = fresh()
        size = r.randint(2, 4)
        ids = sorted(slots[pos:pos + size])
        pos += size
        for i in ids:
            texts[i], lang_of[i] = " ".join(toks), lang
        exact_truth.append([size, ids[0]])
    for _ in range(c["near_clusters"]):
        lang, toks = fresh()
        size = r.randint(2, 3)
        ids = slots[pos:pos + size]
        pos += size
        members = [" ".join(toks)]
        while len(members) < size:
            # One or two tokens replaced; a copy equal to another member
            # would be an exact duplicate, so it is drawn again.
            t = list(toks)
            for _ in range(r.randint(1, 2)):
                t[r.randrange(1, len(t))] = r.choice(vocab)
            if " ".join(t) not in members:
                members.append(" ".join(t))
        for i, text in zip(ids, members):
            texts[i], lang_of[i] = text, lang
        ids = sorted(ids)
        near_pairs += [[a, b] for k, a in enumerate(ids) for b in ids[k + 1:]]
    for i in range(n_docs):
        if texts[i] is None:
            lang, toks = fresh()
            texts[i], lang_of[i] = " ".join(toks), lang
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(lang_of),
        "source": pa.array(["gen"] * n_docs),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    centers = rng.normal(size=(c["topics"], c["dim"]))
    label = rng.integers(0, c["topics"], c["vecs"])
    vecs = (centers[label] + 0.3 * rng.normal(size=(c["vecs"], c["dim"]))).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(c["vecs"], dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    tables = os.path.join(work, "tables")
    _write(os.path.join(tables, "documents.parquet"), docs)
    _write(os.path.join(tables, "embeddings.parquet"), emb)
    queries = [[float(x) for x in vecs[int(i)]] for i in rng.integers(0, c["vecs"], c["queries"])]
    with open(os.path.join(work, "truth.json"), "w") as f:
        json.dump({"exact_groups": sorted(exact_truth), "near_pairs": sorted(near_pairs),
                   "langs": {l: lang_of.count(l) for l in langs}}, f)
    return {"tables": "tables", "docs": n_docs, "queries": queries, "topics": c["topics"],
            "setup_docs": c["setup_docs"], "setup_reps": SETUP_REPS, "warmup_passes": 2}


GENERATORS = {"search_dashboard": search, "cdc_ingest": cdc, "corpus_prep": corpus}


def generate(workload, work, seed, seconds):
    os.makedirs(work, exist_ok=True)
    plan = GENERATORS[workload](work, seed, seconds)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
