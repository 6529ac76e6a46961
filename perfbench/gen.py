"""Seeded input generators for the graft benchmark.

Every input a workload reads is made here from one integer seed: the fact
tables the semantic layer queries, the dbt manifest revisions it deploys,
the Zipf-skewed query schedule, and the document corpus the curation
funnel runs over. The same seed gives byte-identical files
(test_gen.py checks this); the program under test sees only the files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROJECT = "bench_project"

# Table sizes (rows). sf0.01-shaped: small enough that a compiled metric
# query is dominated by planning and scheduling, the regime the
# semantic_layer workload is about.
TABLE_ROWS = {"lineitem": 60_000, "orders": 15_000, "events": 10_000}

DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01T00:00:00Z

# base table -> (timestamp column, numeric measures, any-typed measures,
#                dimensions, filter candidates)
BASES = {
    "lineitem": ("l_shipdate",
                 ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
                 ["l_orderkey", "l_partkey", "l_suppkey"],
                 ["l_returnflag", "l_linestatus"],
                 [("l_returnflag", "=", "'R'"), ("l_returnflag", "!=", "'A'"),
                  ("l_linestatus", "=", "'F'"), ("l_quantity", ">", "10"),
                  ("l_quantity", "<=", "40"), ("l_discount", ">=", "0.05")]),
    "orders": ("o_orderdate",
               ["o_totalprice"],
               ["o_orderkey", "o_custkey"],
               ["o_orderstatus", "o_orderpriority"],
               [("o_orderstatus", "=", "'F'"), ("o_orderstatus", "<>", "'P'"),
                ("o_orderpriority", "=", "'1-URGENT'"),
                ("o_totalprice", ">", "1000.5")]),
    "events": ("ts",
               ["value"],
               ["user_id", "event_id"],
               ["event_type"],
               [("event_type", "=", "'click'"), ("event_type", "!=", "'view'"),
                ("value", ">", "0.25"), ("value", "<", "0.9")]),
}
BASE_WEIGHTS = [0.5, 0.3, 0.2]

CALC_METHODS = ["count", "count_distinct", "sum", "average", "min", "max",
                "median", "median_approx", "count_distinct_approx"]
NUMERIC_ONLY = {"sum", "average", "min", "max", "median", "median_approx"}
# re-aggregatable calculations: the ones a ratio/derived constituent uses
FUSABLE = ["count", "sum", "average", "min", "max"]
GRAINS = ["day", "week", "month", "quarter", "year"]
CATEGORIES = ["Finance", "Finance/Revenue", "Finance/Revenue/Gross",
              "Finance/Cost", "Ops", "Ops/Shipping", "Ops/Shipping/Returns",
              "Customer", "Customer/Engagement", "Customer/Engagement/Web",
              "Product", "Product/Catalog/Parts"]

MANIFEST_METRICS = 2_000
REVISIONS = 4
MALFORMED_SHARE = 0.01
CHANGE_SHARE, ADD_SHARE, REMOVE_SHARE = 0.05, 0.03, 0.03
SCHEDULE_OPS = 2_000
# the (query kind, grain) slots between two deploys: a fixed mix in a fixed
# order, so that a run under any seed does the same kinds of work in its
# window; which metric a slot asks for is Zipf-skewed among the metrics that
# have its kind and grain ("multi" asks for all of the metric's grains, and
# takes metrics that have MULTI_GRAINS of them)
QUERY_MIX = [("simple", "day"), ("multi", None), ("simple", "week"), ("total", None),
             ("simple", "month"), ("cumulative", "month"), ("simple", "quarter"),
             ("ratio", "quarter"), ("simple", "year"), ("derived", "week")]
MULTI_GRAINS = 2
ZIPF_S = 1.1
SAMPLE_EVERY = 9  # every 9th query (seeded offset) is checked against DuckDB

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
# corpus shares (of all docs): exact copies, near copies (a few token
# edits), docs carrying one shared boilerplate span
CORPUS = {"docs": 500, "exact_share": 0.06, "near_share": 0.08,
          "boiler_share": 0.10, "boiler_spans": 6, "boiler_len": 24,
          "min_tokens": 8, "max_tokens": 100}


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tables(seed, out_dir):
    """lineitem / orders / events parquet files, TPC-H shaped."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    n = TABLE_ROWS["lineitem"]
    qty = r.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * r.uniform(900.0, 2000.0, n), 2)
    li = pa.table({
        "l_orderkey": pa.array(r.integers(1, TABLE_ROWS["orders"] * 4, n), pa.int64()),
        "l_partkey": pa.array(r.integers(1, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(1, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(r.choice(["O", "F"], n)),
        "l_shipdate": pa.array(EPOCH_1992_US + r.integers(0, 2_400, n) * DAY_US,
                               pa.timestamp("us")),
    })
    _write(li, os.path.join(out_dir, "lineitem.parquet"))
    n = TABLE_ROWS["orders"]
    od = pa.table({
        "o_orderkey": pa.array(np.arange(1, n + 1) * 4, pa.int64()),
        "o_custkey": pa.array(r.integers(1, 1_500, n), pa.int64()),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(r.uniform(850.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array(EPOCH_1992_US + r.integers(0, 2_400, n) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })
    _write(od, os.path.join(out_dir, "orders.parquet"))
    n = TABLE_ROWS["events"]
    ev = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EPOCH_1992_US + r.integers(0, 2_400 * 86_400, n) * 1_000_000,
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(1, 800, n), pa.int64()),
        "event_type": pa.array(r.choice(["view", "click", "purchase", "signup"], n)),
        "value": pa.array(np.round(r.uniform(0.0, 1.0, n), 4)),
        "props": pa.array([f"{{\"k\":{int(k)}}}" for k in r.integers(0, 50, n)]),
    })
    _write(ev, os.path.join(out_dir, "events.parquet"))
    return {t: TABLE_ROWS[t] for t in TABLE_ROWS}


# ---------------------------------------------------------------- manifest

def _simple_metric(r, name, base, calc=None, shape=None):
    ts, nums, anys, dims, filts = BASES[base]
    calc = calc or CALC_METHODS[int(r.integers(len(CALC_METHODS)))]
    pool = nums if calc in NUMERIC_ONLY else nums + anys
    expr = pool[int(r.integers(len(pool)))]
    if shape is None:
        k = int(r.integers(0, min(2, len(dims)) + 1))
        dsel = sorted(r.choice(dims, k, replace=False).tolist()) if k else []
        grains = sorted(r.choice(GRAINS, int(r.integers(1, 4)), replace=False).tolist(),
                        key=GRAINS.index)
    else:
        dsel, grains = shape
    nf = int(r.integers(0, 3))
    fsel = [filts[i] for i in sorted(r.choice(len(filts), nf, replace=False).tolist())]
    return {"type": "simple", "name": name, "base": base, "calc": calc,
            "expression": expr, "timestamp": ts, "dimensions": dsel,
            "time_grains": grains,
            "filters": [{"field": f, "operator": o, "value": v} for f, o, v in fsel]}


def _category(r):
    if r.random() < 0.05:
        return None
    return CATEGORIES[int(r.integers(len(CATEGORIES)))]


def _metrics_v0(r):
    """Logical metric set of revision 0: name -> spec."""
    specs = {}
    i = 0
    while len(specs) < MANIFEST_METRICS:
        base = ["lineitem", "orders", "events"][int(r.choice(3, p=BASE_WEIGHTS))]
        u = r.random()
        if u < 0.70:
            m = _simple_metric(r, f"m{i:05d}", base)
        elif u < 0.80:
            m = _simple_metric(r, f"m{i:05d}", base, calc=FUSABLE[int(r.integers(5))])
            m["type"] = "cumulative"
            m["trailing"] = int(r.choice([0, 3, 7]))
        else:
            # ratio / derived: two (or three) fusable constituents that
            # share one timestamp/dimension shape, plus the composite
            first = _simple_metric(r, f"m{i:05d}a", base, calc=FUSABLE[int(r.integers(5))])
            shape = (first["dimensions"], first["time_grains"])
            parts = [first] + [
                _simple_metric(r, f"m{i:05d}{c}", base,
                               calc=FUSABLE[int(r.integers(5))], shape=shape)
                for c in ("b", "c")[: 1 + int(u >= 0.90)]]
            for p in parts:
                p["category"], p["label"] = _category(r), ""
                specs[p["name"]] = p
            names = [p["name"] for p in parts]
            if u < 0.90:
                m = dict(first, type="ratio", name=f"m{i:05d}",
                         calc="derived", constituents=names,
                         expression=f"{names[0]} / {names[1]}", filters=[])
            else:
                m = dict(first, type="derived", name=f"m{i:05d}",
                         calc="derived", constituents=names,
                         expression=f"{names[0]} - 2 * {names[1]} + {names[2]}",
                         filters=[])
        m["category"] = _category(r)
        m["label"] = f"Metric {m['name']}" if r.random() < 0.9 else ""
        specs[m["name"]] = m
        i += 1
    return specs


def _revise(r, prev, rev):
    specs = {k: dict(v) for k, v in prev.items()}
    used = {c for m in specs.values() for c in m.get("constituents", [])}
    plain = sorted(k for k, m in specs.items()
                   if m["type"] == "simple" and k not in used)
    n = len(specs)
    rm = r.choice(plain, int(n * REMOVE_SHARE), replace=False).tolist()
    for k in rm:
        del specs[k]
    rest = sorted(k for k in plain if k not in set(rm))
    for k in r.choice(rest, int(n * CHANGE_SHARE), replace=False).tolist():
        old = specs[k]
        new = _simple_metric(r, k, old["base"],
                             shape=(old["dimensions"], old["time_grains"]))
        new["category"], new["label"] = old["category"], f"Metric {k} (rev {rev})"
        specs[k] = new
    for j in range(int(n * ADD_SHARE)):
        base = ["lineitem", "orders", "events"][int(r.choice(3, p=BASE_WEIGHTS))]
        m = _simple_metric(r, f"r{rev}n{j:04d}", base)
        m["category"], m["label"] = _category(r), ""
        specs[m["name"]] = m
    return specs


# malformed metric entries of the deployed manifests: JSON values that are
# not objects. JSON null, which Manifest also documents as malformed, is
# left to the probe manifest (probe.json, see semantic()): graft drops null entries from both
# its metric and its malformed counts, and a deploy that miscounts fails
JUNK = [42, "not an object", [1, 2, 3], 3.5, True]


def _manifest_json(r, specs, junk=JUNK):
    """dbt manifest (v7 shape) for a logical metric set, with ~1%
    malformed metric entries drawn from junk. Returns (json text,
    expected counts)."""
    nodes, sources = {}, {}
    for base in BASES:
        sid = f"source.{PROJECT}.raw.raw_{base}"
        sources[sid] = {"database": "analytics", "schema": "raw",
                        "name": f"raw_{base}", "identifier": f"raw_{base}",
                        "resource_type": "source", "source_name": "raw"}
        nodes[f"model.{PROJECT}.{base}"] = {
            "database": "analytics", "schema": "public", "name": base,
            "alias": base, "resource_type": "model", "package_name": PROJECT,
            "path": f"models/{base}.sql", "depends_on": {"nodes": [sid]}}
    metrics = {}
    for name in sorted(specs):
        m = specs[name]
        deps = [f"model.{PROJECT}.{m['base']}"]
        if "constituents" in m:
            deps += [f"metric.{PROJECT}.{c}" for c in m["constituents"]]
        elif r.random() < 0.2:
            deps.append(f"source.{PROJECT}.raw.raw_{m['base']}")
        meta = {"owner": f"team{int(r.integers(8))}"}
        if m["category"] is not None:
            meta["datahub_glossary_category"] = m["category"]
        if m.get("trailing"):
            meta["window"] = str(m["trailing"])
        metrics[f"metric.{PROJECT}.{name}"] = {
            "name": name, "label": m["label"],
            "description": f"{m['type']} {m['calc']} of {m['expression']}",
            "type": m["type"], "calculation_method": m["calc"],
            "expression": m["expression"], "timestamp": m["timestamp"],
            "time_grains": m["time_grains"], "dimensions": m["dimensions"],
            "filters": m["filters"], "meta": meta,
            "tags": [m["base"], m["type"]], "package_name": PROJECT,
            "path": "models/metrics.yml", "depends_on": {"nodes": deps}}
    n_bad = max(1, int(round(len(specs) * MALFORMED_SHARE)))
    for j in range(n_bad):
        metrics[f"metric.{PROJECT}.broken_{j:03d}"] = junk[int(r.integers(len(junk)))]
    doc = {"metadata": {"dbt_schema_version":
                        "https://schemas.getdbt.com/dbt/manifest/v7.json",
                        "project_name": PROJECT},
           "nodes": nodes, "sources": sources, "metrics": metrics,
           "semantic_models": {}}
    cats = {m["category"] or "Uncategorized" for m in specs.values()}
    expected = {"metrics": len(specs), "malformed": n_bad,
                "records": 1 + len(cats) + len(specs)}
    return json.dumps(doc, indent=1, sort_keys=True), expected


def _zipf_order(r, n):
    """A popularity order over n items and the Zipf CDF over its ranks."""
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return r.permutation(n), np.cumsum(w / w.sum())


def semantic(seed, out_dir):
    """Manifest revisions + query schedule. Writes rev<k>.json,
    probe.json, schedule.tsv and semantic.json (expected counts, specs,
    sizes)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 2)
    revs = [_metrics_v0(r)]
    for k in range(1, REVISIONS):
        revs.append(_revise(r, revs[-1], k))
    expected = []
    for k, specs in enumerate(revs):
        text, exp = _manifest_json(r, specs)
        with open(os.path.join(out_dir, f"rev{k}.json"), "w") as f:
            f.write(text)
        expected.append(exp)
    # one metric and one JSON-null metric entry: ingested once per run
    # after the timed window, to report the null-entry defect
    pr = _rng(seed, 4)
    probe_specs = {"p00000": dict(_simple_metric(pr, "p00000", "orders"),
                                  category=None, label="")}
    probe_text, probe_exp = _manifest_json(pr, probe_specs, junk=[None])
    with open(os.path.join(out_dir, "probe.json"), "w") as f:
        f.write(probe_text)
    # schedule: deploys cycle through the revisions; between deploys,
    # Zipf-skewed queries over the deployed revision's (metric, grain). It
    # opens with a deploy of the last revision, so that the cycle's first
    # deploy, like every later one, changes the deployed manifest
    lines, queries, sample = [f"deploy\t{REVISIONS - 1}"], 0, int(r.integers(SAMPLE_EVERY))
    slots = simple_slots = 0
    deployed = -1
    # per revision: (kind, grain, calc, base, shape) -> metric names, and the
    # Zipf popularity order drawn once per pool, so the same metrics stay
    # popular across the cycles that deploy that revision. The shape is the
    # number of dimensions, with the number of grains for "multi"
    pools = []
    for specs in revs:
        pool = {}
        for k in sorted(specs):
            m = specs[k]
            nd = len(m["dimensions"])
            for gr in [None] + m["time_grains"]:
                for calc in (None, m["calc"]):
                    for base in (None, m["base"]):
                        for shape in (None, nd, (nd, len(m["time_grains"]))):
                            pool.setdefault((m["type"], gr, calc, base, shape), []).append(k)
        pools.append(pool)
    zipfs = [{} for _ in revs]
    while len(lines) < SCHEDULE_OPS:
        deployed = (deployed + 1) % REVISIONS
        lines.append(f"deploy\t{deployed}")
        specs, pool, zipf = revs[deployed], pools[deployed], zipfs[deployed]
        for kind, grain in QUERY_MIX:
            # base tables, calculation methods and dimension counts cost
            # very differently (exact median buffers every value of a
            # group; dimensions multiply the groups), so slots take them in
            # turn, for the same cost mix under every seed
            base = list(BASES)[slots % len(BASES)]
            nd = min((slots // len(BASES)) % 3, len(BASES[base][3]))
            shape = (nd, MULTI_GRAINS) if kind == "multi" else nd
            key = (kind, grain, None, base, shape)
            if kind in ("simple", "total", "multi"):
                key = ("simple", grain, CALC_METHODS[simple_slots % len(CALC_METHODS)],
                       base, shape)
                simple_slots += 1
            slots += 1
            # a revision can lack a metric of that shape, base or method
            for n in (4, 3, 2):
                if key not in pool:
                    key = key[:n] + (None,) * (5 - n)
            if key not in zipf:
                zipf[key] = _zipf_order(r, len(pool[key]))
            order, cdf = zipf[key]
            name = pool[key][int(order[min(int(np.searchsorted(cdf, r.random())), len(cdf) - 1)])]
            m = specs[name]
            grain = grain or "-"
            extra = ""
            if kind == "total":
                kind = "simple"
            if kind in ("ratio", "derived"):
                extra = ",".join(m["constituents"])
            elif kind == "cumulative":
                extra = str(m.get("trailing", 0))
            checked = int(queries % SAMPLE_EVERY == sample)
            lines.append(f"query\t{kind}\t{m['base']}\t{name}\t{grain}\t{extra or '-'}\t{checked}")
            queries += 1
    with open(os.path.join(out_dir, "schedule.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    info = {"expected": expected, "probe": probe_exp, "revisions": [
        {k: revs[i][k] for k in sorted(revs[i])} for i in range(REVISIONS)],
        "sizes": {"tables": dict(TABLE_ROWS),
                  "metrics_per_revision": [len(s) for s in revs],
                  "malformed_per_revision": [e["malformed"] for e in expected],
                  "schedule_ops": len(lines), "deploy_every": len(QUERY_MIX),
                  "zipf_s": ZIPF_S}}
    with open(os.path.join(out_dir, "semantic.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


# ------------------------------------------------------------------ corpus

def corpus(seed, out_path):
    """documents.parquet shaped like the sf corpus, with stated shares of
    exact copies, near copies and shared boilerplate spans."""
    c = CORPUS
    r = _rng(seed, 3)
    n = c["docs"]
    spans = [r.choice(VOCAB, c["boiler_len"]).tolist() for _ in range(c["boiler_spans"])]
    n_exact = int(n * c["exact_share"])
    n_near = int(n * c["near_share"])
    n_orig = n - n_exact - n_near
    texts, kind = [], []
    for _ in range(n_orig):
        toks = r.choice(VOCAB, int(r.integers(c["min_tokens"], c["max_tokens"] + 1))).tolist()
        if r.random() < c["boiler_share"]:
            at = int(r.integers(len(toks) + 1))
            toks[at:at] = spans[int(r.integers(len(spans)))]
            kind.append("boiler")
        else:
            kind.append("orig")
        texts.append(toks)
    for _ in range(n_exact):
        texts.append(list(texts[int(r.integers(n_orig))]))
        kind.append("exact")
    for _ in range(n_near):
        toks = list(texts[int(r.integers(n_orig))])
        for _e in range(int(r.integers(1, 4))):
            toks[int(r.integers(len(toks)))] = VOCAB[int(r.integers(len(VOCAB)))]
        texts.append(toks)
        kind.append("near")
    perm = r.permutation(n)
    texts = [" ".join(texts[i]) for i in perm]
    kind = [kind[i] for i in perm]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{int(s)}" for s in r.integers(0, N_SOURCES, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    _write(table, out_path)
    shares = {k: sum(1 for x in kind if x == k) / n
              for k in ("orig", "boiler", "exact", "near")}
    return {"docs": n, "shares": shares, "sources": N_SOURCES,
            "vocab": len(VOCAB), "bytes": os.path.getsize(out_path)}
