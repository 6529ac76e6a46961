"""Per-run correctness checks, run after the timed window.

semantic_layer: every deploy's metric, record and malformed counts equal
the generator's; every sampled query equals DuckDB SQL built from the
generator's metric definitions of the deployed revision. The probe
manifest's counts are compared too, and a mismatch is reported as a
known defect.
corpus: every call's funnel accounting equals the DuckDB oracle graft
ships for its key (SparkEntry.oracleSql, pipelineV2Sql for both
pipeline_e2e_v2 and stream_pipeline_e2e), and each round's batch and
stream accounting equal each other.
"""
import json
import math
import os

import duckdb

REL_TOL = 1e-6
# approx_count_distinct(rsd = 0.01): Spark's HLL++ has no sparse mode, and
# at counts of a few dozen hash collisions in its registers put estimates
# up to ~6% low (55 distinct values read as 52); 1 is always allowed
HLL_TOL = 0.10


def _con(tables_dir, names):
    con = duckdb.connect()
    for n in names:
        con.sql(f"CREATE VIEW {n} AS SELECT * FROM "
                f"'{os.path.join(tables_dir, n + '.parquet')}'")
    return con


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def _agg(calc, expr, gate=None):
    e = expr if gate is None else f"CASE WHEN {gate} THEN {expr} END"
    return {"count": f"count({e})", "count_distinct": f"count(DISTINCT {e})",
            "count_distinct_approx": f"count(DISTINCT {e})",
            "sum": f"sum({e})", "average": f"avg({e})", "min": f"min({e})",
            "max": f"max({e})", "median": f"median({e})"}[calc]


def _metric_cols(m, gate=None):
    """Select items for one metric's value column. median_approx is
    checked against a rank band, so it yields the band's two ends."""
    if m["calc"] == "median_approx":
        e = m["expression"] if gate is None else f"CASE WHEN {gate} THEN {m['expression']} END"
        return [f"quantile_disc({e}, 0.48) AS {_q(m['name'] + '__lo')}",
                f"quantile_disc({e}, 0.52) AS {_q(m['name'] + '__hi')}"]
    return [f"{_agg(m['calc'], m['expression'], gate)} AS {_q(m['name'])}"]


def _pred(filters):
    return " AND ".join(
        f"{f['field']} {'=' if f['operator'] == '==' else f['operator']} {f['value']}"
        for f in filters)


def _keys(m, grain):
    ks = []
    if grain:
        ks.append(f"CAST(date_trunc('{grain}', {m['timestamp']}) AS DATE) AS period")
    return ks + [_q(d) for d in m["dimensions"]]


def simple_sql(m, grain, label=None):
    sel = ([f"'{label}' AS grain"] if label else []) + _keys(m, grain) + _metric_cols(m)
    where = f" WHERE {_pred(m['filters'])}" if m["filters"] else ""
    return f"SELECT {', '.join(sel)} FROM {m['base']}{where} GROUP BY ALL"


def query_sql(kind, m, grain, extra, revision):
    if kind == "simple":
        return simple_sql(m, grain)
    if kind == "multi":
        return " UNION ALL ".join(simple_sql(m, g, label=g) for g in m["time_grains"])
    if kind == "cumulative":
        n = int(extra)
        frame = f"{n - 1} PRECEDING" if n > 0 else "UNBOUNDED PRECEDING"
        part = (f"PARTITION BY {', '.join(_q(d) for d in m['dimensions'])} "
                if m["dimensions"] else "")
        return (f"WITH p AS ({simple_sql(m, grain)}) SELECT *, sum({_q(m['name'])}) "
                f"OVER ({part}ORDER BY period ROWS BETWEEN {frame} AND CURRENT ROW) "
                f"AS {_q('cumulative_' + m['name'])} FROM p")
    parts = [revision[c] for c in extra.split(",")]
    shape = parts[0]
    aggs = [c for p in parts
            for c in _metric_cols(p, _pred(p["filters"]) if p["filters"] else None)]
    inner = (f"SELECT {', '.join(_keys(shape, grain) + aggs)} FROM {shape['base']} "
             "GROUP BY ALL")
    if kind == "ratio":
        out = f"{_q(parts[0]['name'])} / NULLIF({_q(parts[1]['name'])}, 0)"
    else:
        out = m["expression"]
    return f"SELECT *, {out} AS {_q(m['name'])} FROM ({inner})"


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return float(v)
    return v


def _close(a, b, tol):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return abs(a - b) <= tol * max(1.0, abs(b))


def compare_query(op, m, sql, con, approx):
    """Spark rows of one sampled query vs DuckDB; returns an error or None."""
    rel = con.sql(sql)
    dcols = rel.columns
    drows = [dict(zip(dcols, map(_norm, r))) for r in rel.fetchall()]
    srows = [dict(zip(op["cols"], map(_norm, r))) for r in op["rows"]]
    keys = [c for c in op["cols"] if c in ("grain", "period") or c in m["dimensions"]]
    if len(srows) != len(drows):
        return f"{len(srows)} rows vs {len(drows)} in DuckDB"
    index = {}
    for r in drows:
        index.setdefault(tuple(r[k] for k in keys), []).append(r)
    for s in srows:
        cands = index.get(tuple(s[k] for k in keys))
        if not cands:
            return f"row {s} missing from DuckDB"
        d = cands.pop()
        for c in op["cols"]:
            if c in keys:
                continue
            calc = approx.get(c)
            if calc == "median_approx":
                lo, hi = d[c + "__lo"], d[c + "__hi"]
                good = (s[c] is None and lo is None) or (
                    s[c] is not None and lo is not None and lo <= s[c] <= hi)
            elif calc:
                good = s[c] is not None and d.get(c) is not None and \
                    abs(s[c] - d[c]) <= max(1.0, HLL_TOL * d[c])
            else:
                good = _close(s[c], d.get(c), REL_TOL)
            if not good:
                return f"column {c}: spark {s[c]} vs duckdb {d.get(c)} at {s}"
    return None


def probe_defects(recs, info):
    """The probe manifest's counts against the generator's. A mismatch is
    reported, not failed: the probe is no op of the workload."""
    got = next((r for r in recs if r.get("event") == "probe"), None)
    if got is None:
        return ["probe: no result"]
    got = {k: got.get(k) for k in ("metrics", "records", "malformed", "error") if k in got}
    if got != info["probe"]:
        return [f"JSON-null metric entry: graft {got} vs expected {info['probe']}"]
    return []


def check_semantic(ops, recs, inp):
    with open(os.path.join(inp, "semantic", "semantic.json")) as f:
        info = json.load(f)
    con = _con(os.path.join(inp, "tables"), ("lineitem", "orders", "events"))
    errors, failed, rev = [], 0, None
    n_deploys = n_checked = 0
    for op in ops:
        if not op.get("ok"):
            continue
        if op["op"] == "deploy":
            rev = op["rev"]
            exp = info["expected"][rev]
            got = {"metrics": op["metrics"], "records": op["records"],
                   "malformed": op["malformed"]}
            n_deploys += 1
            if got != exp or op["defs"] != exp["metrics"]:
                errors.append(f"deploy rev{rev}: {got}, defs {op['defs']} vs expected {exp}")
                failed += 1
        elif op["checked"]:
            n_checked += 1
            revision = info["revisions"][rev]
            m = revision[op["name"]]
            grain = None if op["grain"] == "-" else op["grain"]
            approx = {m["name"]: m["calc"]} if m["calc"].endswith("_approx") else {}
            sql = query_sql(op["kind"], m, grain, op["extra"], revision)
            try:
                err = compare_query(op, m, sql, con, approx)
            except duckdb.Error as e:
                err = f"oracle failed: {e}"
            if err:
                errors.append(f"query {op['kind']} {op['name']} {op['grain']}: {err}")
                failed += 1
    return {"summary": {"deploys_checked": n_deploys, "queries_checked": n_checked},
            "errors": errors, "failed_ops": failed,
            "known_defects": probe_defects(recs, info)}


def check_corpus(ops, recs, inp):
    con = _con(os.path.join(inp, "corpus"), ("documents",))
    want, by_sql = {}, {}
    for r in recs:
        if r.get("event") == "oracle":
            if r["sql"] not in by_sql:
                rel = con.sql(r["sql"])
                by_sql[r["sql"]] = (rel.columns, sorted(tuple(_norm(v) for v in row)
                                                        for row in rel.fetchall()))
            want[r["key"]] = by_sql[r["sql"]]
    errors, results = [], {"batch": [], "stream": []}
    for op in ops:
        if not op.get("ok"):
            continue
        cols, rows = want[op["key"]]
        order = [op["cols"].index(c) for c in cols]
        got = sorted(tuple(_norm(r[i]) for i in order) for r in op["rows"])
        res = results[op["op"]]
        if got != rows:
            errors.append(f"{op['op']} call {len(res) + 1}: funnel {got} != oracle {rows}")
        res.append([got, got != rows])
    # the batch funnel and its landing-cadence twin agree with each other; a
    # disagreement fails the stream call of the round
    for i, (b, s) in enumerate(zip(results["batch"], results["stream"])):
        if b[0] != s[0]:
            errors.append(f"round {i + 1}: batch {b[0]} != stream {s[0]}")
            s[1] = True
    n = len(results["batch"]) + len(results["stream"])
    failed = sum(bad for res in results.values() for _, bad in res)
    return {"summary": {"calls_checked": n, "oracle_rows": len(next(iter(want.values()))[1])},
            "errors": errors, "failed_ops": failed, "known_defects": []}


def check(workload, ops, recs, inp):
    if workload == "semantic_layer":
        return check_semantic(ops, recs, inp)
    return check_corpus(ops, recs, inp)
