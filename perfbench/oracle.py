"""Checks every workload's outputs against results computed apart from the
program, and derives the figures that need the inputs.

* dashboard, corpus: each distinct result a query returned is compared
  with DuckDB running that query's `SparkEntry.oracleSql` text over the
  same parquet, except q81, which is checked against a NumPy
  recomputation of its tf-idf cosine join (its DuckDB oracle runs out of
  memory at sf0.1).
* ingest: the final layout and every live-tail read are compared with
  DuckDB's last-wins replay of the generated poll log.
* serve: every served id must be live at the version it was served from,
  the serves must read at least two versions, and recall@k against a
  NumPy exact top-k must stay above RECALL_FLOOR.

`check` returns {"errors": [...], "figures": {...}}; an empty error list
means every output matched.
"""
import math
import os
import statistics

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

RECALL_FLOOR = 0.15
FLOAT_TOL = 1.000001e-6   # one unit in the 6th decimal both engines round to


def _cell_equal(x, y):
    """Cell equality: NULLs equal each other, an int never equals a float
    (a type change is a failure), floats agree within FLOAT_TOL relative to
    their size, lists compare element-wise."""
    xn = x is None or (isinstance(x, float) and math.isnan(x))
    yn = y is None or (isinstance(y, float) and math.isnan(y))
    if xn or yn:
        return xn and yn
    if isinstance(x, (list, tuple, np.ndarray)) and isinstance(y, (list, tuple, np.ndarray)):
        return len(x) == len(y) and all(_cell_equal(a, b) for a, b in zip(x, y))
    if isinstance(x, bool) or isinstance(y, bool):
        return type(x) is type(y) and x == y
    if isinstance(x, float) and isinstance(y, float):
        return abs(x - y) <= FLOAT_TOL * max(1.0, abs(x), abs(y))
    if isinstance(x, (int, float)) and isinstance(y, (int, float)):
        return type(x) is type(y) and x == y
    return str(x) == str(y)


def _pylist(s):
    if str(s.dtype).startswith("datetime"):
        s = s.astype("datetime64[us]").astype(str)
    out = []
    for v in s.tolist():
        if isinstance(v, np.ndarray):
            v = v.tolist()
        out.append(v)
    return out


def _column_equal(x, y):
    """A whole-column shortcut of `_cell_equal` for the common cases:
    numeric columns of one kind within FLOAT_TOL, or identical columns.
    False means "compare cell by cell", not "different"."""
    xs, ys = x.to_numpy(), y.to_numpy()
    if xs.dtype.kind in "iuf" and xs.dtype.kind == ys.dtype.kind:
        if xs.dtype.kind != "f":
            return bool((xs == ys).all())
        with np.errstate(invalid="ignore"):
            close = np.abs(xs - ys) <= FLOAT_TOL * np.maximum(
                1.0, np.maximum(np.abs(xs), np.abs(ys)))
        return bool((close | (np.isnan(xs) & np.isnan(ys))).all())
    try:
        return xs.dtype.kind == "O" == ys.dtype.kind and x.equals(y)
    except (TypeError, ValueError):
        return False


def compare_frames(actual, expected):
    """First difference between two result frames, or None. Columns are
    matched by name; rows must match in order."""
    a = actual.reindex(sorted(actual.columns), axis=1)
    b = expected.reindex(sorted(expected.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for c in a.columns:
        if _column_equal(a[c], b[c]):
            continue
        for i, (x, y) in enumerate(zip(_pylist(a[c]), _pylist(b[c]))):
            if not _cell_equal(x, y):
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


def _read_dir(path):
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                   if f.endswith(".parquet") and not f.startswith((".", "_")))
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def _duck(input_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(input_dir, f)}')")
    return con


def q81_check(df, docs, threshold=0.9, max_df=10000):
    """q81 (`TextOps.tfIdfCosineJoin`) against a NumPy recomputation of its
    definition: tokens split on spaces, w = tf * ln(n_docs / df) over terms
    with df <= max_df, cosine of the weight vectors rounded to 6 decimals,
    pairs (i < j) with cosine >= threshold. Also the properties the method
    must have whatever the plan: unique pairs, i < j, cosine in [0.9, 1].
    Pairs within one rounding unit of the threshold may go either way."""
    errs = []
    if sorted(df.columns) != ["cos", "i", "j"]:
        return [f"q81 columns {list(df.columns)}"]
    if (df["i"] >= df["j"]).any():
        errs.append("q81 has a pair with i >= j")
    if df.duplicated(["i", "j"]).any():
        errs.append("q81 has a duplicate pair")
    if ((df["cos"] < threshold) | (df["cos"] > 1.0)).any():
        errs.append("q81 has a cosine outside [0.9, 1]")
    ids = docs["doc_id"].to_numpy()
    toks = [t.split(" ") for t in docs["text"]]
    vocab = {w: k for k, w in enumerate(sorted({w for t in toks for w in t}))}
    tf = np.zeros((len(toks), len(vocab)))
    for r, t in enumerate(toks):
        for w in t:
            tf[r, vocab[w]] += 1
    dfreq = (tf > 0).sum(axis=0)
    idf = np.where(dfreq <= max_df, np.log(len(toks) / dfreq), 0.0)
    w = tf * idf
    norm = np.sqrt((w * w).sum(axis=1))
    ok = norm > 0
    cos = np.round((w @ w.T) / np.outer(np.where(ok, norm, 1), np.where(ok, norm, 1)), 6)
    cos[~ok, :] = 0
    cos[:, ~ok] = 0
    got = {(int(i), int(j)): c for i, j, c in zip(df["i"], df["j"], df["cos"])}
    pos = {int(x): k for k, x in enumerate(ids)}
    for (i, j), c in got.items():
        if i in pos and j in pos and abs(cos[pos[i], pos[j]] - c) > FLOAT_TOL:
            errs.append(f"q81 pair ({i}, {j}) cosine {c} != {cos[pos[i], pos[j]]}")
            break
    ii, jj = np.nonzero(np.triu(cos >= threshold + FLOAT_TOL, k=1))
    missing = [(int(ids[a]), int(ids[b])) for a, b in zip(ii, jj)
               if (int(ids[a]), int(ids[b])) not in got]
    if missing:
        errs.append(f"q81 misses {len(missing)} pairs, e.g. {missing[:3]}")
    return errs


def check_queries(work, run):
    inp = os.path.join(work, "input")
    con = _duck(inp)
    w = run["workload"]
    sql = w["oracle_sql"]
    errors = []
    seen = {}
    for r in w["results"]:
        seen.setdefault(r["query"], set()).add(r["digest"])
    for q, digests in sorted(seen.items()):
        expected = None
        if q in sql and q != "q81_tfidf_cosine":
            expected = con.execute(sql[q]).fetchdf()
        elif q != "q81_tfidf_cosine":
            errors.append(f"{q}: no oracle SQL")
            continue
        for d in sorted(digests):
            actual = _read_dir(os.path.join(work, "out", "results", q, d))
            if q == "q81_tfidf_cosine":
                docs = con.execute("SELECT doc_id, text FROM documents").fetchdf()
                errors += q81_check(actual, docs)
            else:
                diff = compare_frames(actual, expected)
                if diff:
                    errors.append(f"{q} (result {d}): {diff}")
    return errors, {}


def _layout_files(layout):
    out = []
    for d, dirs, fs in os.walk(layout):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out += [os.path.join(d, f) for f in fs
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return sorted(out)


def check_ingest(work, run):
    inp = os.path.join(work, "input")
    w = run["workload"]
    n = w["cycles_committed"]
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute(f"CREATE VIEW log AS SELECT * FROM read_parquet('{inp}/log.parquet')")
    # last-wins state after cycle c: the latest cycle, then the latest line
    state = ("SELECT meterId, series, ts, value, tag FROM (SELECT *, row_number() "
             "OVER (PARTITION BY meterId, series, ts ORDER BY cycle DESC, line DESC) rn "
             "FROM log WHERE cycle <= {c}) WHERE rn = 1")
    errors = []
    expected_rows = matched_rows = 0
    files = _layout_files(w["layout"])
    flist = ", ".join(f"'{f}'" for f in files)
    actual = con.execute(
        f"SELECT meterId, series, epoch_us(ts) ts_us, len(\"values\") n_values, "
        f"\"values\"[1] AS value, \"values\"[2] AS value_k, tag, "
        f"CAST(date AS VARCHAR) date FROM read_parquet([{flist}], hive_partitioning=true) "
        f"ORDER BY meterId, series, ts_us").fetchdf()
    expected = con.execute(
        f"SELECT meterId, series, epoch_us(ts) ts_us, 2::BIGINT n_values, value, "
        f"round(value / 1000.0, 6) value_k, tag, CAST(CAST(ts AS DATE) AS VARCHAR) date "
        f"FROM ({state.format(c=n - 1)}) ORDER BY meterId, series, ts_us").fetchdf()
    diff = compare_frames(actual, expected)
    if diff:
        errors.append(f"final layout: {diff}")
    for i in w["tails"]:
        cur = (f"SELECT * FROM ({state.format(c=i)}) "
               f"WHERE CAST(ts AS DATE) = DATE '{w['tail_day']}'")
        exp_last = con.execute(
            f"SELECT meterId, series, [arg_max(value, ts), round(arg_max(value, ts) / 1000.0, 6)] "
            f"last_values, arg_max(tag, ts) last_tag, epoch_us(max(ts)) last_ts_us "
            f"FROM ({cur}) GROUP BY 1, 2 ORDER BY 1, 2").fetchdf()
        exp_hourly = con.execute(
            f"SELECT meterId, series, epoch_us(date_trunc('hour', ts)) bucket_us, "
            f"avg(value) avg_value, count(*) n FROM ({cur}) GROUP BY 1, 2, 3 "
            f"ORDER BY 1, 2, 3").fetchdf()
        base = os.path.join(work, "out", "tails", f"{i:05d}")
        got_last = _read_dir(os.path.join(base, "last")).sort_values(
            ["meterId", "series"], ignore_index=True)
        got_hourly = _read_dir(os.path.join(base, "hourly")).sort_values(
            ["meterId", "series", "bucket_us"], ignore_index=True)
        for name, got, exp in (("last", got_last, exp_last),
                               ("hourly", got_hourly, exp_hourly)):
            diff = compare_frames(got, exp)
            if diff:
                errors.append(f"tail read after cycle {i} ({name}): {diff}")
            expected_rows += len(exp)
            matched_rows += _matching_rows(got, exp)
    live_bytes = sum(os.path.getsize(f) for f in files)
    return errors, {"stored_bytes_per_row": live_bytes / max(1, len(actual)),
                    "recall_at_k": matched_rows / max(1, expected_rows),
                    "layout_bytes": live_bytes, "layout_rows": len(actual),
                    "layout_files": len(files)}


def _matching_rows(got, exp):
    """Rows of `exp` that `got` returned unchanged (same key columns, every
    cell equal), the exact-read analogue of recall."""
    keys = [c for c in ("meterId", "series", "bucket_us") if c in exp.columns]
    have = {tuple(r[k] for k in keys): r for r in got.to_dict("records")}
    n = 0
    for r in exp.to_dict("records"):
        g = have.get(tuple(r[k] for k in keys))
        if g is not None and all(_cell_equal(_py(g[c]), _py(r[c])) for c in exp.columns):
            n += 1
    return n


def _py(v):
    if isinstance(v, np.ndarray):
        return v.tolist()
    return v.item() if isinstance(v, np.generic) else v


def check_serve(work, run, sizes):
    inp = os.path.join(work, "input")
    w = run["workload"]
    k = sizes["k"]
    vec = pq.read_table(os.path.join(inp, "vectors.parquet")).to_pandas()
    qs = pq.read_table(os.path.join(inp, "queries.parquet")).to_pandas()
    dels = pq.read_table(os.path.join(inp, "deletes.parquet")).to_pandas()
    X = np.stack(vec["embedding"].to_numpy()).astype(np.float64)
    Q = np.stack(qs["embedding"].to_numpy()).astype(np.float64)
    batch = vec["batch"].to_numpy()
    served = _read_dir(os.path.join(work, "out", "served"))
    errors = []
    # the ids a reader pinned at each version may serve: the build set plus
    # every append made before the version was published, minus every delete
    first = (served["version"].min() if len(served) else 0)
    steps = w["steps"]
    if steps:
        first = steps[0]["version_before"]
    visible = {first: batch == 0}
    appended, deleted = {0}, set()
    for s in steps:
        if s["ok"] and s["kind"] == "append":
            appended.add(s["batch"])
        if s["ok"] and s["kind"] == "delete":
            deleted |= set(dels.loc[dels["step"] == s["batch"], "vec_id"])
        if s["version_after"] != s["version_before"]:
            live = np.isin(batch, sorted(appended))
            live[sorted(deleted)] = False
            visible[s["version_after"]] = live
    recalls = []
    exact = {}
    for (i, v), g in served.groupby(["serve", "version"]):
        if v not in visible:
            errors.append(f"serve {i}: version {v} was never published by a step")
            continue
        live = visible[v]
        bad = [x for x in g["nid"] if not live[x]]
        if bad:
            errors.append(f"serve {i} (version {v}) returned ids not live: {bad[:5]}")
        if v not in exact:
            ids = np.flatnonzero(live)
            sims = Q @ X[ids].T
            top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
            exact[v] = ids[top]
        for qid, gq in g.groupby("qid"):
            truth = set(exact[v][qid].tolist())
            recalls.append(len(truth & set(gq["nid"])) / k)
    if served["version"].nunique() < 2:
        errors.append(f"serves read {served['version'].nunique()} version(s): none read "
                      "the version a delete published")
    recall = statistics.mean(recalls) if recalls else 0.0
    if recall < RECALL_FLOOR:
        errors.append(f"recall@{k} {recall:.3f} below the floor {RECALL_FLOOR}")
    n_live = int((np.isin(batch, sorted(appended))).sum()) - len(deleted)
    store_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(w["store"]) for f in fs
                      if not f.startswith((".", "_")))
    fresh = np.flatnonzero(batch > 0)
    return errors, {"recall_at_k": recall, "versions_served": len(exact),
                    "appended_ids_served": int(served["nid"].isin(fresh).sum()),
                    "stored_bytes_per_row": store_bytes / max(1, n_live),
                    "store_bytes": store_bytes, "live_vectors": n_live}


def check(workload, work, run, sizes):
    if workload in ("dashboard", "corpus"):
        errors, figures = check_queries(work, run)
    elif workload == "ingest":
        errors, figures = check_ingest(work, run)
    else:
        errors, figures = check_serve(work, run, sizes)
    return {"errors": errors, "figures": figures}


def layer_figures(workload, run, check_result):
    """The per-layer metrics of a traced run: the harness's listener
    counters, plus the listing-based sink and store figures and the
    per-query wall times."""
    out = dict(run["layers"])
    w = run["workload"]
    ops = [o for o in run["ops"] if o["error"] is None]
    for q in sorted({o["name"] for o in ops if o["counted"]}):
        out[f"op.{q}.wall_ms"] = statistics.median(
            o["ms"] for o in ops if o["name"] == q)
    if workload == "ingest":
        for k in ("sink.bytes_written", "sink.files_written", "sink.files_live"):
            out[k] = w[k] / (1 if k == "sink.files_live" else
                             max(1, sum(o["counted"] for o in ops)))
        out["sink.write_amp"] = w["sink.bytes_written"] / max(1, w["sink.live_bytes"])
    if workload == "serve":
        maint = [o["ms"] for o in ops if not o["counted"]]
        out["store.publish_ms"] = statistics.median(maint) if maint else 0.0
        out["store.bytes_written"] = w["store.bytes_written"] / max(1, len(maint))
        out["store.patch_depth"] = w["store.patch_depth"]
        out["store.versions"] = w["store.versions"]
    return out
