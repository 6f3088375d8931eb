"""Seeded input generators for the four workloads.

Every function takes a numpy Generator built from the run's --seed and a
size dict, and writes parquet (or JSON-lines poll files) under `out`.
The same seed and sizes always give byte-identical inputs, so the
oracle in `oracle.py` can recompute every expected result from the
files alone.

The shapes follow the driver test data the program is developed on
(events, documents and embeddings tables; see the README for the
make-up of each input).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SERIES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _write(table, path):
    pq.write_table(table, path)


def events_table(rng, n_rows, n_meters, n_days):
    """`events`: readings of n_meters meters over 5 series and n_days days.

    Timestamps are uniform over the window and event_id follows time
    order; values are exponential with mean 50, rounded to cents; props
    is a small JSON tag.
    """
    ts = np.sort(rng.integers(0, n_days * DAY_US, n_rows)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_meters, n_rows), pa.int64()),
        "event_type": pa.array(rng.choice(SERIES, n_rows)),
        "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
    })


def events(rng, out, n_rows, n_meters, n_days):
    _write(events_table(rng, n_rows, n_meters, n_days),
           os.path.join(out, "events.parquet"))


def documents(rng, out, n_docs, near_dup_share=0.05, exact_dup_share=0.002):
    """`documents`: 10-100 word texts over a 30-word vocabulary.

    A `near_dup_share` of documents copy an earlier document's text and
    append the word "dup"; an `exact_dup_share` copy one verbatim. These
    are what the minhash and tf-idf operators find.
    """
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < near_dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < near_dup_share + exact_dup_share:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(table, os.path.join(out, "documents.parquet"))


def family_vectors(rng, n, dim, family_size=10, n_clusters=32, spread=1.0,
                   noise=0.05):
    """Unit vectors in families of near-duplicates: family centres drawn
    around `n_clusters` random directions (relative spread `spread`), each
    member its family centre plus Gaussian noise of relative size `noise`.
    A query near a family centre has that family as its true top-k, the
    structure an ANN index is built for. Returns (vectors, family
    centres) as float32, vectors in random order."""
    def unit(v):
        return v / np.linalg.norm(v, axis=-1, keepdims=True)
    n_fam = -(-n // family_size)
    cen = unit(rng.standard_normal((n_clusters, dim)))
    fam = unit(cen[rng.integers(0, n_clusters, n_fam)]
               + spread * rng.standard_normal((n_fam, dim)) / np.sqrt(dim))
    members = np.repeat(np.arange(n_fam), family_size)[rng.permutation(n_fam * family_size)[:n]]
    v = unit(fam[members] + noise * rng.standard_normal((n, dim)) / np.sqrt(dim))
    return v.astype(np.float32), fam


def _vector_table(ids, vecs, **extra):
    dim = vecs.shape[1]
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), dim)
    cols = {"vec_id": pa.array(ids, pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32()))}
    cols.update({k: pa.array(v) for k, v in extra.items()})
    return pa.table(cols)


def embeddings(rng, out, n_vecs, dim):
    """`embeddings`: random unit vectors with a 0-9 label, the shape of
    the driver test data (which has no cluster structure)."""
    v = rng.standard_normal((n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(_vector_table(np.arange(n_vecs), v.astype(np.float32),
                         label=rng.integers(0, 10, n_vecs).astype(np.int32)),
           os.path.join(out, "embeddings.parquet"))


def replay_log(rng, out, n_rows, n_meters, n_days, start_day, cycle_s,
               n_cycles, resend_share, late_share):
    """The ingest replay of `events`, drawn as for the dashboard, as poll files.

    Each event is one reading: meter `meters/<user_id>`, series
    `event_type`, its ts and value. Readings before `start_day` days go
    to `history.parquet` (`Ingest.readingSchema`; the layout is seeded
    from them). From there on, time
    is cut into poll cycles of `cycle_s` seconds; each of the first
    `n_cycles` cycles that holds a reading becomes one file in `cycles/`
    (a cycle with no reading triggers no micro-batch). On top of the
    cycle's own readings, shuffled:
      * a `resend_share` of them are sent a second time later in the
        same file with value + 1 (the later line wins);
      * a `late_share` of the previous file's readings arrive again with
        value + 2 (the later cycle wins over what is already stored).
    `log.parquet` holds every line with its cycle (-1 for history) and
    line number, for the oracle. Returns the date the cycles fall on.
    """
    ev = events_table(rng, n_rows, n_meters, n_days)
    ts = ev["ts"].cast(pa.int64()).to_numpy()
    rows = list(zip((f"meters/{u}" for u in ev["user_id"].to_pylist()),
                    ev["event_type"].to_pylist(), ts.tolist(),
                    ev["value"].to_pylist()))
    start = EPOCH_2024_US + int(start_day * DAY_US)
    os.makedirs(os.path.join(out, "cycles"))
    n_hist = int(np.searchsorted(ts, start))
    history = list(zip(*rows[:n_hist]))
    _write(pa.table({
        "meterId": pa.array(history[0]),
        "series": pa.array(history[1]),
        "ts": pa.array(history[2], pa.timestamp("us", tz="UTC")),
        "values": pa.array([[v, round(v / 1000.0, 6)] for v in history[3]],
                           pa.list_(pa.float64())),
        "tag": pa.array(["h"] * n_hist)}), os.path.join(out, "history.parquet"))
    log = {"cycle": [-1] * n_hist, "line": list(range(n_hist)),
           "meterId": list(history[0]), "series": list(history[1]),
           "ts": list(history[2]), "value": list(history[3]), "tag": ["h"] * n_hist}
    slot = (ts[n_hist:] - start) // (cycle_s * 1_000_000)
    firsts = np.flatnonzero(np.r_[True, slot[1:] != slot[:-1]])[: n_cycles + 1]
    if len(firsts) <= n_cycles:
        raise ValueError("too few readings after the replay start")
    prev = []
    for cycle, (lo, hi) in enumerate(zip(firsts[:-1], firsts[1:])):
        cur = rows[n_hist + lo:n_hist + hi]
        lines = [cur[i] for i in rng.permutation(len(cur))]
        resend = rng.random(len(cur)) < resend_share
        extra = [(m, s, t, round(v + 1.0, 2)) for (m, s, t, v), r in zip(cur, resend) if r]
        late = rng.random(len(prev)) < late_share
        extra += [(m, s, t, round(v + 2.0, 2)) for (m, s, t, v), r in zip(prev, late) if r]
        # re-sent lines go after the originals they replace
        lines += [extra[i] for i in rng.permutation(len(extra))]
        _poll_file(os.path.join(out, "cycles", f"cycle-{cycle:05d}.json"),
                   lines, cycle, f"c{cycle}", log)
        prev = cur
    days = {t_us // DAY_US for t_us in log["ts"][n_hist:]}
    if len(days) != 1:
        raise ValueError("the replayed cycles cross midnight")
    table = pa.table({
        "cycle": pa.array(log["cycle"], pa.int32()),
        "line": pa.array(log["line"], pa.int32()),
        "meterId": pa.array(log["meterId"]),
        "series": pa.array(log["series"]),
        "ts": pa.array(log["ts"], pa.timestamp("us")),
        "value": pa.array(log["value"]),
        "tag": pa.array(log["tag"]),
    })
    _write(table, os.path.join(out, "log.parquet"))
    return str(np.datetime64(days.pop(), "D"))


def _poll_file(path, lines, cycle, tag, log):
    with open(path, "w") as f:
        for i, (m, s, t, v) in enumerate(lines):
            f.write(json.dumps({"meterId": m, "series": s, "ts": _iso(t),
                                "values": [v, round(v / 1000.0, 6)],
                                "tag": tag}) + "\n")
            for k, x in zip(log, (cycle, i, m, s, t, v, tag)):
                log[k].append(x)


def _iso(us):
    sec, frac = divmod(us, 1_000_000)
    t = np.datetime64(sec, "s").astype(str)
    return f"{t}.{frac:06d}Z"


def store_vectors(rng, out, n_base, n_append, n_batches, dim, n_queries,
                  delete_per_step):
    """The serve inputs: a corpus of near-duplicate vector families, its
    arrival batches, a query set, and the delete lists.

    `vectors.parquet` holds (vec_id, embedding, batch): batch 0 is the
    build set, batch b >= 1 the b-th append. `queries.parquet` holds
    points near random family centres. `deletes.parquet` holds
    (step, vec_id): the ids the step-th delete removes, drawn from the
    build set (disjoint across steps).
    """
    n = n_base + n_append * n_batches
    v, fam = family_vectors(rng, n, dim)
    q = fam[rng.integers(0, len(fam), n_queries)]
    q = q + 0.05 * rng.standard_normal(q.shape) / np.sqrt(dim)
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
    batch = np.concatenate([np.zeros(n_base, np.int64),
                            np.repeat(np.arange(1, n_batches + 1), n_append)])
    _write(_vector_table(np.arange(n), v, batch=batch),
           os.path.join(out, "vectors.parquet"))
    _write(_vector_table(np.arange(n_queries), q),
           os.path.join(out, "queries.parquet"))
    victims = rng.permutation(n_base)[: delete_per_step * n_batches]
    _write(pa.table({
        "step": pa.array(np.repeat(np.arange(1, n_batches + 1),
                                   delete_per_step), pa.int64()),
        "vec_id": pa.array(np.sort(victims.reshape(n_batches, -1), axis=1)
                           .reshape(-1), pa.int64())}),
        os.path.join(out, "deletes.parquet"))
