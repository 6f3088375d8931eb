#!/usr/bin/env python3
"""End-to-end self-test of the benchmark on small inputs.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all four) it runs `run.py --small` once and
requires a correct run with no failed operation. Then it corrupts that
run's outputs in a copy, one way at a time (one value changed, one row
dropped, a deleted id served, ...), and requires the oracle to reject
each copy: a check that passes a corrupted result checks nothing.
Exits non-zero on the first surprise.
"""
import copy
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run as bench  # noqa: E402


def rewrite(path, change):
    """Apply `change` to the pandas frame of the first parquet file under
    `path` and write it back."""
    f = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))[0]
    t = pq.read_table(f)
    pq.write_table(pa.Table.from_pandas(change(t.to_pandas()), schema=t.schema,
                                        preserve_index=False), f)


def bump_first_number(df):
    for c in df.columns:
        if df[c].dtype.kind in "fi" and len(df):
            df.loc[0, c] = df.loc[0, c] + 1
            return df
    raise AssertionError("no numeric column to corrupt")


def drop_first_row(df):
    return df.iloc[1:]


def corruptions(workload, work, run):
    """(name, function(copy_dir, run) -> run) pairs, each breaking one output."""
    out = []
    if workload in ("dashboard", "corpus"):
        first = {}
        for r in run["workload"]["results"]:
            first.setdefault(r["query"], r)
        for r in list(first.values())[:2]:
            d = os.path.join("out", "results", r["query"], r["digest"])
            out.append((f"{r['query']}: one value changed",
                        lambda w, run, d=d: (rewrite(os.path.join(w, d), bump_first_number), run)[1]))
            out.append((f"{r['query']}: one row dropped",
                        lambda w, run, d=d: (rewrite(os.path.join(w, d), drop_first_row), run)[1]))
    elif workload == "ingest":
        tail = os.path.join("out", "tails", f"{run['workload']['tails'][0]:05d}")
        for part in ("last", "hourly"):
            out.append((f"tail read ({part}): one value changed",
                        lambda w, run, p=os.path.join(tail, part):
                        (rewrite(os.path.join(w, p), bump_first_number), run)[1]))
            out.append((f"tail read ({part}): one row dropped",
                        lambda w, run, p=os.path.join(tail, part):
                        (rewrite(os.path.join(w, p), drop_first_row), run)[1]))

        out.append(("final layout: one row dropped",
                    lambda w, run: (rewrite(os.path.join(w, "layout"), drop_first_row), run)[1]))
    else:
        def serve_deleted(w, run):
            victims = pq.read_table(os.path.join(w, "input", "deletes.parquet")).to_pandas()
            first = victims[victims["step"] == 1]["vec_id"].iloc[0]
            after = [s["version_after"] for s in run["workload"]["steps"]
                     if s["kind"] == "delete"][0]

            def put(df):  # a serve from the version the delete published
                df.loc[0, "version"] = after
                df.loc[0, "nid"] = first
                return df
            rewrite(os.path.join(w, "out", "served"), put)
            return run
        out.append(("a deleted id served", serve_deleted))

        def serve_unpublished(w, run):
            vec = pq.read_table(os.path.join(w, "input", "vectors.parquet")).to_pandas()
            fresh = vec[vec["batch"] == 1]["vec_id"].iloc[0]

            def put(df):  # an appended id from the version before its publish
                df.loc[0, "version"] = df["version"].min()
                df.loc[0, "nid"] = fresh
                return df
            rewrite(os.path.join(w, "out", "served"), put)
            return run
        out.append(("an appended id served before it was published", serve_unpublished))

        def one_version(df):
            df["version"] = df["version"].min()
            return df
        out.append(("every serve from one version",
                    lambda w, run: (rewrite(os.path.join(w, "out", "served"), one_version), run)[1]))

        def scramble(df):
            df["nid"] = (df["nid"] * 7919 + 13) % 50
            return df
        out.append(("recall collapses",
                    lambda w, run: (rewrite(os.path.join(w, "out", "served"), scramble), run)[1]))
    return out


def main(workloads):
    for w in workloads:
        res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                              "--seed", "7", "--seconds", "1", "--trace", "0", "--small"],
                             cwd=ROOT, capture_output=True, text=True)
        if res.returncode != 0:
            sys.stderr.write(res.stderr[-3000:])
            raise SystemExit(f"{w}: run.py exited with {res.returncode}")
        last = json.loads(res.stdout.strip().splitlines()[-1])
        if not last["correct"] or last["failed"]:
            sys.stderr.write(res.stderr[-3000:])
            raise SystemExit(f"{w}: small run not clean: {last}")
        print(f"{w}: small run correct, {last['attempted']} operations, none failed")
        work = os.path.join(bench.BUILD, "runs", w)
        run = json.load(open(os.path.join(work, "out", "run.json")))
        sizes = bench.sizes(w, small=True)
        for name, corrupt in corruptions(w, work, run):
            dup = os.path.join(bench.BUILD, "selftest", w)
            shutil.rmtree(dup, ignore_errors=True)
            shutil.copytree(work, dup)
            r = copy.deepcopy(run)
            for k in ("layout", "store"):  # both live under the run directory
                if k in r["workload"]:
                    r["workload"][k] = os.path.join(dup, k)
            r = corrupt(dup, r)
            errors = oracle.check(w, dup, r, sizes)["errors"]
            if not errors:
                raise SystemExit(f"{w}: the check passed a corrupted result ({name})")
            print(f"{w}: rejects {name}: {errors[0][:100]}")
        shutil.rmtree(os.path.join(bench.BUILD, "selftest"), ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main(sys.argv[1:] or ["dashboard", "corpus", "ingest", "serve"])
