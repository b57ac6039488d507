"""Within-run A/B: time two or more arms in ONE Spark session.

An arm is a catalog query name (``q13_left_join``, or the unique prefix
``q13``) or a ``module:function`` callable ``(spark, sf_dir) -> DataFrame``.
An old-code arm lives in a scratch module outside the repo; put its
directory on ``PYTHONPATH``.

Two modes:
- without ``--conf``, the positional arms are compared with each other
  (one JSON line);
- with ``--conf key=v1,v2,...``, each positional query is one comparison
  whose arms are the values, applied with ``spark.conf.set`` before the
  arm's DataFrame is built (one JSON line per query). Runtime SQL confs
  only; static confs (``local[N]``, memory) need separate processes.

Protocol: every arm's result is collected and hashed once with
``perfbench.workloads.result_hash`` before any timing; if the arms of any
comparison disagree, nothing is timed and the exit status is 1. Then each
rep builds a fresh DataFrame per arm (no shuffle reuse across reps) and
times build + execution through the ``noop`` sink; arm order alternates
every rep. Output per comparison: per-arm runs, min and median seconds,
and ratio = arm median / first arm median.

Usage:
    python tools/ab.py --sf DIR [--reps 3] q13_left_join old_q13:q13_r11
    python tools/ab.py --sf DIR --conf spark.sql.shuffle.partitions=4,32 q01 q12
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.workloads import result_hash
from wikipediaetl_spark.catalog import all_queries
from wikipediaetl_spark.session import get_spark


def resolve(token: str) -> tuple[str, Callable]:
    """(name, fn) of ``module:function`` or of a catalog query given by
    name or unique ``qNN`` prefix."""
    if ":" in token:
        mod, fn = token.split(":", 1)
        return token, getattr(importlib.import_module(mod), fn)
    qs = all_queries()
    hits = [token] if token in qs else [n for n in qs if n.startswith(token + "_")]
    if len(hits) != 1:
        raise SystemExit(f"ab: {token!r} matches {len(hits)} catalog queries: {hits[:5]}")
    return hits[0], qs[hits[0]].fn


def comparisons(args) -> list[tuple[str, list[tuple[str, Callable, str | None]]]]:
    """[(name, [(arm label, fn, conf value or None), ...]), ...]."""
    resolved = [resolve(a) for a in args.arms]
    if not args.conf:
        return [(" vs ".join(n for n, _ in resolved), [(n, fn, None) for n, fn in resolved])]
    key, values = args.conf.split("=", 1)
    return [(n, [(f"{key}={v}", fn, v) for v in values.split(",")]) for n, fn in resolved]


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry; ``spark`` reuses a caller's session (its confs untouched
    except the swept one, which is restored)."""
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", required=True, help="fixture directory")
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--conf", help="runtime SQL conf sweep: key=v1,v2[,...]")
    p.add_argument("arms", nargs="+")
    args = p.parse_args(argv)
    if not args.conf and len(args.arms) < 2:
        p.error("need two arms, or --conf with one or more queries")
    if args.conf and "=" not in args.conf:
        p.error("--conf takes key=v1,v2[,...]")
    if args.reps < 1:
        p.error("--reps must be at least 1")
    comps = comparisons(args)
    keys = [n for n, _ in comps] + [(n, label) for n, arms in comps for label, _, _ in arms]
    if len(set(keys)) < len(keys):
        p.error("arms must be distinct")
    key = args.conf.split("=", 1)[0] if args.conf else None

    spark = spark or get_spark("ab")
    original = spark.conf.get(key, None) if key else None

    def build(fn, value):
        if key:
            spark.conf.set(key, value)
        return fn(spark, args.sf)

    try:
        hashes = {name: {} for name, _ in comps}
        for name, arms in comps:
            for label, fn, value in arms:
                df = build(fn, value)
                hashes[name][label] = result_hash(df.columns, df.collect())
        bad = {n: h for n, h in hashes.items() if len(set(h.values())) > 1}
        for name, h in bad.items():
            print(json.dumps({"query": name, "error": "arms diverged", "hashes": h}))
        if bad:
            return 1

        for name, arms in comps:
            runs = {label: [] for label, _, _ in arms}
            for rep in range(args.reps):
                for label, fn, value in arms if rep % 2 == 0 else arms[::-1]:
                    spark.sparkContext.setJobDescription(f"ab {name}: {label}")
                    t0 = time.perf_counter()
                    build(fn, value).write.format("noop").mode("overwrite").save()
                    runs[label].append(round(time.perf_counter() - t0, 4))
            med = {label: statistics.median(r) for label, r in runs.items()}
            base = med[arms[0][0]]
            row = {
                "query": name,
                "sf_dir": args.sf,
                "reps": args.reps,
                "hash": hashes[name][arms[0][0]],
                "arms": {
                    label: {"runs": r, "min": min(r), "median": med[label]}
                    for label, r in runs.items()
                },
                "ratio": {label: round(m / base, 4) for label, m in med.items()},
            }
            print(json.dumps(row), flush=True)
        return 0
    finally:
        if key:
            if original is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, original)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    sys.exit(main())
