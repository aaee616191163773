#!/usr/bin/env python
"""Golden-output snapshot for optimization-round equivalence checks.

Runs registered queries at a small SF and records per-query
(row count, sorted-normalized value hash). After an optimization,
re-running against the stored snapshot proves the rewrite changed the
plan, not the answer (stricter than the DuckDB oracle: bit-identical
normalized cells).

Usage:
  python scripts/golden_snapshot.py record <out.json> [query ...]
  python scripts/golden_snapshot.py check  <in.json>  [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tests.compare import normalize  # noqa: E402


def run(name: str, fn, spark, sf_dir: str) -> dict:
    df = fn(spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    cols, norm = normalize(list(df.columns), rows)
    h = hashlib.sha256()
    h.update("|".join(cols).encode())
    for r in norm:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return {"rows": len(rows), "cols": cols, "hash": h.hexdigest()}


def main() -> None:
    mode, path = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from flink_luad_pipeline_spark import plans
    from flink_luad_pipeline_spark.session import get_spark

    spark = get_spark("golden_snapshot")
    queries = plans.all_queries()
    if not names:
        names = sorted(queries)
    if mode == "record":
        out: dict[str, dict] = {}
        for i, name in enumerate(names):
            try:
                out[name] = run(name, queries[name], spark, sf_dir)
            except Exception as exc:
                out[name] = {"error": str(exc)[:300]}
            print(f"[{i + 1}/{len(names)}] {name}: "
                  f"{out[name].get('rows', 'ERR')}", flush=True)
        with open(path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": out}, fh, indent=1)
        n_err = sum(1 for v in out.values() if "error" in v)
        print(f"recorded {len(out)} queries, {n_err} errors -> {path}")
        sys.exit(1 if n_err else 0)
    else:
        with open(path) as fh:
            golden = json.load(fh)["queries"]
        bad = []
        for i, name in enumerate(names):
            if name not in golden or "error" in golden[name]:
                print(f"[{i + 1}/{len(names)}] {name}: NO GOLDEN", flush=True)
                bad.append(name)
                continue
            try:
                got = run(name, queries[name], spark, sf_dir)
            except Exception as exc:
                print(f"[{i + 1}/{len(names)}] {name}: ERROR {exc}", flush=True)
                bad.append(name)
                continue
            ok = got == {k: golden[name][k] for k in ("rows", "cols", "hash")}
            print(f"[{i + 1}/{len(names)}] {name}: "
                  f"{'MATCH' if ok else 'MISMATCH ' + json.dumps(got)}",
                  flush=True)
            if not ok:
                bad.append(name)
        print(f"checked {len(names)}: {len(bad)} mismatches {bad}")
        sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
