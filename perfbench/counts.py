#!/usr/bin/env python3
"""Leaf row-count oracles for the ``leaves`` workload.

    python3 perfbench/counts.py selfcheck --sf-dir DIR
    python3 perfbench/counts.py record --seeds 0-24

``selfcheck`` runs bench.py's eleven leaves on the sf0.1
``documents``/``embeddings`` test tables as they are (copy fraction 0) and
requires bench.py's recorded ``extra`` invariants exactly, which ties the
benchmark's leaf definitions to bench.py.  The invariants are copied from
BENCH_r07.json; they were reproduced at local[4] and local[32].

``record`` runs every leaf on the generated inputs of each seed and stores
the row counts in ``expected_counts.json``; run.py then requires them for
those seeds.  Re-record only when a change is meant to alter results.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run

BENCH_R07_EXTRA = {
    "pairs_scored": 126793, "n_clusters": 4995, "minhash_verified_pairs": 272,
    "topk_rows": 500, "quality_docs": 5000, "simhash_pairs": 1126,
    "embedding_neardup_pairs": 0, "prefix_jaccard_pairs": 256, "snm_pairs": 24985,
    "meta_block_kept": 44288, "fs_matches": 0,
}


def selfcheck(spark, sf_dir: str) -> bool:
    import leaves

    parts = 2 * run.cores()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(parts).cache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    x = leaves.Inputs(docs, emb, docs.limit(0))
    ok = True
    for leaf in leaves.LEAVES:
        if leaf.extra_key not in BENCH_R07_EXTRA:
            continue
        got, want = leaves.run_leaf(leaf, x), BENCH_R07_EXTRA[leaf.extra_key]
        ok &= got == want
        print(f"{leaf.name:28s} {got:8d}  bench.py {want:8d}  "
              f"{'ok' if got == want else 'MISMATCH'}")
    return ok


def record(spark, seeds: list[int]) -> None:
    path = run.HERE / "expected_counts.json"
    data = json.loads(path.read_text())
    for seed in seeds:
        wl = run.LeavesWorkload(spark, "leaves", seed, run.WORK / f"record-{os.getpid()}")
        wl.load_inputs()
        wl.measure(0)
        wl.check()
        if wl.problems:
            raise SystemExit(f"seed {seed}: {wl.problems}")
        data["leaves"][str(seed)] = {k: v[0] for k, v in wl.counts.items()}
        for df in wl.x:
            df.unpersist()
        print(seed, data["leaves"][str(seed)], flush=True)
        path.write_text(json.dumps(data, indent=1, sort_keys=True) + "\n")


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("selfcheck").add_argument("--sf-dir", required=True)
    sub.add_parser("record").add_argument("--seeds", required=True, type=parse_seeds)
    args = ap.parse_args()
    run_dir = run.WORK / f"counts-{os.getpid()}"
    run.prepare_env(run_dir)
    spark = run.start_session()
    try:
        if args.cmd == "selfcheck":
            ok = selfcheck(spark, args.sf_dir)
            print("SELFCHECK", "OK" if ok else "FAILED")
            return 0 if ok else 1
        record(spark, args.seeds)
        return 0
    finally:
        run.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
