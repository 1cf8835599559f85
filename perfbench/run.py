#!/usr/bin/env python3
"""levsim's repository benchmark: seeded record-linkage workloads driven
through levsim's public API from one process on ``local[nproc]``.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 15 --trace 0

Closed loop, one client: each operation starts when the previous one
returns.  An operation is one ``ERPipeline.run`` (pipeline) or one leaf
query (leaves).  Operations repeat until ``--seconds`` have passed; the
last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer metrics
(plus spans under ``.perfbench_work/traces/``).  See perfbench/README.md.

Everything the run writes (Spark scratch, snapshot tables, the compiled
kernel cache, traces) stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

WORKLOADS = {
    # 2.2k pages in ~490 entities: many small blocks and clusters
    "pipeline": {"kind": "pipeline", "n_pages": 2200, "dups_max": 8},
    # 1.2k docs, 600 vectors (20% planted copies), 600-doc noised subset
    "leaves": {"kind": "leaves", "n_docs": 1000, "n_vecs": 500, "copy_frac": 0.2,
               "n_noised": 600},
}
# pipeline runs per benchmark run: WARM_OPS warm-up runs, then measured
# runs until --seconds have passed, at least MIN_OPS; the median is
# reported.  On 4 cores the runs of a fresh session read 22, 11.6, 9.9,
# 8.5, 8.0 s: the JIT is still settling over the measured runs, and a
# median of three is what fits the time budget of the whole benchmark.
WARM_OPS = 1
MIN_OPS = 3
PAIR_F1_FLOOR = 0.99
# kernel-throughput samples (driver-side, single-threaded)
KERNEL_PAIRS = 20_000
KERNEL_GROUPS = 200
# prefix_filtered_jaccard_pairs' default dense_vocab_cap: word-bigram
# vocabularies up to this size take the dense-bitset plan, larger ones the
# sparse PPJoin plan
DENSE_VOCAB_CAP = 4096
STAGE_LAYER = {"normalize": "normalize", "candidates": "candidates", "scores": "scoring",
               "clusters": "clustering", "consensus": "consensus"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (user ... steal), in ticks."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by other guests of a shared VM between two
    ``cpu_times`` readings; it slows every phase of a run alike."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) == 8 and sum(d) else 0.0


def prepare_env(run_dir: Path) -> None:
    """Point every scratch location of Spark, its Python workers and the
    kernel build at the checkout, and let workers import levsim."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_TESTING", None)  # would switch the status UI off
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["LEVSIM_CACHE"] = str(WORK / "kernel_cache")
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={tmp / 'warehouse'}"),
        "--conf spark.ui.retainedJobs=20000 --conf spark.ui.retainedStages=20000",
        "--conf spark.sql.ui.retainedExecutions=20000",
        "pyspark-shell",
    ])
    sys.path.insert(0, str(ROOT))


def start_session():
    from levsim.session import get_spark

    n = cores()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def shingle_vocab(texts) -> int:
    """Distinct word bigrams (``word_shingles_col(text, 2)``: non-empty
    space-separated tokens; a one-token text is its own shingle)."""
    vocab = set()
    for t in texts:
        toks = [w for w in t.split(" ") if w]
        vocab.update(toks if len(toks) < 2 else
                     (f"{a} {b}" for a, b in zip(toks, toks[1:])))
    return len(vocab)


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


def e2e_metrics(wall: float, n_records: int) -> dict:
    return {"wall_s": wall, "records_per_s": n_records / wall if wall else 0.0}


def kernel_throughput(pairs_a: list, pairs_b: list, groups: list) -> dict:
    """Single-threaded driver-side throughput of the scoring and consensus
    kernels over a fixed sample of the workload's own data (median of 3)."""
    from levsim import batch, kernels

    def rate(fn, n):
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return n / statistics.median(ts)

    return {
        "batch.ratio_pairs_per_s": rate(lambda: batch.batch_ratio(pairs_a, pairs_b), len(pairs_a)),
        "batch.jaro_winkler_pairs_per_s":
            rate(lambda: batch.batch_jaro_winkler(pairs_a, pairs_b), len(pairs_a)),
        "kernels.setmedian_groups_per_s":
            rate(lambda: [kernels.setmedian(g) for g in groups], len(groups)),
    }


class Run:
    """State shared by both workload kinds: session, tracer, counters."""

    def __init__(self, spark, name: str, seed: int, run_dir: Path):
        from spans import SparkRest, Tracer

        self.spark = spark
        self.sc = spark.sparkContext
        self.name, self.seed = name, seed
        self.params = WORKLOADS[name]
        self.run_dir = run_dir
        self.parts = 2 * cores()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.rest = SparkRest(self.sc)
        self.tracer = Tracer(f"{name}-seed{seed}-{os.getpid()}")
        self.layer: dict[str, float] = {}
        self.sampler = None  # RssSampler, set by main()

    def fail(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def frame(self, pdf):
        df = self.spark.createDataFrame(pdf).repartition(self.parts).cache()
        df.count()
        return df


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------


class PipelineWorkload(Run):
    def setup(self) -> None:
        import gen

        p = self.params
        pdf = gen.pages(self.seed, p["n_pages"], p["dups_max"])
        self.n_records = len(pdf)
        self.truth = self.frame(pdf)  # keeps entity_id for the checks only
        cols = ["url", "warc_ts", "html", "text", "lang"]
        self.pages = self.truth.select(*cols)
        self.n_ops = 0
        self.rows = None
        self.pair_f1 = self.stored_mb = 0.0
        self.kernel_sample = None
        # warm-up on the real input (after a small-input warm-up the first
        # timed run took ~1.6x the steady one); the warm-up runs are
        # operations like the measured ones and get the same output checks
        for _ in range(WARM_OPS):
            self.op(traced=False)

    def _run(self, pages, tag: str):
        from levsim.pipeline import ERPipeline

        wd = self.run_dir / tag
        shutil.rmtree(wd, ignore_errors=True)
        pipe = ERPipeline(self.spark, str(wd))
        t0 = time.perf_counter()
        run = pipe.run(pages, pages_snapshot_id=f"{self.name}_{self.seed}")
        return time.perf_counter() - t0, run, pipe, wd

    def op(self, traced: bool) -> float | None:
        """One pipeline run on a fresh workdir; checks its output.  Returns
        its wall time, or None if it raised."""
        self.attempted += 1
        self.n_ops += 1
        before = self.rest.max_job_id() if traced else None
        t_start = time.time()
        try:
            wall, run, pipe, wd = self._run(self.pages, f"op{self.n_ops}")
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.fail(f"pipeline op {self.n_ops} raised")
            return None
        rows = [s.rows for s in run.stages]
        ok = all(not s.skipped for s in run.stages)
        if self.rows is None:
            self.rows = rows
            self.stored_mb = sum(dir_mb(wd / t) for t in pipe.tables)
            ok = ok and self._check_f1(run)
        elif rows != self.rows:
            self.fail(f"op {self.n_ops} stage rows {rows} != first run's {self.rows}")
            ok = False
        if not ok:
            self.failed += 1
        if traced:
            self._trace_op(run, pipe, wd, before, t_start, wall)
        shutil.rmtree(wd, ignore_errors=True)
        return wall

    def _check_f1(self, run) -> bool:
        from levsim import evaluate

        self.sc.setJobGroup("perfbench_check", "output check")
        f = evaluate.pair_f1(evaluate.pairs_from_clusters(run.clusters, id_col="url"),
                             evaluate.truth_pairs_from_entities(self.truth))
        self.pair_f1 = f["f1"]
        if f["f1"] < PAIR_F1_FLOOR:
            self.fail(f"pair_f1 {f['f1']:.4f} below floor {PAIR_F1_FLOOR} ({f})")
            return False
        return True

    def _trace_op(self, run, pipe, wd: Path, before: int, t_start: float, wall: float) -> None:
        from spans import job_metrics, job_spans

        from pyspark.sql import functions as F

        jobs = self.rest.settled_jobs(before)
        stages, sql = self.rest.stages(), self.rest.sql(j["jobId"] for j in jobs)
        op_span = self.tracer.add(f"{self.name}.run", "op", t_start, t_start + wall)
        lineage = [json.loads(line) for line in open(wd / "lineage.jsonl")]
        m = {}
        for st, lin in zip(run.stages, lineage):
            layer = STAGE_LAYER[st.stage]
            grp = [j for j in jobs if j.get("jobGroup") == f"er_{st.stage}"]
            agg = job_metrics(grp, stages, sql)
            span = self.tracer.add(layer, "layer", lin["ts"] - st.wall_sec, lin["ts"], op_span,
                                   rows=st.rows, snapshot=st.snapshot_id)
            job_spans(self.tracer, grp, span)
            m.update({f"{layer}.wall_s": st.wall_sec, f"{layer}.rows": st.rows,
                      **{f"{layer}.{k}": agg[k] for k in
                         ("jobs", "tasks", "shuffle_mb", "python_init_s", "python_run_s")}})
        whole = job_metrics(jobs, stages, sql)
        m["spark.jobs"] = whole["jobs"]
        m["spark.shuffle_mb"] = whole["shuffle_mb"]
        self.sc.setJobGroup("perfbench_trace", "layer counters")
        matched = run.matched.count()
        m["candidates.pairs_per_record"] = m["candidates.rows"] / m["normalize.rows"]
        m["scoring.match_ratio"] = matched / max(1, m["candidates.rows"])
        m["scoring.rows"] = matched
        self.layer = m
        if self.kernel_sample is not None:
            return
        # fixed kernel samples: the op's own candidate pairs and clusters
        norm = pipe.tables["pages_norm"].read(self.spark, run.stages[0].snapshot_id)
        pairs = pipe.tables["pairs"].read(self.spark, run.stages[1].snapshot_id)
        texts = norm.select("url", "norm_text")
        sample = (pairs.select("id_a", "id_b").orderBy(F.xxhash64("id_a", "id_b"))
                  .limit(KERNEL_PAIRS)
                  .join(texts.toDF("id_a", "a"), "id_a").join(texts.toDF("id_b", "b"), "id_b")
                  .toPandas())
        groups = (run.clusters.groupBy("cluster_id")
                  .agg(F.sort_array(F.collect_list("norm_text")).alias("g"))
                  .where(F.size("g") > 1).orderBy(F.xxhash64("cluster_id"))
                  .limit(KERNEL_GROUPS).toPandas())
        self.kernel_sample = (list(sample["a"]), list(sample["b"]), [list(g) for g in groups["g"]])

    def measure(self, seconds: float) -> dict:
        deadline = time.perf_counter() + seconds
        walls = []
        peaks = []
        while len(walls) < MIN_OPS or time.perf_counter() < deadline:
            wall = self.op(traced=False)
            peaks.append(self.sampler.take_peak())
            if wall is None:
                break
            walls.append(wall)
        print("perfbench: op wall_s " + " ".join(f"{w:.2f}" for w in walls)
              + ", peak MB " + " ".join(f"{p:.0f}" for p in peaks), file=sys.stderr)
        return e2e_metrics(statistics.median(walls) if walls else 0.0, self.n_records)

    def measure_traced(self, seconds: float) -> dict:
        """Alternate untraced and traced runs (at least one of each); the
        difference of their medians is the tracing overhead."""
        deadline = time.perf_counter() + seconds
        plain, traced, peaks = [], [], []
        while not traced or len(plain) + len(traced) < MIN_OPS \
                or time.perf_counter() < deadline:
            is_traced = len(plain) > len(traced)
            wall = self.op(traced=is_traced)
            if not is_traced:
                peaks.append(self.sampler.take_peak())
            if wall is None:
                break
            (traced if is_traced else plain).append(wall)
        if plain and traced:
            self.layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        self.layer["evaluate.pair_f1"] = self.pair_f1
        self.layer["tables.stored_mb"] = self.stored_mb
        self.layer["memory.peak_rss_mb"] = statistics.median(peaks) if peaks else 0.0
        if self.kernel_sample is not None:
            self.layer.update(kernel_throughput(*self.kernel_sample))
        return e2e_metrics(statistics.median(plain) if plain else 0.0, self.n_records)


# ---------------------------------------------------------------------------
# leaves
# ---------------------------------------------------------------------------


class LeavesWorkload(Run):
    def setup(self) -> None:
        self.load_inputs()
        self.warm_up()

    def load_inputs(self) -> None:
        import gen

        p = self.params
        self.docs_pdf = gen.documents(self.seed, p["n_docs"], p["copy_frac"])
        emb_pdf = gen.embeddings(self.seed, p["n_vecs"], p["copy_frac"])
        noised_pdf = gen.noised_subset(self.seed, self.docs_pdf, p["n_noised"])
        self.n_records = len(self.docs_pdf)
        self.noised_pdf = noised_pdf
        self.x = self._inputs(self.docs_pdf, emb_pdf, noised_pdf)
        self.counts: dict[str, list[int]] = {}

    def warm_up(self) -> None:
        """One pass over the real input with the leaves run from concurrent
        driver threads: the cost is mostly one-off JVM class loading, JIT
        and query compilation, which overlap well (28 s against 36 s for a
        sequential pass).  Its row counts join the output checks."""
        import leaves

        with ThreadPoolExecutor(cores()) as pool:
            futures = [(leaf, pool.submit(leaves.run_leaf, leaf, self.x))
                       for leaf in leaves.LEAVES]
            for leaf, f in futures:
                self.attempted += 1
                try:
                    self.counts.setdefault(leaf.name, []).append(f.result())
                except Exception:
                    traceback.print_exc()
                    self.failed += 1
                    self.fail(f"leaf {leaf.name} raised in the warm-up pass")

    def _inputs(self, docs, emb, noised):
        import leaves

        def drop(pdf):
            return pdf.drop(columns="copy_of")

        return leaves.Inputs(self.frame(drop(docs)),
                             self.spark.createDataFrame(drop(emb)).cache(),
                             self.frame(drop(noised)))

    def op(self, leaf, traced: bool) -> float | None:
        """One leaf into the noop sink; returns its wall time, or None if it
        raised."""
        import leaves
        from spans import job_metrics, job_spans

        self.attempted += 1
        before = self.rest.max_job_id() if traced else None
        if traced:
            self.sc.setJobGroup(f"leaf_{leaf.name}", f"leaf {leaf.name}")
        t_start = time.time()
        t0 = time.perf_counter()
        try:
            rows = leaves.run_leaf(leaf, self.x)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.fail(f"leaf {leaf.name} raised")
            return None
        wall = time.perf_counter() - t0
        self.counts.setdefault(leaf.name, []).append(rows)
        if traced:
            jobs = self.rest.settled_jobs(before)
            agg = job_metrics(jobs, self.rest.stages(), self.rest.sql(j["jobId"] for j in jobs))
            span = self.tracer.add(f"{leaf.module}.{leaf.name}", "leaf", t_start,
                                   t_start + wall, self.workload_span, rows=rows)
            job_spans(self.tracer, jobs, span)
            self.sc.setJobGroup("perfbench", "benchmark")
            key = f"{leaf.module}.{leaf.name}"
            self.layer.update({f"{key}.wall_s": wall, f"{key}.jobs": agg["jobs"],
                               f"{key}.python_stages": agg["python_stages"],
                               f"{key}.python_init_s": agg["python_init_s"]})
            self.layer["spark.jobs"] = self.layer.get("spark.jobs", 0) + agg["jobs"]
            self.layer["spark.shuffle_mb"] = self.layer.get("spark.shuffle_mb", 0.0) \
                + agg["shuffle_mb"]
        return wall

    def measure(self, seconds: float) -> dict:
        """Whole passes over the leaves until ``seconds`` have passed (at
        least one); wall_s is the sum of the per-leaf medians."""
        import leaves

        deadline = time.perf_counter() + seconds
        walls: dict[str, list[float]] = {}
        peaks = []
        passes = 0
        while not passes or time.perf_counter() < deadline:
            for leaf in leaves.LEAVES:
                wall = self.op(leaf, traced=False)
                if wall is not None:
                    walls.setdefault(leaf.name, []).append(wall)
            passes += 1
            if self.sampler is not None:
                peaks.append(self.sampler.take_peak())
            if self.failed:
                break
        print("perfbench: leaf wall_s " + " ".join(
            f"{k.split('_')[0]}={statistics.median(w):.2f}" for k, w in walls.items())
            + ", peak MB " + " ".join(f"{p:.0f}" for p in peaks), file=sys.stderr)
        wall = sum(statistics.median(w) for w in walls.values())
        return e2e_metrics(wall, self.n_records)

    def measure_traced(self, seconds: float) -> dict:
        """One pass in which every leaf runs once untraced and once traced,
        in alternating order (a leaf's second run is the warmer one); the
        difference of the two sums is the tracing overhead."""
        import leaves

        t_start = time.time()
        self.workload_span = self.tracer.add(self.name, "workload", t_start, t_start)
        plain = traced = 0.0
        for i, leaf in enumerate(leaves.LEAVES):
            for tr in (i % 2 == 1, i % 2 == 0):
                wall = self.op(leaf, traced=tr) or 0.0
                if tr:
                    traced += wall
                else:
                    plain += wall
        self.sc.setJobGroup("perfbench", "benchmark")
        self.workload_span.end = time.time()
        self.layer["trace.overhead_s"] = traced - plain
        self.layer["memory.peak_rss_mb"] = self.sampler.take_peak()
        self.layer.update(kernel_throughput(*self._kernel_sample()))
        return e2e_metrics(plain, self.n_records)

    def _kernel_sample(self):
        """Same-block doc pairs (q1's blocking) and planted-copy groups."""
        import numpy as np

        d = self.docs_pdf
        rng = np.random.default_rng([self.seed, 5])
        by_block = d.groupby(["lang", "source"])["text"].apply(list)
        a, b = [], []
        blocks = list(by_block)
        while len(a) < KERNEL_PAIRS:
            blk = blocks[int(rng.integers(0, len(blocks)))]
            i, j = rng.integers(0, len(blk), size=2)
            a.append(blk[i])
            b.append(blk[j])
        src = d.assign(g=np.where(d["copy_of"] >= 0, d["copy_of"], d["doc_id"]))
        groups = [list(g) for _, g in src.groupby("g")["text"] if len(g) > 1]
        return a, b, groups[:KERNEL_GROUPS]

    def check(self) -> None:
        """Counts repeat across passes (the warm-up pass included), match
        this seed's recorded counts when there are some, and meet the
        seed-free invariants."""
        import leaves

        counts, bad = {}, set()
        for name, cs in self.counts.items():
            if len(set(cs)) != 1:
                self.fail(f"{name} row counts differ between runs: {cs}")
                bad.add(name)
            counts[name] = cs[0]
        recorded = json.loads((HERE / "expected_counts.json").read_text())
        for name, n in recorded["leaves"].get(str(self.seed), {}).items():
            if counts.get(name) != n:
                self.fail(f"{name}: {counts.get(name)} rows, recorded {n} for seed {self.seed}")
                bad.add(name)
        for name, got, exp in self._invariants(counts):
            if got != exp:
                self.fail(f"{name}: {got} rows, expected {exp}")
                bad.add(name)
        # q8 must keep the dense-bitset plan and q8s must take the sparse
        # PPJoin plan: the plan follows the shingle vocabulary's size
        for name, pdf, sparse in (("q8_prefix_jaccard", self.docs_pdf, False),
                                  ("q8s_prefix_jaccard_sparse", self.noised_pdf, True)):
            vocab = shingle_vocab(pdf["text"])
            if (vocab > DENSE_VOCAB_CAP) != sparse:
                self.fail(f"{name}: shingle vocabulary {vocab} is "
                          f"{'within' if sparse else 'past'} the dense cap {DENSE_VOCAB_CAP}, "
                          f"so the leaf takes the {'dense' if sparse else 'sparse'} plan")
                bad.add(name)
        # every run of a leaf with a wrong count or plan fails its output check
        self.failed += sum(len(self.counts.get(name, [])) for name in bad)
        missing = {leaf.name for leaf in leaves.LEAVES} - counts.keys()
        if missing:
            self.fail(f"leaves never completed: {sorted(missing)}")

    def _invariants(self, counts: dict):
        """Row counts that follow from the generated inputs alone."""
        import numpy as np

        d = self.docs_pdf
        n = len(d)
        yield "q4_cosine_topk", counts.get("q4_cosine_topk"), 50 * 10
        yield "q9_sorted_neighborhood", counts.get("q9_sorted_neighborhood"), 5 * n - 15
        # q1: same (lang, source) pairs passing the exact ratio length bound
        lens = d.assign(n=d["text"].str.len())
        total = 0
        for _, g in lens.groupby(["lang", "source"]):
            ln = g["n"].to_numpy()
            la, lb = ln[:, None], ln[None, :]
            ok = 2.0 * np.minimum(la, lb) / (la + lb) >= 0.5
            ids = g["doc_id"].to_numpy()
            total += int((ok & (ids[:, None] < ids[None, :])).sum())
        yield "q1_er_scoring", counts.get("q1_er_scoring"), total


# ---------------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def metric_specs() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "levsim" / "__init__.py").is_file():
        print(f"perfbench: no levsim package next to {HERE.name}/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    specs = metric_specs()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    sys.path.insert(0, str(HERE))
    from spans import RssSampler

    cpu_start = cpu_times()
    t0 = time.perf_counter()
    spark = start_session()
    try:
        from levsim import cbuild

        cbuild.load()  # compile (first run in a checkout) or load the C kernels
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()
        cls = PipelineWorkload if WORKLOADS[args.workload]["kind"] == "pipeline" else LeavesWorkload
        wl = cls(spark, args.workload, args.seed, run_dir)
        wl.sampler = sampler
        t_inputs = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        sampler.take_peak()  # peaks cover the measured operations only
        print(f"perfbench: setup {setup_s:.1f} s (session and kernels "
              f"{t_inputs - t0:.1f} s, inputs and warm-up {setup_s - t_inputs + t0:.1f} s)",
              file=sys.stderr)
        cpu0 = cpu_times()
        if args.trace:
            e2e = wl.measure_traced(args.seconds)
        else:
            e2e = wl.measure(args.seconds)
        sampler.stop()
        print(f"perfbench: CPU time stolen by other guests: "
              f"{100 * steal_share(cpu_start, cpu0):.1f}% in set-up, "
              f"{100 * steal_share(cpu0, cpu_times()):.1f}% while measuring", file=sys.stderr)
        if isinstance(wl, LeavesWorkload):
            wl.check()
        e2e["setup_s"] = setup_s
        if args.trace:
            values = {k: wl.layer.get(k, 0) for k in specs["per_layer"]}
            wl.tracer.write(str(WORK / "traces" / f"{wl.tracer.trace_id}.jsonl"))
            unit_of = specs["per_layer"]
        else:
            values, unit_of = e2e, specs["end_to_end"]
        correct = not wl.problems and wl.failed == 0
        result = {"correct": correct, "attempted": wl.attempted, "failed": wl.failed,
                  "metrics": {k: {"value": float(values[k]), "unit": unit_of[k]}
                              for k in unit_of}}
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
