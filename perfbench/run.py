"""Benchmark of the antidb_spark BM25 engine: one workload per run.

    python3 perfbench/run.py --workload search|mixed --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every input comes from ``gen.py`` and
the seed; every result is checked against ``oracle.py`` (exact BM25) or,
after writes, against the upsert's marker token. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). See README.md for the metric definitions.

The index over the base corpus, with one upsert in its snapshot history,
is built once per checkout by the checkout's own engine, in a process of
its own (``base.py``), and kept under ``.bench_work/``; every run copies
it into a fresh root, so a run pays Spark start-up but not a full build
or an upsert.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

from base import BASE_SEED, N_CONVS, UPSERT_TURNS, ensure_base
from spark_session import ROOT, WORK, start_spark, stop_spark, tree_cpu_s

WORKLOADS = ("search", "mixed")
POOL = 150          # distinct queries per run, a multiple of len(gen.SHAPES)
STREAM = 40_000     # stream positions, more than any run uses
K = 10
BATCH = 100         # queries per query_batch call
N_BATCHES = 64
SEARCH_WARM_PER_BATCH = 500  # search: warm queries between two batches
SEARCH_MIN_BATCHES = 6
# mixed: warm queries after each commit. About 3 in 4 miss a cache, so
# the mean and p90 read cache-miss cost (the first query after a
# commit, which reloads the docmap, is 1 in 60: above p90).
MIXED_QUERIES_PER_COMMIT = 60
MIXED_MIN_BATCHES = 6
# untimed batches at the end of set-up: the JVM's first passes over the
# batch path compile the most code
WARMUP_BATCHES = 4
SCORE_TOL = 1e-9


def _now() -> float:
    return time.perf_counter()


def _pct(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(xs), q))


def _steal_s() -> float:
    """Seconds of CPU time the hypervisor has taken from this machine,
    summed over its CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS mark (VmHWM) of this process."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


class Checks:
    """Counts checked operations and failed checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)


# -- inputs ------------------------------------------------------------------


class Inputs:
    """Everything a run feeds the engine and expects back. Only the
    traced run keeps the corpus, which it builds an index from; the
    untraced run drops it and the oracle once the expected results are
    made, so that they are not part of the peak RSS it reports."""

    def __init__(self, seed: int, keep_corpus: bool):
        import gen
        from oracle import Oracle

        corpus = gen.make_corpus(BASE_SEED, N_CONVS)
        oracle = Oracle(corpus.tok, corpus.doc, corpus.vocab)
        self.n_docs, self.avgdl = oracle.n_docs, oracle.avgdl
        self.text_bytes = corpus.text_bytes
        self.n_turns = corpus.n_turns
        self.pool = gen.query_pool(seed, corpus.vocab, POOL)
        self.stream = gen.query_stream(seed, POOL, STREAM)
        self.batches = gen.batches(seed, POOL, N_BATCHES, BATCH)
        # the base index's upsert (mixed) and the traced run's upsert
        self.base_upsert = (gen.upsert_rows(BASE_SEED, corpus, UPSERT_TURNS),
                            gen.marker(BASE_SEED))
        self.upsert = (gen.upsert_rows(seed, corpus, UPSERT_TURNS), gen.marker(seed))
        conv = corpus.frame["conv_id"].to_numpy()
        turn = corpus.frame["turn_idx"].to_numpy()
        self.expected = []
        for q in self.pool:
            rows, scores = oracle.topk(q, K)
            self.expected.append((conv[rows], turn[rows], scores))
        self.corpus = corpus if keep_corpus else None


def committed_files(root: str) -> dict[str, int]:
    """{path: bytes} of every data file listed by a committed manifest."""
    out = {}
    for table in sorted(os.listdir(root)):
        man = os.path.join(root, table, "_manifest.json")
        if not os.path.exists(man):
            continue
        with open(man) as fh:
            for e in json.load(fh)["files"]:
                p = os.path.join(root, table, e["path"])
                out[p] = os.path.getsize(p)
    return out


# -- result checks -----------------------------------------------------------


def same_topk(conv, turn, score, expected) -> bool:
    import numpy as np

    e_conv, e_turn, e_score = expected
    return (
        len(conv) == len(e_conv)
        and list(conv) == list(e_conv)
        and [int(t) for t in turn] == [int(t) for t in e_turn]
        and bool(np.all(np.abs(np.asarray(score, dtype=float) - e_score) <= SCORE_TOL))
    )


def distinct_ids(conv, turn) -> bool:
    ids = list(zip(conv, (int(t) for t in turn)))
    return len(ids) == len(set(ids))


# -- the run -----------------------------------------------------------------


class Run:
    def __init__(self, args):
        self.args = args
        self.checks = Checks()
        self.lat: list[float] = []      # warm query wall seconds
        self.lat_cpu: list[float] = []  # warm query driver CPU seconds
        self.first_after_write: list[float] = []
        self.batch_s: list[float] = []      # batch wall seconds
        self.batch_cpu: list[float] = []    # batch CPU seconds, all processes
        self.upsert_stats: dict = {}  # the traced upsert: seconds, docs, bytes
        self.written = False  # the index holds the upsert: oracle no longer applies
        self.tracer = None
        self.probe = None
        self.stream_pos = 0

    # ops -------------------------------------------------------------------

    def _group(self, kind: str) -> None:
        """Traced run: attribute the next call's Spark jobs and spans."""
        if self.probe is not None:
            self.tracer.request = self.probe.start(kind)

    def next_query(self) -> int:
        qi = int(self.inputs.stream[self.stream_pos % STREAM])
        self.stream_pos += 1
        return qi

    def warm(self, b, qi: int, kind: str = "warm") -> tuple[float, float]:
        """One checked ``query_warm``: (wall seconds, driver CPU seconds)."""
        q = self.inputs.pool[qi]
        self._group(kind)
        c, t = time.process_time(), _now()
        try:
            r = b.query_warm(q, K)
        except Exception as e:  # a failed op counts as failed, the run goes on
            self.checks.record(False, f"query_warm({q!r}) raised {e!r}")
            return _now() - t, time.process_time() - c
        dt, dc = _now() - t, time.process_time() - c
        conv, turn = r["conv_id"].tolist(), r["turn_idx"].tolist()
        if self.written:
            ok = distinct_ids(conv, turn)
        else:
            ok = same_topk(conv, turn, r["score"].tolist(), self.inputs.expected[qi])
        self.checks.record(ok, f"query_warm({q!r}) mismatch")
        return dt, dc

    def timed_warm(self, b) -> tuple[float, float]:
        """The stream's next query, recorded in the latency samples."""
        dt, dc = self.warm(b, self.next_query())
        self.lat.append(dt)
        self.lat_cpu.append(dc)
        return dt, dc

    def batch(self, b, n: int, kind: str = "batch") -> None:
        idx = self.inputs.batches[n % N_BATCHES]
        qs = [self.inputs.pool[i] for i in idx]
        self._group(kind)
        c, t = tree_cpu_s(), _now()
        try:
            pdf = b.query_batch(qs, K).toPandas()
        except Exception as e:
            self.checks.record(False, f"query_batch raised {e!r}")
            return
        self.batch_s.append(_now() - t)
        self.batch_cpu.append(tree_cpu_s() - c)
        ok = True
        groups = dict(tuple(pdf.groupby("query_id", sort=False)))
        for j, qi in enumerate(idx):
            g = groups.get(j, pdf.iloc[:0])
            conv, turn = g["conv_id"].tolist(), g["turn_idx"].tolist()
            if self.written:
                ok &= distinct_ids(conv, turn)
            else:
                ok &= same_topk(conv, turn, g["score"].tolist(),
                                self.inputs.expected[int(qi)])
        self.checks.record(ok, f"query_batch #{n} mismatch")

    def write(self, spark, b, root: str) -> None:
        """Traced run: one upsert of the seed's rows, checked by marker."""
        from antidb_spark.schema import TRANSCRIPTS_SCHEMA

        rows, marker = self.inputs.upsert
        files = committed_files(root)
        sdf = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
        self._group("upsert")
        t = _now()
        b.upsert_docs(sdf)
        dt = _now() - t
        new = sum(v for p, v in committed_files(root).items() if p not in files)
        self.upsert_stats = {"seconds": dt, "docs": len(rows), "new_bytes": new,
                             "text_bytes": int(rows["text"].str.len().sum())}
        self.written = True
        self.first_after_write.append(self.warm(b, self.next_query(), "after_write")[0])
        self.check_marker(b, rows, marker)

    def check_marker(self, b, rows, marker: str) -> None:
        self._group("check")
        got = b.query_warm(marker, len(rows) + K)
        conv, turn = got["conv_id"].tolist(), got["turn_idx"].tolist()
        want = set(zip(rows["conv_id"], rows["turn_idx"].astype(int)))
        ok = distinct_ids(conv, turn) and set(zip(conv, map(int, turn))) == want
        self.checks.record(ok, f"marker query {marker!r} mismatch")

    # workloads -------------------------------------------------------------

    def run_search(self, b, seconds: float) -> None:
        """Cache-hit warm stream with a batch every SEARCH_WARM_PER_BATCH."""
        t_end = _now() + seconds
        n = 0
        while True:
            for _ in range(SEARCH_WARM_PER_BATCH):
                self.timed_warm(b)
            self.batch(b, n)
            n += 1
            if _now() >= t_end and n >= SEARCH_MIN_BATCHES:
                return

    def run_mixed(self, b, root: str, seconds: float) -> None:
        """Commits beside reads: each commit flips the index between its
        pre- and post-upsert snapshots (``rollback``: a catalog commit per
        table, zero Spark jobs), then come MIXED_QUERIES_PER_COMMIT warm
        queries and a batch, so batches too alternate between states."""
        with open(os.path.join(root, "pins.json")) as fh:
            pins = json.load(fh)
        t_end = _now() + seconds
        commits = n = 0
        while True:
            post = commits % 2 == 1
            self._group("commit")
            b.rollback(pins[post])
            self.written = post
            commits += 1
            self.first_after_write.append(self.timed_warm(b)[0])
            for _ in range(MIXED_QUERIES_PER_COMMIT - 1):
                self.timed_warm(b)
            if post:
                self.check_marker(b, *self.inputs.base_upsert)
            self.batch(b, n)
            n += 1
            if _now() >= t_end and n >= MIXED_MIN_BATCHES:
                return

    # setup -----------------------------------------------------------------

    def open_copy(self, spark, base: str, name: str):
        from antidb_spark.operators.build import IndexBuilder

        root = os.path.join(WORK, "run", name)
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(base, root)
        return IndexBuilder(spark, root), root

    def check_stats(self, b) -> None:
        stats = b.catalog.read_arrow("stats").to_pylist()[0]
        i = self.inputs
        ok = int(stats["n_docs"]) == i.n_docs and abs(stats["avgdl"] - i.avgdl) <= 1e-12
        self.checks.record(ok, f"committed stats {stats} vs ({i.n_docs}, {i.avgdl})")

    def pretouch(self, b) -> None:
        for qi in range(POOL):
            b.query_warm(self.inputs.pool[qi], K)

    def execute(self) -> dict:
        a = self.args
        traced = bool(a.trace)
        search = a.workload == "search"
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
        os.makedirs(os.path.join(WORK, "run"), exist_ok=True)
        # built in a process of its own, before the measured one starts Spark
        base, t_base = ensure_base()
        c0, t0 = tree_cpu_s(), _now()
        spark = start_spark(traced)
        try:
            t_spark = _now() - t0
            t = _now()
            self.inputs = Inputs(a.seed, keep_corpus=traced)
            gc.collect()
            reset_peak_rss()
            t_gen = _now() - t
            t = _now()
            b, root = self.open_copy(spark, base, "idx")
            self.check_stats(b)
            t_open = _now() - t
            index_bytes = sum(committed_files(root).values())
            t = _now()
            # search: fill the caches with the pool (mixed: the first
            # commit empties them, but the traced run's overhead replay
            # needs cache hits)
            if search or traced:
                self.pretouch(b)
            t_touch = _now() - t
            if traced:
                plain, spanned = self.overhead(b)
                self.install(spark)
            t = _now()
            for n in range(WARMUP_BATCHES):  # the run's first Spark jobs
                self.batch(b, N_BATCHES - 1 - n, "first")
            self.batch_s.clear()
            self.batch_cpu.clear()
            t_first = _now() - t
            setup_s = tree_cpu_s() - c0
            info = {
                "setup": {"wall_s": _now() - t0,
                          "spark_start_s": t_spark, "inputs_s": t_gen,
                          "open_s": t_open, "pretouch_s": t_touch,
                          "warmup_batches_s": t_first, "base_index_build_s": t_base},
                "corpus": {"turns": self.inputs.n_turns,
                           "text_bytes": self.inputs.text_bytes,
                           "index_bytes": index_bytes},
            }
            steal, t = _steal_s(), _now()
            if search:
                self.run_search(b, a.seconds)
            else:
                self.run_mixed(b, root, a.seconds)
            ms = [x * 1e3 for x in self.lat]
            info["query_cpu_p50_ms"] = _pct([x * 1e3 for x in self.lat_cpu], 50)
            info["wall"] = {"query_p50_ms": _pct(ms, 50), "query_p90_ms": _pct(ms, 90),
                            "batch_qps": BATCH * len(self.batch_s) / sum(self.batch_s),
                            "seconds": _now() - t,
                            "steal_cpu_s": _steal_s() - steal}
            info["samples"] = {"warm_queries": len(self.lat), "batches": len(self.batch_s)}
            if traced:
                metrics = self.traced_tail(spark, base, plain, spanned)
            else:
                metrics = self.end_to_end(setup_s, index_bytes)
            return {"metrics": metrics, "info": info}
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            stop_spark(spark)
            shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)

    def end_to_end(self, setup_s: float, index_bytes: int) -> dict:
        cpu_ms = [x * 1e3 for x in self.lat_cpu]
        return {
            "setup_s": (setup_s, "s"),
            "query_cpu_mean_ms": (statistics.fmean(cpu_ms), "ms"),
            "query_cpu_p90_ms": (_pct(cpu_ms, 90), "ms"),
            "batch_cpu_ms_per_query": (1e3 * sum(self.batch_cpu) / (BATCH * len(self.batch_cpu)),
                                       "ms"),
            "index_bytes_per_text_byte": (index_bytes / self.inputs.text_bytes, "ratio"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
        }

    # traced run ------------------------------------------------------------

    def overhead(self, b) -> tuple[list[float], list[float]]:
        """The same cache-hit queries, alternately untraced and traced."""
        from spans import Tracer

        tracer = Tracer()
        plain, spanned = [], []
        for _ in range(300):
            qi = self.next_query()
            plain.append(self.warm(b, qi)[0])
            tracer.install()
            try:
                spanned.append(self.warm(b, qi)[0])
            finally:
                tracer.uninstall()
        self.stream_pos = 0
        return plain, spanned

    def install(self, spark) -> None:
        from spans import SparkProbe, Tracer

        self.tracer, self.probe = Tracer(), SparkProbe(spark)
        self.tracer.install()

    def traced_tail(self, spark, base: str, plain, spanned) -> dict:
        """After the traced workload: one upsert on a fresh copy of the
        base index and one full build of the base corpus; then the
        per-layer metrics."""
        import layers
        from antidb_spark.operators.build import IndexBuilder
        from antidb_spark.schema import TRANSCRIPTS_SCHEMA

        b, root = self.open_copy(spark, base, "write")
        self.write(spark, b, root)
        src = os.path.join(WORK, "run", "build-input")
        self.inputs.corpus.write_parquet(src)
        self._group("build")
        phases = IndexBuilder(spark, os.path.join(WORK, "run", "build")).build(
            spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(src)
        )["phases"]
        self.tracer.uninstall()
        self.probe.stop()
        per_group = self.probe.per_group()
        self.tracer.write(os.path.join(WORK, f"trace-{self.args.workload}-{self.args.seed}.jsonl"))
        return layers.per_layer(self, self.tracer, self.probe.groups, per_group, phases,
                                plain, spanned)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    import antidb_spark  # noqa: F401  (fails fast outside a checkout)

    os.makedirs(WORK, exist_ok=True)
    run = Run(args)
    out = run.execute()
    c = run.checks
    for note in c.notes:
        print("CHECK FAILED:", note, file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **out["info"]}))
    for name, (value, unit) in out["metrics"].items():
        print(f"{name:<44} {value:>14.6g} {unit}")
    print(json.dumps({
        "correct": c.failed == 0,
        "attempted": c.attempted,
        "failed": c.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
