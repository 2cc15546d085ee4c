"""Per-layer metrics of a traced run, from its spans and Spark job groups.

Layer names follow the engine's modules. Per-query figures are over the
workload's warm queries, upsert figures are of the run's one upsert,
per-op Spark figures are over the ops of one kind (build, batch, upsert).
A figure whose operation the workload does not run reads 0.
"""

from __future__ import annotations

import statistics

from spans import WRAPPED, Tracer

SPARK_KINDS = ("build", "batch", "upsert")
SPARK_FIELDS = (
    ("jobs_per_op", "jobs", "count"),
    ("stages_per_op", "stages", "count"),
    ("tasks_per_op", "tasks", "count"),
    ("executor_run_s", "executor_run_s", "s"),
    ("shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("gc_s", "gc_s", "s"),
)

# name -> unit, in print order; BENCHMARK.json lists the same names
UNITS = {
    "build.postings_s": "s",
    "build.docmap_s": "s",
    "build.terms_s": "s",
    "build.blocks_s": "s",
    "build.catalog_write_s": "s",
    "build.catalog_write_calls": "count",
    "build.query_warm_self_ms": "ms",
    "build.query_batch_driver_s": "s",
    "build.query_batch_jobs_s": "s",
    "build.rollback_ms": "ms",
    "warm.jobs_per_query": "count",
    "warm.first_after_write_ms": "ms",
    "upsert.docs_per_s": "docs/s",
    "upsert.write_amp": "ratio",
    "upsert.delete_s": "s",
    "upsert.append_run_s": "s",
    "upsert.self_s": "s",
    "catalog.write_calls": "count",
    "catalog.write_s": "s",
    "catalog.bytes_committed": "bytes",
    "catalog.manifest_calls_per_query": "count",
    "catalog.manifest_ms": "ms",
    "catalog.read_pruned_arrow_calls_per_query": "count",
    "catalog.read_pruned_arrow_ms": "ms",
    "catalog.read_pruned_arrow_rows": "count",
    "catalog.read_arrow_calls_per_query": "count",
    "catalog.read_arrow_ms": "ms",
    "cache.blocks_miss_ratio": "ratio",
    "packing.varint_decode_calls": "count",
    "packing.varint_decode_ms": "ms",
    "packing.decoded_bytes": "bytes",
    **{f"spark.{k}.{n}": u for k in SPARK_KINDS for n, _, u in SPARK_FIELDS},
    **{f"self.{name}_s": "s" for _, _, name in WRAPPED},
    "trace.overhead_query_p50_ms": "ms",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}

_CATALOG_WRITES = ("sources.catalog.write", "sources.catalog.replace")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _under(tracer: Tracer, root: int, names) -> list:
    return [s for s in tracer.descendants(root) if s.name in names]


def per_layer(run, tracer: Tracer, groups: dict[str, str],
              per_group: dict[str, dict], phases: list[dict],
              plain: list[float], spanned: list[float]) -> dict:
    spans = tracer.spans
    out: dict[str, float] = {}

    # operators.build: full build phases and the catalog writes under it
    for p in phases:
        out[f"build.{p['phase']}_s"] = p["seconds"]
    (build_root,) = tracer.roots("operators.build.build")
    writes = _under(tracer, build_root, _CATALOG_WRITES)
    out["build.catalog_write_s"] = sum(s.seconds for s in writes)
    out["build.catalog_write_calls"] = len(writes)

    # the warm path: one root span per workload warm query
    warm = [i for i in tracer.roots("operators.build.query_warm")
            if (spans[i].request or "").startswith("warm-")]
    n = max(len(warm), 1)
    out["build.query_warm_self_ms"] = _median(spans[i].self_s * 1e3 for i in warm)
    below = {i: tracer.descendants(i) for i in warm}

    def per_query(name: str, value) -> float:
        return sum(value(s) for i in warm for s in below[i] if s.name == name) / n

    for layer, short in (("sources.catalog.manifest", "manifest"),
                         ("sources.catalog.read_pruned_arrow", "read_pruned_arrow"),
                         ("sources.catalog.read_arrow", "read_arrow")):
        out[f"catalog.{short}_calls_per_query"] = per_query(layer, lambda s: 1)
        out[f"catalog.{short}_ms"] = per_query(layer, lambda s: s.seconds * 1e3)
        if short == "read_pruned_arrow":
            out["catalog.read_pruned_arrow_rows"] = per_query(
                layer, lambda s: s.attrs.get("rows", 0))
    out["cache.blocks_miss_ratio"] = sum(
        any(s.name == "sources.catalog.read_pruned_arrow"
            and s.attrs.get("table") == "blocks" for s in below[i])
        for i in warm
    ) / n
    dec = "functions.packing.varint_decode"
    out["packing.varint_decode_calls"] = per_query(dec, lambda s: 1)
    out["packing.varint_decode_ms"] = per_query(dec, lambda s: s.seconds * 1e3)
    out["packing.decoded_bytes"] = per_query(dec, lambda s: s.attrs.get("bytes", 0))
    out["warm.jobs_per_query"] = sum(
        per_group[g]["jobs"] for g, k in groups.items() if k == "warm"
    ) / n
    out["warm.first_after_write_ms"] = _median(x * 1e3 for x in run.first_after_write)

    # query_batch: driver time = span minus the wall time of its jobs
    batch_jobs = {g: per_group[g]["jobs_wall_s"] for g, k in groups.items() if k == "batch"}
    batch_roots = [i for i in tracer.roots("operators.build.query_batch")
                   if spans[i].request in batch_jobs]
    out["build.query_batch_jobs_s"] = _median(batch_jobs[spans[i].request] for i in batch_roots)
    out["build.query_batch_driver_s"] = _median(
        spans[i].seconds - batch_jobs[spans[i].request] for i in batch_roots)

    # operators.upsert: the run's one upsert, and the catalog writes it makes
    (up,) = tracer.roots("operators.upsert.upsert_docs")
    u = run.upsert_stats
    out["upsert.docs_per_s"] = u["docs"] / u["seconds"]
    out["upsert.write_amp"] = u["new_bytes"] / u["text_bytes"]
    out["upsert.delete_s"] = sum(
        s.seconds for s in _under(tracer, up, ("operators.upsert.delete_docs",)))
    out["upsert.append_run_s"] = sum(
        s.seconds for s in _under(tracer, up, ("operators.upsert.append_run",)))
    out["upsert.self_s"] = spans[up].self_s
    writes = _under(tracer, up, _CATALOG_WRITES)
    out["catalog.write_calls"] = len(writes)
    out["catalog.write_s"] = sum(s.seconds for s in writes)
    out["catalog.bytes_committed"] = u["new_bytes"]
    out["build.rollback_ms"] = _median(
        spans[i].seconds * 1e3 for i in tracer.roots("operators.build.rollback"))

    # Spark work per op kind
    for kind in SPARK_KINDS:
        gs = [g for g, k in groups.items() if k == kind]
        for name, key, _ in SPARK_FIELDS:
            out[f"spark.{kind}.{name}"] = sum(per_group[g][key] for g in gs) / max(len(gs), 1)

    # self time per layer, summed over the traced run
    for _, _, name in WRAPPED:
        out[f"self.{name}_s"] = sum(s.self_s for s in spans if s.name == name)

    p_plain, p_spanned = _median(plain), _median(spanned)
    out["trace.overhead_query_p50_ms"] = (p_spanned - p_plain) * 1e3
    out["trace.overhead_frac"] = (p_spanned - p_plain) / p_plain
    out["trace.spans"] = len(spans)
    return {name: (out[name], unit) for name, unit in UNITS.items()}
