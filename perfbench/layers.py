"""The per-layer metrics of a traced run (``--trace 1``).

Spans are named after the engine modules they cover:

    session             session.get_spark
    datagen             datagen (input generation + persist)
    tagger.fused        operators.tagger fused path (kg_fused's whole job)
    prep.<stage>        corpus_prep stages (build, snapshot commit,
                        lineage collect): url_canon (urlnorm),
                        clean_text (decontam.strip_boilerplate),
                        quality_gate (textstats), exact_dedup and
                        near_dedup (dedup), decontam, final
    staged.bookkeeping  the run minus its stages: _metrics/_lineage
                        appends, releasing stage intermediates, and the
                        read of the result

Each span reports, per run, ``.s`` (self time), ``.jobs``,
``.task_cpu_s`` (JVM executor CPU; Python time is in ``.py_run_s``),
``.shuffle_write_mb`` and ``.spill_mb`` (disk). Spans with a Python
node add the task-summed Python worker metrics ``.py_start_s``,
``.py_init_s``, ``.py_run_s``, ``.arrow_mb_in`` and ``.arrow_mb_out``.
Values are medians over the traced warm runs, except ``.py_start_s``,
taken from the cold first run (warm runs reuse workers), and
``session``/``datagen``, taken from set-up. A span a workload never
opens reports 0.
"""

from __future__ import annotations

import statistics

from .tracing import BASE_FIELDS, PY_FIELDS

SPANS = [
    "session", "datagen", "tagger.fused",
    "prep.url_canon", "prep.clean_text", "prep.quality_gate",
    "prep.exact_dedup", "prep.near_dedup", "prep.decontam", "prep.final",
    "staged.bookkeeping",
]
PY_SPANS = ["datagen", "tagger.fused", "prep.near_dedup"]
FIELD_UNITS = {"s": "s", "jobs": "count", "task_cpu_s": "s",
               "shuffle_write_mb": "MB", "spill_mb": "MB",
               "py_start_s": "s", "py_init_s": "s", "py_run_s": "s",
               "arrow_mb_in": "MB", "arrow_mb_out": "MB"}
RUN_METRICS = {
    "peak_rss_mb": "MB",
    "catalog.written_mb": "MB",
    "catalog.written_per_input_byte": "ratio",
    "broadcast_mb": "MB",
    "plan_cache.hits": "count",
    "plan_cache.misses": "count",
    "datagen.unique_sentence_frac": "frac",
    "encoder.forward_ms_per_ksent": "ms",
    "crf.viterbi_ms_per_ksent": "ms",
    "output_rows": "count",
    "trace.overhead_frac": "frac",
    "trace.span_coverage": "frac",
}
DECODE_REPEATS = 3


def metric_names() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    out = {"session.s": "s"}
    for span in SPANS[1:]:
        fields = BASE_FIELDS + (PY_FIELDS if span in PY_SPANS else ())
        out.update((f"{span}.{f}", FIELD_UNITS[f]) for f in fields)
    out.update(RUN_METRICS)
    return out


def _by_name(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Spans of one run → name → summed fields (self time as ``s``)."""
    out: dict[str, dict[str, float]] = {}
    for rec in spans:
        acc = out.setdefault(rec["name"], {})
        for f in BASE_FIELDS + PY_FIELDS + ("broadcast_mb",):
            acc[f] = acc.get(f, 0.0) + rec[f]
    return out


def _median_runs(runs: list[dict[str, dict[str, float]]], name: str,
                 field: str) -> float:
    return statistics.median(r.get(name, {}).get(field, 0.0) for r in runs)


def decode_timings(bench) -> tuple[float, float]:
    """Driver-side encoder forward and Viterbi ms per 1000 sentences on
    a fixed seeded sample, with the committed checkpoint."""
    from .workloads import decode_driver_side, load_checkpoint, sentence_sample

    weights, vocabs = load_checkpoint(bench.root)
    sents = sentence_sample(bench.args.seed)
    fwd, vit = [], []
    for _ in range(DECODE_REPEATS):
        f, v = decode_driver_side(weights, vocabs, sents)
        fwd.append(f)
        vit.append(v)
    k = len(sents) / 1000.0
    return (statistics.median(fwd) * 1e3 / k,
            statistics.median(vit) * 1e3 / k)


def per_layer(bench, out: dict) -> dict[str, tuple[float, str]]:
    wl = bench.wl
    warm = [_by_name(s) for s in out["warm_spans"]]
    cold = _by_name(out["cold_spans"])
    setup = [_by_name(s) for s in bench.setup_spans]
    units = metric_names()
    vals: dict[str, float] = {"session.s": bench.session_s}
    for name in units:
        span, _, field = name.rpartition(".")
        if span not in SPANS or span == "session":
            continue
        if span == "datagen":
            vals[name] = _median_runs(setup, span, field)
        elif field == "py_start_s":
            vals[name] = cold.get(span, {}).get(field, 0.0)
        else:
            vals[name] = _median_runs(warm, span, field)
    written = statistics.median(out["written"])
    fwd, vit = decode_timings(bench)
    secs = statistics.median(out["warm"])
    secs_traced = statistics.median(out["warm_traced"])
    vals.update({
        "peak_rss_mb": out["rss_mb"],
        "catalog.written_mb": written / 2 ** 20,
        "catalog.written_per_input_byte": written / wl.input_bytes,
        "broadcast_mb": statistics.median(
            sum(v["broadcast_mb"] for v in r.values()) for r in warm),
        "plan_cache.hits": statistics.median(
            c.get("plan_cache.hits", 0) for c in out["counters"]),
        "plan_cache.misses": statistics.median(
            c.get("plan_cache.misses", 0) for c in out["counters"]),
        "datagen.unique_sentence_frac": wl.unique_frac(),
        "encoder.forward_ms_per_ksent": fwd,
        "crf.viterbi_ms_per_ksent": vit,
        "output_rows": out["first"][0],
        # = untraced rows/s over traced rows/s, minus one
        "trace.overhead_frac": secs_traced / secs - 1.0,
        "trace.span_coverage": statistics.median(
            sum(rec["s"] for rec in spans) / wall
            for spans, wall in zip(out["warm_spans"], out["warm_traced"])),
    })
    return {k: (vals[k], u) for k, u in units.items()}
