"""Every metric the benchmark reports, with its unit, its direction and,
for per-layer metrics, the end-to-end metric it should move.

``BENCHMARK.json`` at the repo root lists the same names; the tests in
``perfbench/tests`` keep the two in step. Every workload reports every
metric: a layer a workload does not exercise reports 0 (for example the
``op.*`` metrics on ``ingest``, or ``pipeline.*`` on ``analytics``).
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

RELATIONAL_OPS = (
    "agg_group_sums", "join_shuffle_inner", "join_broadcast_dim",
    "join_asof_latest_prior", "win_row_number_topk", "agg_count_distinct",
    "set_union_distinct", "fn_string", "stream_tumbling_count",
)
LLM_OPS = (
    "dedup_exact_hash", "dedup_near_minhash", "dedup_simhash",
    "sim_cosine_topk", "text_quality_filter",
)

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cold_s": ("s", "lower", 0.25),
    "warm_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.22),
}

_SPARK_COUNTS = ("jobs", "stages", "tasks", "build_jobs")
_SPARK_TIMES = ("run_s", "cpu_s", "wait_s")

# name -> (unit, better, which end-to-end metric it should move, and where)
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.build_s": ("s", "lower", "setup_s on every workload; never warm_s"),
    "registry.all_ops_s": ("s", "lower", "setup_s on every workload; never warm_s"),
    "init.ship_s": ("s", "lower", "setup_s on every workload; never warm_s"),
}
for _op in RELATIONAL_OPS:
    PER_LAYER.update({
        f"op.{_op}.build_s": ("s", "lower", "warm_s on analytics (fixed cost: plan build, schema reads)"),
        f"op.{_op}.plan_s": ("s", "lower", "warm_s and cold_s on analytics (Catalyst, fixed cost)"),
        f"op.{_op}.exec_s": ("s", "lower", "warm_s on analytics (noop-sink execution)"),
        f"op.{_op}.shuffle_mb": ("MB", "lower", "warm_s on analytics (shuffle read+write)"),
    })
for _op in LLM_OPS:
    PER_LAYER.update({
        f"op.{_op}.build_s": ("s", "lower", "warm_s on analytics (plan build and eager jobs, e.g. simhash's)"),
        f"op.{_op}.plan_s": ("s", "lower", "warm_s on analytics (negligible for the dedup ops)"),
        f"op.{_op}.exec_s": ("s", "lower", "warm_s on analytics (shuffle and self-join work)"),
        f"op.{_op}.shuffle_mb": ("MB", "lower", "warm_s on analytics (shuffle read+write)"),
    })
for _k in _SPARK_COUNTS:
    PER_LAYER[f"spark.{_k}"] = ("count", "lower", "warm_s on analytics (fixed per-job cost) and ingest")
for _k in _SPARK_TIMES:
    PER_LAYER[f"spark.{_k}"] = ("s", "lower", "warm_s on ingest (wait-dominated); ~0 wait on the relational ops")
PER_LAYER.update({
    "spark.gc_s": ("s", "lower", "warm_s and peak_rss_mb on analytics (dedup ops)"),
    "spark.spill_mb": ("MB", "lower", "warm_s and peak_rss_mb on analytics (dedup ops)"),
    "spark.shuffle_read_mb": ("MB", "lower", "warm_s on analytics (dedup ops)"),
    "spark.shuffle_write_mb": ("MB", "lower", "warm_s on analytics (dedup ops)"),
    "spark.task_skew": ("ratio", "lower", "warm_s on analytics (slowest task sets stage time)"),
    "spark.exchanges": ("count", "lower", "warm_s on analytics (relational ops)"),
    "io.scan_mb": ("MB", "lower", "warm_s on analytics (relational ops)"),
})
for _phase in ("land", "poll"):
    PER_LAYER[f"{_phase}.wall_s"] = ("s", "lower", f"warm_s on ingest ({_phase} half of the cycle)")
    for _k in _SPARK_COUNTS:
        PER_LAYER[f"{_phase}.{_k}"] = ("count", "lower", f"warm_s on ingest ({_phase})")
    for _k in _SPARK_TIMES:
        PER_LAYER[f"{_phase}.{_k}"] = ("s", "lower", f"warm_s on ingest ({_phase})")
    PER_LAYER[f"{_phase}.scan_mb"] = ("MB", "lower", f"warm_s on ingest ({_phase})")
PER_LAYER.update({
    "sources.zip_scans_per_zip": ("ratio", "lower", "warm_s on ingest (land); ideal 1.0"),
    "poll.zip_scans_per_zip": ("ratio", "lower", "warm_s on ingest (poll)"),
    "parse.zip_parses_per_zip": ("ratio", "lower", "warm_s on ingest (land); ideal 1.0"),
    "parse.records_per_s": ("1/s", "higher", "warm_s on ingest through land only; poll should not move"),
    "pipeline.ingest_batch_s": ("s", "lower", "warm_s on ingest (plan build of the batch graph)"),
    "pipeline.sink_control_s": ("s", "lower", "warm_s on ingest (land writes, poll anti-join reads)"),
    "pipeline.sink_quarantine_s": ("s", "lower", "warm_s on ingest (land writes, poll anti-join reads)"),
    "pipeline.files_written": ("count", "lower", "warm_s on ingest (land writes)"),
    "trace.pass_s": ("s", "lower", "warm_s: traced warm unit; less the untraced warm_s it is the tracing overhead"),
    "trace.unaccounted_s": ("s", "lower", "warm_s: traced unit time outside the spans of calls into the program"),
})


class Metrics:
    """Metric values of one run, pre-filled with 0 for every declared name,
    so every workload reports exactly the declared set."""

    def __init__(self, trace: bool):
        self.spec = PER_LAYER if trace else END_TO_END
        self.values: dict[str, float] = {name: 0.0 for name in self.spec}

    def __setitem__(self, name: str, value: float) -> None:
        if name not in self.values:
            raise KeyError(f"undeclared metric {name!r}")
        self.values[name] = float(value)

    def __getitem__(self, name: str) -> float:
        return self.values[name]

    def as_json(self) -> dict:
        return {n: {"value": v, "unit": self.spec[n][0]} for n, v in self.values.items()}
