"""The two workloads. Each runs as a closed loop with one client: the
next call into the program starts only after the previous one returned.

- ``analytics`` (:class:`OpsWorkload`): one unit is a pass over nine
  JVM-only relational ops (many small plans: fixed per-query cost) and five
  dedup/similarity ops (shuffle and self-join work) in an order shuffled by
  the seed. Per op: the op function (plan build), ``executedPlan``
  (Catalyst) and a save through the ``noop`` sink (execution of every
  projected column). The cold pass collects each result with ``toPandas``
  instead, so the check reads it without running the plans again.
- ``ingest`` (:class:`IngestWorkload`): one unit is a land of the seeded
  drop folder into empty control and quarantine tables, then a poll of the
  same folder with the workflow ledger refreshed from the landed control
  table (zero rows added).

Correctness is checked outside every timed region.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import time

import pyarrow.parquet as pq

from perfbench import ingestgen
from perfbench.trace import StatusReader, Tracer, plan_shape, rows_out

# Input sizes, fixed for every seed so run-to-run spread is the system's.
# The tables match the engine's sf0.01 testdata in row counts.
DATA_SEED = 42
TABLE_SF = 0.01   # 60k lineitem, 15k orders, 10k events
N_DOCS = 500
N_VECS = 500
N_ZIPS = 30

OP_CALLS = ("op_fn", "executedPlan", "noop_save")
INGEST_CALLS = ("ledger_refresh", "ingest_batch", "sink_control_table", "sink_quarantine_table")
LEDGER_KINDS = ("in_ingested", "in_workflows", "in_completed", "dup_loser")
SPARK_KEYS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "wait_s", "gc_s",
              "spill_mb", "shuffle_read_mb", "shuffle_write_mb", "task_skew")


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _sum_dur(spans: list[dict]) -> float:
    return sum(_dur(s) for s in spans)


def _jobs_of(jobs: dict[str, list], spans: list[dict]) -> list:
    """Jobs run under the job groups of ``spans``."""
    return [j for s in spans for j in jobs.get(s["group"], [])]


class OpsWorkload:
    MIN_WARM = 3  # warm_s takes each op's median over at least three passes

    def __init__(self, spark, registry, names, data_dir: str, tracer: Tracer, seed: int):
        self.spark, self.registry, self.names = spark, registry, tuple(names)
        self.data_dir, self.tracer = data_dir, tracer
        self.rng = random.Random(seed)
        self.ok_runs = {n: 0 for n in self.names}
        self.wrong: set[str] = set()  # ops whose checked result was wrong
        self.results: dict = {}  # op -> pandas result of the cold pass
        self.warm_times: dict[str, list[float]] = {n: [] for n in self.names}
        self.attempted, self.failed = 0, 0
        self.errors: list[str] = []

    def unit(self, cold: bool = False) -> tuple[float, list[dict]]:
        """One pass; returns its wall time and its root span (if traced).
        The cold pass collects every result for :meth:`check`; a warm pass
        saves through the ``noop`` sink and records each op's time."""
        order = list(self.names)
        self.rng.shuffle(order)
        tr = self.tracer
        with tr.span("pass") as root:
            t0 = time.perf_counter()
            for name in order:
                self.attempted += 1
                t_op = time.perf_counter()
                try:
                    with tr.span(f"op.{name}", op=name):
                        with tr.span("op_fn"):
                            df = self.registry[name].fn(self.spark, self.data_dir)
                        with tr.span("executedPlan"):
                            df._jdf.queryExecution().executedPlan()
                        if cold:
                            self.results[name] = df.toPandas()
                        else:
                            with tr.span("noop_save"):
                                df.write.format("noop").mode("overwrite").save()
                            self.warm_times[name].append(time.perf_counter() - t_op)
                    self.ok_runs[name] += 1
                    self.failed += name in self.wrong
                except Exception as exc:  # noqa: BLE001 — counted in `failed`, the loop goes on
                    self.failed += 1
                    self.errors.append(f"{name}: {exc!r}"[:400])
            wall = time.perf_counter() - t0
        return wall, [root] if root else []

    def warm_s(self) -> float:
        """Sum over the ops of each op's median time over the warm passes:
        a pass time in which a stall in one op of one pass does not count."""
        return sum(statistics.median(t) for t in self.warm_times.values() if t)

    def check(self) -> None:
        """Compare every op's cold-pass result with its DuckDB oracle
        (``Op.sql``), using the repo's own canonicalization
        (``tests/oracle_compare.py``). A wrong result counts every run of
        the op that did not raise as failed, the later ones included (the
        runs that raised are counted already)."""
        import duckdb

        from tests.oracle_compare import compare_frames, register_views

        con = duckdb.connect()
        register_views(con, self.data_dir)
        for name, got in self.results.items():
            try:
                problems = compare_frames(got, con.sql(self.registry[name].sql).df(), name)
            except Exception as exc:  # noqa: BLE001 — an op that cannot be checked is wrong
                problems = [f"{name}: check raised {exc!r}"[:400]]
            if problems:
                self.wrong.add(name)
                self.failed += self.ok_runs[name]
                self.errors.extend(p[:400] for p in problems)
        con.close()

    def layer_metrics(self, reader: StatusReader, roots: list[dict], m) -> dict:
        """Per-layer values of one traced pass into ``m``; returns the plan
        shape of every op's noop save."""
        tr = self.tracer
        (root,) = roots
        jobs = reader.jobs_by_group()
        spans = tr.subtree(root)
        reader.annotate(spans, jobs)
        pass_jobs = _jobs_of(jobs, spans)
        total = reader.stage_totals(pass_jobs)
        shapes = {}
        for op_span in (s for s in spans if s["parent"] == root["id"]):
            name = op_span["op"]
            sub = tr.subtree(op_span)
            by = {s["name"]: s for s in sub}
            m[f"op.{name}.build_s"] = _dur(by["op_fn"])
            m[f"op.{name}.plan_s"] = _dur(by["executedPlan"])
            m[f"op.{name}.exec_s"] = _dur(by["noop_save"])
            op_total = reader.stage_totals(_jobs_of(jobs, sub))
            m[f"op.{name}.shuffle_mb"] = op_total["shuffle_read_mb"] + op_total["shuffle_write_mb"]
            save_ids = {j.jobId() for j in _jobs_of(jobs, [by["noop_save"]])}
            shapes[name] = plan_shape(reader.sql_plans(save_ids))
        for k in SPARK_KEYS:
            m[f"spark.{k}"] = total[k]
        m["spark.build_jobs"] = len(_jobs_of(jobs, [s for s in spans if s["name"] == "op_fn"]))
        m["spark.exchanges"] = plan_shape(reader.sql_plans({j.jobId() for j in pass_jobs}))["exchanges"]
        m["io.scan_mb"] = total["scan_mb"]
        m["trace.pass_s"] = _dur(root)
        m["trace.unaccounted_s"] = _dur(root) - _sum_dur([s for s in spans if s["name"] in OP_CALLS])
        return shapes


class IngestWorkload:
    MIN_WARM = 1

    def __init__(self, spark, work_dir: str, tracer: Tracer, seed: int):
        from bpspark.pipeline import Ledgers

        self.spark, self.work_dir, self.tracer = spark, work_dir, tracer
        self.truth = ingestgen.generate(os.path.join(work_dir, "in"), seed, N_ZIPS)
        self.drop = os.path.join(work_dir, "in", "drop")
        self.base = Ledgers.load(spark, os.path.join(work_dir, "in", "ledgers"))
        self.cycles, self.land_files = 0, 0
        self.attempted, self.failed = 0, 0
        self.errors: list[str] = []

    def _tables(self, i: int) -> tuple[str, str]:
        out = os.path.join(self.work_dir, f"out{i}")
        return os.path.join(out, "control"), os.path.join(out, "quarantine")

    def _batch(self, ledgers, ctl: str, qdir: str) -> None:
        from bpspark.pipeline import ingest_batch, sink_control_table, sink_quarantine_table

        tr = self.tracer
        with tr.span("ingest_batch"):
            res = ingest_batch(self.spark, self.drop, ledgers)
        with tr.span("sink_control_table"):
            sink_control_table(res.workflows_new, ctl)
        with tr.span("sink_quarantine_table"):
            sink_quarantine_table(res.quarantine, qdir)

    def _land(self, ctl: str, qdir: str) -> None:
        self._batch(self.base, ctl, qdir)

    def _poll(self, ctl: str, qdir: str) -> None:
        """The workflow ledger is refreshed from the landed control table,
        as the streaming ingest does per micro-batch, so landed ISBNs are
        dropped before the parse."""
        from bpspark.pipeline import Ledgers

        base = self.base
        with self.tracer.span("ledger_refresh"):
            sunk = self.spark.read.parquet(ctl).select("workflow_id", "isbn")
            ledgers = Ledgers(
                valid_genres=base.valid_genres,
                ingested_zips=base.ingested_zips,
                workflows=base.workflows.select("workflow_id", "isbn").unionByName(sunk),
                completed_books=base.completed_books,
            )
        self._batch(ledgers, ctl, qdir)

    def _landed(self, ctl: str, qdir: str) -> tuple[list[str], list[list[str]], int]:
        c = pq.read_table(ctl, columns=["isbn", "all_metadata"]).to_pylist()
        q = pq.read_table(qdir, columns=["path", "error_code"]).to_pylist()
        chapters = sum(1 for r in c for e in r["all_metadata"] if e["entry"].startswith("chapter-"))
        return (sorted(r["isbn"] for r in c),
                sorted([os.path.basename(r["path"]), r["error_code"]] for r in q), chapters)

    def _phase(self, name: str, fn, ctl: str, qdir: str, expect) -> tuple[float, dict | None]:
        """Run one timed land or poll, then check what it left behind."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name) as root:
                fn(ctl, qdir)
            wall = time.perf_counter() - t0
            got = self._landed(ctl, qdir)
        except Exception as exc:  # noqa: BLE001 — counted in `failed`, the loop goes on
            self.failed += 1
            self.errors.append(f"{name} {self.cycles}: {exc!r}"[:400])
            return time.perf_counter() - t0, None
        if got != expect:
            self.failed += 1
            self.errors.append(f"{name} {self.cycles}: landed {got[2]} chapters, "
                               f"{len(got[0])} control / {len(got[1])} quarantine rows; "
                               f"expected {expect[2]}, {len(expect[0])}, {len(expect[1])}")
        return wall, root

    def unit(self, cold: bool = False) -> tuple[float, list[dict]]:
        """One land + poll cycle into fresh tables; returns the summed wall
        time of the two timed phases and their root spans (if traced)."""
        ctl, qdir = self._tables(self.cycles)
        t = self.truth
        expect = (t["control_isbns"], t["quarantine"], t["chapters"])
        land_s, land = self._phase("land", self._land, ctl, qdir, expect)
        self.land_files = len(glob.glob(os.path.join(ctl, "*.parquet"))
                              + glob.glob(os.path.join(qdir, "*.parquet")))
        poll_s, poll = self._phase("poll", self._poll, ctl, qdir, expect)
        self.cycles += 1
        return land_s + poll_s, [s for s in (land, poll) if s]

    def parse_rows(self, names: list[str]) -> int:
        """Rows of one direct ``parse_metadata_zip`` sweep over ``names``;
        a ZIP that fails to parse yields one error row, as in the
        pipeline's quarantine channel."""
        from bpspark.parse import parse_metadata_zip

        rows = 0
        for n in names:
            with open(os.path.join(self.drop, n), "rb") as fh:
                data = fh.read()
            try:
                rows += len(parse_metadata_zip(data))
            except Exception:  # noqa: BLE001 — a corrupt ZIP is one error row
                rows += 1
        return rows

    def records_per_s(self, min_seconds: float = 0.5) -> float:
        """Single-thread ``parse_metadata_zip`` throughput on the folder."""
        names = [n for n, _ in self.truth["files"]]
        with self.tracer.span("parse_metadata_zip"):
            t0, records = time.perf_counter(), 0
            while time.perf_counter() - t0 < min_seconds:
                records += self.parse_rows(names)
            return records / (time.perf_counter() - t0)

    def layer_metrics(self, reader: StatusReader, roots: list[dict], m) -> dict:
        tr = self.tracer
        jobs = reader.jobs_by_group()
        n_zips = len(self.truth["files"])
        new = [n for n, kind in self.truth["files"] if kind not in LEDGER_KINDS]
        one_parse = self.parse_rows(new)
        all_jobs, all_calls, shapes = [], [], {}
        for root in roots:
            phase = root["name"]
            spans = tr.subtree(root)
            reader.annotate(spans, jobs)
            calls = [s for s in spans if s["name"] in INGEST_CALLS]
            ph_jobs = _jobs_of(jobs, spans)
            total = reader.stage_totals(ph_jobs)
            plans = reader.sql_plans({j.jobId() for j in ph_jobs})
            m[f"{phase}.wall_s"] = _dur(root)
            for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "wait_s", "scan_mb"):
                m[f"{phase}.{k}"] = total[k]
            build = [s for s in calls if s["name"] in ("ledger_refresh", "ingest_batch")]
            m[f"{phase}.build_jobs"] = len(_jobs_of(jobs, build))
            scans = rows_out(plans, "Scan binaryFile") / n_zips
            if phase == "land":
                m["sources.zip_scans_per_zip"] = scans
                m["parse.zip_parses_per_zip"] = rows_out(plans, "MapInPandas") / one_parse
                m["pipeline.ingest_batch_s"] = _sum_dur([s for s in calls if s["name"] == "ingest_batch"])
                m["pipeline.files_written"] = self.land_files
            else:
                m["poll.zip_scans_per_zip"] = scans
            shapes[phase] = plan_shape(plans)
            all_jobs += ph_jobs
            all_calls += calls
        total = reader.stage_totals(all_jobs)
        for k in SPARK_KEYS:
            m[f"spark.{k}"] = total[k]
        m["spark.build_jobs"] = m["land.build_jobs"] + m["poll.build_jobs"]
        m["spark.exchanges"] = sum(s["exchanges"] for s in shapes.values())
        m["io.scan_mb"] = total["scan_mb"]
        m["pipeline.sink_control_s"] = _sum_dur([s for s in all_calls if s["name"] == "sink_control_table"])
        m["pipeline.sink_quarantine_s"] = _sum_dur([s for s in all_calls if s["name"] == "sink_quarantine_table"])
        wall = sum(_dur(r) for r in roots)
        m["trace.pass_s"] = wall
        m["trace.unaccounted_s"] = wall - _sum_dur(all_calls)
        return shapes
