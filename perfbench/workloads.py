"""Workload plumbing shared by the two workloads.

A workload generates its inputs from the seed, sets itself up, and then
yields :class:`Op` objects one at a time; the runner times ``op.run()``
and, after the measured window, calls ``op.check(result)``. ``boundary``
marks where the measured window may end: after the last request of a
block for ``interactive``, after the last step of the pass for
``batch``.
"""

from __future__ import annotations

import copy
import json
import subprocess
import sys
from dataclasses import dataclass
from typing import Any, Callable

import gen


@dataclass
class Op:
    kind: str
    cls: str
    rows: int
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    boundary: bool = True
    meta: Any = None


class Workload:
    # set-up repetitions; setup_s takes their median
    setup_reps = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.span = ctx.span
        self.tracer = ctx.tracer

    # inputs ---------------------------------------------------------------
    def write_tables(self, sf: float, subdir: str) -> "tuple[str, dict]":
        """Generate the tables in a child process, so the driver's peak
        RSS holds none of the generator's memory."""
        out = self.ctx.path("data", subdir)
        p = subprocess.run([sys.executable, gen.__file__, str(sf), str(self.ctx.seed), out],
                           capture_output=True, text=True, check=True)
        return out, json.loads(p.stdout)

    # lifecycle hooks --------------------------------------------------------
    def generate(self) -> None: ...

    def setup(self, rep: int) -> None: ...

    def warmup(self) -> None: ...

    def ops(self):
        raise NotImplementedError

    def trace_probe(self, op: Op, result) -> None: ...

    def before_checks(self) -> None: ...

    def final_checks(self) -> "list[tuple[str, bool]]":
        return []

    def summary(self, timed: list) -> dict:
        return {}

    def info(self) -> dict:
        return {}

    def layer_metrics(self, timed: list, n_ops: int) -> dict:
        return {}

    # helpers ----------------------------------------------------------------
    def mean_span_ms(self, name: str) -> float:
        d = self.tracer.durations(name)
        return 1000 * sum(d) / len(d) if d else 0.0

    def sum_span_s(self, *names: str) -> float:
        return sum(sum(self.tracer.durations(n)) for n in names)


# End-to-end metrics, reported by every workload with tracing off.
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("op_geomean_ms", "ms"),
    ("ops_per_s", "ops/s"),
    ("cpu_ms_per_op", "ms"),
    ("input_rows_per_s", "rows/s"),
]

# Every per-layer metric with its unit; a workload that does not touch a
# layer reports 0 for it. Self time and call counts per layer are added
# from spans.LAYERS by the runner.
PER_LAYER = [
    ("session.start_s", "s"),
    ("sql.parse_us", "us"),
    ("manager.sql2ddf_ms", "ms"),
    ("ddf.plan_ms", "ms"),
    ("ddf.action_ms", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("operators.plan_s", "s"),
    ("operators.exec_s", "s"),
    ("plan.exchanges", "count"),
    ("plan.broadcasts", "count"),
    ("ml.train_s", "s"),
    ("index_store.load_ms", "ms"),
    ("similarity.search_ms", "ms"),
    ("index_store.files_read_ratio", "ratio"),
    ("manifest.read_ms", "ms"),
    ("manifest.files_pruned_ratio", "ratio"),
    ("manifest.commit_ms", "ms"),
    ("manifest.bytes_written_per_input_byte", "ratio"),
    ("streaming.ingest_s", "s"),
    ("streaming.rows_per_s", "rows/s"),
    ("dedup.exact_s", "s"),
    ("dedup.near_dup_s", "s"),
    ("dedup.verified_per_candidate", "ratio"),
    ("text.quality_s", "s"),
    ("sketches.decontam_s", "s"),
    ("sources.write_jsonl_s", "s"),
    ("storage.release_s", "s"),
    ("storage.blocks_released", "count"),
    ("cpu.driver_py_s", "s"),
    ("cpu.jvm_s", "s"),
    ("cpu.py_workers_s", "s"),
    ("py_workers.spawned", "count"),
    ("jvm.gc_ms", "ms"),
    ("trace.overhead_ratio", "ratio"),
]


def make(name: str, ctx) -> Workload:
    if name == "interactive":
        from interactive import Interactive

        return Interactive(ctx)
    from batch import Batch

    return Batch(ctx)


def corrupt(result):
    """A plausibly wrong copy of ``result`` (self-test of the checker)."""
    if hasattr(result, "iloc"):  # pandas frame from a report query
        out = result.copy()
        out.iloc[0, 0] = corrupt(out.iloc[0, 0])
        return out
    if hasattr(result, "item"):  # numpy scalar
        result = result.item()
    if isinstance(result, bool) or result is None:
        return not result
    if isinstance(result, (int, float)):
        return result + 1
    if isinstance(result, str):
        return result + "#"
    if isinstance(result, dict):
        out = copy.deepcopy(result)
        k = sorted(out, key=str)[0]
        out[k] = corrupt(out[k])
        return out
    if isinstance(result, (list, tuple)):
        if not result:
            return [("corrupt",)]
        out = list(result)
        out[0] = corrupt(out[0])
        return out if isinstance(result, list) else tuple(out)
    raise TypeError(f"cannot corrupt {type(result).__name__}")
