"""Spans and per-layer counters for the traced run.

A span records name, layer, start, end, parent span and op id; spans
stay in memory and are written out when the run ends. Every span opens
its own Spark job group, so each job lands on the innermost span that
triggered it (``statusTracker().getJobIdsForGroup``). Per-stage bytes,
GC and executor run time come from the driver's REST status API, which
the traced run turns on and the untraced run leaves off.

Spans are opened only from the benchmark's files, around calls into the
program's modules: :func:`patched` swaps a module attribute for a
wrapper for the duration of an op and puts the original back after.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request

STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "jvmGcTime",
    "inputBytes", "shuffleWriteBytes",
)
DONE = {"COMPLETE", "SKIPPED", "FAILED"}


class Tracer:
    """Records spans while ``enabled``; otherwise each span costs one
    attribute check."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None

    # -- recording -----------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None, "op": self.op_id,
            "group": f"perfbench-{len(self.spans)}", **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent["group"] if parent else None, parent["name"] if parent else "")

    def _set_group(self, group: str | None, desc: str) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, desc)

    def wrap(self, fn, name: str, layer):
        """``fn`` inside a span; ``layer`` is a string or a callable
        that picks the layer from the call's arguments."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            lay = layer(*args, **kwargs) if callable(layer) else layer
            with self.span(name, lay):
                return fn(*args, **kwargs)

        return traced

    # -- attribution ---------------------------------------------------
    def collect_stages(self, op_spans: list[dict], timeout: float = 10.0) -> None:
        """Attach job ids and summed stage metrics to each span of one op.

        Runs after the op, outside its timed region. Polls the status
        store until every stage of the op's jobs has finished posting.
        """
        if not self.enabled or not op_spans:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        for rec in op_spans:
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))
            infos = [tracker.getJobInfo(j) for j in rec["jobs"]]
            rec["stage_ids"] = sorted({int(s) for info in infos if info for s in info.stageIds})
        wanted = {s for rec in op_spans for s in rec["stage_ids"]}
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        deadline = time.monotonic() + timeout
        while True:
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                stages = json.load(resp)
            by_id: dict[int, list[dict]] = {}
            for st in stages:
                if st["stageId"] in wanted:
                    by_id.setdefault(st["stageId"], []).append(st)
            settled = all(
                s in by_id and all(a["status"] in DONE for a in by_id[s]) for s in wanted
            )
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        for rec in op_spans:
            tot = dict.fromkeys(STAGE_FIELDS, 0)
            n_stages = 0
            for s in rec["stage_ids"]:
                for attempt in by_id.get(s, []):
                    if attempt["status"] == "SKIPPED":
                        continue
                    n_stages += 1
                    for k in STAGE_FIELDS:
                        tot[k] += attempt.get(k, 0)
            rec["stages"] = n_stages
            rec.update(tot)

    # -- summaries -----------------------------------------------------
    def self_times(self, spans: list[dict]) -> dict[int, float]:
        """Span duration minus the part its direct children cover."""
        out = {r["id"]: r["end"] - r["start"] for r in spans}
        for r in spans:
            if r["parent"] in out:
                out[r["parent"]] -= r["end"] - r["start"]
        return out


def layer_totals(tracer: Tracer, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer: self seconds, jobs and summed stage counters."""
    selfs = tracer.self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for r in spans:
        t = out.setdefault(r["layer"], {"s": 0.0, "jobs": 0, **dict.fromkeys(STAGE_FIELDS, 0)})
        t["s"] += selfs[r["id"]]
        t["jobs"] += len(r.get("jobs", []))
        for k in STAGE_FIELDS:
            t[k] += r.get(k, 0)
    return out


@contextlib.contextmanager
def patched(module, replacements: dict):
    """Swap module attributes for the duration of the block."""
    saved = {name: getattr(module, name) for name in replacements}
    try:
        for name, fn in replacements.items():
            setattr(module, name, fn)
        yield
    finally:
        for name, fn in saved.items():
            setattr(module, name, fn)
