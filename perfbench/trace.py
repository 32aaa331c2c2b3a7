"""Spans recorded around layer calls, and the executed-plan metric walker.

Spans are kept in memory and written out when the run ends.  A span's
self time is its duration minus the part of it its child spans cover.
The walker reads Spark's SQL metrics from a finished query's executed
plan (descending through adaptive plans and query stages) and sums them
into the exchange / python / codegen / broadcast / join / scan / spill
layers.  It needs no Spark UI.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder.  With ``enabled=False`` every call is a
    no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = -1
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def with_self_time(self) -> list[dict]:
        """Spans with ``dur`` and ``self`` (duration minus the union of
        its children's intervals)."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(i, [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            dur = s["end"] - s["start"]
            out.append(dict(s, id=i, dur=dur, self=dur - covered))
        return out

    def self_time_by_name(self) -> dict[str, float]:
        agg: dict[str, float] = defaultdict(float)
        for s in self.with_self_time():
            agg[s["name"]] += s["self"]
        return dict(agg)


# ---------------------------------------------------------------------------
# executed-plan metric walker
# ---------------------------------------------------------------------------

_JOINS = ("ShuffledHashJoin", "BroadcastHashJoin", "SortMergeJoin")
_PYTHON = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")


def _seconds(value: int, kind: str) -> float:
    if kind == "nsTiming":
        return value / 1e9
    if kind == "timing":
        return value / 1e3
    return float(value)


def _metrics(node) -> dict[str, tuple[int, str]]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = (int(m.value()), m.metricType())
    return out


def _plan_nodes(plan):
    """Every node of a physical plan, AQE wrappers and query stages
    included, each reused exchange counted once (at its original)."""
    todo, seen = [plan], set()
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if name.startswith("Reused"):
            continue
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        yield name, node
        if "QueryStage" in name:
            todo.append(node.plan())
            continue
        kids = node.children()
        for i in range(kids.size()):
            todo.append(kids.apply(i))


def plan_layers(jdf) -> dict[str, float]:
    """Per-layer sums of one finished query's SQL metrics."""
    acc: dict[str, float] = defaultdict(float)
    plan = jdf.queryExecution().executedPlan()
    for name, node in _plan_nodes(plan):
        mets = _metrics(node)
        for key, (v, kind) in mets.items():
            if "spill" in key.lower() and kind == "size":
                acc["spill.bytes"] += v
        if name == "Exchange":
            acc["exchange.bytes"] += mets.get("shuffleBytesWritten", (0, ""))[0]
            acc["exchange.records"] += mets.get("shuffleRecordsWritten", (0, ""))[0]
            v, kind = mets.get("shuffleWriteTime", (0, "nsTiming"))
            acc["exchange.write_s"] += _seconds(v, kind)
        elif name == "BroadcastExchange":
            v, kind = mets.get("buildTime", (0, "timing"))
            acc["broadcast.build_s"] += _seconds(v, kind)
            acc["broadcast.bytes"] += mets.get("dataSize", (0, ""))[0]
        elif name.startswith("WholeStageCodegen"):
            v, kind = mets.get("pipelineTime", (0, "timing"))
            acc["codegen.pipeline_s"] += _seconds(v, kind)
        elif name.startswith(_PYTHON):
            v, kind = mets.get("pythonTotalTime", (0, "nsTiming"))
            acc["python.time_s"] += _seconds(v, kind)
            v, kind = mets.get("pythonBootTime", (0, "nsTiming"))
            acc["python.boot_s"] += _seconds(v, kind)
            acc["python.bytes_sent"] += mets.get("pythonDataSent", (0, ""))[0]
            acc["python.rows_received"] += mets.get("pythonNumRowsReceived", (0, ""))[0]
        elif name.startswith(_JOINS):
            acc["join.candidate_rows"] += mets.get("numOutputRows", (0, ""))[0]
        elif name.startswith("Scan parquet"):
            acc["scan.files_read"] += mets.get("numFiles", (0, ""))[0]
            acc["scan.rows"] += mets.get("numOutputRows", (0, ""))[0]
            sel = node.metadata().get("SelectedBucketsCount")
            if sel.isDefined():
                # "k out of n"
                k, _, n = sel.get().partition(" out of ")
                acc["scan.buckets_selected"] += int(k)
                acc["scan.buckets_total"] += int(n)
    return dict(acc)
