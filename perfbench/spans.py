"""Traced runs: a span recorder wrapped around the public calls into each
layer, plus Spark status-store deltas per request.

The wrappers live here, not in the engine: ``install`` swaps the public
entry points of each layer for timing shims and ``uninstall`` restores
them.  Each span records name, layer, start, end, parent and the request
id of the query or commit it belongs to.  Spans stay in memory until the
run ends; ``write`` dumps them as JSON lines.

A layer's self time is the part of its spans not covered by child spans;
the request's root span keeps whatever no layer claimed (reported as
``trace.unattributed_s``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
from dataclasses import dataclass, field

LAYERS = ["planner", "compiler", "sources", "functions", "operators",
          "spark"]
_PY_EVAL = re.compile(r"\b(BatchEvalPython|ArrowEvalPython|\w+InPandas|"
                      r"\w+InArrow|ArrowWindowPython\w*|PythonUDTF\w*)\b")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    req: int | None
    end: float = 0.0
    py4j: int = 0
    children_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


def _count_nodes(node, seen=None) -> int:
    from cascalog_spark.planner import Node

    seen = set() if seen is None else seen
    if id(node) in seen:
        return 0
    seen.add(id(node))
    n = 1
    for v in vars(node).values():
        for x in v if isinstance(v, list) else [v]:
            if isinstance(x, Node):
                n += _count_nodes(x, seen)
    return n


def plan_counts(jdf) -> dict:
    """Exchanges, broadcast joins and Python evaluations in a DataFrame's
    physical plan (the AQE final plan when the frame has run)."""
    text = jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split(
            "== Initial Plan ==", 1)[0]
    return {"exchanges": len(re.findall(r"\bExchange\b", text)),
            "broadcast_joins": len(re.findall(r"\bBroadcastHashJoin\b",
                                              text)),
            "python_evals": len(_PY_EVAL.findall(text))}


class StatusDelta:
    """Reads jobs, stages, tasks and executor metrics from the driver's
    status store (readable with the UI disabled) as deltas."""

    FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
              "memoryBytesSpilled", "diskBytesSpilled", "shuffleReadBytes",
              "shuffleWriteBytes", "numTasks")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._last_stage = self._max_stage()
        self._jobs = self._store.jobsList(None).size()

    def _max_stage(self) -> int:
        sl = self._store.stageList(None, False, False, self._quantiles, None)
        return sl.apply(0).stageId() if sl.size() else -1

    def take(self) -> dict:
        sl = self._store.stageList(None, False, False, self._quantiles, None)
        out = dict.fromkeys(self.FIELDS, 0)
        stages = 0
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.stageId() <= self._last_stage:
                break
            stages += 1
            for f in self.FIELDS:
                out[f] += getattr(s, f)()
        if sl.size():
            self._last_stage = max(self._last_stage, sl.apply(0).stageId())
        jobs = self._store.jobsList(None).size()
        d = {"jobs": jobs - self._jobs, "stages": stages,
             "tasks": out["numTasks"],
             "executor_run_s": out["executorRunTime"] / 1e3,
             "executor_cpu_s": out["executorCpuTime"] / 1e9,
             "gc_s": out["jvmGcTime"] / 1e3,
             "shuffle_write_bytes": out["shuffleWriteBytes"],
             "shuffle_read_bytes": out["shuffleReadBytes"],
             "spill_bytes": out["memoryBytesSpilled"]
             + out["diskBytesSpilled"]}
        self._jobs = jobs
        return d


class Tracer:
    """Span recorder.  One client thread, so one span stack."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.requests: list[dict] = []
        self._req = None
        self._patched: list[tuple] = []
        self._status = StatusDelta(spark)

    # -- span recording ---------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, layer, time.perf_counter(), parent, self._req)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self.stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.dur

    @contextlib.contextmanager
    def request(self, kind: str, name: str):
        """Root span of one operation; status-store deltas are read
        outside it so the bookkeeping never lands in a layer."""
        self._status.take()
        self._req = len(self.requests)
        rec = {"id": self._req, "kind": kind, "name": name}
        self.requests.append(rec)
        try:
            with self.span(name, "request") as sp:
                yield sp
        finally:
            self._req = None
            rec["wall_s"] = sp.dur
            rec["spark"] = self._status.take()

    # -- wrapping the layers' public calls ----------------------------------

    def _wrap(self, owner, attr: str, layer: str, after=None):
        orig = getattr(owner, attr)
        own = attr in vars(owner)
        tracer = self

        @functools.wraps(orig)
        def shim(*a, **kw):
            with tracer.span(f"{layer}.{attr}", layer) as sp:
                out = orig(*a, **kw)
            if after is not None:
                after(sp, a, out)
            return out

        setattr(owner, attr, shim)
        self._patched.append((owner, attr, orig if own else None))

    def install(self):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        import cascalog_spark.api as api
        import cascalog_spark.compiler as compiler
        import cascalog_spark.functions.dedup as dedup
        import cascalog_spark.functions.expectations as expectations
        import cascalog_spark.functions.pq as pq
        import cascalog_spark.functions.text as text
        import cascalog_spark.operators.merge as merge

        def plan_nodes(sp, a, out):
            sp.attrs["nodes"] = _count_nodes(a[0]._plan)

        def plan_of_writer(sp, a, out):
            sp.attrs["plan"] = a[0]._df._jdf

        def plan_of_frame(sp, a, out):
            sp.attrs["plan"] = a[0]._jdf

        self._wrap(api.Query, "__init__", "planner", after=plan_nodes)
        self._wrap(api.Query, "to_df", "compiler")
        self._wrap(api.Query, "_to_df_with", "compiler")
        self._wrap(compiler.Compiler, "compile", "compiler")
        self._wrap(DataFrameReader, "parquet", "sources")
        self._wrap(DataFrameReader, "load", "sources")
        for attr in ("save", "parquet"):
            self._wrap(DataFrameWriter, attr, "spark", after=plan_of_writer)
        for attr in ("collect", "toPandas"):
            self._wrap(DataFrame, attr, "spark", after=plan_of_frame)
        self._wrap(DataFrame, "count", "spark")
        for mod, names in ((text, ("quality_score", "lang_id",
                                   "doc_fingerprint")),
                           (dedup, ("exact_dedup", "near_dedup",
                                    "minhash_lsh_candidates")),
                           (pq, ("ivfpq_index", "ivfpq_knn_join")),
                           (expectations, ("check_expectations",))):
            for n in names:
                self._wrap(mod, n, "functions")
        for n in ("apply_changes_into", "optimize_table"):
            self._wrap(merge, n, "operators")
        self._wrap_py4j()
        return self

    def _wrap_py4j(self):
        client = self.spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*a, **kw):
            if tracer.stack:
                tracer.spans[tracer.stack[-1]].py4j += 1
            return orig(*a, **kw)

        client.send_command = send_command
        self._patched.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)  # fall back to the inherited one
            else:
                setattr(owner, attr, orig)
        self._patched = []

    # -- reporting ------------------------------------------------------------

    def resolve_plans(self) -> None:
        """Replace recorded frames by their plan counts (after the run,
        outside every span)."""
        for sp in self.spans:
            jdf = sp.attrs.pop("plan", None)
            if jdf is not None:
                sp.attrs.update(plan_counts(jdf))

    def layer_metrics(self, n_cores: int) -> dict:
        """Mean per request of each layer's self time and counts."""
        reqs = [r for r in self.requests if "wall_s" in r]
        n = max(1, len(reqs))
        self_s = dict.fromkeys(LAYERS + ["request"], 0.0)
        counts = {"planner.nodes": 0, "compiler.py4j_calls": 0,
                  "compiler.exchanges": 0, "compiler.broadcast_joins": 0,
                  "compiler.python_evals": 0}
        for sp in self.spans:
            if sp.req is None:
                continue
            self_s[sp.layer] = self_s.get(sp.layer, 0.0) + sp.self_s
            if sp.layer == "planner":
                counts["planner.nodes"] += sp.attrs.get("nodes", 0)
            if sp.layer == "compiler":
                counts["compiler.py4j_calls"] += sp.py4j
            for k in ("exchanges", "broadcast_joins", "python_evals"):
                counts[f"compiler.{k}"] += sp.attrs.get(k, 0)
        out = {"planner.plan_s": self_s["planner"] / n,
               "compiler.compile_s": self_s["compiler"] / n,
               "sources.read_s": self_s["sources"] / n,
               "functions.self_s": self_s["functions"] / n,
               "operators.self_s": self_s["operators"] / n,
               "spark.action_s": self_s["spark"] / n,
               "trace.unattributed_s": self_s["request"] / n,
               "trace.requests": len(reqs)}
        out.update({k: v / n for k, v in counts.items()})
        tot = dict.fromkeys(reqs[0]["spark"] if reqs else [], 0)
        for r in reqs:
            for k, v in r["spark"].items():
                tot[k] += v
        for k, v in tot.items():
            out[f"spark.{k}"] = v / n
        busy = self_s["spark"] * n_cores
        out["spark.slot_idle_share"] = (
            1.0 - tot.get("executor_run_s", 0.0) / busy) if busy else 0.0
        return out

    def by_request(self) -> list[dict]:
        """Per request: wall and the self time of every layer."""
        rows = {r["id"]: {"id": r["id"], "kind": r["kind"],
                          "name": r["name"], "wall_s": r.get("wall_s", 0.0),
                          **dict.fromkeys(LAYERS + ["unattributed"], 0.0)}
                for r in self.requests}
        for sp in self.spans:
            if sp.req is None:
                continue
            key = "unattributed" if sp.layer == "request" else sp.layer
            rows[sp.req][key] += sp.self_s
        return list(rows.values())

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": sp.name, "layer": sp.layer,
                    "start": sp.start, "end": sp.end, "parent": sp.parent,
                    "req": sp.req, "py4j": sp.py4j,
                    **{k: v for k, v in sp.attrs.items()
                       if isinstance(v, (int, float, str))}}) + "\n")
