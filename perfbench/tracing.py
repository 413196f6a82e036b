"""Spans and counters for the traced run, recorded from outside the package.

The tracer wraps the public functions of each layer where the package
binds them (module attributes), counts py4j commands by wrapping the
gateway client's ``send_command``, and reads Spark's in-process status
store (works with the UI off) between steps. Spans stay in memory and are
written out as JSON when the run ends. Nothing here runs in an untraced
run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from dataclasses import dataclass, field

PKG = "esther_apache_spark_spark"

# Layer -> (module, public function names). ``None`` means every public
# function defined in the module.
WRAPPED = {
    "operators.components": (f"{PKG}.operators.components", ("connected_components",)),
    "operators.dedup": (f"{PKG}.operators.dedup", None),
    "sources.sinks.csv": (f"{PKG}.sources.sinks", ("write_csv_dialect",)),
    "sources.sinks.sqlite": (f"{PKG}.sources.sinks", ("write_sqlite",)),
}
# Context managers and helpers the steps do not call as operators.
_NOT_OPERATORS = {"cache_scope", "storage_level_scope"}

STAGE_FIELDS = (
    "input_rows", "input_bytes", "output_bytes", "tasks", "stages",
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
)


@dataclass(eq=False)
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    py4j0: int = 0
    py4j1: int = 0
    jobs0: int = 0
    jobs1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one run. ``enabled`` can be flipped between
    passes so one run yields traced and untraced passes."""

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._py4j = 0
        self._own_calls = False
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._bus = self._jsc.listenerBus()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._last_stage = -1
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted_send(*a, **k):
            if self.enabled and not self._own_calls:
                self._py4j += 1
            return send(*a, **k)

        client.send_command = counted_send
        self._wrap_layers()

    # -- spans -------------------------------------------------------------

    def _jobs(self) -> int:
        self._own_calls = True
        try:
            return self._dag.numTotalJobs()
        finally:
            self._own_calls = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), self._stack[-1] if self._stack else None,
                 self.run_id, attrs=attrs)
        s.py4j0, s.jobs0 = self._py4j, self._jobs()
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.jobs1 = self._jobs()
            s.py4j1 = self._py4j
            s.end = time.perf_counter()

    def _inside(self, prefix: str) -> bool:
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    def _wrap_layers(self) -> None:
        """Replace each layer function by a span-recording wrapper in every
        loaded package module that binds it. Only the outermost call of a
        layer gets a span, so nested calls inside one layer count once."""
        importlib.import_module(f"{PKG}.plans")  # binds every layer function
        targets = {}
        for layer, (modname, names) in WRAPPED.items():
            mod = importlib.import_module(modname)
            if names is None:
                names = [
                    n for n, v in vars(mod).items()
                    if callable(v) and not n.startswith("_") and n not in _NOT_OPERATORS
                    and getattr(v, "__module__", None) == modname
                ]
            for n in names:
                fn = getattr(mod, n)
                targets[id(fn)] = (fn, self._wrapper(layer, n, fn))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                hit = targets.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])

    def _wrapper(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **k):
            if not self.enabled or self._inside(layer):
                return fn(*a, **k)
            with self.span(layer, fn=name):
                return fn(*a, **k)

        return traced

    # -- status store --------------------------------------------------------

    def mark(self) -> None:
        """Start the next ``stage_stats`` delta at the newest stage so far."""
        self._own_calls = True
        try:
            self._bus.waitUntilEmpty()
            seq = self._store.stageList(None, False, False, self._no_quantiles, None)
            if not seq.isEmpty():
                self._last_stage = seq.head().stageId()
        finally:
            self._own_calls = False

    def stage_stats(self) -> dict:
        """Sums over the stages that ran since the previous call."""
        out = dict.fromkeys(STAGE_FIELDS, 0)
        self._own_calls = True
        try:
            self._bus.waitUntilEmpty()
            seq = self._store.stageList(None, False, False, self._no_quantiles, None)
            newest = self._last_stage
            while not seq.isEmpty():  # newest first
                st = seq.head()
                seq = seq.tail()
                sid = st.stageId()
                if sid <= self._last_stage:
                    break
                newest = max(newest, sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["input_rows"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self._last_stage = newest
        finally:
            self._own_calls = False
        return out

    # -- per-pass rollup -------------------------------------------------------

    def pass_metrics(self, pass_span: Span) -> dict:
        """Per-layer metrics of one traced pass, from the spans under it."""
        idx = self.spans.index(pass_span)
        kids = [s for s in self.spans[idx + 1:] if self._under(s, idx)]

        def total(name, f):
            return sum(f(s) for s in kids if s.name == name)

        builds = [s for s in kids if s.name == "plans.build"]
        # self time: a build minus the operator calls directly under it
        build_ids = {self.spans.index(b) for b in builds}
        build_kids = [s for s in kids if s.parent in build_ids]
        m = {
            "plans.build_s": sum(b.wall for b in builds) - sum(s.wall for s in build_kids),
            "plans.py4j_calls": total("plans.build", lambda s: s.py4j1 - s.py4j0),
            "plans.build_jobs": total("plans.build", lambda s: s.jobs1 - s.jobs0),
            "spark.action_s": total("spark.action", lambda s: s.wall),
            "spark.jobs": pass_span.jobs1 - pass_span.jobs0,
        }
        for layer in ("operators.components", "operators.dedup"):
            m[f"{layer}.wall_s"] = total(layer, lambda s: s.wall)
            m[f"{layer}.py4j_calls"] = total(layer, lambda s: s.py4j1 - s.py4j0)
            m[f"{layer}.jobs"] = total(layer, lambda s: s.jobs1 - s.jobs0)
        m["operators.components.calls"] = total("operators.components", lambda s: 1)
        m["sources.sinks.csv_s"] = total("sources.sinks.csv", lambda s: s.wall)
        m["sources.sinks.sqlite_s"] = total("sources.sinks.sqlite", lambda s: s.wall)
        st = {k: sum(s.attrs.get("stages", {}).get(k, 0) for s in kids if s.name == "step")
              for k in STAGE_FIELDS}
        m.update({
            "sources.input_rows": st["input_rows"],
            "sources.input_bytes": st["input_bytes"],
            "sources.output_bytes": st["output_bytes"],
            "spark.stages": st["stages"],
            "spark.tasks": st["tasks"],
            "spark.executor_run_s": st["executor_run_s"],
            "spark.executor_cpu_s": st["executor_cpu_s"],
            "spark.offcpu_s": st["executor_run_s"] - st["executor_cpu_s"],
            "spark.gc_s": st["gc_s"],
            "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
            "spark.spill_bytes": st["spill_bytes"],
        })
        return m

    def _under(self, s: Span, ancestor: int) -> bool:
        p = s.parent
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p].parent
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": i, "name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run_id": s.run_id,
                     "py4j_calls": s.py4j1 - s.py4j0, "jobs": s.jobs1 - s.jobs0, **s.attrs}
                    for i, s in enumerate(self.spans)
                ],
                f,
            )
