"""Layer spans for the traced run, recorded from outside the package.

``Tracer.install`` replaces the public functions of each layer module
with a timing wrapper. It must run before ``registry`` is imported:
plan modules bind names such as ``load_table`` or ``build_dims_batched``
at import time, so a wrapper installed later would miss them. A
function-local import resolves at call time and sees the wrapper
either way.

Spans stay in memory and are written once, when the run ends. A span
covers the outermost call into its layer only: a layer function that
calls another function of the same layer is timed once, so a layer's
seconds never double count. Times are inclusive of the layers below.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

PKG = "end_to_end_data_engineering_job_listings_etl_spark"

# layer name -> (module, function names or None for every public function)
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "operators.cc": ("operators.dedup", ("connected_components",)),
    "operators.dims": ("operators.dims", ("build_dim", "build_dims_batched")),
    "cachereg": ("cachereg", ("query_boundary",)),
    "catalog": ("catalog", ("load_table", "load_table_dist", "load_tables")),
    "sources": ("sources.readers", None),
    "sinks": ("sinks.writers", None),
    "streaming.watermark": ("streaming.watermark", None),
    "streaming.stateful": ("streaming.stateful", None),
}


@dataclass
class Span:
    layer: str
    fn: str
    op: str | None  # job-group tag of the operation in flight
    start: float  # wall clock (s since epoch), comparable to event-log ms
    end: float
    failed: bool


class Tracer:
    """Collects layer spans; ``op`` is set by the workload around each
    registry call so every span knows the operation that caused it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._depth: dict[str, int] = defaultdict(int)

    def install(self) -> None:
        for layer, (mod_name, names) in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if names is None:
                names = tuple(
                    n
                    for n, f in vars(mod).items()
                    if inspect.isfunction(f)
                    and f.__module__ == mod.__name__
                    and not n.startswith("_")
                )
            for name in names:
                setattr(mod, name, self._wrap(layer, getattr(mod, name)))

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            start = time.time()
            t0 = time.perf_counter()
            failed = False
            try:
                return fn(*args, **kwargs)
            except BaseException:
                failed = True
                raise
            finally:
                t1 = time.perf_counter()
                self._depth[layer] -= 1
                self.spans.append(Span(layer, fn.__name__, self.op, start, start + (t1 - t0), failed))
                self.overhead_s += time.perf_counter() - t1

        return traced

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
