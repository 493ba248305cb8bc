"""Spans around the calls into the package, recorded from outside it.

``Tracer.install()`` replaces every public function defined in a
``reddit_can_bigdata_spark`` module (and every module-level reference
to one, so ``from x import f`` call sites are covered) with a wrapper
that records a span: name, layer, start, end, parent span, op id and
the calling thread's CPU time. Spans stay in memory; ``write()`` dumps
them as JSON lines when the run ends. The package source is not
touched, and ``uninstall()`` puts the original functions back.

Functions shipped to Python workers are pickled by reference (the
wrapper keeps the original's module and qualified name), so workers
import and run the unwrapped function.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import threading
import time
from dataclasses import asdict, dataclass

PKG = "reddit_can_bigdata_spark"

#: layer of a package module, by longest matching module prefix
LAYERS = {
    f"{PKG}.session": "session",
    f"{PKG}.tables": "tables",
    f"{PKG}.operators.common": "tables",
    f"{PKG}.serving": "serving",
    f"{PKG}.registry": "registry",
    f"{PKG}.orchestration": "orchestration",
    f"{PKG}.ml": "ml",
    f"{PKG}.operators.graph": "graph",
    f"{PKG}.operators.graphkernel": "graph",
    f"{PKG}.operators.influencer": "graph",
    f"{PKG}.functions.vader": "vader",
    f"{PKG}.operators.dedup": "corpus",
    f"{PKG}.operators.pretrain": "corpus",
    f"{PKG}.operators.curation": "corpus",
    f"{PKG}.operators.similarity": "corpus",
    f"{PKG}.streaming": "streaming",
    f"{PKG}.operators": "operators",
    f"{PKG}.functions": "functions",
}


def layer_of(module: str) -> str:
    best = max((p for p in LAYERS if module == p or module.startswith(p + ".")),
               key=len, default=None)
    return LAYERS[best] if best else "other"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: int
    cpu: float  # CPU seconds of the calling thread inside the span
    jobs: int  # Spark jobs submitted while it ran (``count_jobs`` spans only)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        self.op: int | None = None  # id of the op span in flight
        self.op_stack: list[int] = []  # span stack of the thread running it
        #: span names whose job-id range is read (one py4j call each end)
        self.count_jobs: set[str] = set()
        self.job_id = None  # callable returning the next Spark job id

    # -- recording -------------------------------------------------------
    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str):
        """Context manager recording one span on the current thread.
        A thread with no open span (a pool thread the program started)
        parents it to the innermost open span of the op's own thread."""
        return _SpanCtx(self, name, layer)

    def op_span(self, name: str):
        """The root span of one benchmark operation."""
        return _OpCtx(self, name)

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with _SpanCtx(tracer, name, layer):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    # -- installation ----------------------------------------------------
    def install(self) -> int:
        """Wrap every public package function; returns how many."""
        pkg = importlib.import_module(PKG)
        # the registry imports the query modules in dependency order
        importlib.import_module(f"{PKG}.registry")._ensure_loaded()
        mods = [pkg]
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            try:
                mods.append(importlib.import_module(info.name))
            except ImportError:
                continue  # optional-dependency module; nothing to trace
        wrappers: dict[int, object] = {}
        for mod in mods:
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or not fn.__module__.startswith(PKG)
                    or hasattr(fn, "__perfbench_original__")
                ):
                    continue
                if id(fn) not in wrappers:
                    home = fn.__module__
                    wrappers[id(fn)] = self.wrap(
                        fn, f"{home[len(PKG) + 1:]}.{fn.__name__}", layer_of(home)
                    )
                self._patched.append((mod, attr, fn))
                setattr(mod, attr, wrappers[id(fn)])
        return len(wrappers)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # -- analysis --------------------------------------------------------
    def self_time(self) -> dict[int, float]:
        """Span id -> duration minus the part of its interval that its
        child spans cover (children on other threads included)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            iv = sorted(
                (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
            )
            covered, hi = 0.0, s.start
            for a, b in iv:
                if b > hi:
                    covered += b - max(a, hi)
                    hi = b
            out[s.id] = max(0.0, (s.end - s.start) - covered)
        return out

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    __slots__ = ("t", "name", "layer", "id", "parent", "t0", "c0", "j0")

    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        st = t._stack()
        self.parent = st[-1] if st else (t.op_stack[-1] if t.op_stack else t.op)
        self.id = t._new_id()
        st.append(self.id)
        self.j0 = t.job_id() if self.name in t.count_jobs else None
        self.c0 = time.thread_time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        cpu = time.thread_time() - self.c0
        t = self.t
        jobs = t.job_id() - self.j0 if self.j0 is not None else 0
        t._stack().pop()
        with t._lock:
            t.spans.append(Span(
                self.id, self.name, self.layer, self.t0, end, self.parent,
                t.op, threading.get_ident(), cpu, jobs,
            ))
        return False


class _OpCtx(_SpanCtx):
    __slots__ = ()

    def __init__(self, tracer: Tracer, name: str):
        super().__init__(tracer, f"op.{name}", "op")

    def __enter__(self):
        super().__enter__()
        self.t.op, self.t.op_stack = self.id, self.t._stack()
        return self

    def __exit__(self, *exc):
        super().__exit__(*exc)
        self.t.op, self.t.op_stack = None, []
        return False
