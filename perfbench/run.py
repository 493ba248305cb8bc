"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``
(cached under ``.perfbench/``, which also holds Spark's scratch
space, so the run reads and writes nothing outside the checkout).
The engine runs on ``local[4]`` through the package's own
``session.get_spark``.

Set-up (session start in a fresh JVM, first catalog load, a count) is
timed once as ``setup_s``: it is what every fresh process meets. The
workload then runs for ``--seconds`` (at least one operation), its
results are checked against DuckDB oracles, and the last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
package's public functions in spans (``tracer.py``), reports the
per-layer metrics and writes the spans to ``.perfbench/out/``.
End-to-end numbers come from untraced runs only.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

CORES = 4

#: layers that get a ``self.<layer>_s`` metric; ``op`` is time inside
#: a benchmark operation outside every package call (Spark actions)
SELF_LAYERS = (
    "op", "session", "tables", "serving", "registry", "orchestration", "ml",
    "graph", "vader", "corpus", "streaming", "operators", "functions", "other",
)

#: end-to-end metric (and workload) each per-layer metric should move
TARGETS = {
    "session.": "setup_s (all)",
    "tables.": "items_per_s (ingest)",
    "serving.": "items_per_s (ingest)",
    "builder.": "items_per_s (batch)",
    "sched.": "items_per_s (batch)",
    "exec.": "items_per_s, cpu_ms_per_item (batch)",
    "pyworker.": "cpu_ms_per_item (batch)",
    "driver.": "items_per_s (batch)",
    "jvm.": "cpu_ms_per_item (all), setup_s (all)",
    "mem.": "cpu_ms_per_item (all)",
    "op.": "items_per_s (its workload)",
    "self.": "items_per_s (the workload that enters the layer)",
    "dag.": "items_per_s (batch)",
    "ml.": "items_per_s (batch)",
    "graph.": "items_per_s (batch)",
    "vader.": "items_per_s (batch)",
    "corpus.": "items_per_s (batch)",
    "stream.": "items_per_s (ingest)",
    "sink.": "items_per_s (ingest)",
    "trace.": "every end-to-end metric (all)",
}


def _env(root: Path) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``root`` before the JVM starts."""
    tmp = root / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    # HotSpot keeps its perf-data file in /tmp whatever the tmpdir; this
    # covers the launcher JVM of spark-submit, the driver option below
    # the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={root / 'warehouse'}",
        f"--conf spark.local.dir={tmp}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem'",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = str(tmp)


class Run:
    """What a workload sees: the session, its inputs, the window it
    measures and the meters around that window."""

    def __init__(self, spark, data: str, root: Path, workload: str, seed: int,
                 seconds: float, tracer):
        from meters import ProcTree, SparkCounters

        self.spark, self.data, self.root, self.workload = spark, data, root, workload
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.counters = SparkCounters(spark.sparkContext)
        self.tree = ProcTree(spark.sparkContext._gateway.proc.pid)
        self.marks: dict[str, dict] = {}

    def _mark(self) -> dict:
        from meters import jvm_gc_jit_s

        gc, jit = jvm_gc_jit_s(self.spark.sparkContext)
        return {
            "t": time.perf_counter(),
            "job": self.counters.next_job_id(),
            "cpu": self.tree.cpu(),
            "gc": gc,
            "jit": jit,
        }

    def window_start(self) -> float:
        self.marks["start"] = self._mark()
        return self.marks["start"]["t"]

    def window_end(self) -> None:
        self.marks["end"] = self._mark()

    def op(self, name: str):
        """One timed operation; in a traced run, the root span that the
        package spans of this operation hang from."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.op_span(name)


def setup(data: str) -> tuple[object, float, float]:
    """Start the session, load the catalog, run a count. Returns the
    session, the set-up's wall and the session start's alone."""
    from reddit_can_bigdata_spark.session import get_spark
    from reddit_can_bigdata_spark.tables import load_tables

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t = load_tables(spark, data)
    t.get("documents", t.get("events")).count()
    return spark, time.perf_counter() - t0, start_s


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it forked."""
    from meters import descendants

    sc = spark.sparkContext
    proc = sc._gateway.proc
    pids = descendants(proc.pid)
    spark.stop()
    with contextlib.suppress(Exception):
        sc._gateway.shutdown()
    with contextlib.suppress(Exception):
        proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except Exception:  # noqa: BLE001 - a JVM that does not exit is killed
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 10
    for p in pids:
        while time.time() < deadline and os.path.exists(f"/proc/{p}"):
            time.sleep(0.05)
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def end_to_end(res, setup_s: float, run: Run) -> dict[str, float]:
    a, b = run.marks["start"], run.marks["end"]
    cpu = sum(b["cpu"].values()) - sum(a["cpu"].values())
    return {
        "setup_s": setup_s,
        "items_per_s": _items_per_s(res),
        "cpu_ms_per_item": cpu * 1e3 / max(res.items, 1),
    }


def _items_per_s(res) -> float:
    """Median over the window's correct ops of items / op wall."""
    return statistics.median(res.rates) if res.rates else 0.0


def _untraced_log(root: Path, workload: str) -> Path:
    """Where untraced runs record their ``items_per_s`` by seed, for the
    traced runs' overhead ratio."""
    return root / "out" / f"untraced-{workload}.jsonl"


def _overhead_ratio(res, root: Path, workload: str, seed: int) -> float:
    """Traced wall over untraced wall for the same work: the untraced
    ``items_per_s`` over the traced one. The untraced figure is the run
    of the same seed if this checkout made one, else the median of the
    untraced runs it made; 0 if it made none."""
    log = _untraced_log(root, workload)
    runs = [json.loads(x) for x in log.read_text().splitlines()] if log.exists() else []
    same = [r["items_per_s"] for r in runs if r["seed"] == seed]
    base = statistics.median(same or [r["items_per_s"] for r in runs] or [0.0])
    traced = _items_per_s(res)
    return base / traced if traced else 0.0


def per_layer(res, run: Run, start_s: float, tracer) -> dict[str, float]:
    a, b = run.marks["start"], run.marks["end"]
    c = run.counters.over(a["job"], b["job"])
    calls = max(res.calls, 1)
    cpu = {k: b["cpu"][k] - a["cpu"][k] for k in b["cpu"]}
    # spans of the window only (the ingest warm-up ticks are outside it)
    spans = [s for s in tracer.spans if a["t"] <= s.start and s.end <= b["t"]]
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    dur = lambda ss: sum(s.end - s.start for s in ss)  # noqa: E731
    m = {
        "session.start_s": start_s,
        "tables.load_calls": len(named("tables.load_tables")),
        "tables.load_s": dur(named("tables.load_tables")),
        # per timed call: a pipeline run, a corpus query or an ingest tick
        "sched.jobs": c["jobs"] / calls,
        "sched.stages": c["stages"] / calls,
        "sched.tasks": c["tasks"] / calls,
        "exec.task_cpu_s": c["task_cpu_s"],
        "exec.task_run_s": c["task_run_s"],
        "exec.shuffle_read_mb": c["shuffle_read_mb"],
        "exec.shuffle_write_mb": c["shuffle_write_mb"],
        "exec.spill_mb": c["spill_mb"],
        "pyworker.cpu_s": cpu["pyworker"],
        "driver.cpu_s": cpu["driver"],
        "jvm.cpu_s": cpu["jvm"],
        "jvm.nontask_cpu_s": cpu["jvm"] - c["task_cpu_s"],
        "jvm.gc_s": b["gc"] - a["gc"],
        "jvm.jit_s": b["jit"] - a["jit"],
        # peak RSS varies 15-25% between runs with the JVM's heap
        # growth, too much to gate on; reported per layer
        "mem.peak_rss_mb": run.tree.peak_rss_mb(),
        # op latency (batch: the op's wall; ingest: a tick's wall, which
        # is also its file's freshness)
        "op.p50_ms": statistics.median(res.latencies_s or [0.0]) * 1e3,
    }
    # self time per layer: span time not covered by its child spans
    self_t = tracer.self_time()
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = sum(self_t[s.id] for s in spans if s.layer == layer)

    # orchestration: the gate phase runs from the pipeline call to the
    # first branch span; the two branches then run side by side
    ml = named("ml.sentiment.train_sentiment")
    net = named("operators.influencer.influencer_composite_top20")
    pipes = named("orchestration.run_pipeline")
    gates = overlap = 0.0
    for p in pipes:
        branch = [s for s in ml + net if p.start <= s.start <= p.end]
        if branch:
            first = min(s.start for s in branch)
            gates += first - p.start
            overlap += dur(branch) / max(p.end - first, 1e-9)
    ids = {s.id: s for s in spans}
    graph_top = [s for s in spans if s.layer == "graph"
                 and (s.parent not in ids or ids[s.parent].layer != "graph")]
    vader_ops = {s.op for s in spans if s.layer == "vader"}
    m |= {
        "dag.gates_s": gates,
        "dag.ml_s": dur(ml),
        "dag.network_s": dur(net),
        "dag.branch_overlap": overlap / max(len(pipes), 1),
        "ml.train_s": m["self.ml_s"],
        # jobs submitted while train_sentiment ran; network-branch jobs
        # that overlap it are included, the branches share the scheduler
        "ml.jobs": sum(s.jobs for s in ml),
        "graph.influencer_s": dur(net),
        "graph.driver_cpu_s": sum(s.cpu for s in graph_top),
        # wall of the ops whose builder called into the VADER module
        "vader.join_s": dur([s for s in spans if s.layer == "op" and s.id in vader_ops]),
    }
    m |= res.layer
    m["trace.overhead_ratio"] = _overhead_ratio(res, run.root, run.workload, run.seed)
    m["trace.spans"] = len(spans)
    return m


def report(metrics: dict[str, float], traced: bool) -> dict:
    """The metrics BENCHMARK.json declares for this mode, in its order
    and with its units. A per-layer metric of a layer the workload
    never entered reads 0."""
    spec = json.loads((Path.cwd() / "BENCHMARK.json").read_text())
    out = {}
    for m in spec["per_layer" if traced else "end_to_end"]:
        name, unit = m["name"], m["unit"]
        if name not in metrics and not traced:
            raise KeyError(f"end-to-end metric {name} was not measured")
        value = float(metrics.get(name, 0.0))
        target = next((t for p, t in TARGETS.items() if name.startswith(p)), "")
        print(f"# {name}: {value:.6g} {unit}" + (f"  -> {target}" if traced else ""),
              file=sys.stderr)
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd() / ".perfbench"
    _env(root)
    sys.path.insert(0, str(Path.cwd()))
    import reddit_can_bigdata_spark  # noqa: F401 - fail fast outside a checkout
    from meters import SparkCounters
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    make_inputs, workload = WORKLOADS[args.workload]
    t_gen = time.perf_counter()
    data = make_inputs(root / "data", args.seed)
    t_setup = time.perf_counter()
    spark, setup_s, start_s = setup(data)
    t_run = time.perf_counter()
    tracer = None
    try:
        if args.trace:
            from tracer import Tracer

            tracer = Tracer()
            tracer.install()
            tracer.job_id = SparkCounters(spark.sparkContext).next_job_id
            tracer.count_jobs = {"ml.sentiment.train_sentiment"}
        run = Run(spark, data, root, args.workload, args.seed, args.seconds, tracer)
        res = workload(run)
        if args.trace:
            tracer.uninstall()
            metrics = per_layer(res, run, start_s, tracer)
            out = root / "out"
            out.mkdir(exist_ok=True)
            tracer.write(out / f"spans-{args.workload}-s{args.seed}.jsonl")
        else:
            metrics = end_to_end(res, setup_s, run)
            if not res.failed:
                log = _untraced_log(root, args.workload)
                log.parent.mkdir(exist_ok=True)
                with log.open("a") as f:
                    f.write(json.dumps({"seed": args.seed, "items_per_s": metrics["items_per_s"]}) + "\n")
    finally:
        t_stop = time.perf_counter()
        shutdown(spark)
    print(
        f"# phases: inputs {t_setup - t_gen:.1f}s, set-up {t_run - t_setup:.1f}s, window"
        f" {run.marks['end']['t'] - run.marks['start']['t']:.1f}s, checks"
        f" {t_stop - run.marks['end']['t']:.1f}s, shutdown {time.perf_counter() - t_stop:.1f}s",
        file=sys.stderr,
    )
    for e in res.errors:
        print(f"# failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": report(metrics, bool(args.trace)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
