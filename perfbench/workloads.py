"""The workloads: one function per user of the engine.

Each takes a ``Run`` (session, inputs, seed, window, optional tracer)
and returns a ``Result``. Timed work happens between
``run.window_start()`` and ``run.window_end()``; every correctness
check runs after it.

- ``batch``: the scheduled batch over the stored documents, closed
  loop, one caller. One op is the reference DAG (``run_pipeline`` +
  report collect) followed by a pass of the corpus-curation queries,
  each into the noop sink.
- ``ingest``: the incremental ingest, closed loop, one caller — each
  tick drops one events file, runs ``stream_etl_to_parquet`` on a
  persistent checkpoint, then reads the sink back through
  ``serving.stats_timeline``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.compute as pc

import gen
from checks import duck, same

BATCH_SF = 0.1  # 5k documents, 2k embeddings, 600k lineitems, V=1000
#: the curation pass of a batch op: one query per operator module, the
#: VADER join, and a grouped-map Python path (``curate_pack_tar_shards``)
CORPUS_QUERIES = (
    "dedup_lsh_quality",
    "pretrain_quality_rules",
    "pretrain_bloom_decontaminate",
    "curate_quality_classifier",
    "curate_pack_tar_shards",
    "pretrain_bpe_pair_counts",
    "sim_pq_adc_topk",
    "f13c_vader_join_path",
)
#: one of these is re-run and checked against its oracle per run,
#: rotating with the seed; the VADER oracle takes ~15 s in DuckDB at
#: this size, past the run budget
CORPUS_CHECKED = tuple(q for q in CORPUS_QUERIES if q != "f13c_vader_join_path")

INGEST_ROWS_PER_FILE = 20_000  # one events file per tick
INGEST_WARMUP_TICKS = 3
INGEST_WARMUP_SEED = 1_000_003  # the warm-up ticks' feed: seed + this
INGEST_WINDOW = ("2023-12-01", "2025-01-01")  # read-back date range


@dataclass
class Result:
    latencies_s: list[float] = field(default_factory=list)  # one per op
    calls: int = 0  # timed calls into the engine (pipeline, query or tick)
    items: int = 0  # units of work completed in the window
    rates: list[float] = field(default_factory=list)  # items/s of each correct op
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)  # workload's own per-layer figures

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:300])


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

def batch_inputs(cache: Path, seed: int) -> str:
    return str(gen.tree(cache, seed, BATCH_SF))


def _timed(res: Result, run, name: str, fn) -> bool:
    """One timed call; a raise is counted as a failed op."""
    res.attempted += 1
    res.calls += 1
    try:
        with run.op(name):
            fn()
        return True
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        res.fail(f"{name} raised {e!r}")
        return False


def batch(run) -> Result:
    from reddit_can_bigdata_spark import orchestration
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    res, reports, ok_ops = Result(), [], []
    spent: dict[str, list[float]] = {"dag.run_s": [], "corpus.pass_s": []}
    spent |= {f"corpus.{q}_s": [] for q in CORPUS_QUERIES}
    builder_s = builder_jobs = 0.0

    def pipeline():
        reports.append(orchestration.run_pipeline(run.spark, run.data).report.collect())

    t_end = run.window_start() + run.seconds
    while True:
        t_op = time.perf_counter()
        ok = _timed(res, run, "run_pipeline", pipeline)
        if not ok:
            reports.append(None)
        t_pass = time.perf_counter()
        spent["dag.run_s"].append(t_pass - t_op)
        for name in CORPUS_QUERIES:
            t0 = time.perf_counter()
            built = {}

            def query():
                # through the module attribute, so a traced run's wrapper
                # (which replaces module attributes) records the builder
                fn = REGISTRY[name].fn
                fn = getattr(sys.modules[fn.__module__], fn.__name__)
                j0 = run.counters.next_job_id()
                df = fn(run.spark, run.data)
                built.update(s=time.perf_counter() - t0, jobs=run.counters.next_job_id() - j0)
                df.write.format("noop").mode("overwrite").save()

            ok &= _timed(res, run, name, query)
            builder_s += built.get("s", 0.0)
            builder_jobs += built.get("jobs", 0)
            spent[f"corpus.{name}_s"].append(time.perf_counter() - t0)
        spent["corpus.pass_s"].append(time.perf_counter() - t_pass)
        res.latencies_s.append(time.perf_counter() - t_op)
        ok_ops.append(ok)
        if time.perf_counter() >= t_end:
            break
    run.window_end()
    res.layer |= {k: statistics.median(v) for k, v in spent.items()}
    res.layer |= {"builder.s": builder_s, "builder.jobs": builder_jobs}

    # the report row: the registered gate oracle plus the invariants of
    # the pipeline_e2e oracle (whose exact-closeness part is capped at
    # sf0.01): every processed post scored, coverage 100 %, the top-20
    # influencer table as large as the graph allows
    con = duck(run.data)
    q = con.execute(REGISTRY["pipeline_gate_report"].oracle)
    gates = dict(zip([c[0] for c in q.description], q.fetchone()))
    nodes = con.execute(
        f"SELECT count(*) FROM ({REGISTRY['g2_degree_centrality'].oracle})"
    ).fetchone()[0]
    ml_ran = gates["ml_branch"] == "run_ml_analysis"
    net_ran = gates["network_branch"] == "run_network_analysis"
    want = {k: gates[k] for k in (
        "posts", "comments", "processed_posts", "unique_users",
        "ml_branch", "network_branch",
    )}
    want |= {
        "sentiment_results": gates["processed_posts"] if ml_ran else 0,
        "ml_coverage_pct": 100.0 if ml_ran and gates["processed_posts"] else 0.0,
        "network_users": min(20, nodes) if net_ran else 0,
    }
    for i, rows in enumerate(reports):
        if rows is None:
            continue
        got = rows[0].asDict()
        diff = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
        if diff:
            res.fail(f"report row differs from oracle: {diff}")
            ok_ops[i] = False
    # an op's items are the documents it carried through both stages
    res.items = gates["posts"] * sum(ok_ops)
    res.rates = [gates["posts"] / t for t, ok in zip(res.latencies_s, ok_ops) if ok]
    res.layer["graph.vertices"] = float(nodes)

    picked = CORPUS_CHECKED[run.seed % len(CORPUS_CHECKED)]
    spec = REGISTRY[picked]
    res.attempted += 1
    try:
        df = spec.fn(run.spark, run.data)
        why = same(con, spec.oracle, [tuple(r) for r in df.collect()], df.columns)
    except Exception as e:  # noqa: BLE001
        why = f"raised {e!r}"
    if why:
        res.fail(f"{picked}: {why}")
    return res


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def ingest_inputs(cache: Path, seed: int) -> str:
    # the catalog loaded at set-up; the stream itself gets the files
    # generated in ``ingest``
    return str(gen.tree(cache, seed, 0.01))


def _drop(table, src: Path, i: int) -> int:
    import pyarrow.parquet as pq

    tmp = src / f".part-{i:05d}.parquet"  # hidden from the file source
    pq.write_table(table, tmp)
    os.replace(tmp, src / f"part-{i:05d}.parquet")
    return (src / f"part-{i:05d}.parquet").stat().st_size


def _files(path: Path) -> dict[str, int]:
    if not path.is_dir():
        return {}
    return {p.name: p.stat().st_size for p in path.glob("*.parquet")}


def _tick(run, src: Path, sink_dir: Path, ckpt: Path) -> dict:
    """One ingest tick: drain the source into the sink, then read the
    sink back through the dashboard's timeline builder."""
    from reddit_can_bigdata_spark import serving
    from reddit_can_bigdata_spark.streaming.pipeline import stream_etl_to_parquet

    t0 = time.perf_counter()
    q = stream_etl_to_parquet(
        run.spark, str(src), str(sink_dir / "events.parquet"), str(ckpt),
        id_col="event_id",
    )
    q.awaitTermination()
    t_stream = time.perf_counter()
    frame = serving.stats_timeline(
        run.spark, str(sink_dir), start=INGEST_WINDOW[0], end=INGEST_WINDOW[1]
    )
    t_built = time.perf_counter()
    rows = [tuple(r) for r in frame.collect()]
    return {
        "t0": t0, "stream": t_stream, "built": t_built, "done": time.perf_counter(),
        "rows": rows, "cols": frame.columns, "progress": q.recentProgress,
    }


def ingest(run) -> Result:
    from reddit_can_bigdata_spark import serving

    work = run.root / f"ingest-s{run.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    src, sink_dir, ckpt = work / "src", work / "serve", work / "ckpt"

    # warm-up ticks on throwaway paths and their own feed: the window
    # then sees a running ingest service, not the stream path's
    # first-use class loading and JIT (one tick left the window's ticks
    # shrinking ~40 % as it ran)
    warm = work / "warm"
    for d in ("src", "serve"):
        (warm / d).mkdir(parents=True)
    warm_feed = gen.event_files(run.seed + INGEST_WARMUP_SEED, INGEST_ROWS_PER_FILE)
    for i in range(INGEST_WARMUP_TICKS):
        _drop(next(warm_feed), warm / "src", i)
        _tick(run, warm / "src", warm / "serve", warm / "ckpt")
    src.mkdir()
    sink_dir.mkdir()
    sink = sink_dir / "events.parquet"

    res = Result()
    prog: dict[str, list[float]] = {}
    tick_files = []
    distinct = in_bytes = out_bytes = 0
    last = None
    feed = gen.event_files(run.seed, INGEST_ROWS_PER_FILE)
    t_end = run.window_start() + run.seconds
    while True:
        f = next(feed)
        # ids are numbered in the order files introduce them, so once
        # this file is in, the sink must hold ids 0 .. max id seen
        distinct = max(distinct, pc.max(f.column("event_id")).as_py() + 1)
        before = _files(sink)
        in_bytes += _drop(f, src, res.calls)
        res.attempted += 1
        res.calls += 1
        try:
            with run.op("tick"):
                last = _tick(run, src, sink_dir, ckpt)
        except Exception as e:  # noqa: BLE001
            res.fail(f"tick raised {e!r}")
            break
        got = sum(r[last["cols"].index("cnt")] for r in last["rows"])
        if got != distinct:
            res.fail(f"read-back holds {got} rows, expected {distinct}")
            break
        # the file was dropped just before the tick, so the tick's wall
        # is also its freshness: drop to rows returned by the read-back
        wall = last["done"] - last["t0"]
        res.latencies_s.append(wall)
        res.rates.append((distinct - res.items) / wall)
        res.items = distinct
        after = _files(sink)
        tick_files.append(len(set(after) - set(before)))
        out_bytes += sum(v for k, v in after.items() if k not in before)
        trig = 0.0
        for p in last["progress"]:
            d = p.get("durationMs", {})
            trig += d.get("triggerExecution", 0)
            for k in ("addBatch", "walCommit", "commitOffsets", "queryPlanning"):
                prog.setdefault(k, []).append(d.get(k, 0))
            for s in p.get("stateOperators", []):
                prog.setdefault("state_rows", []).append(s.get("numRowsTotal", 0))
                prog.setdefault("state_mem", []).append(s.get("memoryUsedBytes", 0))
                prog.setdefault("dropped", []).append(s.get("numRowsDroppedByWatermark", 0))
        prog.setdefault("trigger", []).append(trig)
        prog.setdefault("start", []).append((last["stream"] - last["t0"]) * 1e3 - trig)
        prog.setdefault("build", []).append(last["built"] - last["stream"])
        prog.setdefault("collect", []).append(last["done"] - last["built"])
        if time.perf_counter() >= t_end:
            break
    run.window_end()

    med = lambda k: statistics.median(prog[k]) if prog.get(k) else 0.0  # noqa: E731
    res.layer |= {
        "stream.trigger_ms": med("trigger"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.commit_offsets_ms": med("commitOffsets"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.start_ms": med("start"),
        "stream.state_rows": max(prog.get("state_rows", [0])),
        "stream.state_mem_mb": max(prog.get("state_mem", [0])) / 2**20,
        "stream.dropped_by_watermark": sum(prog.get("dropped", [0])),
        "sink.files_per_tick": statistics.median(tick_files) if tick_files else 0.0,
        "sink.bytes_per_input_byte": out_bytes / in_bytes if in_bytes else 0.0,
        "serving.build_s": sum(prog.get("build", [])),
        "serving.collect_s": sum(prog.get("collect", [])),
    }

    # the sink holds exactly the generated distinct ids, once each, and
    # the last read-back equals the oracle over the sink
    import pyarrow.dataset as ds

    if last is not None:
        res.attempted += 1
        ids = ds.dataset(str(sink), format="parquet").to_table(columns=["event_id"])
        ids = ids.column("event_id").to_pylist()
        want = set(range(res.items))
        if len(ids) != len(set(ids)) or set(ids) != want:
            res.fail(f"sink holds {len(ids)} rows / {len(set(ids))} ids, expected {len(want)}")
        res.attempted += 1
        why = same(
            duck(str(sink_dir)),
            serving.stats_timeline_oracle(start=INGEST_WINDOW[0], end=INGEST_WINDOW[1]),
            last["rows"], last["cols"],
        )
        if why:
            res.fail(f"read-back vs stats_timeline_oracle: {why}")
    shutil.rmtree(work, ignore_errors=True)
    return res


WORKLOADS = {
    "batch": (batch_inputs, batch),
    "ingest": (ingest_inputs, ingest),
}
