"""The benchmark's workloads: ``produce`` (the producer's batch job) and
``serve`` (a consumer's point lookups against what it published).

Each workload is a set-up step, an untraced measurement that yields the
end-to-end figures, and a traced measurement that yields the per-layer
ones.  The program is only called through its public functions; every
output is checked outside the timed region.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen

# produce: 2 states × 8 counties × 25 tracts × 2 blocks: 200 origin
# tracts × 400 destination tracts = 80,000 OD pairs, ~0.6 MB of zstd
# parquet.  Small, because one produce pass costs ~20-40 s on 4 cores
# whatever the size: the time goes to per-job and per-task overhead, not
# to the pairs.
WORLD = {"counties": 8, "tracts": 25, "blocks": 2}
# serve: 2 states × 10 counties × 40 tracts: 400 origin tracts × 800
# destination tracts = 320,000 OD pairs, large enough that the producer's
# sorted write splits it into several files and row groups (4 on 4
# cores), so origin lookups have row groups to skip
SERVE_WORLD = {"counties": 10, "tracts": 40}
PRODUCE_PAIRS = WORLD["counties"] * WORLD["tracts"] * 2 * WORLD["counties"] * WORLD["tracts"]
STATE = "17"
# the program's router: HaversineRouter's default speed
SPEED_KMH = 60.0
# traced produce runs end with this many lookups of each kind, so both
# workloads' traced runs report every lookup counter
TRACE_LOOKUPS_PER_KIND = 8
# lookups of each kind before timing starts: on 4 cores a lookup's
# latency and CPU time fall steeply over the first ~60 lookups of a
# process (JIT compilation of the planner), then slowly
WARMUP_LOOKUPS_PER_KIND = 30


class Workload:
    """Shared state of one run: session, inputs, counts of operations."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.pass_seconds: list[float] = []
        self.pass_cpu: list[float] = []
        self.world = datagen.census_world(seed, os.path.join(work, "world"), **WORLD)
        self.centroids = datagen.tract_centroids(self.world)
        self.public = os.path.join(work, "public")
        self.served = os.path.join(work, "served")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:  # the process or thread has ended
            continue
        out += kids
        todo += kids
    return out


def _ticks(stat_path: str, fields: slice = slice(11, 15)) -> int:
    """CPU ticks in a /proc stat file, by default utime + stime + cutime
    + cstime (0 if the process or thread has ended)."""
    try:
        with open(stat_path) as fh:
            return sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[fields])
    except OSError:
        return 0


# (pid, tid) of every JIT compiler thread seen -> its CPU ticks when last
# read.  The JVM starts and ends compiler threads as its queue of methods
# to compile grows and drains; an ended thread's time stays in its
# process's total, so it has to stay in the compiler total too.
_COMPILER_TICKS: dict[tuple[int, int], int] = {}
_NOT_COMPILER: set[tuple[int, int]] = set()


def _compiler_ticks(pid: int) -> int:
    """CPU ticks (utime + stime) of a JVM's JIT compiler threads, ended
    ones included.  A thread's cutime and cstime are its process's."""
    try:
        tids = [int(t) for t in os.listdir(f"/proc/{pid}/task")]
    except OSError:  # the process or thread has ended
        tids = []
    for tid in tids:
        key = (pid, tid)
        if key in _NOT_COMPILER:
            continue
        if key not in _COMPILER_TICKS:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():
                        _NOT_COMPILER.add(key)
                        continue
            except OSError:  # the process or thread has ended
                continue
        _COMPILER_TICKS[key] = max(_COMPILER_TICKS.get(key, 0), _ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13)))
    return sum(t for (p, _), t in _COMPILER_TICKS.items() if p == pid)


def cpu_seconds() -> float:
    """CPU time, user and system, of this process and every process
    under it (the JVM and its Python workers), with the time of the
    children each has reaped, less the JVM's JIT compiler threads.

    Time the hypervisor of a shared host gives to other guests (steal)
    is not in it: on a 4-core VM, 10-20% steal doubled a lookup's wall
    time.  JIT compilation is left out because it is a warm-up cost
    that falls with every operation a process has run, and a window
    of fixed length holds fewer operations on a busier host."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        total += _ticks(f"/proc/{pid}/stat") - _compiler_ticks(pid)
    return total / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- checks


def haversine_seconds(o_lon, o_lat, d_lon, d_lat) -> np.ndarray:
    """Expected origin × destination durations: great-circle distance
    at SPEED_KMH, written out here rather than taken from the program,
    so a broken router or matrix operator cannot agree with itself."""
    la1, la2 = np.radians(o_lat)[:, None], np.radians(d_lat)[None, :]
    dlo = np.radians(d_lon)[None, :] - np.radians(o_lon)[:, None]
    h = np.sin((la2 - la1) / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlo / 2) ** 2
    return 2 * 6371.0088 * np.arcsin(np.sqrt(h)) / SPEED_KMH * 3600.0


@dataclass
class Times:
    """A published times dataset whose pairs are exactly origins ×
    destinations: its layout, and its durations as a dense origin ×
    destination matrix (rows ``o_ids``, columns ``d_ids``) for the
    lookups to compare against."""

    path: str
    o_ids: np.ndarray
    d_ids: np.ndarray
    duration: np.ndarray
    layout: dict

    @property
    def pairs(self) -> int:
        return self.duration.size


def layout_of(path: str) -> dict:
    """Bytes, files and row groups of a published dataset; the pairs of
    row groups whose ``origin_id`` ranges overlap, and the ``origin_id``
    values where one row group's range ends and the next one's begins.

    A shared boundary value is not an overlap.  The sort key is
    (origin_id, destination_id), so a row-group boundary may fall inside
    one origin's rows; the program's own layout tests
    (``tests/test_io_layout.py``) require ``max <= next min``, and so
    does this check.  Such an origin's lookup reads two row groups."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    ranges = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        idx = meta.schema.names.index("origin_id")
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    ranges.sort()
    return {
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
        "row_groups": len(ranges),
        "overlap": [(a, b) for a, b in zip(ranges, ranges[1:]) if a[1] > b[0]],
        "shared": [b[0] for a, b in zip(ranges, ranges[1:]) if a[1] == b[0]],
    }


def check_times(path: str, points: dict) -> tuple[list[str], Times | None]:
    """Check a published times dataset against the durations recomputed
    from the points it was made from (``points``: tract ids and weighted
    centroids; origins are the tracts of STATE, destinations all of
    them), at any seed: pairs = origins × destinations, no null or
    duplicate ids, row-group ``origin_id`` ranges that do not overlap
    (see ``layout_of``), and every duration within 1e-9 of the expected
    one.  Returns (problems, the dataset as published, or None if its
    pairs are not exactly origins × destinations)."""
    pts = pd.DataFrame(points).sort_values("geoid")
    org = pts[pts["geoid"].str.startswith(STATE)]
    o_ids, d_ids = org["geoid"].to_numpy(), pts["geoid"].to_numpy()
    expected = haversine_seconds(
        org["x_4326_wt"].to_numpy(), org["y_4326_wt"].to_numpy(),
        pts["x_4326_wt"].to_numpy(), pts["y_4326_wt"].to_numpy(),
    )
    problems: list[str] = []
    tbl = pq.read_table(path, columns=["origin_id", "destination_id", "duration_sec"]).to_pandas()
    if len(tbl) != expected.size:
        problems.append(f"{len(tbl)} pairs, expected {len(o_ids)} × {len(d_ids)} = {expected.size}")
    if tbl[["origin_id", "destination_id"]].isna().any().any():
        problems.append("null ids")
    oi = pd.Categorical(tbl["origin_id"], categories=o_ids).codes.astype(np.int64)
    di = pd.Categorical(tbl["destination_id"], categories=d_ids).codes.astype(np.int64)
    if (oi < 0).any() or (di < 0).any():
        problems.append("ids outside origins × destinations")
    elif len(np.unique(oi * len(d_ids) + di)) != len(tbl):
        problems.append("duplicate pairs")
    if problems:
        return problems, None
    layout = layout_of(path)
    if layout["overlap"]:
        problems.append(f"row-group origin_id ranges overlap: {layout['overlap']}")
    duration = np.empty_like(expected)
    duration[oi, di] = tbl["duration_sec"].to_numpy()
    off = ~np.isclose(duration, expected, rtol=1e-9, atol=0.0)
    if off.any():
        i, j = np.argwhere(off)[0]
        problems.append(f"{off.sum()} durations off, e.g. {o_ids[i]}→{d_ids[j]}: "
                        f"{duration[i, j]!r} s, expected {expected[i, j]!r} s")
    return problems, Times(path, o_ids, d_ids, duration, layout)


# ---------------------------------------------------------------- produce


def produce_pass(w: Workload) -> dict:
    """One run of the producer's CLI entry point, exactly as users call it."""
    from opentimes_spark.jobs.calculate_times import parse_args, run

    argv = ["--blocks", w.world["blocks"], "--blockpop", w.world["blockpop"], "--out", w.public, "--state", STATE]
    return run(parse_args(argv), w.spark)


def publish(w: Workload, router_factory) -> None:
    """``run()``'s stage sequence replayed through the public functions,
    each stage's output persisted and counted inside its span so the
    span covers the work, not just the planning.  Traced runs only:
    the extra boundaries change the plan."""
    from pyspark.sql import functions as F

    from opentimes_spark.io.write import write_sorted_partitioned
    from opentimes_spark.plans.pipeline import (
        build_blockloc, build_cenloc, build_destpoint, compute_times, od_cols, write_public,
    )

    cached = []

    def boundary(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    spark = w.spark
    with w.span("produce.blockloc"):
        blockloc = boundary(build_blockloc(spark.read.parquet(w.world["blocks"]), spark.read.parquet(w.world["blockpop"])))
    with w.span("produce.cenloc"):
        cenloc = boundary(build_cenloc(blockloc, "tract"))
    with w.span("produce.destpoint"):
        origins = cenloc.filter(F.col("geoid").startswith(STATE))
        c = origins.agg(F.avg("x_4326").alias("lon"), F.avg("y_4326").alias("lat")).collect()[0]
        dest = boundary(build_destpoint(cenloc, (c["lon"], c["lat"])))
    with w.span("produce.matrix"):
        times, missing, metadata = compute_times(origins, dest, router_factory)
        times = boundary(times)
    with w.span("produce.write_times"):
        write_public(times, os.path.join(w.public, "times"), state=STATE)
    with w.span("produce.write_siblings"):
        lon, lat = od_cols("weighted")
        for name, df in (
            ("points/origin", origins.select(F.col("geoid").alias("id"), F.col(lon).alias("lon"), F.col(lat).alias("lat"))),
            ("points/destination", dest.select(F.col("geoid").alias("id"), F.col(lon).alias("lon"), F.col(lat).alias("lat"))),
            ("missing_pairs", missing),
            ("metadata", metadata),
        ):
            write_sorted_partitioned(df, os.path.join(w.public, name))
    for df in cached:
        df.unpersist()


def produce_measure(w: Workload) -> dict:
    """Passes of the producer job until the window is spent (at least
    one).  The first pass runs in a fresh process, as every invocation
    of the CLI does."""
    seconds, cpu = [], []
    t_end = time.perf_counter() + w.seconds
    while True:
        t0, c0 = time.perf_counter(), cpu_seconds()
        try:
            summary = produce_pass(w)
        except Exception:  # a failed pass is counted, and the window goes on
            w.op(False, f"produce pass raised: {traceback.format_exc(limit=3)}")
        else:
            seconds.append(time.perf_counter() - t0)
            cpu.append(cpu_seconds() - c0)
            problems, _ = check_times(os.path.join(w.public, "times"), w.centroids)
            if summary["n_times"] != summary["n_origins"] * summary["n_destinations"] or summary["n_missing"]:
                problems.append(f"summary {summary}")
            w.op(not problems, f"produce pass: {problems}")
        if time.perf_counter() >= t_end:
            break
    p50 = statistics.median(seconds)
    return {
        "cpu_ms_per_op": statistics.mean(cpu) * 1000.0,
        "public_bytes_per_pair": layout_of(os.path.join(w.public, "times"))["bytes"] / PRODUCE_PAIRS,
        "_op_p50_ms": p50 * 1000.0,
        "_items_per_s": PRODUCE_PAIRS / p50,
        "_passes": len(seconds),
    }


def counting_router(w: Workload):
    """A router factory whose routers count into two accumulators."""
    from tracing import CountingRouter

    sc = w.spark.sparkContext
    w.router_calls, w.cells_routed = sc.accumulator(0), sc.accumulator(0)
    return partial(CountingRouter, w.router_calls, w.cells_routed)


def produce_layers(w: Workload, times: Times) -> dict:
    """Per-pass stage times and router counts of the staged passes
    recorded so far, and the layout of ``times``."""
    n = len(w.tracer.named("produce.write_times"))
    out = {
        f"produce.{k}_s": w.tracer.total(f"produce.{k}") / n
        for k in ("blockloc", "cenloc", "destpoint", "matrix", "write_times", "write_siblings")
    }
    out["matrix.router_calls"] = w.router_calls.value / n
    out["matrix.cells_routed"] = w.cells_routed.value / n
    out.update({f"write.{k}": times.layout[k] for k in ("bytes", "files", "row_groups")})
    out["traced.public_bytes_per_pair"] = times.layout["bytes"] / times.pairs
    return out


def staged_pass(w: Workload, router) -> Times:
    """One traced pass of ``publish``, checked; returns what it wrote."""
    c0 = cpu_seconds()
    with w.span("produce.pass") as s:
        publish(w, router)
    w.pass_cpu.append(cpu_seconds() - c0)
    w.pass_seconds.append(s.seconds)
    problems, times = check_times(os.path.join(w.public, "times"), w.centroids)
    w.op(not problems, f"traced produce pass: {problems}")
    if times is None:
        raise RuntimeError(f"the produced times are not origins × destinations: {problems}")
    return times


def produce_traced(w: Workload) -> tuple[dict, Times]:
    router = counting_router(w)
    t_end = time.perf_counter() + w.seconds
    while True:
        times = staged_pass(w, router)
        if time.perf_counter() >= t_end:
            break
    out = produce_layers(w, times)
    p50 = statistics.median(w.pass_seconds)
    out["traced.op_p50_ms"] = p50 * 1000.0
    out["traced.items_per_s"] = PRODUCE_PAIRS / p50
    out["traced.cpu_ms_per_op"] = statistics.mean(w.pass_cpu) * 1000.0
    return out, times


# ---------------------------------------------------------------- serve


class Lookups:
    """A single client's closed loop of point lookups.

    Half the lookups are by origin (pruned by row-group min/max), half by
    destination (pruned by the bloom filter).  Ids are drawn with a Zipf
    skew (s = 1) over a seeded popularity order.  Both the 50/50 mix and
    the skew are assumptions: no published measurement of lookup traffic
    backs them.  Every result is compared with the checked pyarrow read
    of the artifact made during set-up."""

    def __init__(self, w: Workload, times: Times):
        self.w, self.times = w, times
        self.pos = {
            kind: {k: i for i, k in enumerate(ids)} for kind, ids in (("origin", times.o_ids), ("dest", times.d_ids))
        }
        self.rng = np.random.default_rng(w.seed)
        self.ids = {kind: self.rng.permutation(sorted(pos)) for kind, pos in self.pos.items()}
        self.p = {}
        for kind, ids in self.ids.items():
            p = 1.0 / np.arange(1, len(ids) + 1)
            self.p[kind] = p / p.sum()
        self.latency: dict[str, list[float]] = {"origin": [], "dest": []}
        self.returned: dict[str, int] = {"origin": 0, "dest": 0}
        self.cpu: list[float] = []

    def _draw(self, kind: str) -> str:
        return str(self.ids[kind][self.rng.choice(len(self.ids[kind]), p=self.p[kind])])

    def _correct(self, kind: str, key: str, got: list) -> bool:
        """The rows of one lookup are exactly the artifact's row (origin)
        or column (destination) of durations for ``key``."""
        key_col, other_col, other = (
            ("origin_id", "destination_id", "dest") if kind == "origin" else ("destination_id", "origin_id", "origin")
        )
        at = [self.pos[other].get(r[other_col], -1) for r in got]
        if sorted(at) != list(range(len(self.pos[other]))) or any(r[key_col] != key for r in got):
            return False
        i = self.pos[kind][key]
        want = self.times.duration[i, at] if kind == "origin" else self.times.duration[at, i]
        return np.array_equal(np.array([r["duration_sec"] for r in got], dtype=np.float64), want)

    def one(self, kind: str, record: bool = True) -> None:
        from opentimes_spark.plans.pipeline import destination_lookup, point_lookup

        key = self._draw(kind)
        fn = point_lookup if kind == "origin" else destination_lookup
        w = self.w
        try:
            with w.span(f"lookup.{kind}"):
                t0, c0 = time.perf_counter(), cpu_seconds()
                with w.span("lookup.open"):
                    df = fn(w.spark, self.times.path, key, state=STATE)
                with w.span("lookup.exec"):
                    got = df.collect()
                dt, cpu = time.perf_counter() - t0, cpu_seconds() - c0
        except Exception:  # a failed lookup is counted, and the loop goes on
            w.op(False, f"{kind} lookup {key} raised: {traceback.format_exc(limit=3)}")
            return
        self.returned[kind] += len(got)
        if record:
            self.latency[kind].append(dt)
            self.cpu.append(cpu)
            w.op(self._correct(kind, key, got), f"{kind} lookup {key}")

    def warm_up(self, n: int) -> None:
        for _ in range(n):
            self.one("origin", record=False)
            self.one("dest", record=False)

    def loop(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            self.one("origin" if self.rng.random() < 0.5 else "dest")


def serve_setup(w: Workload) -> Lookups:
    """Publish the times of a seeded set of tract centroids with the
    producer's matrix operator and sorted writer, check the result with
    pyarrow and keep that read as the reference, and warm the read path
    up.  The spatial stages are skipped: they do not touch the layout a
    lookup reads, and a cold pass of them would not fit the run."""
    from opentimes_spark.operators.matrix import HaversineRouter
    from opentimes_spark.plans.pipeline import compute_times, write_public

    points = datagen.tract_points(w.seed, **SERVE_WORLD)
    path = os.path.join(w.served, "times")
    with w.span("serve.publish"):
        pts = w.spark.createDataFrame(pd.DataFrame(points))
        times, _, _ = compute_times(pts.filter(pts.geoid.startswith(STATE)), pts, HaversineRouter)
        write_public(times, path, state=STATE)
    problems, w.served_times = check_times(path, points)
    if w.served_times is not None and w.served_times.layout["row_groups"] < 2:
        problems.append("one row group: origin lookups have nothing to skip")
    w.op(not problems, f"serve artifact: {problems}")
    if w.served_times is None:
        raise RuntimeError(f"the served times are not origins × destinations: {problems}")
    if w.tracer:
        # the producer's stage metrics, from one staged pass of the
        # census world in its own directory, so that both workloads'
        # traced runs report every one; it runs before the warm-up so the
        # timed lookups follow the warm-up as in the untraced run
        staged_pass(w, counting_router(w))
    lookups = Lookups(w, w.served_times)
    lookups.warm_up(WARMUP_LOOKUPS_PER_KIND)
    return lookups


def percentile_report(samples: list[float]) -> dict:
    """Median and the highest of p95/p90/p80 with at least ten samples
    beyond it, in ms, with the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50_ms": statistics.median(xs) * 1000.0 if xs else None}
    for p in (95, 90, 80):
        if n - int(np.ceil(n * p / 100.0)) >= 10:
            out[f"p{p}_ms"] = float(np.percentile(xs, p)) * 1000.0
            break
    return out


def serve_measure(w: Workload, lookups: Lookups) -> dict:
    lookups.loop(w.seconds)
    both = lookups.latency["origin"] + lookups.latency["dest"]
    return {
        "cpu_ms_per_op": statistics.mean(lookups.cpu) * 1000.0,
        "public_bytes_per_pair": w.served_times.layout["bytes"] / w.served_times.pairs,
        "_op_p50_ms": statistics.median(both) * 1000.0,
        "_items_per_s": len(both) / sum(both),
        "_origin": percentile_report(lookups.latency["origin"]),
        "_dest": percentile_report(lookups.latency["dest"]),
        "_shared": len(w.served_times.layout["shared"]),
    }


def serve_traced(w: Workload, lookups: Lookups) -> dict:
    m = serve_measure(w, lookups)
    out = produce_layers(w, w.served_times)
    out["traced.op_p50_ms"] = m["_op_p50_ms"]
    out["traced.items_per_s"] = m["_items_per_s"]
    out["traced.cpu_ms_per_op"] = m["cpu_ms_per_op"]
    return out


def lookup_counters(w: Workload, lookups: Lookups, totals: dict) -> dict:
    """Per-lookup Spark counters from the reduced event log, and records
    scanned per row returned (pruning efficiency) per lookup kind."""
    from eventlog import sum_groups

    spans = w.tracer.spans
    kind_of = {s.id: s.name.split(".")[1] for s in spans if s.name in ("lookup.origin", "lookup.dest")}
    groups = {"origin": [], "dest": []}
    for s in spans:
        if s.parent in kind_of:
            groups[kind_of[s.parent]].append(s.id)
    n = len(kind_of)
    every = sum_groups(totals, groups["origin"] + groups["dest"])
    out = {f"lookup.{k}": every[k] / n for k in ("jobs", "tasks", "input_bytes", "run_s")}
    out["lookup.gc_s"] = sum(s.gc_s for s in spans if s.id in kind_of) / n
    for kind in ("origin", "dest"):
        scanned = sum_groups(totals, groups[kind])["records_read"]
        out[f"lookup.{kind}_records_per_row"] = scanned / lookups.returned[kind]
    opens = w.tracer.named("lookup.open")
    execs = w.tracer.named("lookup.exec")
    out["lookup.open_ms"] = statistics.median(s.seconds for s in opens) * 1000.0
    out["lookup.exec_ms"] = statistics.median(s.seconds for s in execs) * 1000.0
    return out
