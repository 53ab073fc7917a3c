"""End-to-end benchmark of the tier engine.

    python3 perfbench/run.py --workload backfill_cold --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process on local[<cores>] with a
single closed-loop client drives the engine only through `TierEngine`'s
public methods. The inputs come from the seed (perfbench/gen.py); every
answer is checked outside the timed region (perfbench/checks.py). The last
line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
also builds the root stage by stage, times each layer's public kernels,
makes one late batch, one forget and one retention drop on that root,
reads the Spark event log of its own session and reports the per-layer
metrics (perfbench/README.md lists them and what each should move).

Workloads:
  backfill_cold  one cold TierEngine.run of a dense table into an empty
                 root, after an untimed warm-up run of a smaller table
  serve_mixed    a read-only mix of range, top-k, SQL, chunk-decode and
                 series queries over a root built once per checkout, a
                 third of them repeated through the result cache
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
from datetime import datetime, timedelta
from pathlib import Path
from typing import NamedTuple

import pandas as pd

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from spans import Tracer  # noqa: E402

#: dense input for the cold run: per-turn work dominates
BACKFILL = gen.Shape(turns=60_000, span_days=5, n_convs=600)
#: the serving root: more days, fewer turns, covers a whole calendar month
WIDE = gen.Shape(turns=20_000, span_days=32, n_convs=400)
#: the untimed warm-up run's input: the first pipeline run in a JVM pays
#: class loading, planning and code generation that later runs reuse
WARMUP = gen.Shape(turns=10_000, span_days=3, n_convs=150)
ENGINE_OPTS = dict(salted=True, snapshots=True, lease=False, freq_cols=["tool"])
STAGES = ("hourly", "daily", "monthly", "gapfill", "compress")
#: what a query's range spans: a few hours, days, or from a month start
SPANS = ("hours", "days", "month")
#: serve_mixed serves one table per checkout: its root is built by the
#: first run that needs it and each run serves a fresh hard-link copy, so a
#: run does not pay a cold-JVM pipeline run in its set-up; the seed draws
#: the query mix
WIDE_SEED = 20251
CACHE = REPO / ".perfbench_cache"
END_TO_END = ("setup_s", "cpu_s_per_op", "stored_bytes_per_turn", "peak_rss_mb")
#: serve_mixed's timed loop sends at least this many whole cycles
MIN_CYCLES = 2
#: share of serve queries that are checked against an independent answer
CHECK_SHARE = 0.5


def jit_cpu_ticks(pid: int) -> int:
    """Clock ticks the JIT compiler threads of JVM `pid` have used."""
    ticks = 0
    for t in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                raw = f.read()
        except OSError:  # the thread ended while we looked
            continue
        if raw[raw.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = raw.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process `root` and all its descendants
    (the JVM, the Python workers), children already reaped included, less
    what the JVM spent compiling: how much JIT compilation a run triggers
    depends on timing (measured on a 4-vCPU VM: a third to a half of a
    run's CPU, and the share that varied most from run to run), not on the
    engine's work."""
    stat: dict[int, tuple[int, int, str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
            except OSError:  # exited while we looked
                continue
            fields = raw.rsplit(")", 1)[1].split()
            comm = raw[raw.index("(") + 1:raw.rindex(")")]
            stat[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]), comm)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stat.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stat:
            ticks += stat[pid][1]
            if stat[pid][2] == "java":
                ticks -= jit_cpu_ticks(pid)
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


class Query(NamedTuple):
    cls: str  # what is sent: a query class, or "cached"
    inner: str  # the query class that computes the answer
    lo: datetime
    hi: datetime
    arg: object  # SQL threshold or conversation id
    kind: str  # the span drawn: one of SPANS


class Served(NamedTuple):
    query: Query
    rows: object  # the answer, as pandas
    seconds: float
    cpu_s: float  # CPU seconds of the process tree while it was served
    hit: bool | None  # result-cache hit flag for cached() queries


class Bench:
    """One benchmark run: its work directory, Spark session and counters."""

    #: serve_mixed's query classes, in the order they are sent
    CYCLE = ("range", "topk", "cached", "sql", "chunk", "cached", "series", "range", "cached")

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 shape: gen.Shape | None = None):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(traced)
        self.shape = shape or (BACKFILL if workload == "backfill_cold" else WIDE)
        self.cores = len(os.sched_getaffinity(0))
        self.work = REPO / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
        self.attempted = 0
        self.failures: list[str] = []
        self.failed_ops: set[tuple] = set()
        self.metrics: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.jvm = None
        #: test hook: applied to every answer before it is checked
        self.corrupt = None

    # -- lifecycle -------------------------------------------------------

    def start(self) -> None:
        """Start the JVM and this run's session; every file Spark, the JVM
        or Python workers write goes under the run's work directory."""
        from pyspark import SparkContext

        from engine.session import get_spark

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(tmp)
        # compiler threads live as long as the JVM, so that the JIT's CPU
        # time can be told apart (see tree_cpu_s)
        jvm_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    " -XX:-UseDynamicNumberOfCompilerThreads")
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        conf = {
            # a fixed heap: the JVM's resident size then follows the
            # program, not the collector's sizing decisions
            "spark.driver.memory": "1g",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms1g",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            (self.work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = SparkContext._gateway.proc

    def stop(self) -> None:
        """Stop the session and the JVM and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        if self.jvm is not None:
            self.jvm.stdin.close()
            self.jvm.wait(timeout=60)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = self.work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        with open(f"/proc/{self.jvm.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    # -- helpers -----------------------------------------------------------

    def engine(self, name: str):
        return self.engine_at(self.work / name)

    def engine_at(self, root: Path):
        from engine.api import TierEngine

        return TierEngine(self.spark, str(root), **ENGINE_OPTS)

    def read_input(self, name: str = "input"):
        return self.spark.read.parquet(str(self.work / name))

    def generate(self, seed: int) -> None:
        """Generate the input table and write it where the engine reads it."""
        self.raw = gen.generate(self.shape, seed)
        gen.write(self.raw, seed, str(self.work / "input" / "part-0.parquet"))

    def warm_up(self) -> None:
        """One untimed run of a small table into a scratch root, so that
        the measured runs pay per-turn work rather than the JVM's first
        planning, class loading and code generation."""
        gen.write(gen.generate(WARMUP, self.seed), self.seed,
                  str(self.work / "warmup-input" / "part-0.parquet"))
        self.engine("warmup").run(self.read_input("warmup-input"))

    def check(self, what: str, problems: list[str]) -> None:
        self.failures += [f"{what}: {p}" for p in problems]

    def answer(self, pdf):
        return self.corrupt(pdf) if self.corrupt is not None else pdf

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def root_bytes(self, name: str) -> tuple[int, int]:
        size = files = 0
        for d, _, fs in os.walk(self.work / name):
            for f in fs:
                size += os.path.getsize(os.path.join(d, f))
                files += 1
        return size, files

    # -- the cold run and its checks --------------------------------------

    def cold_run(self, name: str, staged: bool = False) -> dict:
        """One cold run into an empty root; with `staged`, successive
        run(stages=prefix) calls, one span per stage (gapfill and compress
        together make the `series` span). Returns the run's span times."""
        eng = self.engine(name)
        with self.tracer.span("pipeline.run", self.tracer.next_op()) as sp:
            if not staged:
                eng.run(self.read_input())
            else:
                for label, n in (("hourly", 1), ("daily", 2), ("monthly", 3), ("series", 5)):
                    with self.tracer.span(f"pipeline.{label}"):
                        eng.run(self.read_input(), stages=STAGES[:n])
        return sp

    def wide_root(self) -> Path:
        """The serving root for this checkout, built on first use. Its key
        covers the engine's sources, its options and the generated table,
        so a changed engine or table builds a new one. Tiers are checked
        before it is kept."""
        h = hashlib.sha256(repr(ENGINE_OPTS).encode())
        h.update(pd.util.hash_pandas_object(self.raw, index=False).to_numpy().tobytes())
        for f in sorted((REPO / "engine").rglob("*.py")):
            h.update(str(f.relative_to(REPO)).encode() + f.read_bytes())
        path = CACHE / f"wide-{h.hexdigest()[:16]}"
        if path.is_dir():
            return path
        tmp = CACHE / f"building-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.parent.mkdir(parents=True, exist_ok=True)
        self.engine_at(tmp).run(self.read_input())
        self.check_root(tmp)
        if self.failures:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError("the serving root does not match the oracle")
        try:
            os.rename(tmp, path)
        except OSError:  # another run published it first
            shutil.rmtree(tmp, ignore_errors=True)
        return path

    def check_root(self, root: Path) -> None:
        """Tiers equal the pandas oracle, and decoding every chunk returns
        one point per observed hourly row and metric."""
        from engine.rollup import observed_state

        eng = self.engine_at(root)
        self.clean = checks.dedup(self.raw)
        tiers = {
            t: observed_state(eng.tier(t)).select(*checks.KEY, *checks.STATE).toPandas()
            for t in ("hourly", "daily", "monthly")
        }
        self.hourly = tiers["hourly"]
        got = {t: self.answer(df) for t, df in tiers.items()}
        self.check("tiers", checks.tiers_match(got, self.clean))
        lo = gen.EPOCH
        hi = lo + timedelta(days=self.shape.span_days + 1)
        pts = eng.serve_chunk_range(lo, hi).count()
        if pts != 3 * len(self.hourly):
            self.check("decode_chunks", [f"{pts} points, expected {3 * len(self.hourly)}"])

    # -- serving -----------------------------------------------------------

    def queries(self, n: int) -> list[Query]:
        """A seeded query mix over the root's span. Classes come in a fixed
        cycle. The range and top-k slots of a cycle span a few hours (hourly
        tier), some days (daily tier with hourly edges) and, on a root of
        more than a month, a month start past its end (monthly tier), in an
        order that rotates by cycle; the chunk and series slots span hours
        or days. The seed draws the ranges, thresholds and conversations.
        The cached slots repeat, through cached(), the run's first range,
        top-k and SQL query in turn."""
        rng = random.Random(self.seed * 7919)
        span_h = self.shape.span_days * 24
        pool: list[Query] = []
        out = []
        n_ranged = n_cached = 0
        for i in range(n):
            cycle, slot = divmod(i, len(self.CYCLE))
            cls = self.CYCLE[slot]
            if cls == "cached":
                q = pool[n_cached % len(pool)]
                n_cached += 1
                out.append(Query("cached", q.inner, q.lo, q.hi, q.arg, q.kind))
                continue
            if cls in ("range", "topk"):
                kind = SPANS[(n_ranged + cycle) % 3]
                n_ranged += 1
            else:
                kind = SPANS[(cycle + (cls == "series")) % 2]
            if kind == "month" and span_h > 31 * 24:
                lo_h = 0
                hi_h = rng.randint(31 * 24, span_h)
            else:
                if kind == "hours":
                    hours = rng.randint(2, 12)
                else:
                    hours = 24 * rng.randint(1, min(10, self.shape.span_days - 1))
                    hours += rng.randint(0, 23)
                lo_h = rng.randint(0, span_h - hours)
                hi_h = lo_h + hours
            if cls in ("chunk", "series"):
                hi_h = min(hi_h, lo_h + 24 * 7)
            arg = None
            if cls == "sql":
                arg = rng.randint(1, 200)
            elif cls == "series":
                arg = f"c{rng.randint(0, 5):06d}"
            q = Query(cls, cls, gen.EPOCH + timedelta(hours=lo_h),
                      gen.EPOCH + timedelta(hours=hi_h), arg, kind)
            out.append(q)
            if cls in ("range", "topk", "sql") and len(pool) < 3:
                pool.append(q)
        if self.shape.span_days > 31:
            for c in range(n // len(self.CYCLE)):
                cyc = out[c * len(self.CYCLE):(c + 1) * len(self.CYCLE)]
                kinds = {q.kind for q in cyc if q.cls in ("range", "topk")}
                assert kinds == set(SPANS), f"cycle {c} spans only {kinds}"
        return out

    def build_query(self, eng, q: Query):
        from pyspark.sql import functions as F

        if q.inner == "range":
            return eng.serve_range(q.lo, q.hi)
        if q.inner == "topk":
            return eng.serve_range_topk(q.lo, q.hi, "tool")
        if q.inner == "sql":
            return eng.sql(
                "SELECT conv_id, bucket_start, n_turns, token_sum FROM tiers_monthly "
                f"WHERE n_turns >= {int(q.arg)}"
            )
        if q.inner == "chunk":
            return eng.serve_chunk_range(q.lo, q.hi)
        return eng.serve_series(q.lo, q.hi).filter(F.col("conv_id") == q.arg)

    def serve(self, eng, qs: list[Query], deadline: float | None) -> list[Served]:
        """Closed loop, one client: send the next query when the previous
        one has returned, through the list or, with a deadline, through
        whole cycles of it until the deadline has passed and at least
        MIN_CYCLES cycles have been sent (a fixed count on a slow host, so
        that the CPU time and the peak RSS cover the same work)."""
        done = []
        for i, q in enumerate(qs):
            if (deadline is not None and i % len(self.CYCLE) == 0
                    and i >= MIN_CYCLES * len(self.CYCLE)
                    and time.perf_counter() >= deadline):
                break
            cpu = tree_cpu_s(os.getpid())
            with self.tracer.span(f"serve.{q.cls}", self.tracer.next_op()) as sp:
                if q.cls == "cached":
                    key = f"{q.inner}|{q.lo}|{q.hi}|{q.arg}"
                    df, hit = eng.cached(key, lambda: self.build_query(eng, q))
                else:
                    df, hit = self.build_query(eng, q), None
                rows = df.toPandas()
            done.append(Served(q, rows, sp["s"], tree_cpu_s(os.getpid()) - cpu, hit))
        return done

    def check_answers(self, eng, done: list[Served], tag: str = "loop") -> None:
        """Check a seeded sample of the answers (the first one always)."""
        rng = random.Random(self.seed * 104729 + 3)
        monthly = None
        for i, d in enumerate(done):
            if i > 0 and rng.random() >= CHECK_SHARE:
                continue
            q, got = d.query, self.answer(d.rows)
            what = f"query {i} {q.cls}/{q.inner} [{q.lo}, {q.hi})"
            if q.inner == "range":
                exp = checks.range_agg(self.clean, q.lo, q.hi)
                bad = checks.frame_diff(got, exp, ["conv_id"], what)
            elif q.inner == "topk":
                exp = checks.topk(self.clean, q.lo, q.hi)
                bad = checks.frame_diff(got, exp, ["conv_id", "rank"], what)
            elif q.inner == "sql":
                if monthly is None:
                    monthly = eng.tier("monthly").select(
                        "conv_id", "bucket_start", "n_turns", "token_sum").toPandas()
                exp = monthly[monthly.n_turns >= int(q.arg)]
                bad = checks.frame_diff(got, exp, ["conv_id", "bucket_start"], what)
            else:
                conv = q.arg if q.inner == "series" else None
                exp = checks.series(self.hourly, q.lo, q.hi, conv)
                bad = checks.frame_diff(got, exp, ["conv_id", "metric", "bucket_start"], what)
            if bad:
                self.failures += bad
                self.failed_ops.add((tag, i))


def run_backfill(b: Bench) -> None:
    b.generate(b.seed)
    b.warm_up()
    b.setup_s = tree_cpu_s(os.getpid()) - b.cpu0
    walls, cpus = [], []
    deadline = time.perf_counter() + b.seconds
    while not walls or time.perf_counter() < deadline:
        name = f"root{len(walls)}"
        cpu = tree_cpu_s(os.getpid())
        sp = b.cold_run(name)
        cpus.append(tree_cpu_s(os.getpid()) - cpu)
        walls.append(sp["s"])
        if not b.attempted:
            b.main_window = (sp["start"], sp["end"])
        b.attempted += 1
        b.last_root = name
    b.check_root(b.work / b.last_root)
    if b.failures:
        b.failed_ops.add(("root", b.last_root))
    wall = statistics.median(walls)
    b.metric("cpu_s_per_op", statistics.median(cpus), "s")
    b.metric("wall.throughput", len(b.raw) / wall, "1/s")
    b.metric("wall.p50_s", wall, "s")
    b.metric("stored_bytes_per_turn", b.root_bytes(b.last_root)[0] / len(b.raw), "B/turn")


def run_serve(b: Bench) -> None:
    from engine.rollup import observed_state

    b.generate(WIDE_SEED)
    shutil.copytree(b.wide_root(), b.work / "root", copy_function=os.link)
    stored = b.root_bytes("root")[0]
    eng = b.engine("root")
    qs = b.queries(10_000)
    # the first cycle once untimed and untraced: the first time a JVM plans
    # each query class costs several times a later query of that class, and
    # its cached() calls fill the result cache the timed cycles hit
    traced, b.tracer.enabled = b.tracer.enabled, False
    b.serve(eng, qs[:len(b.CYCLE)], None)
    b.tracer.enabled = traced
    b.setup_s = tree_cpu_s(os.getpid()) - b.cpu0
    start = time.perf_counter()
    t0 = time.time()
    done = b.serve(eng, qs, start + b.seconds)
    wall = time.perf_counter() - start
    b.main_window = (t0, time.time())
    b.metric("cpu_s_per_op", sum(d.cpu_s for d in done) / len(done), "s")
    b.serve_done = done
    b.clean = checks.dedup(b.raw)
    b.hourly = observed_state(eng.tier("hourly")).select(*checks.KEY, *checks.STATE).toPandas()
    b.check_answers(eng, done)
    b.attempted += len(done)
    lat = [d.seconds for d in done]
    b.metric("wall.throughput", len(done) / wall, "1/s")
    b.metric("wall.p50_s", statistics.median(lat), "s")
    b.metric("stored_bytes_per_turn", stored / len(b.raw), "B/turn")


WORKLOADS = {"backfill_cold": run_backfill, "serve_mixed": run_serve}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = measure(Bench(args.workload, args.seed, args.seconds, bool(args.trace)))
    print(json.dumps(result), flush=True)
    return 0


def measure(b: Bench) -> dict:
    """Run the workload (and, traced, the layer probe) and build the result."""
    b.cpu0 = tree_cpu_s(os.getpid())
    try:
        b.start()
        WORKLOADS[b.workload](b)
        b.metric("setup_s", b.setup_s, "s")
        b.metric("peak_rss_mb", b.peak_rss_mb(), "MB")
        if b.tracer.enabled:
            layers.probe(b)
        b.stop()
        if b.tracer.enabled:
            layers.event_log(b)
            b.tracer.dump(sys.stderr)
    finally:
        b.stop()
        b.cleanup()
    for f in b.failures[:20]:
        print(f"CHECK FAILED {f}", file=sys.stderr)
    keep = layers.PER_LAYER if b.tracer.enabled else END_TO_END
    return {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failed_ops),
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in b.metrics.items() if k in keep
        },
    }


if __name__ == "__main__":
    sys.exit(main())
