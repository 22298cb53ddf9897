"""Repository benchmark: the resumable KG build and the pages-to-triples
pipeline, measured end to end through the package's public API.

    python3 perfbench/run.py --workload kg_build_fixture --seed 1 \\
        --seconds 16 --trace 0

Each invocation is one fresh process running one workload at
``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc`` and ``get_spark``
defaults. The workload is a closed loop with one client: a rep starts only
after the previous rep committed and was checked. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics from a separate traced session (see
README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("kg_build_fixture", "pages_to_triples")
PAGES_N = 3000
PAGES_SIZE_FACTOR = 5
QUALITY_THRESHOLD = 0.4
MIN_PAGES = 2
RESUME_READS = 10  # read-backs per pages rep; resume_s pools all reps' reads
DEADLINE_S = 160  # start no rep that could end past this process age
# seconds of --seconds per timed rep; set so that a full comparison, 48 runs
# of the two workloads (22 each plus 4), fits in its 3420 s allowance
REP_BUDGET_S = 8.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "resume_s": "s",
    "store_bytes": "bytes",
}

STAGES = (
    "merged_ontology", "metadata", "annotation_subset", "constructed_edges",
    "logic_subset", "full_graph", "owlnets",
)
POOLED = ("metadata", "annotation_subset", "constructed_edges")
BASE_COUNTERS = (
    "wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "driver_gap_s",
)
PYTHON = ("python_bytes_out", "python_bytes_in")
SHUFFLE_STAGES = ("metadata", "annotation_subset", "constructed_edges",
                  "logic_subset")
# counters reported per span; counters that are structurally zero for a
# span (no Python crossing, no child span, no large shuffle) are left out
SPAN_COUNTERS = {
    "session.start": ("wall_s",),
    **{
        f"full_build.{s}": BASE_COUNTERS
        + (("spill_bytes",) if s in SHUFFLE_STAGES else ())
        + (("self_s",) + PYTHON if s == "owlnets" else ())
        for s in STAGES
    },
    "owlnets.run_owlnets": BASE_COUNTERS + ("self_s",) + PYTHON,
    "owlnets.assign_forests": BASE_COUNTERS,
    "pipeline.triples": BASE_COUNTERS + ("self_s", "spill_bytes") + PYTHON,
    "pipeline.run_pipeline": ("wall_s", "jobs"),
    "mentions.extract_and_detect": BASE_COUNTERS + ("spill_bytes",) + PYTHON,
}
EXTRA_LAYER_UNITS = {
    "checkpoint.fn_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.commits": "count",
    "checkpoint.resume_hits": "count",
    "checkpoint.files": "count",
    "checkpoint.bytes": "bytes",
    "full_build.pool_overlap": "ratio",
    "trace.untagged_jobs": "count",
    "trace.overhead": "ratio",
}


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if "bytes" in counter:
        return "bytes"
    return "count"


def per_layer_units() -> dict[str, str]:
    units = {
        f"{span}.{c}": _unit(c)
        for span, counters in SPAN_COUNTERS.items()
        for c in counters
    }
    units.update(EXTRA_LAYER_UNITS)
    return units


# --------------------------------------------------------------------------
# process bookkeeping
# --------------------------------------------------------------------------

def process_start_epoch() -> float:
    """Epoch time at which this interpreter process started."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver
    Python, the JVM and its Python workers), sampled once a second: each
    sample walks /proc while holding the interpreter lock that the driver
    thread needs."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def start_spark(extra_conf: dict | None = None):
    from pheknowlator_spark import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    benchmark started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    before = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in before if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class FixtureBuild:
    """``full_build(approach="subclass")`` over the nation OWL fixture plus
    the nation-region edges (RO_0001025, inverse RO_0001015)."""

    prefix = "full_build"

    def __init__(self, spark, seed: int):
        import duckdb

        from perfbench import inputs, oracles

        tpch = inputs.stage_tpch(WORK)
        self.onto_rows, self.edge_rows = inputs.fixture_rows(spark, tpch, seed)
        self.bind(spark)
        con = duckdb.connect()
        try:
            constructed = oracles.fixture_constructed(
                oracles.nation_region_pairs(con, tpch), self.onto_rows
            )
            self.expected = {
                "constructed_edges": constructed,
                "owlnets": oracles.fixture_owlnets(con, tpch, constructed),
            }
        finally:
            con.close()

    def bind(self, spark) -> None:
        """Create the session-bound input tables."""
        from perfbench import inputs

        self.spark = spark
        self.ontology = spark.createDataFrame(self.onto_rows, inputs.TRIPLE_SCHEMA)
        self.edges = spark.createDataFrame(self.edge_rows, inputs.EDGE_SCHEMA)

    def build(self, store):
        from pheknowlator_spark.plans.full_build import full_build

        return full_build(
            self.spark, store, [self.ontology], self.edges, approach="subclass"
        )

    def check(self, out, stages=STAGES) -> list[str]:
        from perfbench import oracles

        return oracles.fixture_stage_checks(
            {s: out[s].collect() for s in stages}, self.onto_rows, self.expected
        )

    def resume(self, store) -> tuple[list[float], list[str]]:
        store.invalidate("full_graph")
        store.invalidate("owlnets")
        t0 = time.perf_counter()
        out = self.build(store)
        dt = time.perf_counter() - t0
        return [dt], self.check(out, ("full_graph", "owlnets"))


class PagesToTriples:
    """``run_pipeline(re_extract=True, quality_threshold=0.4, min_pages=2)``
    over staged generated pages, committing ``triples`` through a
    StageStore."""

    prefix = "pipeline"

    def __init__(self, spark, seed: int):
        from concurrent.futures import ThreadPoolExecutor

        from perfbench import inputs, oracles

        with ThreadPoolExecutor(max_workers=1) as pool:
            expected = pool.submit(
                oracles.pages_expected, inputs.pages_window(seed), PAGES_N,
                PAGES_SIZE_FACTOR, QUALITY_THRESHOLD,
            )
            self.path = inputs.stage_pages(
                spark, WORK, seed, PAGES_N, PAGES_SIZE_FACTOR
            )
            self.expected = expected.result()
        self.bind(spark)

    def bind(self, spark) -> None:
        from pheknowlator_spark.sources.pages import entity_dictionary

        self.spark = spark
        self.dictionary = entity_dictionary(spark)

    def pages(self):
        return self.spark.read.parquet(self.path)

    def _triples(self):
        from pheknowlator_spark.webtext.pipeline import run_pipeline

        out = run_pipeline(
            self.pages(),
            self.dictionary,
            re_extract=True,
            quality_threshold=QUALITY_THRESHOLD,
            min_pages=MIN_PAGES,
        )
        return out["triples"]

    def build(self, store):
        return {"triples": store.run("triples", self._triples)}

    def check(self, out) -> list[str]:
        return self._check_rows(out["triples"].collect())

    def _check_rows(self, rows) -> list[str]:
        """The committed table is distinct over all its columns; its
        (s, p, o) projection is a set that must equal the expectation (an
        edge bundle re-emits class declarations shared with other edges,
        so the projection itself repeats)."""
        from perfbench import oracles

        errors = []
        if len(set(rows)) != len(rows):
            errors.append(f"triples: {len(rows) - len(set(rows))} duplicate rows")
        return errors + oracles.compare(
            "triples", {(r["s"], r["p"], r["o"]) for r in rows}, self.expected
        )

    def resume(self, store) -> tuple[list[float], list[str]]:
        times, errors = [], []
        for _ in range(RESUME_READS):
            t0 = time.perf_counter()
            rows = store.run("triples", self._triples).collect()
            times.append(time.perf_counter() - t0)
            errors += self._check_rows(rows)
        return times, errors


WORKLOAD_CLASSES = {
    "kg_build_fixture": FixtureBuild,
    "pages_to_triples": PagesToTriples,
}


# --------------------------------------------------------------------------
# measurement loop
# --------------------------------------------------------------------------

class Runner:
    def __init__(self, workload, t_proc: float, log):
        self.w = workload
        self.t_proc = t_proc
        self.log = log
        self.rep_no = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _store(self):
        from pheknowlator_spark.plans.checkpoint import StageStore

        self.rep_no += 1
        root = os.path.join(WORK, f"store-{os.getpid()}-{self.rep_no}")
        shutil.rmtree(root, ignore_errors=True)
        return root, StageStore(self.w.spark, root)

    def warm_up(self) -> None:
        """One untimed, checked rep on a cold store: a build and a resume,
        so that both paths are past their first, cold run. The first build
        of a process is the JVM's cold one."""
        root, store = self._store()
        try:
            errors = self.w.check(self.w.build(store))
            errors += self.w.resume(store)[1]
        finally:
            shutil.rmtree(root, ignore_errors=True)
        self.errors += ["warm-up: " + e for e in errors]

    def rep(self, tracer=None) -> dict | None:
        """One rep: a build on a cold store, then a resume on the same
        store. Returns the rep's measurements, or None if it failed. With a
        tracer, the ids of the rep's root spans are returned too."""
        root, store = self._store()
        self.attempted += 1
        try:
            with _maybe_span(tracer, "bench.build") as b:
                t0 = time.perf_counter()
                out = self.w.build(store)
                build_s = time.perf_counter() - t0
            files, size = dir_stats(root)
            with _maybe_span(tracer, "bench.check"):
                errors = self.w.check(out)
            with _maybe_span(tracer, "bench.resume") as r:
                resume_times, more = self.w.resume(store)
            errors += more
        except Exception as exc:  # a rep that raises counts as failed
            traceback.print_exc(file=sys.stderr)
            errors = [f"rep {self.rep_no} raised {type(exc).__name__}: {exc}"]
        finally:
            shutil.rmtree(root, ignore_errors=True)
        if errors:
            self.failed += 1
            self.errors += errors
            return None
        result = {"build_s": build_s, "resume_times": resume_times,
                  "resume_s": statistics.median(resume_times),
                  "store_bytes": size, "store_files": files}
        if tracer is not None:
            result["roots"] = {"bench.build": b.id, "bench.resume": r.id}
        return result

    def loop(self, n_reps: int, tracer=None, on_rep=None) -> list[dict]:
        """Closed loop: ``n_reps`` reps back to back, never starting a rep
        that could end after the process deadline. Stops after three
        failures with no success."""
        reps, longest = [], 0.0
        for _ in range(n_reps):
            if time.time() - self.t_proc + 1.5 * longest > DEADLINE_S:
                break
            if not reps and self.failed >= 3:
                break
            t0 = time.perf_counter()
            r = self.rep(tracer)
            dt = time.perf_counter() - t0
            longest = max(longest, dt)
            if r is not None:
                reps.append(r)
                if on_rep is not None:
                    on_rep(r)
            self.log(
                f"rep {self.rep_no}: {dt:.2f} s"
                + (f" (build {r['build_s']:.3f} s, resume {r['resume_s']:.3f} s)"
                   if r else " FAILED")
            )
        return reps


def timed_reps(seconds: float) -> int:
    """The number of timed reps in a run. It depends on ``seconds`` only,
    not on how fast the host is: the JVM keeps compiling for many builds,
    so a rep count that shrank on a slow host would also sample an
    earlier, slower point of that warm-up."""
    return max(1, round(seconds / REP_BUDGET_S))


def _maybe_span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# --------------------------------------------------------------------------
# traced run
# --------------------------------------------------------------------------

def install_wrappers(tracer, prefix: str):
    """Wrap the public entry points the per-layer spans are named after.
    Returns a function that restores the originals."""
    import pheknowlator_spark.operators.owlnets as owlnets_mod
    import pheknowlator_spark.plans.full_build as full_build_mod
    import pheknowlator_spark.webtext.pipeline as pipeline_mod
    from pheknowlator_spark.plans.checkpoint import StageStore

    orig_run = StageStore.run
    orig_run_owlnets = full_build_mod.run_owlnets
    orig_assign = owlnets_mod.assign_forests
    orig_pipeline = pipeline_mod.run_pipeline

    def run(self, stage, fn, *args, **kwargs):
        hit = self.is_committed(stage) and not kwargs.get("force", False)
        with tracer.span(f"{prefix}.{stage}", hit=hit, fn_s=0.0) as sp:
            def timed_fn():
                t0 = time.time()
                try:
                    return fn()
                finally:
                    sp.attrs["fn_s"] += time.time() - t0

            return orig_run(self, stage, timed_fn, *args, **kwargs)

    def wrap(name, fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    StageStore.run = run
    full_build_mod.run_owlnets = wrap("owlnets.run_owlnets", orig_run_owlnets)
    owlnets_mod.assign_forests = wrap("owlnets.assign_forests", orig_assign)
    pipeline_mod.run_pipeline = wrap("pipeline.run_pipeline", orig_pipeline)

    def restore():
        StageStore.run = orig_run
        full_build_mod.run_owlnets = orig_run_owlnets
        owlnets_mod.assign_forests = orig_assign
        pipeline_mod.run_pipeline = orig_pipeline

    return restore


def fold_layers(tracer, jobs, reps: list[dict], session_start_s: float,
                untraced_build_s: float, traced_build_s: float) -> dict:
    """Per-layer metrics: each value is the median over traced reps of the
    rep's sum over same-named spans."""
    from perfbench import spans as sp_mod

    counters = sp_mod.span_counters(tracer.spans, jobs)
    by_id = {s.id: s for s in tracer.spans}
    children: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree(sid):
        out = []
        for c in children.get(sid, ()):
            out.append(c)
            out += subtree(c.id)
        return out

    units = per_layer_units()
    per_rep = []
    for rep in reps:
        roots = rep["roots"]
        vals = dict.fromkeys(units, 0.0)
        build = subtree(roots["bench.build"])
        for s in build:
            for c in SPAN_COUNTERS.get(s.name, ()):
                vals[f"{s.name}.{c}"] += counters[s.id][c]
        if "bench.mentions" in roots:
            s = by_id[roots["bench.mentions"]]
            for c in SPAN_COUNTERS["mentions.extract_and_detect"]:
                vals[f"mentions.extract_and_detect.{c}"] += counters[s.id][c]
        stage_spans = [s for s in build if "hit" in s.attrs]
        computed = [s for s in stage_spans if not s.attrs["hit"]]
        vals["checkpoint.fn_s"] = sum(s.attrs["fn_s"] for s in computed)
        vals["checkpoint.commit_s"] = sum(
            (s.end - s.start) - s.attrs["fn_s"] for s in computed
        )
        vals["checkpoint.commits"] = len(computed)
        vals["checkpoint.resume_hits"] = sum(
            1 for s in subtree(roots["bench.resume"]) if s.attrs.get("hit")
        )
        vals["checkpoint.files"] = rep["store_files"]
        vals["checkpoint.bytes"] = rep["store_bytes"]
        pooled = [s for s in stage_spans
                  if s.name in {f"full_build.{p}" for p in POOLED}]
        if pooled:
            block = max(s.end for s in pooled) - min(s.start for s in pooled)
            vals["full_build.pool_overlap"] = (
                sum(s.end - s.start for s in pooled) / block if block > 0 else 0.0
            )
        per_rep.append(vals)
    out = {k: statistics.median(r[k] for r in per_rep) for k in units}
    out["session.start.wall_s"] = session_start_s
    out["trace.untagged_jobs"] = sum(1 for j in jobs.values() if j.span is None)
    out["trace.overhead"] = traced_build_s / untraced_build_s
    return out


def traced_session(runner, n_reps, spark, session_start_s,
                   untraced_build_s, log):
    """Restart the session with the event log on, run the traced reps, stop
    the session and fold its event log into per-layer metrics."""
    from perfbench import spans as sp_mod

    log_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark.stop()
    spark = start_spark({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    app_id = spark.sparkContext.applicationId
    tracer = sp_mod.Tracer(spark.sparkContext)
    workload = runner.w
    with tracer.span("bench.prepare"):
        workload.bind(spark)
    restore = install_wrappers(tracer, workload.prefix)

    def on_rep(r):
        if isinstance(workload, PagesToTriples):
            # the fused scan alone, forced by a no-op write over the same pages
            from pheknowlator_spark.webtext.mentions import extract_and_detect

            with tracer.span("mentions.extract_and_detect") as m:
                extract_and_detect(
                    workload.pages(), workload.dictionary,
                    min_quality=QUALITY_THRESHOLD, resolve_spans=True,
                ).write.format("noop").mode("overwrite").save()
            r["roots"]["bench.mentions"] = m.id

    try:
        reps = runner.loop(n_reps, tracer, on_rep=on_rep)
    finally:
        restore()
    shutdown_spark(spark)
    log_file = os.path.join(log_dir, app_id)
    with open(log_file) as f:
        jobs = sp_mod.fold_event_log(f)
    shutil.rmtree(log_dir, ignore_errors=True)
    traced_build_s = statistics.median(r["build_s"] for r in reps)
    log(f"traced build_s median {traced_build_s:.3f} s over {len(reps)} reps")
    return fold_layers(tracer, jobs, reps, session_start_s,
                       untraced_build_s, traced_build_s)


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def main(argv=None) -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def log(msg):
        print(f"[perfbench {time.time() - t_proc:7.2f}s] {msg}", file=sys.stderr,
              flush=True)

    sys.path.insert(0, ROOT)
    import pheknowlator_spark  # noqa: F401  (fails fast outside the repo)

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # spill and temporary files stay inside the checkout and go with the run
    local_dirs = os.path.join(WORK, f"spark-local-{os.getpid()}")
    tmp_dir = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = None  # re-read TMPDIR
    load_before = os.getloadavg()

    spark = None
    try:
        with RssSampler() as rss:
            spark = start_spark()
            session_start_s = time.time() - t_proc
            log(f"session ready ({session_start_s:.2f} s from process start)")
            provenance = {
                "nproc": nproc,
                "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "spark": spark.version,
                "python": platform.python_version(),
                "pyarrow": __import__("pyarrow").__version__,
            }
            t0 = time.perf_counter()
            workload = WORKLOAD_CLASSES[args.workload](spark, args.seed)
            staging_s = time.perf_counter() - t0
            log(f"inputs staged and expectations derived in {staging_s:.2f} s")
            runner = Runner(workload, t_proc, log)
            t0 = time.perf_counter()
            runner.warm_up()
            warmup_s = time.perf_counter() - t0
            setup_s = session_start_s + warmup_s
            log(f"warm-up {warmup_s:.2f} s")
            n_reps = timed_reps(args.seconds)
            # a traced run splits its reps between an untraced and a traced
            # session
            if args.trace:
                n_reps = max(1, (n_reps + 1) // 2)
            reps = runner.loop(n_reps)
            if not reps:
                raise RuntimeError("no rep succeeded: " + "; ".join(runner.errors))
            build_s = statistics.median(r["build_s"] for r in reps)
            if args.trace:
                layers = traced_session(
                    runner, n_reps, spark, session_start_s, build_s, log
                )
    finally:
        if spark is not None:
            shutdown_spark(spark)
        shutil.rmtree(local_dirs, ignore_errors=True)
        shutil.rmtree(tmp_dir, ignore_errors=True)

    provenance.update(
        workload=args.workload, seed=args.seed, reps=len(reps),
        staging_s=round(staging_s, 3), loadavg_before=load_before,
        loadavg_after=os.getloadavg(),
    )
    print("provenance " + json.dumps(provenance, sort_keys=True))
    if runner.errors:
        for e in runner.errors:
            print("check failed: " + e)
    error_rate = runner.failed / max(runner.attempted, 1)
    print(f"error_rate {error_rate:.4f} ratio "
          f"({runner.failed} failed of {runner.attempted} reps)")
    # reported, not gated: the JVM heap grows under GC heuristics, so the
    # peak varies by about 20% between identical runs
    print(f"peak_rss_mb {rss.peak / 2**20:.1f} MB")

    if args.trace:
        units = per_layer_units()
        values = layers
    else:
        units = END_TO_END_UNITS
        values = {
            "setup_s": setup_s,
            "build_s": build_s,
            # the median over every timed resume of every rep
            "resume_s": statistics.median(
                t for r in reps for t in r["resume_times"]
            ),
            "store_bytes": statistics.median(r["store_bytes"] for r in reps),
        }
    for name, unit in units.items():
        print(f"{name} {values[name]:.6g} {unit}")
    result = {
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
