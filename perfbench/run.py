"""The engine's benchmark: one command, two workloads, every output checked.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer`` list,
read from spans, Spark job groups and the Spark event log. A per-layer
metric a workload does not exercise reads 0. A human-readable summary,
with sample counts and tail percentiles, goes to stderr.

Workloads (``serve.py``, ``curate.py`` with ``batch.py``). Each is
one client in a closed loop (the next operation starts when the
previous one returns) against ``local[nproc]``, in a fresh process, so
every engine cache starts cold. The loop runs whole passes for
``--seconds``, at least one; a pass starts only if one as long as the
last still ends in time. The seed drives the operation stream only; the
corpus is fixed (``data.py``).

- ``serve``: a pass is ten read requests over the ``films`` view. Time
  goes to driver plan building and the search/knn/ann_index layers.
- ``curate``: a pass is one write (moviegen → ingest → upsert → atomic
  swap) on a growing parquet corpus, reads of the corpus just swapped
  in, then three offline curation jobs of the query registry. Time goes
  to the Python-worker source, fuzzy dedup, the Arrow embedder, the
  copy-on-write rewrite, n-gram pairs, connected components and the
  Arrow kernels.

Every run pays a cold JVM and cold Python workers (25-50 s on 4
cores), so the offline jobs ride in the ``curate`` process rather than
in a third workload that would pay that set-up again on every run.

End-to-end metrics, on every workload:

- ``setup_s``: from process start until warm-up ends: Spark session
  start, corpus files, index builds or seed corpus, expected answers
  and a first request of each kind. Measured once per run, cold.
- ``pass_s``: median summed latency of one pass's own operations: ten
  read requests on ``serve``; one write and three jobs on ``curate``
  (per layer: ``merge_p50_ms`` + ``batch_pass_s``). The reads beside
  the write are not counted.
- ``search_p50_ms``: median latency of exact ``vector_search``
  requests (the five each pass holds on ``serve``; the sixteen reads of the
  freshly swapped corpus on ``curate``).
- ``peak_rss_mb``: peak summed RSS of this process, its JVM and the
  JVM's Python workers.

``failed_frac`` is 0 on a correct run, so it is a per-layer metric; the
result line carries it as ``failed`` / ``attempted``. ``search_p90_ms``
is per-layer too: a run holds 10-25 searches, so no percentile above
the median has ten samples beyond it, and across runs it swung twice as
wide as the median.

Which per-layer metric should move which end-to-end metric:

- ``catalog.films_view_ms``, ``search.build_ms``, ``knn.build_ms`` →
  ``search_p50_ms`` and ``pass_s`` on ``serve``.
- ``search.exec_ms``, ``knn.exec_ms``, ``spark.jobs_per_search``,
  ``spark.tasks_per_search`` → ``search_p50_ms`` on every workload.
- ``ann_index.*``, ``ann.*`` → ``pass_s`` on ``serve`` and ``setup_s``
  on ``serve``.
- ``ingest.*``, ``merge_p50_ms``, ``merged_rows_per_s`` → ``pass_s`` on
  ``curate``; no effect on ``serve``.
- ``upsert.*`` → ``pass_s`` and ``search_p50_ms`` on ``curate``.
- ``dedup.*``, ``cluster.*``, ``queries.*``, ``batch_pass_s`` →
  ``pass_s`` on ``curate``; zero on ``serve``.
- ``spark.shuffle_write_bytes``, ``spark.executor_cpu_s``,
  ``spark.gc_s``, ``spark.spill_bytes``, ``spark.failed_tasks`` (per
  operation) tell work from contention when a wall time moves.

``trace.pass_s`` and ``trace.search_p50_ms`` minus the untraced
``pass_s`` and ``search_p50_ms`` of the same seed are the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "curate")
RSS_INTERVAL_S = 0.2


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def descendants(self) -> list[int]:
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children[ppid].append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(RSS_INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


class Bench:
    """One run's state: the session, the tracer, the seeded RNG and the
    operation log every workload writes into."""

    def __init__(self, args, tmp: str):
        import numpy as np

        self.workload = args.workload
        self.trace = bool(args.trace)
        self.tmp = tmp
        self.rng = np.random.RandomState(args.seed)
        self.spark = None
        self.tracer = None
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.group_kind: dict[str, tuple] = {}
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.passes: list[float] = []  # summed "op" latency of each pass

    def op(self, kinds: tuple[str, ...], rid: str, do, check=None):
        """Run one operation: time ``do()``, then verify its result with
        ``check`` outside the timed region. An exception or a failed
        check counts the operation as failed. Returns the result, or
        None on failure."""
        self.attempted += 1
        group = f"{self.workload}:{rid}"
        self.group_kind[group] = kinds
        self.tracer.rid = rid
        try:
            with self.tracer.job_group(group), self.tracer.span("request"):
                t0 = time.perf_counter()
                res = do()
                dt = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            print(f"[{rid}] failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        for k in kinds:
            self.lat[k].append(dt)
        if check is not None:
            try:
                problem = check(res)
            except Exception:
                problem = traceback.format_exc()
            if problem:
                self.failed += 1
                print(f"[{rid}] wrong result: {problem}", file=sys.stderr)
                return None
        return res

    def loop(self, workload, deadline: float) -> None:
        """Closed loop of whole passes, at least one; a further pass
        starts only if a pass as long as the last one still ends by
        ``deadline``, so a run does not overshoot its window by most of
        a pass. A pass's time is the summed latency of its "op"
        operations."""
        p = 0
        wall = 0.0
        while not self.passes or time.perf_counter() + wall <= deadline:
            n = len(self.lat["op"])
            t0 = time.perf_counter()
            if not workload.one_pass(p):
                return
            wall = time.perf_counter() - t0
            self.passes.append(sum(self.lat["op"][n:]))
            p += 1

    def group_counts_for(self, kind: str) -> list[dict]:
        """statusTracker counts per operation of ``kind``, sub-groups
        (``<group>/...``) folded into their operation."""
        per_op: dict[str, dict] = {}
        for group, c in self.tracer.group_counts.items():
            top = group.split("/", 1)[0]
            if kind not in self.group_kind.get(top, ()):
                continue
            acc = per_op.setdefault(top, {"jobs": 0, "tasks": 0, "failed_tasks": 0})
            for k in acc:
                acc[k] += c[k]
        return list(per_op.values())


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest of p50/p90/p99/p99.9 that has
    at least ten samples beyond it; p50 when there are too few."""
    import numpy as np

    pct = 50.0
    for p in (90.0, 99.0, 99.9):
        if len(xs) * (1 - p / 100) >= 10:
            pct = p
    return pct, float(np.percentile(xs, pct)) if xs else 0.0


def _stop_session(spark) -> None:
    """Stop Spark, shut its JVM down and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = RssSampler().descendants()[1:]
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)


def _layer_metrics(bench: Bench, folded: dict) -> dict[str, float]:
    from spans import median

    out = dict(bench.layer)
    selfs = bench.tracer.self_times()
    for name, xs in selfs.items():
        out.setdefault(name + "_ms", median(xs) * 1000)
        out.setdefault(name + "_s", median(xs))
    out["request.unaccounted_ms"] = median(selfs.get("request", ())) * 1000
    ops = bench.group_counts_for("op")
    searches = bench.group_counts_for("search")
    out["spark.jobs_per_op"] = median(c["jobs"] for c in ops)
    out["spark.tasks_per_op"] = median(c["tasks"] for c in ops)
    out["spark.jobs_per_search"] = median(c["jobs"] for c in searches)
    out["spark.tasks_per_search"] = median(c["tasks"] for c in searches)
    measured = {g.split("/", 1)[0] for g in bench.tracer.group_counts}
    per_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for group, rec in folded.items():
        top = group.split("/", 1)[0]
        if top in measured and "op" in bench.group_kind.get(top, ()):
            for k in ("executor_cpu_s", "gc_s", "shuffle_write_bytes",
                      "spill_bytes", "failed_tasks"):
                per_op[top][k] += rec[k]
    for k in ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
              "failed_tasks"):
        out["spark." + k] = median(r[k] for r in per_op.values())
    out["trace.pass_s"] = median(bench.passes)
    out["trace.search_p50_ms"] = median(bench.lat["search"]) * 1000
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "movievectorsearch_spark")):
        print(f"engine package movievectorsearch_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench", f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    # Python workers import the engine (moviegen, Arrow UDFs) by module
    # path; every scratch file Spark or Python writes stays under tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    sampler = RssSampler()
    sampler.start()
    try:
        return _run(args, spec, tmp, sampler, t_start)
    finally:
        try:
            sampler.stop()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def _run(args, spec: dict, tmp: str, sampler: RssSampler, t_start: float) -> int:
    import importlib

    import numpy as np
    from spans import Tracer, event_log_conf, fold_event_log, median

    from movievectorsearch_spark.session import get_spark

    bench = Bench(args, tmp)
    module = importlib.import_module(args.workload)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(tmp, "eventlog")
    if bench.trace:
        conf.update(event_log_conf(log_dir))
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    bench.spark = spark
    bench.tracer = Tracer(spark, bench.trace)
    bench.layer["setup.session_s"] = time.perf_counter() - t0

    correct = True
    try:
        workload = module.setup(bench)
        t0 = time.perf_counter()
        workload.warm_up()
        bench.layer["setup.warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        bench.lat.clear()
        bench.tracer.spans.clear()
        bench.tracer.group_counts.clear()

        bench.loop(workload, time.perf_counter() + args.seconds)
        problem = workload.final_check()
        if problem:
            correct = False
            print(f"final check failed: {problem}", file=sys.stderr)
    finally:
        _stop_session(spark)
    folded = fold_event_log(log_dir) if bench.trace else {}

    search_ms = [x * 1000 for x in bench.lat["search"]]
    values = {
        "setup_s": setup_s,
        "pass_s": median(bench.passes),
        "search_p50_ms": median(search_ms),
        "peak_rss_mb": sampler.peak / 2**20,
    }
    bench.layer.update(workload.summary())
    bench.layer["failed_frac"] = bench.failed / max(bench.attempted, 1)
    bench.layer["search_p90_ms"] = float(np.percentile(search_ms, 90)) if search_ms else 0.0
    _print_summary(args, values, bench, search_ms)

    if bench.trace:
        values = _layer_metrics(bench, folded)
        bench.tracer.write(os.path.join(
            ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.jsonl"
        ))
        section = spec["per_layer"]
    else:
        section = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in section
    }
    correct = correct and bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


def _print_summary(args, values, bench, search_ms) -> None:
    lines = [f"workload={args.workload} seed={args.seed} trace={args.trace}"]
    pct, v = tail(search_ms)
    lines.append(f"  search: n={len(search_ms)} p50={values['search_p50_ms']:.1f} ms"
                 f" p{pct:g}={v:.1f} ms")
    lines.append(f"  passes: n={len(bench.passes)} "
                 f"{[round(x, 3) for x in bench.passes]} s")
    for k, v in sorted(values.items()) + sorted(bench.layer.items()):
        lines.append(f"  {k} = {v:.6g}")
    lines.append(f"  attempted={bench.attempted} failed={bench.failed}")
    print("\n".join(lines), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
