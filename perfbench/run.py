"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dedup_serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, builds a SparkSession at local[<cores>], and runs the workload's
op sequence in a closed loop with one client, pass after pass, until
``--seconds`` have gone by (at least one pass). Results are checked
after the timed region. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). A traced run reads each op's Spark counts after the op
ends; the time spent reading them is reported as
``bench.trace_overhead_s``, and its ``bench.traced_run_s`` minus the
``run_s`` of an untraced run on the same seed is what tracing does to
the op timings. It also writes its spans to
``.perfbench/traces/``. Everything the run writes lives under
``.perfbench/`` and the per-run part is removed at exit.

See perfbench/README.md for the metrics, the layers and the workloads.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT_ROOT = os.path.join(ROOT, ".perfbench")
SETUPS = 3  # set-ups per run; setup_s takes their median

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "lookup_s_p50": "s",
    "ingest_s_p50": "s",
    "store_bytes_per_row": "B",
    "peak_rss_mb": "MB",
}
COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "exec_s": "s",
    "idle_core_s": "s",
    "shuffle_bytes": "B",
    "exchanges": "count",
}
# Store writes return no DataFrame, so they have no plan to count.
NO_PLAN = {
    "operators.dedup_store.write_minhash_store",
    "operators.dedup_store.append_minhash_shard",
    "operators.ann_store.write_ann_store",
    "operators.ann_store.append_ann_shard",
}
EXTRA_LAYER = {
    "operators.cache.tokenize_cached.hit_ratio": "ratio",
    "persist.cached_frames": "count",
    "bench.overhead_s": "s",
    "bench.trace_overhead_s": "s",
    "bench.traced_run_s": "s",
}


def per_layer_names(ops: dict) -> dict[str, str]:
    names = {}
    for seq in ops.values():
        for op in seq:
            for counter, unit in COUNTERS.items():
                if counter == "exchanges" and op in NO_PLAN:
                    continue
                names[f"{op}.{counter}"] = unit
    names.update(EXTRA_LAYER)
    return names


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the run's work
    dir, let Python workers import the package, size local[N] by cores."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, path) if p)


def host_steal_s() -> float:
    """CPU seconds the hypervisor has given other guests instead of
    this one (all CPUs together), from /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(values) -> float:
    """Median of the samples; 0 when every call failed (the failures
    already make the result incorrect)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile_tail(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least 10 samples above it."""
    n = len(values)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    return pct, statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


class Runner:
    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(OUT_ROOT, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.warehouse = os.path.join(self.work, "warehouse")
        self.spark = None
        self.gateway = None
        self.workload = None

    def session(self):
        from polars_text_spark.session import get_spark

        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> float:
        """Build the session (this launches the JVM), then generate and
        stage the inputs SETUPS times; returns the session build time
        plus the median input set-up. The last inputs are kept."""
        import gen
        from workloads import WORKLOADS

        start = time.perf_counter()
        self.spark = self.session()
        self.gateway = self.spark.sparkContext._gateway
        session_s = time.perf_counter() - start
        times = []
        for i in range(SETUPS):
            start = time.perf_counter()
            if self.workload is not None:
                self.workload.close()
            self.manifest = gen.generate(
                self.args.workload, self.args.seed,
                os.path.join(self.work, f"inputs-{i}"),
            )
            self.workload = WORKLOADS[self.args.workload](
                self.spark, self.manifest, self.work, self.warehouse
            )
            times.append(time.perf_counter() - start)
        print(f"session build {session_s:.2f} s, input set-ups "
              + ", ".join(f"{t:.2f} s" for t in times))
        return session_s + statistics.median(times)

    def timed(self) -> list[float]:
        """Passes until --seconds have gone by (at least one). Returns
        each pass's run_s, the sum of its op walls; every pass is traced
        in a traced run."""
        from census import Census
        from workloads import Timer

        wl = self.workload
        wl.tracer = Census(self.spark, cores()) if self.args.trace else Timer()
        wl.traced = bool(self.args.trace)
        self.pass_spans = []
        steal = host_steal_s()
        start = time.perf_counter()
        p = 0
        while p == 0 or time.perf_counter() - start < self.args.seconds:
            wl.pass_id = p
            census_before = wl.tracer.overhead_s
            t0 = time.perf_counter()
            wl.run_pass(p)
            t1 = time.perf_counter()
            ops_s = sum(r["wall_s"] for r in wl.ops if r["pass_id"] == p)
            census_s = wl.tracer.overhead_s - census_before
            self.pass_spans.append({
                "pass_id": p, "start": t0, "end": t1, "ops_s": ops_s,
                "census_s": census_s,
                "self_s": (t1 - t0) - ops_s - census_s,
            })
            p += 1
        # a slow run is often a busy host; this tells the two apart
        print(f"host steal in the timed region: {host_steal_s() - steal:.1f} cpu-s "
              f"over {time.perf_counter() - start:.1f} s on {cores()} cores")
        return [s["ops_s"] for s in self.pass_spans]

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    def end_to_end(self, setup_s: float, run_s: list[float], peak_rss_mb: float) -> dict:
        from workloads import INGEST, LOOKUP

        wl = self.workload
        name = self.args.workload
        plain = [r for r in wl.ops if "error" not in r]
        lookups = [r["wall_s"] for r in plain if r["name"] == LOOKUP[name]]
        ingests = [r["wall_s"] for r in plain if r["name"] == INGEST[name]]
        values = {
            "setup_s": setup_s,
            "run_s": median(run_s),
            "lookup_s_p50": median(lookups),
            "ingest_s_p50": median(ingests),
            "store_bytes_per_row": median(wl.store_bytes_per_row),
            "peak_rss_mb": peak_rss_mb,
        }
        tail = percentile_tail(lookups)
        if tail:
            print(f"lookup_s_tail p{tail[0]} = {tail[1]:.4f} s ({len(lookups)} lookups)")
        else:
            print(f"lookup_s_tail: n/a ({len(lookups)} lookups; a tail needs 11)")
        return values

    def per_layer(self) -> tuple[dict, dict]:
        from workloads import OPS

        wl = self.workload
        names = per_layer_names(OPS)
        recs = [r for r in wl.ops if "error" not in r]
        values = {}
        for metric in names:
            op, _, counter = metric.rpartition(".")
            got = [r[counter] for r in recs if r["name"] == op and counter in r]
            values[metric] = median(got)
        released: dict[int, int] = {}
        for r in recs:
            released[r["pass_id"]] = released.get(r["pass_id"], 0) + r.get("released", 0)
        values["persist.cached_frames"] = median(released.values())
        values["operators.cache.tokenize_cached.hit_ratio"] = median(
            getattr(wl, "hit_ratios", []))
        values["bench.overhead_s"] = median(s["self_s"] for s in self.pass_spans)
        values["bench.trace_overhead_s"] = median(s["census_s"] for s in self.pass_spans)
        # run_s with tracing on; minus an untraced run's run_s on the
        # same seed, it is what tracing does to the op timings
        values["bench.traced_run_s"] = median(s["ops_s"] for s in self.pass_spans)
        self.write_spans(recs)
        return values, names

    def write_spans(self, recs: list[dict]) -> None:
        run_id = uuid.uuid4().hex
        spans = []
        for s in self.pass_spans:
            spans.append({"run_id": run_id, "span": f"pass-{s['pass_id']}",
                          "name": f"{self.args.workload}.run", "parent": None,
                          "start": s["start"] - PROCESS_START,
                          "end": s["end"] - PROCESS_START,
                          "self_s": s["self_s"], "census_s": s["census_s"]})
        for i, r in enumerate(recs):
            spans.append({"run_id": run_id, "span": f"op-{i}", "name": r["name"],
                          "parent": f"pass-{r['pass_id']}",
                          "start": r["start"] - PROCESS_START,
                          "end": r["start"] - PROCESS_START + r["wall_s"],
                          **{k: r[k] for k in COUNTERS if k in r},
                          "released": r.get("released", 0)})
        out = os.path.join(OUT_ROOT, "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(
            out, f"{self.args.workload}-seed{self.args.seed}-{run_id[:8]}.json"
        )
        with open(path, "w") as fh:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "cores": cores(), "spans": spans}, fh, indent=1)
        print(f"spans: {path}")

    def close(self) -> None:
        """Drop the stores, stop Spark and the JVM, wait for it to end,
        and remove the run's work dir."""
        try:
            if self.workload is not None:
                self.workload.close()
            if self.spark is not None:
                self.spark.stop()
        finally:
            if self.gateway is not None:
                proc = getattr(self.gateway, "proc", None)
                self.gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except Exception:  # noqa: BLE001 - last resort: never leave a JVM behind
                        proc.kill()
                        proc.wait(timeout=30)
            shutil.rmtree(self.work, True)


def main() -> int:
    ap = argparse.ArgumentParser(description="polars_text_spark benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["corpus_analysis", "dedup_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    import polars_text_spark  # noqa: F401 - fail fast outside a checkout

    runner = Runner(args)
    isolate(runner.work)
    os.makedirs(runner.warehouse, exist_ok=True)
    import workloads  # noqa: F401 - imports belong to set-up

    imports_s = time.perf_counter() - PROCESS_START
    try:
        setup_s = runner.setup()
        t0 = time.perf_counter()
        runner.workload.warm_up()
        warm_s = time.perf_counter() - t0
        print(f"imports {imports_s:.2f} s, warm-up {warm_s:.2f} s")
        for err in runner.workload.warm_errors:
            print(f"warm-up op raised: {err}")
        setup_s += imports_s + warm_s
        run_s = runner.timed()
        peak_rss_mb = runner.peak_rss_mb()  # before the checks allocate
        wl = runner.workload
        problems = wl.run_checks()
        try:
            caught = wl.self_test()
        except Exception:  # noqa: BLE001 - a crashing self-test did not catch anything
            caught = False
        if not caught:
            problems.append("self-test: a corrupted result passed its check")
        if args.trace:
            metrics, units = runner.per_layer()
        else:
            metrics, units = runner.end_to_end(setup_s, run_s, peak_rss_mb), END_TO_END
        attempted = len(wl.ops)
        failed = sum(1 for r in wl.ops if "error" in r or "check" in r)
        m = runner.manifest
        print(f"workload {args.workload} seed {args.seed}: cores {cores()}, "
              f"docs {m['docs']}, vectors {m.get('vectors', 0)}, passes {len(runner.pass_spans)}, "
              f"inputs {json.dumps({k: v['sha256'][:16] for k, v in m['tables'].items()})}")
        print(f"op_error_rate = {failed / max(1, attempted):.4f} ratio "
              f"({failed} of {attempted} ops)")
        for op in dict.fromkeys(r["name"] for r in wl.ops):
            walls = [r["wall_s"] for r in wl.ops if r["name"] == op]
            print(f"op {op}: {len(walls)} calls, median {statistics.median(walls):.3f} s"
                  + (f" ({', '.join(f'{w:.3f}' for w in walls)})" if len(walls) > 1 else ""))
        for p in problems:
            print(f"FAILED {p}")
        for k, v in metrics.items():
            print(f"{k} = {v} {units[k]}")
    finally:
        runner.close()
    result = {
        "correct": not problems and caught,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
