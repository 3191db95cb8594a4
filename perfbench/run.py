"""Pages benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload flagship_plain --seed 1 --seconds 10 --trace 0

Generates the workload's pages table from the seed (in a child process, so
its memory is not charged to the engine), starts a ``local[4]`` session in
a fresh JVM with a warm-up pass that spawns the Python workers, runs the
job once with a parquet sink for the correctness check, then runs it back
to back with the noop sink for ``--seconds`` and at least twice. One
client, one job at a time, no extra threads. After Spark stops, DuckDB
recomputes the job from the same parquet and the output is checked
against it.

``--trace 1`` adds a traced session (Spark event log on) that cuts the
flagship at each layer boundary and runs one checkpointed kill-and-resume
leg on the same table, and prints the per-layer metrics instead of the
end-to-end ones. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. Every file a run writes lives in
``perfbench/.work/<pid>`` and is removed when the run ends.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
MIN_TIMED_JOBS = 2
WORKLOADS = ("flagship_plain", "flagship_hot")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="pages benchmark (one run)")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> dict:
    """Point every scratch location of Spark, the JVM, Python and its
    workers into ``work``; returns the Spark conf to pass to get_spark."""
    for d in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([path] if path else []))
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}"
        ),
    }


def tree_hwm_bytes(root: int) -> int:
    """Sum of peak resident set sizes (VmHWM) over ``root`` and its live
    descendants: the driver, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
    return total


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - v[4], v[7]


def _identity(it):
    yield from it


class Bench:
    def __init__(self, args, work: str, conf: dict):
        self.args, self.work, self.conf = args, work, conf
        self.pages = os.path.join(work, "pages.parquet")
        self.out = os.path.join(work, "out")
        self.attempted = self.failed = 0
        self.peak_rss = 0
        self.spark = None

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def sample_rss(self) -> None:
        self.peak_rss = max(self.peak_rss, tree_hwm_bytes(os.getpid()))

    def setup(self, extra: dict | None = None) -> tuple[float, float]:
        from pliers_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=CPUS, extra_conf={**self.conf, **(extra or {})})
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(0, CPUS * 64, numPartitions=CPUS).mapInPandas(
            _identity, "id long"
        ).write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def attempt(self, sink):
        """One full job; returns its wall seconds, or None if it raised."""
        import jobs

        self.attempted += 1
        try:
            t0 = time.perf_counter()
            sink(jobs.flagship(self.spark, self.pages))
            return time.perf_counter() - t0
        except Exception:  # a failed job is counted, and the run goes on
            self.failed += 1
            self.log("job failed:\n" + traceback.format_exc())
            return None
        finally:
            self.sample_rss()

    def timed_loop(self) -> list[float]:
        """Jobs back to back for ``--seconds``, and at least MIN_TIMED_JOBS,
        so that a job longer than the window still gives a median of two."""
        import jobs

        walls = []
        end = time.perf_counter() + self.args.seconds
        for n in itertools.count(1):
            wall = self.attempt(jobs.noop)
            if wall is not None:
                walls.append(wall)
            if time.perf_counter() >= end and n >= MIN_TIMED_JOBS:
                return walls

    def check(self) -> tuple[bool, int]:
        """DuckDB reference check of the parquet output; returns (ok, rows)."""
        import reference

        con = reference.connect(CPUS, os.path.join(self.work, "tmp"))
        try:
            reference.build_reference(con, self.pages)
            reference.load_output(con, self.out)
            failures = reference.check(con)
            rows = con.execute("SELECT count(*) FROM got").fetchone()[0]
        finally:
            con.close()
        for f in failures:
            self.log(f"check failed: {f}")
        return not failures, rows

    def traced(self, untraced_median: float) -> dict:
        """Per-layer metrics from a separate, traced session."""
        import eventlog
        import jobs

        events = os.path.join(self.work, "events")
        self.setup({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
        spark, sc = self.spark, self.spark.sparkContext
        spans: dict[str, list] = {}  # name -> [(wall, result)], kept in memory

        def span(name, fn):
            t0 = time.perf_counter()
            result = fn()
            spans.setdefault(name, []).append((time.perf_counter() - t0, result))
            return result

        prefixes = jobs.layer_prefixes(spark, self.pages, span)
        for layer, run in prefixes:
            sc.setJobGroup(layer, layer)
            span(f"prefix.{layer}", run)
        engaged = any(r for _, r in spans["census"])
        sc.setJobGroup("spine", "spine")
        jobs.leakage_and_spine(spark, self.pages, span, engaged)
        sc.setJobGroup("checkpoint", "checkpoint")
        ck_out = jobs.fresh_dir(os.path.join(self.work, "ck_traced"))
        stats, ck = span("checkpoint", lambda: jobs.checkpoint_job(spark, self.pages, ck_out))
        sc.setJobGroup("manifest", "manifest")
        manifest = ck.metrics(spark).select("partition_key", "wall_ms").collect()
        self.spark.stop()
        self.spark = None
        reexecuted = len(manifest) - len({r.partition_key for r in manifest})
        self.attempted += 1  # the checkpoint leg is one more job of the run
        if reexecuted or stats.buckets_skipped != jobs.NUM_BUCKETS // 2:
            self.failed += 1
            self.log(f"checkpoint resume re-executed finished buckets: {stats}")

        wall = {name: statistics.median(w for w, _ in v) for name, v in spans.items()}
        p = {layer: wall[f"prefix.{layer}"] for layer, _ in prefixes}
        self_s = {
            "scan": p["scan"],
            "census": wall["census"],
            "extract": p["extract"] - p["scan"] - wall["census"],
            "windows": p["windows"] - p["extract"],
            "leakage": wall["leakage"],
            "spine": wall["spine"],
            "asof": p["asof"] - p["windows"] - wall["leakage"] - wall["spine"],
        }
        full = p["asof"]
        g = eventlog.read_groups(events)
        zero = eventlog.GroupStats()
        grp = lambda name: g.get(name, zero)  # noqa: E731
        diff = lambda layer, prior, attr: getattr(grp(layer), attr) - getattr(grp(prior), attr)  # noqa: E731
        # the asof group holds the census execution and pages_flagship's own
        # plan, the larger of the two
        plan = max(grp("asof").plans, key=len)
        ck_plans = grp("checkpoint").plans
        m = {f"{layer}.wall_s": (v, "s") for layer, v in self_s.items()}
        m.update({
            "scan.rows_out": (grp("scan").input_records, "count"),
            "scan.file_bytes": (grp("scan").nodes["scan_file_bytes"], "bytes"),
            "census.engaged": (int(engaged), "bool"),
            "extract.rows_out": (grp("extract").nodes["py_rows_out"], "count"),
            "extract.py_bytes_in": (grp("extract").nodes["py_bytes_in"], "bytes"),
            "extract.py_bytes_out": (grp("extract").nodes["py_bytes_out"], "bytes"),
            "windows.shuffle_bytes": (diff("windows", "extract", "shuffle_bytes"), "bytes"),
            "windows.spill_bytes": (diff("windows", "extract", "spill_bytes"), "bytes"),
            "windows.max_task_s": (grp("windows").max_task_ms / 1e3, "s"),
            "windows.extract_passes": (grp("windows").nodes["py_rows_out"]
                                       / max(grp("extract").nodes["py_rows_out"], 1), "ratio"),
            "spine.rows_out": (grp("spine").nodes["generate_rows_out"], "count"),
            "asof.shuffle_bytes": (diff("asof", "windows", "shuffle_bytes")
                                   - grp("spine").shuffle_bytes, "bytes"),
            "asof.spill_bytes": (diff("asof", "windows", "spill_bytes")
                                 - grp("spine").spill_bytes, "bytes"),
            "asof.max_task_s": (grp("asof").max_task_ms / 1e3, "s"),
            "plan.exchanges": (eventlog.count_nodes(plan, "Exchange")
                               + eventlog.count_nodes(plan, "BroadcastExchange"), "count"),
            "plan.map_in_pandas": (eventlog.count_nodes(plan, "MapInPandas"), "count"),
            "plan.file_scans": (eventlog.count_scans_of(plan, self.pages), "count"),
            "checkpoint.manifest_read_s": (stats.manifest_read_s, "s"),
            "checkpoint.bucket_wall_s": (statistics.median(r.wall_ms for r in manifest) / 1e3, "s"),
            "checkpoint.buckets_run": (stats.buckets_run, "count"),
            "checkpoint.buckets_skipped": (stats.buckets_skipped, "count"),
            "checkpoint.buckets_reexecuted": (reexecuted, "count"),
            "checkpoint.input_scans": (
                sum(eventlog.count_scans_of(pl, self.pages) for pl in ck_plans), "count"),
            "checkpoint.extract_passes": (
                sum(eventlog.count_nodes(pl, "MapInPandas") for pl in ck_plans), "count"),
            "checkpoint.write_bytes": (jobs.dir_bytes(ck_out), "bytes"),
            "checkpoint.resume_s": (stats.resume_s, "s"),
            "tasks.failed": (sum(s.failed_tasks for s in g.values()), "count"),
            "jvm_gc_s": (sum(s.gc_ms for s in g.values()) / 1e3, "s"),
            "trace.full_wall_s": (full, "s"),
            "trace.overhead_s": (full - untraced_median, "s"),
        })
        return m

    def run(self) -> dict:
        a = self.args
        t0 = time.perf_counter()
        n_pages = int(subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), a.workload, str(a.seed), self.pages],
            check=True, capture_output=True, text=True,
        ).stdout)
        self.log(f"generated {n_pages} pages in {time.perf_counter() - t0:.2f} s")

        # a fresh JVM, as every job started through tools/submit_job.py
        start_s, warmup_s = self.setup()
        self.sample_rss()
        self.log(f"set-up: start {start_s:.2f} s, warm-up {warmup_s:.2f} s")

        def parquet(df):
            df.write.mode("overwrite").parquet(self.out)

        # the first, cold job is untimed and writes the output the DuckDB
        # check reads
        checked = self.attempt(parquet)
        busy0, steal0 = cpu_ticks()
        walls = self.timed_loop()
        busy1, steal1 = cpu_ticks()
        self.log("timed walls: " + ", ".join(f"{w:.3f}" for w in walls)
                 + f" (machine busy {busy1 - busy0}, steal {steal1 - steal0} jiffies)")
        if not walls:
            raise RuntimeError("no timed job succeeded")
        median = statistics.median(walls)
        layers = self.traced(median) if a.trace else None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

        t0 = time.perf_counter()
        ok, rows = self.check() if checked is not None else (False, 0)
        self.log(f"DuckDB check {'passed' if ok else 'FAILED'} on {rows} rows "
                 f"in {time.perf_counter() - t0:.2f} s")
        if checked is not None and not ok:
            self.failed += 1
        if layers is not None:
            layers["asof.rows_out"] = (rows, "count")
            layers["session.start_s"] = (start_s, "s")
            layers["session.warmup_s"] = (warmup_s, "s")
            metrics = layers
        else:
            metrics = {
                "pages_per_s": (n_pages / median, "pages/s"),
                "setup_s": (start_s + warmup_s, "s"),
                "peak_rss_mb": (self.peak_rss / 2**20, "MB"),
            }
        return {
            "correct": ok,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def stop_jvm() -> None:
    """Shut down the Py4J gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import pliers_spark.pages_pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, str(os.getpid()))
    bench = None
    try:
        bench = Bench(args, work, prepare_env(work))
        result = bench.run()
    finally:
        if bench is not None and bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
