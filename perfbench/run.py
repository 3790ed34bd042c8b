"""Closed-loop benchmark of the sizing CLI (EP2 replay and EP1 API mode).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client runs one op at a time; the next op starts when the previous one
has returned, as a caller waiting for its sizing report does. Each op is
one call of the CLI's ``main`` on ``local[nproc]``. The inputs are made
from ``--seed``; every op's report (and, with sinks, its output row counts)
is checked against values computed in DuckDB from the repo's oracle SQL.

Workloads (sizes fit a 4-core box; see perfbench/README.md):

- ``replay_large``: a 60k-row month-long replay CSV with a nightly ETL
  burst, sized and written to the three sinks. It adds per-row executor
  work (CSV parse, derive, the segmented sweep, CSV writes) to the fixed
  per-run cost; at this size that work is about a quarter of an op.
- ``api_replay``: 20k CM API docs paged over a loopback HTTP server.
  Driver-side page fetch, Arrow batching and ``createDataFrame`` replace
  the file scan, and the fixed per-run cost (planning, job count,
  scheduling) is most of an op.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer ledger (see perfbench/trace.py) and
the tracing overhead. A preceding line starting ``perfbench:`` records the
run's details (load average, op times, failures).
"""

from __future__ import annotations

import time

PROC_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
PKG = "impala_base_to_cdw_sizing_spark"
# per process, so runs sharing a checkout never delete each other's files
WORK = ROOT / ".perfbench_work" / str(os.getpid())
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_OPS = 3  # per measured phase, however long the ops take
# a set-up's warm-up op runs on a tenth-size input of the same shape: the
# JIT, codegen and session caches warm on the same code paths for less time
WARMUP_FRACTION = 10
WARMUP_SEED_OFFSET = 1_000_003


@dataclass(frozen=True)
class Workload:
    kind: str  # "replay" or "api"
    rows: int  # query-history rows per op
    days: int
    shape: str  # arrival shape, see inputs.py


WORKLOADS = {
    "replay_large": Workload("replay", 60_000, 30, "nightly_etl"),
    "api_replay": Workload("api", 20_000, 14, "business_hours"),
}


def _vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _reset_hwm(pid: int | str) -> None:
    # "5" resets the peak-RSS counter (Linux >= 4.0)
    with contextlib.suppress(OSError):
        Path(f"/proc/{pid}/clear_refs").write_text("5")


def _sink_rows(path: Path, header: bool) -> int:
    """Data rows in a Spark output directory (0 when it was never written)."""
    rows = 0
    for part in path.glob("part-*") if path.is_dir() else []:
        lines = part.read_bytes().count(b"\n")
        rows += max(0, lines - 1) if header else lines
    return rows


class Bench:
    def __init__(self, name: str, seed: int, seconds: float):
        from perfbench import inputs
        from perfbench.trace import Probe

        self.name, self.seed, self.seconds = name, seed, seconds
        self.w = WORKLOADS[name]
        self.spark = None
        self.server = None
        self.conf = WORK / "main.conf"
        self.warmup_conf = WORK / "warmup.conf"
        self.out_dir: Path | None = None  # replay sinks of the timed ops
        self.expected = None  # oracle.Expected, once per (workload, seed)
        self.session_conf: dict[str, str] = {}
        self.details: dict = {"workload": name, "seed": seed, "failures": []}
        self.probe = Probe(counters=self._server_counters)
        self.probe.install()
        self._inputs = inputs

    # -- inputs ------------------------------------------------------------

    def generate(self) -> None:
        """The timed ops' input and the smaller warm-up input."""
        inp, w = self._inputs, self.w
        warmup_seed, warmup_rows = self.seed + WARMUP_SEED_OFFSET, w.rows // WARMUP_FRACTION
        if w.kind == "replay":
            self.out_dir = WORK / "main_out"
            for tag, seed, rows in (("main", self.seed, w.rows), ("warmup", warmup_seed, warmup_rows)):
                csv = WORK / f"{tag}.csv"
                inp.write_replay_csv(inp.query_history(seed, rows, w.days, w.shape), csv)
                out = WORK / f"{tag}_out"
                # replay runs with all three sinks, as the CLI's EP2 mode does
                lines = [
                    f"input_file={csv}",
                    f"output_file={out / 'main'}",
                    f"prune_output_file={out / 'pruned'}",
                    f"skip_query_file={out / 'skipped'}",
                ]
                (WORK / f"{tag}.conf").write_text("\n".join(lines) + "\n")
        else:
            self.docs = inp.api_docs(self.seed, w.rows, w.days, w.shape)
            warmup = inp.api_docs(warmup_seed, warmup_rows, w.days, w.shape)
            corpora = {"main": inp.api_pages(self.docs), "warmup": inp.api_pages(warmup)}
            self.server = inp.CMServer(corpora).start()
            for tag in corpora:
                inp.write_api_conf(WORK / f"{tag}.conf", self.server.url, cluster=tag)

    def _server_counters(self) -> dict[str, float]:
        if self.server is None:
            return {}
        return {"pages": self.server.requests, "http_mb": self.server.bytes_sent / (1 << 20)}

    def compute_expected(self) -> None:
        """Oracle values for the run's input."""
        from pyspark.sql import functions as F

        from impala_base_to_cdw_sizing_spark.config import parse_conf
        from impala_base_to_cdw_sizing_spark.schemas import QUERY_HISTORY_SCHEMA
        from perfbench import oracle

        spark, params = self.spark, parse_conf(self.conf)
        if self.w.kind == "replay":
            reader = spark.read.option("header", True).schema(QUERY_HISTORY_SCHEMA)
            ids = reader.csv(params.input_file)
        else:
            ids = spark.createDataFrame([(d["queryId"],) for d in self.docs], "query_id string")
        seqs = ids.select("query_id", F.xxhash64("query_id").alias("seq")).toArrow()
        if self.w.kind == "replay":
            self.expected = oracle.expected_replay(params.input_file, seqs, params)
        else:
            docs = self._inputs.api_docs_table(self.docs)
            self.expected = oracle.expected_api(docs, seqs, params)
            del self.docs  # the server keeps only the serialized pages

    # -- session -----------------------------------------------------------

    def start_session(self) -> float:
        from impala_base_to_cdw_sizing_spark.session import build_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            **self.session_conf,
        }
        t0 = time.perf_counter()
        self.spark = build_spark(f"perfbench-{self.name}", extra_conf=conf)
        self.probe.spark = self.spark
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    # -- ops ---------------------------------------------------------------

    def run_op(self, i: int, warmup: bool = False) -> tuple[float, bool]:
        """CLI call number ``i``, timed and (unless a warm-up) checked;
        returns (seconds, ok)."""
        from impala_base_to_cdw_sizing_spark.__main__ import main
        from perfbench.oracle import mismatches, report_dict

        conf = self.warmup_conf if warmup else self.conf
        # the CLI never unpersists; drop the previous op's caches untimed
        self.spark.catalog.clearCache()
        if self.w.kind == "replay":
            shutil.rmtree(WORK / f"{conf.stem}_out", ignore_errors=True)
        self.probe.last_report = None
        out = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(out):
                rc = main([PKG, str(conf)])
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            elapsed = time.perf_counter() - t0
            self._fail(i, "raised:\n" + traceback.format_exc(limit=5))
            return elapsed, False
        elapsed = time.perf_counter() - t0
        if warmup:
            return elapsed, rc == 0
        want = self.expected
        problems = [] if rc == 0 else [f"exit code {rc}: {out.getvalue()[-300:]}"]
        if self.probe.last_report is None:
            problems.append("no report values")
        else:
            problems += mismatches(report_dict(self.probe.last_report), want.report)
        if self.out_dir is not None:
            got = {
                "kept": _sink_rows(self.out_dir / "main", header=True),
                "pruned": _sink_rows(self.out_dir / "pruned", header=True),
                "skipped": _sink_rows(self.out_dir / "skipped", header=False),
            }
            problems += [
                f"sink {k}: got {got[k]} rows, want {want.sinks[k]}"
                for k in got if got[k] != want.sinks[k]
            ]
        if problems:
            self._fail(i, "; ".join(problems[:5]))
        return elapsed, not problems

    def _fail(self, i: int, msg: str) -> None:
        print(f"perfbench: op {i} failed: {msg}", file=sys.stderr)
        if len(self.details["failures"]) < 5:
            self.details["failures"].append(f"op {i}: {msg[:500]}")

    def setup(self, first: bool, excluded_s: float = 0.0) -> float:
        """Session build plus one warm-up op on the warm-up input; the first
        set-up counts from process start (imports and JVM launch), less
        ``excluded_s``."""
        t0 = PROC_T0 if first else time.perf_counter()
        if not first:
            self.stop_session()
        build_s = self.start_session()
        if first:
            self.details["session_build_s"] = build_s
        self.run_op(0, warmup=True)
        return time.perf_counter() - t0 - excluded_s

    def measure(self, seconds: float) -> dict:
        """Closed loop for ``seconds`` of wall time (at least MIN_OPS ops)."""
        times, ok_times = [], []
        t_end = time.perf_counter() + seconds
        i = 1
        while len(times) < MIN_OPS or time.perf_counter() < t_end:
            dt, ok = self.run_op(i)
            times.append(dt)
            if ok:
                ok_times.append(dt)
            i += 1
        return {"times": times, "ok_times": ok_times, "failed": len(times) - len(ok_times)}


def _cpu_probe(seconds: float = 0.2) -> float:
    """Million pure-Python loop steps per second: a record of how fast
    the host ran, to tell a slow host from a slow program."""
    steps, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(10_000):
            steps += 1
    return steps / (time.perf_counter() - t0) / 1e6


def _percentile_tail(times: list[float]) -> dict | None:
    """Highest percentile with at least 10 samples beyond it (>= 20 ops)."""
    n = len(times)
    if n < 20:
        return None
    ordered = sorted(times)
    pct = int(100 * (n - 10) / n)
    return {"percentile": pct, "n": n, "value_s": ordered[n - 11]}


def prepare(b: Bench, setups: int = SETUPS) -> list[float]:
    """Inputs, expected values and the set-ups; returns set-up seconds."""
    gen_t0 = time.perf_counter()
    b.generate()
    gen_s = time.perf_counter() - gen_t0
    b.details["gen_s"] = gen_s
    times = [b.setup(first=True, excluded_s=gen_s)]
    b.compute_expected()
    for _ in range(setups - 1):
        times.append(b.setup(first=False))
    b.details["setups_s"] = times
    # keep the benchmark's own long-lived objects out of the program's
    # garbage collections during the timed ops
    gc.collect()
    gc.freeze()
    return times


def run_untraced(b: Bench) -> tuple[dict, dict]:
    setups = prepare(b)
    pids = [os.getpid(), b.jvm_pid()]
    for pid in pids:
        _reset_hwm(pid)
    probe_before = _cpu_probe()
    m = b.measure(b.seconds)
    peak_mb = [_vm_hwm_mb(pid) for pid in pids]
    b.details["cpu_probe"] = [probe_before, _cpu_probe()]
    b.stop_session()
    if not m["ok_times"]:
        raise RuntimeError("every op failed")
    p50 = statistics.median(m["ok_times"])
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_s": (p50, "s"),
        # the median op's rate: one slow op in a short run moves it less
        # than total rows over total time would
        "rows_per_s": (b.expected.rows / p50, "rows/s"),
    }
    b.details.update(
        op_s=m["times"],
        # Python and driver-JVM VmHWM over the timed ops; run to run it
        # varies with the JVM's heap sizing by more than a bound allows
        peak_rss_mb=peak_mb,
        ops_per_s=len(m["times"]) / sum(m["times"]),
        op_tail=_percentile_tail(m["ok_times"]),
    )
    return metrics, {"attempted": len(m["times"]), "failed": m["failed"]}


def run_traced(b: Bench) -> tuple[dict, dict]:
    """One set-up with the event log on, then ops alternating untraced and
    traced; per-layer values are medians over the traced ops."""
    from perfbench import trace

    log_dir = WORK / "eventlog"
    log_dir.mkdir(parents=True, exist_ok=True)
    b.session_conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        # neither zstandard nor lz4 is installed to read a compressed log
        "spark.eventLog.compress": "false",
    }
    prepare(b, setups=1)
    app_id = b.spark.sparkContext.applicationId
    undo_collect = b.probe.trace_collect()
    ops: dict[int, tuple[float, float]] = {}
    plain, traced, failed = [], [], 0
    t_end = time.perf_counter() + b.seconds
    i = 1
    try:
        while min(len(plain), len(traced)) < MIN_OPS or time.perf_counter() < t_end:
            tracing = i % 2 == 0
            b.probe.op = i if tracing else None
            t0 = time.time()
            dt, ok = b.run_op(i)
            if tracing:
                ops[i] = (t0, time.time())
            b.probe.op = None
            (traced if tracing else plain).append(dt)
            failed += not ok
            i += 1
    finally:
        b.probe.op = None
        undo_collect()
    b.stop_session()

    jobs = trace.read_event_log(log_dir, app_id)
    ledger = trace.attribute(jobs, b.probe.spans, ops, b.probe.catalyst_s)
    units = {f"{layer}.{stat}": unit for layer, stat, unit in trace.LAYER_METRICS}
    units.update(trace.RUN_METRICS)
    metrics = {name: (value, units[name]) for name, value in ledger.items()}
    metrics["session.build_spark.s"] = (b.details["session_build_s"], "s")
    overhead = statistics.median(traced) - statistics.median(plain)
    metrics["trace.overhead_s"] = (overhead, "s")
    b.details.update(untraced_op_s=plain, traced_op_s=traced)
    return metrics, {"attempted": len(plain) + len(traced), "failed": failed}


def _prepare_environment(nproc: int) -> None:
    """Keep every write inside the checkout and size Spark to the box."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    # Python workers import the program too
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    sys.path.insert(0, str(ROOT))


def _shutdown_jvm() -> None:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still running after 30 s
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__main__.py").is_file():
        print(f"perfbench: the program ({PKG}/) is not next to perfbench/", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    _prepare_environment(nproc)

    bench = Bench(args.workload, args.seed, args.seconds)
    load_before = os.getloadavg()
    try:
        if args.trace:
            metrics, counts = run_traced(bench)
        else:
            metrics, counts = run_untraced(bench)
    finally:
        if bench.server is not None:
            bench.server.stop()
        bench.probe.uninstall()
        if "pyspark" in sys.modules:
            _shutdown_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            WORK.parent.rmdir()  # only when no other run is using it
    bench.details.update(
        nproc=nproc,
        trace=args.trace,
        loadavg_start=load_before,
        loadavg_end=os.getloadavg(),
        wall_s=time.perf_counter() - PROC_T0,
    )
    print("perfbench: " + json.dumps(bench.details))
    result = {
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
