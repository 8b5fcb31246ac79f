#!/usr/bin/env python3
"""Layered benchmark of the dataclass_array_spark engine.

One driver process builds one Spark session (``local[<nproc>]``) and runs a
workload's gates as a closed loop with one client: each gate is
``QUERIES[name].fn(spark, data_dir).toPandas()``, issued only after the
previous one finished, with ``release_pins()`` between gates.  The first
pass after set-up is the cold pass; the passes after it are warm.  ``--seed``
sets a different order of the gates in each pass, so no gate always runs
after the same neighbour.  Every result is checked against its DuckDB oracle
with ``tools/check_correctness.compare``; the expected frames are computed
before the session starts and outside every timed metric.

Run:  python3 perfbench/run.py --workload tables --seed 1 --seconds 16 --trace 0
      python3 perfbench/run.py --workload all     # every workload, one table

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer metrics of a traced run (see tracing.py).  The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
full record (per-gate samples, spans, counters, provenance) is written to
``.perfbench/records/``.

Every end-to-end time is wall-clock time scaled by the share of runnable
CPU time the hypervisor did not steal (see ``elapsed``); the record keeps the
raw wall time and the stolen share beside it.
"""

from __future__ import annotations

import os
import time


def mark() -> tuple[float, int, int]:
    """A wall-clock reading, with the busy and the stolen CPU ticks of all
    CPUs since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return time.perf_counter(), user + nice + system + irq + softirq, steal


def stolen_frac(a: tuple, b: tuple) -> float:
    """Share of the runnable CPU time between two marks that the hypervisor
    stole: how contended the host was."""
    busy, steal = b[1] - a[1], b[2] - a[2]
    return steal / (busy + steal) if busy + steal else 0.0


def elapsed(a: tuple, b: tuple) -> float:
    """Wall time between two marks, times the share of the runnable CPU time
    the hypervisor left to the guest.  On a shared host the steal comes and
    goes by the minute; raw wall times of the same code then drift by half
    between runs.  The share depends on how the program uses the CPUs as
    well as on the host: see README.md, "Stolen time"."""
    return (b[0] - a[0]) * (1.0 - stolen_frac(a, b))


MARK_PROCESS = mark()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import pickle  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import warnings  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from tracing import (  # noqa: E402
    PYTHON_COUNTERS,
    STAGE_COUNTERS,
    STREAM_COUNTERS,
    Tracer,
    self_times,
)
from workloads import DATA_DIR, WARMUP, WORKLOADS  # noqa: E402

# Every run makes the same passes, whatever --seconds says: the JIT is still
# warming in them, so a varying count would shift the medians.
WARM_PASSES = 4
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


# --------------------------------------------------------------------- inputs
def _sha(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def data_sha() -> str:
    """Content hash of the input tables."""
    h = hashlib.sha256()
    for fn in sorted(os.listdir(DATA_DIR)):
        h.update(fn.encode())
        with open(os.path.join(DATA_DIR, fn), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _oracle_paths(gates: list[str]) -> dict[str, str]:
    from importlib.metadata import version

    from dataclass_array_spark.workload import QUERIES

    key, out = data_sha(), {}
    for name in gates:
        sql = QUERIES[name].oracle
        if sql is None:
            raise SystemExit(f"gate {name} has no DuckDB oracle")
        out[name] = os.path.join(WORK, "oracle", f"{name}-{_sha(key, sql, version('duckdb'))}.pkl")
    return out


def write_expected(gates: list[str]) -> None:
    """Compute and cache each gate's DuckDB oracle frame."""
    import duckdb

    from dataclass_array_spark.workload import QUERIES
    from dataclass_array_spark.workload.base import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
    for name, path in _oracle_paths(gates).items():
        frame = con.execute(QUERIES[name].oracle).df()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "wb") as f:
            pickle.dump(frame, f)
        os.replace(f"{path}.tmp{os.getpid()}", path)
    con.close()


def expected_frames(workload: str, gates: list[str]) -> dict:
    """DuckDB oracle frame per gate, cached by (data, oracle SQL) key.  Missing
    frames are computed in a child process, so the oracle's queries never
    count in this process's peak RSS, whether or not the cache was warm."""
    paths = _oracle_paths(gates)
    missing = [g for g, p in paths.items() if not os.path.exists(p)]
    if missing:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload,
             "--gates", ",".join(missing), "--write-expected"],
            stdout=sys.stderr, check=True,
        )
    out = {}
    for name, path in paths.items():
        with open(path, "rb") as f:
            out[name] = pickle.load(f)
    return out


# ---------------------------------------------------------------- environment
def pin_environment(tmp: str) -> None:
    """Make the package importable by Spark's Python workers from any launch
    directory, and keep every scratch file of Spark, Java and Python inside
    the checkout."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (spark-submit's launcher too); without -XX:-UsePerfData each
    # writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(ROOT)


def provenance(spark, cpus: int, seed: int) -> dict:
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "dataclass_array_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as f:
                    src.update(f.read())
    commit = None  # a checkout without .git (an exported tree) has no commit
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": commit,
        "package_sha256": src.hexdigest()[:16],
        "data_dir": os.path.relpath(DATA_DIR, ROOT),
        "data_sha256": data_sha(),
        "seed": seed,
    }


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    kids = _descendants(proc.pid)
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


# ---------------------------------------------------------------------- gates
class Harness:
    def __init__(self, spark, data_dir: str, expected: dict, tracer=None) -> None:
        from check_correctness import compare

        from dataclass_array_spark.core.table import release_pins
        from dataclass_array_spark.vectorize import VectorizeFallbackWarning
        from dataclass_array_spark.workload import QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.expected = expected
        self.tracer = tracer
        self._compare = compare
        self._release = release_pins
        self._fallback = VectorizeFallbackWarning
        self._queries = QUERIES
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def gate(self, name: str) -> tuple[dict, object]:
        """One untraced gate: (timings, frame or exception)."""
        m0, t1 = mark(), None
        t0 = m0[0]
        try:
            df = self._queries[name].fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            out = df.toPandas()
        except Exception as e:  # a failing gate is a counted failure
            out = e
        m2 = mark()
        t2 = m2[0]
        t1 = t2 if t1 is None else t1
        pins = self._release()
        t3 = time.perf_counter()
        return {"def_s": t1 - t0, "act_s": t2 - t1, "gate_s": elapsed(m0, m2),
                "gate_wall_s": t2 - t0, "stolen_frac": stolen_frac(m0, m2),
                "release_s": t3 - t2, "pins": pins}, out

    def traced_gate(self, name: str, pass_span: dict) -> tuple[dict, object]:
        """One gate inside spans run → pass → gate → {def, act, release}."""
        tr, sc = self.tracer, self.spark.sparkContext
        g = tr.open("gate", pass_span, gate=f"{pass_span['id']}:{name}")
        tr.set_stream_owner(g["gate"])
        rec: dict = {}
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always", self._fallback)
            sp = tr.open("def", g)
            sc.setJobGroup(f"perfbench-def-{g['id']}", f"def {name}")
            cpu = time.process_time()
            try:
                df = self._queries[name].fn(self.spark, self.data_dir)
                out = None
            except Exception as e:
                df, out = None, e
            rec["def_cpu_s"] = time.process_time() - cpu
            tr.close(sp)
            sc.setJobGroup(None, None)
            sp["counters"] = tr.phase_counters()
            sp["counters"].update(tr.stream_counters(g["gate"]))
            sa = tr.open("act", g)
            if df is not None:
                sc.setJobGroup(f"perfbench-act-{g['id']}", f"act {name}")
                try:
                    out = df.toPandas()
                except Exception as e:
                    out = e
            tr.close(sa)
            sc.setJobGroup(None, None)
            sa["counters"] = tr.phase_counters()
        tr.set_stream_owner(None)
        rec["fallbacks"] = sum(issubclass(w.category, self._fallback) for w in caught)
        rec["pinned_bytes"] = tr.pinned_bytes()
        sr = tr.open("release", g)
        rec["pins"] = self._release()
        tr.close(sr)
        tr.close(g)
        rec.update(def_s=sp["end"] - sp["start"], act_s=sa["end"] - sa["start"],
                   gate_s=sa["end"] - sp["start"], release_s=sr["end"] - sr["start"])
        rec["def"], rec["act"] = sp["counters"], sa["counters"]
        rec["self_s"] = (g["end"] - g["start"]) - rec["def_s"] - rec["act_s"] - rec["release_s"]
        return rec, out

    def check(self, name: str, out) -> str | None:
        """None when the frame equals the oracle's, else the reason."""
        if isinstance(out, BaseException):
            return f"{type(out).__name__}: {out}"[:300]
        with contextlib.redirect_stdout(sys.stderr):
            errs = self._compare(name, out, self.expected[name])
        return "; ".join(errs)[:300] if errs else None

    def run_pass(self, order: list[str], kind: str, run_span: dict | None) -> dict:
        traced = run_span is not None
        if traced:
            self.tracer.sync()
        span = self.tracer.open("pass", run_span) if traced else None
        m0 = mark()
        gates, outs = [], []
        for name in order:
            rec, out = self.traced_gate(name, span) if traced else self.gate(name)
            rec["gate"] = name
            gates.append(rec)
            outs.append(out)
        m1 = mark()
        if traced:
            self.tracer.close(span)
        # correctness is checked after the pass, outside its wall time
        for rec, out in zip(gates, outs):
            rec["error"] = self.check(rec["gate"], out)
        return {"kind": kind, "traced": traced, "pass_s": elapsed(m0, m1),
                "wall_s": m1[0] - m0[0], "stolen_frac": stolen_frac(m0, m1),
                "gates": gates}


# -------------------------------------------------------------------- metrics
def _tail(samples: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    out = {"median": statistics.median(s), "n": len(s)}
    if len(s) >= 20:
        k = len(s) - 10  # index of the first of the last ten samples
        out[f"p{100 * k // len(s)}"] = s[k - 1]
    return out


def gate_layers(g: dict) -> dict:
    """Per-layer values of one traced gate record."""
    d, a = g["def"], g["act"]
    m = {
        "workload.def_s": g["def_s"],
        "workload.def_cpu_s": g["def_cpu_s"],
        "workload.def_jobs": d["jobs"],
        "workload.def_stages": d["stages"],
        "operators.act_s": g["act_s"],
        "operators.act_jobs": a["jobs"],
        "operators.act_stages": a["stages"],
        "core.pins": g["pins"],
        "core.pinned_bytes": g["pinned_bytes"],
        "core.release_s": g["release_s"],
        "vectorize.fallbacks": g["fallbacks"],
        "trace.gate_self_s": g["self_s"],
    }
    for k in STAGE_COUNTERS + PYTHON_COUNTERS:
        layer = "sources" if k.startswith("input_") else "operators"
        m[f"{layer}.{k}"] = d[k] + a[k]
    for k in STREAM_COUNTERS:
        m[f"streaming.{k}"] = d[k]
    return m


def layer_sums(passes: list[dict]) -> dict[str, float]:
    """Per-layer sums over the gates of each traced warm pass, and their
    median over those passes.  Whether counts repeat between runs is
    compare.py's check."""
    per_pass = []
    for p in passes:
        m = dict.fromkeys(LAYER_UNITS, 0.0)
        for g in p["gates"]:
            for k, v in gate_layers(g).items():
                m[k] += v
        if m["streaming.trigger_ms"]:
            m["streaming.rows_per_s"] = m["streaming.input_rows"] / (m["streaming.trigger_ms"] / 1e3)
        per_pass.append(m)
    return {k: statistics.median(p[k] for p in per_pass) for k in LAYER_UNITS}


def run_workload(args, gates: list[str], harness: Harness, tracer, session: dict) -> dict:
    rng = random.Random(args.seed)

    def order() -> list[str]:
        o = gates[:]
        rng.shuffle(o)
        return o

    run_span = tracer.open("run", None) if tracer else None
    t0 = time.perf_counter()
    passes = [harness.run_pass(order(), "cold", run_span)]
    # A traced run brackets one traced warm pass with untraced ones, so the
    # JIT's warming over the passes cancels out of the tracing overhead.
    schedule = [False] * WARM_PASSES if tracer is None else [False, True, False]
    for traced in schedule:
        passes.append(harness.run_pass(order(), "warm", run_span if traced else None))
    if run_span:
        tracer.close(run_span)
    measured_s = time.perf_counter() - t0

    attempted = sum(len(p["gates"]) for p in passes)
    failed = sum(g["error"] is not None for p in passes for g in p["gates"])
    warm_plain = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    per_gate: dict[str, list[float]] = {}
    for p in warm_plain:
        for g in p["gates"]:
            per_gate.setdefault(g["gate"], []).append(g["gate_s"])
    rec = {
        "workload": args.workload,
        "trace": int(tracer is not None),
        "seconds": args.seconds,
        "measured_s": measured_s,
        "gates": gates,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "errors": sorted({f"{g['gate']}: {g['error']}" for p in passes for g in p["gates"] if g["error"]}),
        "passes": passes,
        "session": session,
        "stats": {
            "first_pass_s": {"median": passes[0]["pass_s"], "n": 1},
            "pass_s": _tail([p["pass_s"] for p in warm_plain]),
            "gate_s": _tail([v for vs in per_gate.values() for v in vs]),
            # the typical gate: a pooled median of a two-gate workload falls
            # in the gap between the gates and swings with their extremes
            "gate_p50_s": {
                "median": statistics.median(statistics.median(vs) for vs in per_gate.values()),
                "n": sum(map(len, per_gate.values())),
            },
        },
    }
    session["peak_rss_mb"] = _vm_hwm_mb(harness.jvm_pid) + _vm_hwm_mb(os.getpid())
    if tracer is None:
        metrics = {
            "setup_s": session["setup_s"],
            "first_pass_s": rec["stats"]["first_pass_s"]["median"],
            "pass_s": rec["stats"]["pass_s"]["median"],
            "gate_p50_s": rec["stats"]["gate_p50_s"]["median"],
        }
        units = END_TO_END_UNITS
    else:
        warm_traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
        metrics = layer_sums(warm_traced)
        metrics["session.start_s"] = session["start_s"]
        metrics["session.warmup_s"] = session["warmup_s"]
        metrics["session.peak_rss_mb"] = session["peak_rss_mb"]
        metrics["trace.overhead_s"] = statistics.median(
            p["pass_s"] for p in warm_traced
        ) - rec["stats"]["pass_s"]["median"]
        rec["self_times_s"] = self_times(tracer.spans)
        rec["spans"] = tracer.spans
        units = LAYER_UNITS
    rec["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    return rec


# ----------------------------------------------------------------------- main
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Layered dataclass_array_spark benchmark")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0,
                    help="recorded only: every run makes the same passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gates", type=lambda s: set(s.split(",")), default=None,
                    help="comma list: run only these gates of the workload")
    ap.add_argument("--write-expected", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def run_all(args) -> int:
    """Each workload in its own process; prints one table of all metrics."""
    results = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.gates:
            cmd += ["--gates", ",".join(sorted(args.gates))]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"{w}: exit {p.returncode}", file=sys.stderr)
            return p.returncode
        results[w] = json.loads(p.stdout.strip().splitlines()[-1])
    for w, r in results.items():
        print(f"{w}: attempted={r['attempted']} failed={r['failed']} "
              f"failed_frac={r['failed'] / r['attempted']:.3f} correct={r['correct']}")
        for k, m in r["metrics"].items():
            print(f"  {k:34s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    gates = [g for g in WORKLOADS[args.workload] if not args.gates or g in args.gates]
    if not gates:
        raise SystemExit(f"no gate of {args.workload} matches --gates")
    if args.write_expected:
        write_expected(gates)
        return 0
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    pin_environment(tmp)
    try:
        return _run(args, gates)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, gates: list[str]) -> int:
    # imports of the program under test count toward set-up
    from dataclass_array_spark.core.table import release_pins
    from dataclass_array_spark.session import get_spark
    from dataclass_array_spark.workload import QUERIES

    imported = mark()

    # expected frames: before the session, outside every metric
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    expected = expected_frames(args.workload, gates)

    cpus = len(os.sched_getaffinity(0))
    reset_peak_rss()  # the peak is the program's, not the harness's start
    t1 = mark()
    spark = get_spark("perfbench", cpus=str(cpus))
    t2 = mark()
    try:
        for name in WARMUP:
            QUERIES[name].fn(spark, DATA_DIR).toPandas()
        release_pins()
        t3 = mark()

        import_s = elapsed(MARK_PROCESS, imported)
        session = {
            "import_s": import_s,
            "start_s": import_s + elapsed(t1, t2),
            "warmup_s": elapsed(t2, t3),
            "setup_wall_s": (imported[0] - MARK_PROCESS[0]) + (t3[0] - t1[0]),
            "stolen_frac": stolen_frac(t1, t3),
        }
        session["setup_s"] = session["start_s"] + session["warmup_s"]
        tracer = Tracer(spark) if args.trace else None
        harness = Harness(spark, DATA_DIR, expected, tracer)
        rec = run_workload(args, gates, harness, tracer, session)
        rec["provenance"] = provenance(spark, cpus, args.seed)
        if tracer:
            tracer.remove()
    finally:
        stop_spark(spark)

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(
        WORK, "records",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json",
    )
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    for e in rec["errors"]:
        print(f"FAILED {e}", file=sys.stderr)
    print(f"record: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": rec["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
