"""logflow_spark benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload extract_drain --seed 1 --seconds 10 --trace 0

Run it from the root of a logflow_spark checkout. It generates the
workload's inputs from ``--seed`` under ``.perfbench/`` in the checkout,
runs the workload in fresh driver processes at ``local[nproc]``, checks
every output against a reference computation, and prints as its last line
one JSON object: ``correct``, ``attempted`` (result rows checked),
``failed`` (rows missing or wrong) and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones. The
line before it is the run's full record (host stamp, samples, sizes); every
record is also appended to ``.perfbench/runs.jsonl``.

Workloads (BENCHMARK.json says why each exists):
  extract_drain    closed loop: drains of the flagship topology with text
                   nulled (html->text pandas UDF), after three warm-up drains
  window_openloop  open loop: a generator process writes pages at a fixed
                   rate for --seconds; sliding windows, 1% planted late rows
  curate_batch     batch job: llm_pipeline_pack over a planted corpus, run
                   once per process, as a user runs it (JIT and worker
                   start-up included)

End-to-end metrics:
  setup_s      driver process start to its first trigger (first stage for
               the batch job)
  docs_per_s   input docs over the time from query start to the complete
               committed result, median over the drains (open loop: docs
               generated over the time from the first tick to the last commit)
  emit_latency from when an input was offered (open loop: the due time of
               the file holding the last event of a window row; closed loop:
               query start) to the sink commit of its result row; p50 and
               p99 of each drain, median over drains
  accuracy     1 - (missing, extra or wrong result rows) / expected rows
  peak_rss_mb  peak summed PSS of the driver's process tree (JVM and Python
               workers; the generator is not in it)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("extract_drain", "window_openloop", "curate_batch")
RUN_BUDGET_S = 170  # every process of a run ends within this


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# -- processes --------------------------------------------------------------------


def _proc_stat(pid: str) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def session_pids(sid: int, skip_vfork: bool = False) -> list[int]:
    """Live processes of session ``sid`` (a child started with its own
    session, and everything it started: the JVM and Python workers).
    ``skip_vfork`` leaves out a JVM child that has not exec'd yet: the JVM
    launches processes with vfork, and until the exec the child shares the
    JVM's whole address space, so its memory is the JVM's own."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st is not None and st[0] != "Z" and int(st[3]) == sid:
                procs[int(pid)] = int(st[1])
    if not skip_vfork:
        return list(procs)
    exe = {p: _exe(p) for p in procs}
    return [p for p, pp in procs.items()
            if not (pp in procs and exe[p] == exe[pp] and os.path.basename(exe[p]) == "java")]


def tree_rss_mb(sid: int) -> float:
    """Resident memory of a session's processes, as the sum of their PSS:
    forked children (Python workers) share pages with their parent, and
    summing plain RSS would count those twice."""
    total = 0
    for pid in session_pids(sid, skip_vfork=True):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(x.split()[1]) for x in f if x.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
    return total / 1024.0


def reap_session(p: subprocess.Popen, grace_s: float = 15.0) -> None:
    """Wait until every process of the child's session has ended, killing
    what is left after ``grace_s``."""
    deadline = time.time() + grace_s
    while True:
        if p.poll() is None and time.time() > deadline:
            p.kill()
        left = [x for x in session_pids(p.pid) if x != p.pid]
        if p.poll() is not None and not left:
            return
        if time.time() > deadline:
            for x in left:
                try:
                    os.kill(x, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if time.time() > deadline + 10:
            raise RuntimeError(f"processes of session {p.pid} did not exit")
        time.sleep(0.05)


def other_spark_jvm() -> int | None:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd or b"pyspark-shell" in cmd:
            return int(pid)
    return None


def cpu_probe_ms(nproc: int) -> float:
    """Wall time of a fixed pure-Python loop run by nproc processes at once."""
    burn = "s = 0\nfor i in range(1_000_000):\n    s += i * i"
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", burn]) for _ in range(nproc)]
    for p in procs:
        p.wait()
    return 1000.0 * (time.perf_counter() - t0)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# -- one run ------------------------------------------------------------------------


class Run:
    def __init__(self, root: str, a: argparse.Namespace, nproc: int) -> None:
        self.root, self.a, self.nproc = root, a, nproc
        self.work = os.path.join(root, ".perfbench")
        self.dir = os.path.join(
            self.work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
        )
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.inputs = os.path.join(self.dir, "in")
        self.phases: dict[str, dict] = {}
        self.deadline = time.time() + RUN_BUDGET_S

    def env(self, tag: str) -> dict:
        tmp = os.path.join(self.dir, tag, "tmp")
        local = os.path.join(self.dir, tag, "local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join([self.root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
            PYSPARK_PYTHON=sys.executable,
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            LOGFLOW_DRIVER_MEM="2g",
            # the launcher JVM of spark-submit: no perf-data file in /tmp
            SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        return env

    def child(self, tag: str, docs: int, *, trace=False, cores=None, min_drains=3,
              on_poll=None) -> tuple[float, float, dict]:
        """Run one driver process to completion; (spawn time, peak RSS MB of
        its process tree, its result)."""
        d = os.path.join(self.dir, tag)
        os.makedirs(d, exist_ok=True)
        spec = {
            "workload": self.a.workload, "seed": self.a.seed, "seconds": self.a.seconds,
            "inputs": self.inputs, "run_dir": d, "tmp": os.path.join(d, "tmp"),
            "result": os.path.join(d, "result.json"), "trace": trace,
            "cores": cores or self.nproc, "docs": docs, "min_drains": min_drains,
            "event_log": os.path.join(d, "eventlog"),
            "gen_manifest": os.path.join(self.dir, "gen-manifest.json"),
            "warm_inputs": os.path.join(self.dir, "warm"),
        }
        spec_path = os.path.join(d, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        with open(os.path.join(d, "driver.log"), "w") as log:
            env = self.env(tag)
            t_spawn = time.time()
            p = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "driver.py"), spec_path],
                cwd=self.root, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            peak = 0.0
            try:
                while p.poll() is None:
                    peak = max(peak, tree_rss_mb(p.pid))
                    if on_poll is not None:
                        on_poll()
                    if time.time() > self.deadline:
                        os.killpg(p.pid, signal.SIGKILL)
                        break
                    time.sleep(0.1)
            finally:
                t_exit = time.time()
                reap_session(p)
        self.phases[tag] = {"run_s": t_exit - t_spawn, "reap_s": time.time() - t_exit}
        try:
            with open(spec["result"]) as f:
                res = json.load(f)
        except (OSError, ValueError):
            res = {"ok": False, "error": f"driver {tag} exited {p.returncode} without a result"}
        return t_spawn, peak, res


def generate(run: Run, workload: str, seed: int) -> dict:
    import gen

    t0 = time.perf_counter()
    if workload == "window_openloop":
        os.makedirs(run.inputs)
        gen.write_primer(seed, run.inputs, 0)
        info = {"docs": 0, "files": 1}
    else:
        info = gen.GENERATORS[workload](seed, run.inputs)
        if workload == "extract_drain":
            gen.gen_extract_drain(seed, os.path.join(run.dir, "warm"), warm=True)
        for d in {os.path.dirname(os.path.join(r, f))
                  for r, _, fs in os.walk(run.dir) for f in fs if f.endswith(".parquet")}:
            gen.stamp_mtimes(d)
            gen.verify_mtimes(d)
    info["bytes"] = sum(os.path.getsize(os.path.join(r, f))
                        for r, _, fs in os.walk(run.inputs) for f in fs)
    info["gen_ms"] = 1000.0 * (time.perf_counter() - t0)
    return info


class OpenLoopPoll:
    """Parent side of the open-loop protocol: second primer file once the
    query committed the first, then the generator process once it
    committed both."""

    def __init__(self, run: Run, tag: str) -> None:
        self.run, self.tag = run, tag
        self.primed = False
        self.gen: subprocess.Popen | None = None

    def __call__(self) -> None:
        import gen

        d = os.path.join(self.run.dir, self.tag)
        if not self.primed and os.path.exists(os.path.join(d, "primed0")):
            gen.write_primer(self.run.a.seed, self.run.inputs, 1)
            self.primed = True
        if self.gen is None and os.path.exists(os.path.join(d, "ready")):
            self.log = open(os.path.join(d, "gen.log"), "w")
            self.gen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(self.run.a.seed),
                 "--out", self.run.inputs, "--seconds", str(self.run.a.seconds),
                 "--manifest", os.path.join(self.run.dir, "gen-manifest.json")],
                cwd=self.run.root, env=self.run.env("gen"), stdout=self.log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )

    def close(self) -> None:
        if self.gen is not None:
            reap_session(self.gen, grace_s=self.run.a.seconds + 30)
            self.log.close()


def measure(run: Run, tag: str, docs: int, trace: bool, **kw) -> tuple[float, float, dict]:
    poll = OpenLoopPoll(run, tag) if run.a.workload == "window_openloop" else None
    try:
        return run.child(tag, docs, trace=trace, on_poll=poll, **kw)
    finally:
        if poll is not None:
            poll.close()


def reset_openloop(run: Run) -> None:
    """A second open loop in the same run starts from the primer again."""
    import gen

    for name in os.listdir(run.inputs):
        if not name.startswith("a-primer-0"):
            os.remove(os.path.join(run.inputs, name))
    manifest = os.path.join(run.dir, "gen-manifest.json")
    if os.path.exists(manifest):
        os.remove(manifest)
    gen.verify_mtimes(run.inputs)


def end_to_end(run: Run, docs: int, record: dict) -> tuple[dict, int, int]:
    t, peak, res = measure(run, "main", docs, trace=False)
    record["main"] = {k: v for k, v in res.items() if k not in ("lat_ms", "traceback")}
    if not res.get("ok"):
        raise RuntimeError(f"run failed: {res.get('error')}\n{res.get('traceback', '')}")
    if "docs" in res:  # the open loop's generator decided how many
        record["inputs"]["docs"] = res["docs"]
    record["latency_samples"] = len(res["lat_ms"])
    expected, errors = res["expected"], res["errors"]
    metrics = {
        "setup_s": res["first_trigger_at"] - t,
        "docs_per_s": statistics.median(r["docs_per_s"] for r in res["reps"]),
        # closed loops: each repetition's percentile, median over repetitions
        "emit_latency_p50_ms": statistics.median(r["lat_p50_ms"] for r in res["reps"]),
        "emit_latency_p99_ms": statistics.median(r["lat_p99_ms"] for r in res["reps"]),
        "accuracy": max(0.0, 1.0 - errors / max(1, expected)),
        "peak_rss_mb": peak,
    }
    return metrics, expected, errors


def per_layer(run: Run, docs: int, record: dict) -> tuple[dict, int, int]:
    """The traced run. A closed loop traces one repetition in a process that
    first ran the untraced ones (the base of the trace overhead; the event
    log is on for both); extract_drain also drains untraced at local[1] for
    the scaling efficiency. The open loop runs once untraced and once
    traced, in two processes, and compares the engine's busy time."""
    from tracing import event_log_layers

    runs = {}
    if run.a.workload == "window_openloop":
        _, _, runs["untraced"] = measure(run, "untraced", docs, trace=False)
        reset_openloop(run)
    _, _, runs["traced"] = measure(run, "traced", docs, trace=True)
    if run.a.workload == "extract_drain":
        # the single-core base of the scaling efficiency, measured untraced;
        # one drain keeps the run inside its time budget
        _, _, runs["one_core"] = measure(run, "one_core", docs, trace=False, cores=1,
                                         min_drains=1)
    for k, res in runs.items():
        if not res.get("ok"):
            raise RuntimeError(f"{k} run failed: {res.get('error')}\n{res.get('traceback', '')}")
    tr = runs["traced"]
    layers = dict(tr["layers"])
    ev = event_log_layers(os.path.join(run.dir, "traced", "eventlog"), set(layers["_job_groups"]))
    layers.update(ev)
    if run.a.workload == "curate_batch":
        layers["sources.input_rows"] = ev["_records_read"]
    layers["session.start_ms"] = tr["session_ms"]
    if "untraced" in runs:
        layers["bench.trace_overhead"] = tr["busy_s"] / runs["untraced"]["busy_s"]
    if "one_core" in runs:
        # untraced rates on both sides: the n-core process ran untraced
        # repetitions before its traced one
        rate_n = statistics.median(r["docs_per_s"] for r in tr["base_reps"])
        rate_1 = statistics.median(r["docs_per_s"] for r in runs["one_core"]["reps"])
        layers["streaming.scaling_eff"] = rate_n / (rate_1 * run.nproc)
    if "gen_late_ms_p99" in tr:
        layers["bench.gen_late_ms_p99"] = tr["gen_late_ms_p99"]
        layers["sources.backlog_files_max"] = float(tr["backlog_files_max"])
        record["late"] = {"planted_rows": tr["late_planted"], "dropped_cells": tr["late_dropped"]}
    expected = sum(r["expected"] for r in runs.values())
    errors = sum(r["errors"] for r in runs.values())
    layers["error_rate"] = errors / max(1, expected)
    with open(os.path.join(run.dir, "traced", "spans.json")) as f:
        spans = json.load(f)
    trace_dir = os.path.join(run.work, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, os.path.basename(run.dir) + ".json"), "w") as f:
        json.dump({"layers": layers, "spans": spans}, f)
    record["runs"] = {k: {x: v for x, v in r.items() if x not in ("lat_ms", "layers", "traceback")}
                      for k, r in runs.items()}
    return {k: v for k, v in layers.items() if not k.startswith("_")}, expected, errors


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "logflow_spark", "session.py")):
        fail("run from the root of a logflow_spark checkout (no logflow_spark/ here)", 2)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if a.trace else "end_to_end"]
    sys.path[:0] = [HERE, root]
    pid = other_spark_jvm()
    if pid is not None:
        fail(f"another Spark JVM is running (pid {pid}); refusing to measure beside it", 3)
    nproc = len(os.sched_getaffinity(0))
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "nproc": nproc, "cores": nproc, "started_unix": time.time(),
              "loadavg_before": loadavg(), "cpu_probe_ms": cpu_probe_ms(nproc)}
    run = Run(root, a, nproc)
    values, expected, errors = {}, 1, 1
    try:
        record["inputs"] = generate(run, a.workload, a.seed)
        docs = record["inputs"]["docs"]
        measure_fn = per_layer if a.trace else end_to_end
        values, expected, errors = measure_fn(run, docs, record)
    except RuntimeError as e:
        # the program failed: report the run as incorrect
        record["error"] = str(e)
    finally:
        record["loadavg_after"] = loadavg()
        record["phases"] = run.phases
        shutil.rmtree(run.dir, ignore_errors=True)
    record["metrics"] = values
    os.makedirs(run.work, exist_ok=True)
    with open(os.path.join(run.work, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    out = {
        "correct": "error" not in record and errors == 0,
        "attempted": max(1, int(expected)),
        "failed": int(errors),
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(out))
    sys.exit(1 if "error" in record else 0)


if __name__ == "__main__":
    main()
