"""cuttlefish-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_replay --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run makes the workload's inputs
from the seed (cached under perfbench/.work/inputs/<seed>) and their
expected answers, outside every timed region, then measures in one
child process (worker.py) on local[<nproc>]:

- the worker sets up seven times (see worker.setup); `setup_s` is the
  median;
- it runs the untimed warm-up passes, then timed passes until
  `--seconds` have passed (at least three), and checks every output
  against its expected answer;
- this process samples the memory of the worker's process group.

`--trace 1` measures with spans and Spark counters (see tracer.py); it
alternates untraced and traced passes so that the tracing overhead is
measured in the same session.

Human-readable lines go to stdout first; the last line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. See README.md.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("etl_replay", "model_train")
MEASURE_TIMEOUT_S = 150


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_inputs(workload: str, seed: int) -> dict:
    """Generate (or reuse) the seed's inputs and expected answers."""
    sys.path.insert(0, ROOT)
    import inputs
    import worker

    base = os.path.join(WORK, "inputs", str(seed))
    data = os.path.join(base, "data")
    if not os.path.isdir(data):
        tmp = f"{data}.tmp{os.getpid()}"
        inputs.write_tables(seed, tmp)
        os.makedirs(base, exist_ok=True)
        os.replace(tmp, data)
    paths = {"data": data, "expected": os.path.join(base, "expected")}
    if workload == "etl_replay":
        paths["chapters"] = os.path.join(base, "chapters.json")
        paths["plan"] = os.path.join(base, "plan.json")
        if not os.path.exists(paths["plan"]):
            plan = inputs.write_chapters(seed, paths["chapters"])
            with open(paths["plan"] + ".tmp", "w") as fh:
                json.dump(plan, fh)
            os.replace(paths["plan"] + ".tmp", paths["plan"])
    else:
        inputs.query_expected(worker.MODEL_TRAIN, data, paths["expected"])
    return paths


def _group(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


class GroupMemory:
    """Samples, from outside, the summed resident set size of a process
    group: the worker, its JVM and the JVM's Python workers. Sampling
    from here keeps the sampler off the worker's interpreter lock. It
    reads /proc/<pid>/statm, not the proportional set size in
    smaps_rollup: that read walks the JVM's page tables, and sampling it
    every 0.25 s made model_train passes about 20% slower and noisier."""

    INTERVAL_S = 0.25
    RESCAN_EVERY = 8  # samples between scans for new group members
    PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

    def __init__(self, pgid: int):
        self.samples: list[tuple[float, int]] = []
        self._pgid = pgid
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _rss_kb(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self.PAGE_KB
        except (OSError, IndexError, ValueError):
            return 0

    def _loop(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.wait(self.INTERVAL_S):
            if n % self.RESCAN_EVERY == 0:
                pids = _group(self._pgid)
            n += 1
            self.samples.append((time.time(), sum(self._rss_kb(p) for p in pids)))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def peak_mb(self, start: float, end: float) -> float:
        inside = [kb for t, kb in self.samples if start <= t <= end]
        return max(inside, default=0) / 1024.0


def run_child(spec: dict, env: dict, timeout: float) -> dict:
    """Run worker.py in its own process group; afterwards kill whatever
    of the group is left (the JVM, Python workers) and wait until it
    has gone."""
    spec_path = os.path.join(spec["work"], "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    log_path = os.path.join(spec["work"], "worker.log")
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=spec["work"], env=env, stdout=log, stderr=log, start_new_session=True)
        memory = GroupMemory(proc.pid)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            memory.stop()
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            deadline = time.monotonic() + 30
            while _group(proc.pid) and time.monotonic() < deadline:
                time.sleep(0.05)
    if code != 0 or not os.path.exists(spec["result"]):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        fail(f"worker {'timed out' if code is None else f'exited {code}'}\n{tail}")
    with open(spec["result"]) as fh:
        result = json.load(fh)
    os.remove(spec["result"])
    result["peak_rss_mb"] = memory.peak_mb(*result["memory_window"])
    return result


def tail_latency(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None with fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    ordered = sorted(samples)
    return 100.0 * (n - 10) / n, ordered[n - 11]


def declared() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    return ({m["name"]: m["unit"] for m in doc["end_to_end"]},
            {m["name"]: m["unit"] for m in doc["per_layer"]})


def layer_values(res: dict) -> dict[str, list[float]]:
    """Per-layer metric -> its value in each traced pass (the set-up
    components: the value over the set-ups)."""
    traced, setup = res["traced"], res["setup"]
    untraced_wall = statistics.median(p["wall_s"] for p in res["passes"])
    values = {name: [p["trace"][name] for p in traced] for name in traced[0]["trace"]}
    values.update({name: setup[name]
                   for name in ("session.start_s", "registry.load_s", "session.warmup_s")})
    values["trace.overhead_s"] = [p["wall_s"] - untraced_wall for p in traced]
    values["io.memo_warm_ops"] = [p["memo_warm_ops"] for p in traced]
    values["sources.chapters_error"] = [p.get("chapters_error", 0) for p in traced]
    values["sinks.files_written"] = [p.get("files_written", 0) for p in traced]
    values["spark.shuffle_records_per_output_row"] = [
        p["trace"]["spark.shuffle_records"] / max(p["output_rows"], 1) for p in traced]
    return values


def report(workload: str, seed: int, res: dict, trace: bool) -> dict:
    """Print the human-readable lines; return the metrics for the JSON
    line, which are exactly the metrics BENCHMARK.json declares."""
    end_to_end, per_layer = declared()
    gated = per_layer if trace else end_to_end
    passes = res["passes"]
    walls = [p["wall_s"] for p in passes]
    lines = []
    metrics = {}

    def put(name: str, values: list[float], unit: str = "") -> None:
        unit = gated.get(name, unit)
        value = float(statistics.median(values))
        lines.append(f"{name:<38} {value:>12.4f} {unit:<6} (n={len(values)})")
        if name in gated:
            metrics[name] = {"value": value, "unit": unit}

    if not trace:
        put("setup_s", res["setup"]["setup_s"])
        for part in ("session.start_s", "registry.load_s", "session.warmup_s"):
            put(f"  {part}", res["setup"][part], "s")
        put("wall_s", walls)
        put("first_pass_s", [res["first"]["wall_s"]], "s")
        put("peak_rss_mb", [res["peak_rss_mb"]], "MB")
        if workload == "etl_replay":
            put("chapters_per_s", [p["attempted"] / p["wall_s"] for p in passes], "1/s")
        else:
            ops = [t for p in passes for t in p["op_s"].values()]
            put("query_p50_s", ops, "s")
            tail = tail_latency(ops)
            if tail is None:
                lines.append(f"{'query_tail_s':<38} {'n/a':>12} {'s':<6} "
                             f"(n={len(ops)}: fewer than 11 samples)")
            else:
                lines.append(f"{'query_tail_s':<38} {tail[1]:>12.4f} {'s':<6} "
                             f"(p{tail[0]:.1f}, n={len(ops)})")
    else:
        values = layer_values(res)
        for name in per_layer:
            put(name, values[name])
        lines.append(f"{'trace errors':<38} {len(res['trace_errors']):>12d}")
        lines.extend(f"  {err}" for err in res["trace_errors"][:5])
        lines.append(f"spans written to {os.path.relpath(res['trace_path'], ROOT)}")
    missing = set(gated) - set(metrics)
    if missing:
        fail(f"no value for declared metrics {sorted(missing)}")

    runs = [res["first"], *res["settle"], *passes, *res["traced"]]
    attempted = sum(p["attempted"] for p in runs)
    failed = sum(p.get("failed", len(p["errors"])) for p in runs)
    lines.append(f"{'failed_frac':<38} {failed / attempted:>12.4f} {'ratio':<6} (n={attempted})")
    print(f"workload {workload} seed {seed}: {len(passes)} timed passes, "
          f"{res['ops_per_pass']} {res['unit']} op(s) per pass")
    for p in runs:
        for key, err in list(p["errors"].items())[:5]:
            print(f"  FAILED {key}: {err}")
    print("\n".join(lines))
    print(f"  pass walls {[round(w, 3) for w in walls]}")
    for op in res["first"]["op_s"]:
        timed = [p["op_s"][op] for p in passes + res["traced"]]
        print(f"  op {op:<36} first {res['first']['op_s'][op]:8.3f} s  "
              f"timed median {statistics.median(timed):8.3f} s (n={len(timed)})")
    return {"metrics": metrics, "attempted": attempted, "failed": failed}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cuttlefish_spark", "__init__.py")):
        fail(f"no cuttlefish_spark package at {ROOT}: run from a checkout of the repo")

    paths = prepare_inputs(args.workload, args.seed)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.update({
        # Python workers must import the engine from the checkout.
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # nproc
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Every JVM (the launcher's and the driver's) keeps its temporary
        # files in the checkout; without -XX:-UsePerfData each writes
        # /tmp/hsperfdata_<user>.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    spec = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "work": work, "result": os.path.join(work, "result.json"), **paths}

    res = run_child(spec, env, MEASURE_TIMEOUT_S)
    res["trace_path"] = os.path.join(work, "trace.json")
    out = report(args.workload, args.seed, res, bool(args.trace))
    correct = out["failed"] == 0 and not res.get("trace_errors")
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))


if __name__ == "__main__":
    main()
