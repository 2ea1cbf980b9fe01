"""Benchmark entry point: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the input
fixture (``perfbench/datagen.py``, seed 42, sf0.1) and the DuckDB oracle
results (``perfbench/oracles.py``) under ``.perfbench/`` in the checkout;
every later run reuses them and records the fixture's digest.

A run starts ``perfbench/worker.py`` as its own process tree with a
private TMPDIR, SPARK_LOCAL_DIRS and java.io.tmpdir under
``.perfbench/runs/``, pins the engine's core count to the machine's and
its driver heap below physical memory, samples the tree's memory while
queries are timed, and removes the run directory afterwards, also after
a timeout kill. The worker sets up the engine and makes one timed pass
over the workload's queries in the order the seed fixes, checking each
result against its DuckDB oracle outside the timing.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` makes an
untraced run and then a traced one (Spark event log on, parallel_legs
wrapped) and prints the per-layer metrics, including the tracing
overhead between the two. The last stdout line is the result object;
the line before it carries details (sample counts, tail percentile,
loadavg, fixture digest). ``--seconds`` is the nominal length of the
timed pass: the pass is a fixed set of queries, so that length is what
the run measures, not a time box.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracles  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # every run must end within 180 s
DRIVER_MEM = "2g"  # below physical memory; the engine default of 16g is not


def fixture() -> tuple[str, str, str, bool]:
    """Build the input fixture and every workload's oracle results once
    per checkout; return (fixture dir, digest, oracle cache dir, whether
    this call built anything)."""
    final = os.path.join(WORK, f"fixture-sf{workloads.SF}-seed{workloads.DATA_SEED}")
    built = not os.path.isdir(final)
    if built:
        os.makedirs(WORK, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="fixture-", dir=WORK)
        datagen.write_fixture(tmp, workloads.SF, workloads.DATA_SEED)
        os.rename(tmp, final)
    digest = datagen.digest(final)
    cache = os.path.join(WORK, f"oracles-{digest[:16]}")
    names = [q for qs in workloads.WORKLOADS.values() for q in qs]
    built = oracles.build(final, cache, names) or built
    return final, digest, cache, built


def tree_pss(root_pid: int) -> dict[str, int]:
    """Proportional set size of a process tree, in bytes: the root, its
    JVM and the rest (Python workers). Unlike resident size, PSS counts a
    page shared by forked Python workers once, not once per worker."""
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
    out = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = sum(
                    int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:")
                )
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, IndexError, ValueError):
            continue
        kind = "driver" if pid == root_pid else "jvm" if comm == "java" else "workers"
        out[kind] += pss
    return out


class MemorySampler(threading.Thread):
    """Samples the tree's PSS every 0.5 s. A sample counts only if the
    worker's ``untimed`` file was absent before and after it: the file
    exists while a correctness check runs and after the timed pass."""

    def __init__(self, pid: int, untimed: str) -> None:
        super().__init__(daemon=True)
        self.pid, self.untimed, self.peak = pid, untimed, 0
        self.peaks = {"driver": 0, "jvm": 0, "workers": 0}
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.5):
            if os.path.exists(self.untimed):
                continue
            pss = tree_pss(self.pid)
            if os.path.exists(self.untimed):
                continue
            self.peak = max(self.peak, sum(pss.values()))
            for k, v in pss.items():
                self.peaks[k] = max(self.peaks[k], v)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of this machine's CPUs since boot. Steal is
    time the hypervisor ran something else while a vCPU had work."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Wait for every process of the group to end; kill what lingers."""
    deadline = time.monotonic() + grace_s
    sig = 0
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def run_worker(args, fixture_dir: str, oracle_cache: str, trace: bool, deadline: float) -> dict:
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK, "runs"))
    try:
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": trace,
            "fixture": fixture_dir,
            "oracle_cache": oracle_cache,
            "out": os.path.join(run_dir, "result.json"),
            "untimed": os.path.join(run_dir, "untimed"),
        }
        for d in ("tmp", "local", "eventlog"):
            cfg[d] = os.path.join(run_dir, d)
            os.makedirs(cfg[d])
        submit = [
            "--conf spark.ui.showConsoleProgress=false",
            # No hsperfdata file: the JVM would write it under /tmp.
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={cfg['tmp']} -XX:-UsePerfData"),
        ]
        if trace:
            submit += [
                "--conf spark.eventLog.enabled=true",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
                f"--conf spark.eventLog.dir=file://{cfg['eventlog']}",
            ]
        env = dict(
            os.environ,
            TMPDIR=cfg["tmp"],
            SPARK_LOCAL_DIRS=cfg["local"],
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_DRIVER_MEM=DRIVER_MEM,
            PYTHONPATH=ROOT,
            PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        )
        env.pop("OMP_NUM_THREADS", None)
        cfg["t_spawn"] = time.time()
        with open(os.path.join(run_dir, "config.json"), "w") as f:
            json.dump(cfg, f)
        with open(os.path.join(run_dir, "worker.log"), "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), f.name],
                cwd=run_dir,
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = MemorySampler(proc.pid, cfg["untimed"])
            sampler.start()
            try:
                code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                if proc.poll() is None:  # timed out, or this run was stopped
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
                sampler.done.set()
                sampler.join()
                stop_group(proc.pid)
        if code != 0:
            with open(log.name) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: worker failed ({code})")
        with open(cfg["out"]) as f:
            res = json.load(f)
        res["peak_rss_mb"] = sampler.peak / metrics.MB
        res["peak_rss_mb_by_process"] = {
            k: v / metrics.MB for k, v in sampler.peaks.items()
        }
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def spans(res: dict) -> list[dict]:
    """One span per query phase, sharing the query name as id; a
    parallel_legs call is a child of its query's construct span."""
    out = []
    for q in res["queries"]:
        for phase in ("construct", "execute"):
            if f"{phase}_at" in q:
                start = q[f"{phase}_at"]
                out.append({"id": q["query"], "name": phase, "parent": None,
                            "start": start, "end": start + q[f"{phase}_s"]})
        for c in q["legs"]:
            out.append({"id": q["query"], "name": f"parallel_legs[{c['legs']}]",
                        "parent": "construct", "start": c["start"],
                        "end": c["start"] + c["wall_s"], "leg_s": c["leg_s"]})
    return out


def summarize(res: dict) -> dict:
    done = [q for q in res["queries"] if "latency_s" in q]
    lat = [q["latency_s"] for q in done]
    tail, pct = metrics.tail(lat)
    return {
        "setup_s": res["setup_s"],
        "wall_s": sum(lat),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail,
        "query_tail_pct": pct,
        "samples": len(lat),
        "order": [q["query"] for q in res["queries"]],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def layers(res: dict, base_wall: float) -> dict:
    qs = res["queries"]
    wall = sum(q.get("latency_s", 0.0) for q in qs)
    legs = [c for q in qs for c in q["legs"]]
    out = {
        "session.start_s": res["session.start_s"],
        "registry.load_s": res["registry.load_s"],
        "views.build_s": res["views.build_s"],
        "operators.construct_s": sum(q.get("construct_s", 0.0) for q in qs),
        "operators.construct_jobs": sum(q["construct_jobs"] for q in qs),
        "operators.execute_s": sum(q.get("execute_s", 0.0) for q in qs),
        "legs.calls": len(legs),
        "legs.wall_s": sum(c["wall_s"] for c in legs),
        "legs.leg_s": sum(c["leg_s"] for c in legs),
        "registry.tracked_caches": sum(q["tracked_caches"] for q in qs),
    }
    out.update(metrics.layer_totals(res["events"]))
    out["spark.busy_frac"] = out["spark.task_s"] / (wall * res["cores"])
    out["disk.tmp_mb"] = res["disk.tmp_mb"]
    out["disk.local_mb"] = res["disk.local_mb"]
    out["trace.overhead_frac"] = wall / base_wall - 1
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cs686_big_data_p1_spark", "registry.py")):
        raise SystemExit("perfbench: run from a checkout of the engine")

    # A stopped run still kills its worker tree and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)  # left by a kill -9
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # The first run in a checkout builds the fixture and every
    # workload's oracles; its workers' limit starts after that, so a
    # cold checkout's first traced run still completes.
    start = time.monotonic()
    fixture_dir, digest, oracle_cache, built = fixture()
    deadline = (time.monotonic() if built else start) + RUN_LIMIT_S
    steal0, total0 = cpu_jiffies()
    base = run_worker(args, fixture_dir, oracle_cache, False, deadline)
    summary = summarize(base)
    final = base
    if args.trace:
        final = run_worker(args, fixture_dir, oracle_cache, True, deadline)
        values = layers(final, summary["wall_s"])
        spec = bench["per_layer"]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": spans(final), "events": final["events"]}, f)
    else:
        values = summary
        spec = bench["end_to_end"]
    # Both runs check every result; the untraced run's checks count.
    failed = [q for q in base["queries"] if not q["ok"]]
    steal1, total1 = cpu_jiffies()
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "order": [q["query"] for q in final["queries"]],
        "fixture_digest": digest,
        "fixture_is_seed42_files": digest == workloads.SEED42_DIGEST,
        "cores": final["cores"],
        "driver_mem": DRIVER_MEM,
        "loadavg": [final["loadavg_start"], final["loadavg_end"]],
        "cpu_steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
        "warmup_s": base["warmup_s"],
        "check_s": base["check_s"],
        "failed_frac": {"value": len(failed) / len(base["queries"]),
                        "unit": "fraction", "samples": len(base["queries"])},
        "query_p50_s": {"value": summary["query_p50_s"], "unit": "s",
                        "samples": summary["samples"]},
        "query_tail_s": {"value": summary["query_tail_s"], "unit": "s",
                         "percentile": summary["query_tail_pct"],
                         "samples": summary["samples"]},
        "latency_s": {q["query"]: q.get("latency_s") for q in base["queries"]},
        "peak_rss_mb_by_process": base["peak_rss_mb_by_process"],
        "rows_only_checks": sorted(
            q["query"] for q in base["queries"] if q.get("check") == "rows-only"
        ),
        "failed": {q["query"]: q.get("error", "")[-300:] for q in failed},
    }
    print(json.dumps(detail))
    result = {
        "correct": not failed,
        "attempted": len(base["queries"]),
        "failed": len(failed),
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec
        },
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
