"""Repository benchmark: extraction and near-duplicate catalog workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The inputs are generated from --seed and
cached under perfbench/.cache; each run is one fresh child process
(perfbench/child.py) so module caches and the JVM start cold. This
process sizes the Spark settings to the host, samples the child's
process tree for peak memory, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The line before it holds the host
fingerprint and the per-pass details. perfbench/README.md defines every
metric and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CHILD_TIMEOUT_S = 160
PAGE = os.sysconf("SC_PAGE_SIZE")


def _meminfo(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) * 1024
    raise KeyError(key)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs.
    On a shared host, runs during steal bursts are slower throughout."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_fingerprint(cpus: int) -> dict:
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    try:
        from importlib.metadata import version

        pyspark = version("pyspark")
    except Exception:  # reported, not required
        pyspark = None
    return {
        "nproc": cpus,
        "mem_total_bytes": _meminfo("MemTotal"),
        "cpu_model": model,
        "python": platform.python_version(),
        "pyspark": pyspark,
        "java": java[0] if java else None,
    }


def spark_env(cpus: int) -> dict:
    """Settings sized to this host, passed only through the environment
    the program reads (session.py defaults assume a 32-core host)."""
    avail_mb = _meminfo("MemAvailable") // (1 << 20)
    heap_mb = max(1024, min(2048, avail_mb // 4))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        SPARK_GRAFT_JAVA_OPTS=(
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(1, min(cpus // 2, 8))} "
            # the whole heap from the start: a heap grown on demand made
            # the JVM's peak RSS vary by 300 MB from run to run. No
            # hsperfdata file in /tmp; temp files stay in the checkout.
            f"-Xms{heap_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            [ROOT] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
        ),
    )
    return env


class TreeRss:
    """Peak summed RSS of a process tree: RSS sampled every 50 ms, the
    tree's members listed anew every 0.5 s (a /proc scan costs more than
    reading a few statm files). The python workers are in the tree but
    not in the child's process group: Spark's worker daemon starts a
    group of its own. Keeps the peak's split between the JVM, the python
    workers and the Spark driver's python process. The JVM is its largest
    java process: a child the JVM spawns shares the JVM's memory (and
    reports its RSS) until it execs, and is not counted a second time."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak = 0
        self.peak_split: dict[str, float] = {}
        self.groups: set[int] = {root}
        self._kind: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _processes() -> dict[int, tuple[int, int]]:
        """pid -> (ppid, pgrp) of every process."""
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[int(name)] = (int(fields[1]), int(fields[2]))
        return out

    def members(self) -> list[int]:
        procs = self._processes()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                tree.append(pid)
                self.groups.add(procs[pid][1])
            todo.extend(children.get(pid, []))
        return tree

    def in_groups(self) -> list[int]:
        return [p for p, (_, g) in self._processes().items() if g in self.groups]

    def _kind_of(self, pid: int) -> str:
        if pid not in self._kind:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                cmd = b""
            self._kind[pid] = (
                "jvm" if b"java" in cmd.split(b"\0", 1)[0]
                else "workers" if b"pyspark.daemon" in cmd
                else "driver"
            )
        return self._kind[pid]

    def sample(self, pids: list[int]) -> None:
        split = {"jvm": 0, "workers": 0, "driver": 0, "n_workers": 0}
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * PAGE
            except OSError:
                continue
            kind = self._kind_of(pid)
            if kind == "jvm":
                split[kind] = max(split[kind], rss)
            else:
                split[kind] += rss
            split["n_workers"] += kind == "workers" and rss > 0
        total = split["jvm"] + split["workers"] + split["driver"]
        if total > self.peak:
            self.peak = total
            self.peak_split = {
                k: (v / (1 << 20) if k != "n_workers" else v) for k, v in split.items()
            }

    def _run(self) -> None:
        tick = 0
        while not self._stop.is_set():
            if tick % 10 == 0:
                pids = self.members()
                # a process may exec after it was first seen (spark-submit
                # becomes the JVM): classify again on every listing
                self._kind.clear()
            self.sample(pids)
            tick += 1
            self._stop.wait(0.05)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


def _end_tree(sampler: TreeRss) -> None:
    """Stop whatever the child left behind in its process groups (its own
    and the worker daemon's) and wait until every one has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pgid in sampler.groups:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline and sampler.in_groups():
            time.sleep(0.1)
        if not sampler.in_groups():
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ocr_service_spark")):
        print("perfbench: ocr_service_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import corpus

    if args.workload not in corpus.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cfg = corpus.WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)

    t0 = time.perf_counter()
    data_dir = corpus.inputs(cfg, args.seed, cpus)
    datagen_s = time.perf_counter() - t0

    log_path = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--data-dir", data_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    steal0 = steal_s()
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            cmd, cwd=ROOT, env=spark_env(cpus), stdout=subprocess.PIPE,
            stderr=log, start_new_session=True, text=True,
        )
        sampler = TreeRss(child.pid)
        try:
            stdout, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stdout = ""
        finally:
            _end_tree(sampler)
            child.wait()
            peak = sampler.stop()
    steal = steal_s() - steal0
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if child.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {child.returncode}); log: {log_path}", file=sys.stderr)
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        print(tail, file=sys.stderr)
        return 1
    res = json.loads(lines[-1])
    metrics = res["metrics"]
    if args.trace:
        split = sampler.peak_split
        metrics.update({
            "memory.jvm_mb": split.get("jvm", 0.0),
            "memory.workers_mb": split.get("workers", 0.0),
            "memory.driver_mb": split.get("driver", 0.0),
            "memory.python_workers": split.get("n_workers", 0),
        })
    else:
        metrics["peak_rss_mb"] = peak / (1 << 20)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host_fingerprint(cpus), "host_steal_s": steal, "datagen_s": datagen_s,
        "peak_rss_mb": peak / (1 << 20), "peak_rss_split_mb": sampler.peak_split,
        "incorrect_outputs": res["incorrect_outputs"],
        "setup": res["setup"], "passes": res["passes"],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res["incorrect_outputs"] == 0 and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
