"""Box fingerprint, process-tree RSS sampling and task-floor probes."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import threading
import time


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def source_digest(root: str) -> str:
    """sha1 over the program's Python sources, so a run names the code it
    measured even in a checkout that is not a git repository."""
    h = hashlib.sha1()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, names in os.walk(os.path.join(root, "supersonic_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def fingerprint(root: str, cores: int) -> dict:
    """Readings that identify the box and the code; nothing is gated on
    them. The CPU probe is the repo's single-process fixed-work probe."""
    import numpy
    import pyarrow
    import pyspark
    from supersonic_spark.runtime import CPU_PROBE_REF_SEC, cpu_probe_sec
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "spark_cores": cores,
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": _git_commit(root),
        "source_digest": source_digest(root),
        "cpu_probe_s": cpu_probe_sec(iters=1),
        "cpu_probe_ref_s": CPU_PROBE_REF_SEC,
    }


def _resident_bytes(pid: int) -> int:
    """Proportional set size (resident pages, each shared page split among
    the processes mapping it), so forked Python workers do not count the
    pages they share with their parent twice; RSS where PSS is missing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def process_tree(root_pid: int) -> set[int]:
    """root_pid and every process descended from it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; fields after the closing paren are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        for k in kids.get(frontier.pop(), ()):
            if k not in tree:
                tree.add(k)
                frontier.append(k)
    return tree


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except OSError:
        return 0


class RssSampler:
    """Background thread sampling the resident size of this process tree
    (the driver JVM and the Python workers are its descendants). `peak`
    is the largest sum seen; `peak_parts` splits that sample into this
    process, JVMs and the Python worker processes.

    A child of this process or of a JVM that still runs its parent's
    executable is a spawn caught between clone and exec. Both spawn with
    vfork semantics, so such a child shares its parent's address space and
    /proc reports the parent's whole memory for it a second time; it is
    left out."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, me: int) -> dict:
        exes = {p: _exe(p) for p in process_tree(me)}
        sizes = {}
        for p, exe in exes.items():
            parent = _ppid(p) if p != me else 0
            spawner = parent == me or (
                os.path.basename(exes.get(parent, "")) == "java")
            if spawner and exe == exes.get(parent):
                continue
            sizes[p] = _resident_bytes(p)
        return {"driver_py": sizes.pop(me, 0),
                "jvm": sum(b for p, b in sizes.items()
                           if os.path.basename(exes[p]) == "java"),
                "workers": sum(b for p, b in sizes.items()
                               if os.path.basename(exes[p]) != "java"),
                "n_workers": sum(1 for p in sizes
                                 if os.path.basename(exes[p]) != "java")}

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = self._sample(me)
            total = parts["driver_py"] + parts["jvm"] + parts["workers"]
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _noop_arrow(batches):
    yield from batches


def _median_wall(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def task_floor(spark, n_tasks: int = 16, repeats: int = 2) -> dict:
    """Wall seconds per task of three do-nothing stages at a fixed task
    count: JVM-only tasks, plain RDD Python tasks and no-op mapInArrow
    tasks (the fixed cost each Python kernel pays before its own work)."""
    sc = spark.sparkContext

    def jvm():
        (spark.range(0, n_tasks, numPartitions=n_tasks)
         .write.format("noop").mode("overwrite").save())

    def python():
        sc.parallelize(range(n_tasks), n_tasks).map(lambda x: x).count()

    def arrow():
        (spark.range(0, n_tasks, numPartitions=n_tasks)
         .mapInArrow(_noop_arrow, schema="id long")
         .write.format("noop").mode("overwrite").save())

    return {f"runtime.{name}_task_floor_s":
            _median_wall(fn, repeats) / n_tasks
            for name, fn in (("jvm", jvm), ("python", python),
                             ("arrow", arrow))}
