"""Host-side measurements: the process tree's CPU and memory from /proc,
the load stamp, a fixed CPU calibration spin, and the Spark session's
start and stop.

Everything here reads /proc directly (no psutil) so the benchmark runs on
the same interpreter as the engine with nothing extra installed.
"""

from __future__ import annotations

import os
import signal
import statistics
import time
from typing import Dict, List

CLK_TCK = os.sysconf("SC_CLK_TCK")
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def _stat_fields(pid: int) -> List[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may itself hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> List[int]:
    """``root`` and every live descendant, found by walking /proc's ppids."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, plus reaped children) of the tree: the
    driver, its JVM, the PySpark daemon and its Python workers."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total / CLK_TCK


def worker_peak_rss_mb(root: int) -> float:
    """Largest peak resident set (VmHWM) among the Python worker processes
    below the driver (the PySpark daemon and the workers it forks)."""
    peak_kb = 0
    for pid in process_tree(root):
        if pid == root:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if b"pyspark" not in cmd or b"java" in cmd:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def calibration_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python spin. Taken before and after a
    run: if the two disagree, the machine's speed changed under the run."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def slots() -> int:
    """Spark's local[N]: one less than the cores this process may use (at
    most 4), leaving a core to the driver JVM's compiler and collector
    threads and the Python client, which otherwise compete with the tasks
    and make pass times noisy. Capped so runs on bigger machines stay
    comparable with the recorded 4-core baseline."""
    return max(1, min(4, len(os.sched_getaffinity(0))) - 1)


def start_session(root: str, data_dir: str, cores: int):
    """A local[cores] session whose JVM, workers, shuffle files and temp
    files stay under ``data_dir``; BLAS is pinned to one thread per task."""
    for var in BLAS_VARS:
        os.environ[var] = "1"
    tmp = os.path.join(data_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from calamari_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(data_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(data_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end its JVM and wait until every process this one
    started has exited; stragglers are killed."""
    from pyspark import SparkContext

    me = os.getpid()
    # taken before the stop: a worker orphaned by its exiting JVM leaves
    # this process's tree but must still be waited for
    started = [p for p in process_tree(me) if p != me]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a signal that cut a py4j call breaks
        pass           # the stop; ending the JVM below still stops Spark
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 - a hung JVM must not hang the run
            proc.kill()
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while True:
        rest = [p for p in set(started + process_tree(me)) if p != me and _alive(p)]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
