"""Machine sizing, the run's private scratch tree, preflight and samplers.

Everything a run writes lives under one temp dir inside the checkout
(``<root>/.perfbench_tmp/run-*``): Spark scratch, warehouse, checkpoint
tables, the py-files zip, and the Python/JVM temp files.  It is removed
at exit; nothing else is ever deleted.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading

MB = 1024.0 * 1024.0


class PreflightError(RuntimeError):
    """Free RAM or disk is below what the workload was measured to need."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> dict[str, float]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            out[key] = int(val.split()[0]) / 1024.0
    return out


def disk_free_mb(path: str) -> float:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / MB


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot: the time a
    hypervisor ran other guests while this one had work."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def driver_heap_mb(total_mb: float) -> int:
    """Driver heap from installed RAM (not from what is free right now, so
    the same machine always gets the same heap): 15% of RAM, 1–4 GB."""
    return int(min(4096, max(1024, total_mb * 0.15)) // 256 * 256)


class Scratch:
    """The run's private temp tree and the environment that points the
    engine, the JVM and Python workers at it."""

    def __init__(self, root: str):
        base = os.path.join(root, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.base = base
        self.dir = tempfile.mkdtemp(prefix="run-", dir=base)
        self.local = os.path.join(self.dir, "spark-local")
        self.warehouse = os.path.join(self.dir, "warehouse")
        self.tables = os.path.join(self.dir, "tables")
        self.inputs = os.path.join(self.dir, "inputs")
        self.tmp = os.path.join(self.dir, "tmp")
        for d in (self.local, self.warehouse, self.tables, self.inputs, self.tmp):
            os.makedirs(d)

    def configure_env(self, cpus: int, heap_mb: int) -> None:
        """Set, before the JVM starts, every variable the engine's
        ``get_spark`` and Spark's launcher read.  One Spark task thread per
        core and single-threaded BLAS in the Python workers, so the run has
        no other concurrency."""
        env = os.environ
        env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
        env.pop("SPARK_GRAFT_MASTER", None)
        env.pop("SPARK_GRAFT_SHUFFLE", None)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        env["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
        env["SPARK_GRAFT_LOCAL_DIR"] = self.local
        env["TMPDIR"] = self.tmp
        for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
            env[var] = "1"
        java_opts = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        env["PYSPARK_SUBMIT_ARGS"] = (
            f'--conf spark.sql.warehouse.dir={self.warehouse} '
            f'--conf "spark.driver.extraJavaOptions={java_opts}" pyspark-shell'
        )
        tempfile.tempdir = self.tmp

    def bytes_used(self) -> int:
        """Bytes under Spark scratch, the warehouse and the checkpoint
        tables (the generated inputs are not counted)."""
        total = 0
        for top in (self.local, self.warehouse, self.tables):
            total += dir_bytes(top)[0]
        return total

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass  # another run's tree is still there


def dir_bytes(top: str) -> tuple[int, int]:
    """(bytes, files) under ``top``."""
    total = files_n = 0
    for dirpath, _dirs, files in os.walk(top):
        for fn in files:
            try:
                total += os.lstat(os.path.join(dirpath, fn)).st_size
                files_n += 1
            except FileNotFoundError:
                pass  # shuffle file removed between listing and stat
    return total, files_n


def preflight(workload: str, recorded: dict, scratch_dir: str) -> dict:
    """Fail with a named error, before any work, when free RAM or disk is
    below the workload's recorded peak (plus a quarter for headroom)."""
    mem = meminfo_mb()
    free_disk = disk_free_mb(scratch_dir)
    need = recorded.get(workload, {})
    need_rss = 1.25 * need.get("peak_rss_mb", 0.0)
    need_disk = 1.25 * need.get("peak_scratch_mb", 0.0)
    if mem["MemAvailable"] < need_rss:
        raise PreflightError(
            f"{workload}: {mem['MemAvailable']:.0f} MB RAM available, "
            f"recorded peak RSS needs {need_rss:.0f} MB"
        )
    if free_disk < need_disk:
        raise PreflightError(
            f"{workload}: {free_disk:.0f} MB free under {scratch_dir}, "
            f"recorded peak scratch needs {need_disk:.0f} MB"
        )
    return {
        "mem_total_mb": round(mem["MemTotal"]),
        "mem_available_mb": round(mem["MemAvailable"]),
        "disk_free_mb": round(free_disk),
    }


def _children(pid: int, parents: dict[int, int]) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c, pp in parents.items():
            if pp == p:
                out.append(c)
                todo.append(c)
    return out


def _proc_table() -> dict[int, int]:
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Sampler:
    """Samples, at a fixed interval, the summed RSS of the driver JVM plus
    its Python workers.  The bytes under the run's scratch tree are
    sampled by the caller between queries (``sample_scratch``): a query's
    own temporary files come and go in less than the interval, so timed
    sampling would catch them in some runs and not in others."""

    def __init__(self, jvm_pid: int, scratch: Scratch, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.scratch = scratch
        self.interval = interval
        self.peak_rss_mb = 0.0
        self.peak_driver_mb = 0.0
        self.peak_python_mb = 0.0
        self.peak_workers = 0
        self.peak_scratch_mb = 0.0
        self.samples = 0
        self.scratch_samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        workers = _children(self.jvm_pid, _proc_table())
        driver = _rss_mb(self.jvm_pid)
        python = sum(_rss_mb(p) for p in workers)
        self.peak_driver_mb = max(self.peak_driver_mb, driver)
        self.peak_python_mb = max(self.peak_python_mb, python)
        self.peak_rss_mb = max(self.peak_rss_mb, driver + python)
        self.peak_workers = max(self.peak_workers, len(workers))
        self.samples += 1

    def sample_scratch(self) -> None:
        self.peak_scratch_mb = max(self.peak_scratch_mb, self.scratch.bytes_used() / MB)
        self.scratch_samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "Sampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)
