"""Shared plumbing for the benchmark workloads: paths, the Spark session,
peak memory, summary statistics, the same-window hardware control and the
seeded point cloud that ``serve`` and ``upsert`` both start from.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``
(inputs, tables, Spark scratch) and ``<checkout>/.perfbench_out`` (reports).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "1g"

DOMAIN_W = 1_000_000


def prepare_env() -> None:
    """Point the driver, the JVM and the Python workers at the checkout:
    the package is imported from it and Spark's scratch space lives in it."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def new_session():
    """A fresh SparkSession on local[4], stopping any active one first."""
    from pyspark.sql import SparkSession

    from geospatial_cuda_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        "perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # -Xms: a heap fixed at its maximum size from the start, so the
            # JVM's peak RSS does not depend on when the heap happened to grow
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:-DontCompileHugeMethods "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            # the traced run attributes SQL metrics after the run ends, so
            # the status store must still hold every execution by then
            "spark.sql.ui.retainedExecutions": "20000",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited. The
    JVM leaves when its standard input closes; a later session in the same
    process starts a new one."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=120)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100): the smallest sample with at
    least q% of the samples at or below it. Always one measured sample."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * q / 100.0) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def manifest_files(table, m: dict) -> tuple[int, int]:
    """(files, bytes) a snapshot manifest references: base and delta files."""
    col = m["bucket_col"]
    paths = [
        os.path.join(table.data_dir, f"{col}={b}", f)
        for b, fs in (m.get("files") or {}).items()
        for f in fs
    ] + [
        os.path.join(table.delta_dir, f"{col}={b}", f)
        for b, batches in (m.get("deltas") or {}).items()
        for _, fs in batches
        for f in fs
    ]
    return len(paths), sum(os.path.getsize(p) for p in paths)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def input_dir(workload: str, seed: int, params: dict) -> str:
    """Per-(workload, seed, sizes) input directory. Inputs are generated
    once and reused by later runs in the same checkout."""
    key = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:10]
    return os.path.join(WORK, "inputs", f"{workload}-s{seed}-{key}")


def input_ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


def mark_ready(path: str, meta: dict) -> None:
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    open(os.path.join(path, "_READY"), "w").close()


def load_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def point_cloud(seed: int, n: int, cluster_share: float = 0.3, clusters: int = 8):
    """Seeded integer point cloud over [0, 1e6)^2: uniform points plus dense
    Gaussian clusters, so cell occupancy is skewed. Returns (pid, x, y)."""
    import numpy as np

    rng = np.random.default_rng([seed, 0x5EED])
    n_cl = int(n * cluster_share)
    n_un = n - n_cl
    ux = rng.integers(0, DOMAIN_W, n_un)
    uy = rng.integers(0, DOMAIN_W, n_un)
    centers = rng.integers(50_000, DOMAIN_W - 50_000, (clusters, 2))
    sigma = rng.uniform(500.0, 4000.0, clusters)
    which = rng.integers(0, clusters, n_cl)
    cx = np.rint(centers[which, 0] + rng.normal(0, 1, n_cl) * sigma[which])
    cy = np.rint(centers[which, 1] + rng.normal(0, 1, n_cl) * sigma[which])
    x = np.clip(np.concatenate([ux, cx]), 0, DOMAIN_W - 1).astype(np.float32)
    y = np.clip(np.concatenate([uy, cy]), 0, DOMAIN_W - 1).astype(np.float32)
    perm = rng.permutation(n)
    pid = np.arange(n, dtype=np.int64)
    return pid, x[perm], y[perm], centers


def _burn_cpu(iters: int) -> float:
    x = 1.0
    for _ in range(iters):
        x = x * 1.0000001 + 1e-9
    return x


def hardware_control() -> dict:
    """Same-window host weather: a register-only CPU burn and a streaming
    memory-bandwidth burn, timed in this process. Context for the record,
    never a gated metric."""
    import numpy as np

    t = time.perf_counter()
    _burn_cpu(2_000_000)
    cpu_s = time.perf_counter() - t
    a = np.ones(8_000_000)  # 64 MB
    a *= 1.0000001  # fault the pages in before timing
    t = time.perf_counter()
    for _ in range(5):
        a *= 1.0000001
    mem_s = time.perf_counter() - t
    return {
        "cpu_miter_per_s": round(2.0 / cpu_s, 4),
        # each pass reads and writes the 64 MB array once
        "mem_gb_per_s": round(5 * 2 * a.nbytes / mem_s / 1e9, 4),
    }
