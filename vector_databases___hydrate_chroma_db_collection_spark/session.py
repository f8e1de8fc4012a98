"""SparkSession factory with scale-oriented defaults.

The reference bootstraps a CAS session + Chroma client per run
(reference sas:75-128). Our equivalent is a SparkSession tuned for
large scans:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition guess is always wrong somewhere.
- Arrow enabled for the few pandas-UDF paths (vector ops fallback,
  multimodal plumbing).
- shuffle partitions sized to the local test harness; on a real
  cluster AQE coalesces these upward/downward from the 2048 initial.
- in local mode, Python workers fork from the engine's own daemon
  (``worker_daemon.py``), which keeps the fixed cost of a Python UDF
  task small. Stock PySpark calls ``importlib.invalidate_caches()`` at
  the start of every task, and on CPython 3.11 and 3.12 that re-reads
  the 1,328-entry directory of pyspark.zip once per zip-imported
  pyspark package (16 importers in an Arrow UDF worker). The daemon
  re-reads an archive only when it changed, and freezes its pre-fork
  heap so the ``gc.collect()`` after each task does not walk it. From
  CPython 3.13 the stock call only drops the cache, so there the gate
  saves nothing and costs nothing. On any other master the stock
  daemon stays: a cluster may ship the package only at task time
  (``--py-files``), and a daemon that cannot import it would fail
  every Python task.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def _pin_loaded_blas_threads() -> None:
    """Apply the BLAS-thread env contract to an ALREADY-LOADED
    OpenBLAS via its runtime API. The env vars above only work when
    they are set before the library loads, but callers routinely
    import operator modules (-> numpy -> OpenBLAS) before calling
    ``get_spark`` — bench.py does — and then every DRIVER-side numpy
    GEMM (k-means/PQ trainers, serve-path LUTs) spins a full
    thread-pool per call: one 15-iteration Lloyd fit on a 26k x 8
    slice measured 32.8 cpu-s for 1.59 s wall (~20 spin-wait threads)
    with the loaded-too-late env, vs ~1.6 cpu-s pinned. Workers are
    unaffected either way (they spawn after the env is set). No-op
    when numpy is not loaded yet or the BLAS exposes no such API."""
    import sys

    if "numpy" not in sys.modules:
        return  # env alone will govern the eventual load
    try:
        import ctypes

        with open("/proc/self/maps") as maps:
            libs = sorted(
                {
                    line.split()[-1]
                    for line in maps
                    if "openblas" in line.lower() or "mkl_rt" in line.lower()
                }
            )
        n = int(os.environ.get("OPENBLAS_NUM_THREADS", "1"))
        for path in libs:
            lib = ctypes.CDLL(path)
            # numpy's bundled OpenBLAS uses 64-suffixed (ILP64) symbols;
            # declare the argtype explicitly rather than relying on
            # ctypes' default c_int + SysV register zero-fill (r15
            # ADVICE). MKL-linked numpy (conda defaults) is covered by
            # mkl_set_num_threads through the same loop.
            for sym, argt in (
                ("openblas_set_num_threads", ctypes.c_int),
                ("openblas_set_num_threads64_", ctypes.c_int64),
                ("mkl_set_num_threads", None),  # takes int* by ref
            ):
                try:
                    fn = getattr(lib, sym)
                except AttributeError:
                    continue
                if sym == "mkl_set_num_threads":
                    fn.argtypes = [ctypes.POINTER(ctypes.c_int)]
                    fn(ctypes.byref(ctypes.c_int(n)))
                else:
                    fn.argtypes = [argt]
                    fn(argt(n))
                break
    except Exception:
        pass  # never let thread pinning break session creation


def _local_workers_import_package(master: str) -> bool:
    """True when ``master`` is local mode and the package sits on a
    path its Python workers search: the working directory they inherit,
    ``PYTHONPATH`` or site-packages. The engine's UDFs import the
    package there already; without it the daemon could not start and
    even a UDF that never touches the package would fail."""
    if master != "local" and not master.startswith("local["):
        return False
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    paths += site.getsitepackages()
    return root in {os.path.abspath(p) for p in paths if p}


def get_spark(
    app_name: str = "vdb-hydrate-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a production cluster ``master`` comes from spark-submit; the
    local default follows the test harness contract
    (local[$SPARK_GRAFT_CPUS]).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)

    # Single-threaded BLAS in every numpy context (driver AND the
    # Python UDF workers, which inherit this env through the JVM):
    # Spark already parallelizes across `cpus` workers, so per-worker
    # BLAS threads only OVERSUBSCRIBE the box — and OpenBLAS's idle
    # threads SPIN-WAIT, burning real CPU while doing nothing. Measured
    # on the 200k pq_encode entry (32 workers x numpy GEMMs): unset ->
    # 5.3-14.2 s wall / 127-386 cpu-s run-to-run; =1 -> 3.7 s wall /
    # 35 cpu-s, stable. That spin was the recurring "host load drift"
    # on every Arrow/pandas-heavy bench entry since r4. setdefault:
    # an operator who sized BLAS deliberately keeps their setting.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    _pin_loaded_blas_threads()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Split whole-stage-codegen output into smaller methods than
        # the 1024-unit default: HotSpot never JIT-compiles methods
        # over 8000 bytecode bytes (DontCompileHugeMethods), so the
        # widest generated plans (16-aggregate minhash signatures,
        # multi-column window lattices) otherwise run interpreted
        # FOREVER. Measured (tools/probe_r16_jit.py, fresh JVM per
        # config, both run orders): warm minhash entry 78-86 cpu-s at
        # default vs 54-65 at 512 (wall 5.7-6.1 -> 4.7-5.0); cold
        # first-plan cost unchanged (~170-190 — the storm is compile
        # attempts + allocation, not the split). Data-independent and
        # portable (a property of generated-code size, not of this
        # host); env-overridable for experiments.
        .config(
            "spark.sql.codegen.methodSplitThreshold",
            os.environ.get("SPARK_GRAFT_CODEGEN_SPLIT", "512"),
        )
        # Keep timestamps comparable with external oracles (DuckDB).
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (events.ts) is read as raw int64;
        # sources/parquet.py converts it to a microsecond timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Push `id IN (batch)` filters of up to 256 values into the
        # Parquet reader as equality predicates (the default of 10
        # pushes only a [min, max] range, which random ids span). The
        # write doors' id probes rely on it: a duplicate check over
        # 4M ids cost 13.5-32.1 cpu-s as a grouped shuffle and
        # 3.7-5.2 cpu-s as a pushed 200-id IN (4 cores). The cap is
        # stack depth: Parquet evaluates the pushed OR chain
        # recursively, and a 1 MB task thread overflowed at 800 values
        # (700 passed); larger lists fall back to the range.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Local mode: fork Python workers from worker_daemon.py (module
    # docstring). A trivial 4-task mapInArrow on a warm worker pool
    # cost the workers 0.58-0.96 cpu-s per job with the stock daemon
    # and 0.04-0.10 with this one (wall 0.24-0.44 -> 0.12-0.21 s; 4
    # cores); the workers' share of perfbench
    # serve_filtered's four timed calls fell from 5.5 to 0.46 cpu-s
    # (seed 5). No plan, job or result changes. Skipped when the
    # workers could not import the package.
    if _local_workers_import_package(master):
        builder = builder.config(
            "spark.python.daemon.module", f"{__package__}.worker_daemon"
        )
    return builder.getOrCreate()
