"""SparkSession construction for the engine and tests."""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

from gpu_olap_engine_spark.config import EngineConfig

_log = logging.getLogger(__name__)


def _default_openblas_coretype() -> str | None:
    """Work around OpenBLAS's runtime CPU misdetection on this VM
    class (r12): numpy's bundled OpenBLAS (DYNAMIC_ARCH) dispatches
    HASWELL kernels on an AVX512 guest — measured 25 GFLOP/s vs
    91 GFLOP/s with the SKYLAKEX kernels it also ships (3.6x on the
    near-dup bound-scan sgemm). Setting OPENBLAS_CORETYPE before the
    JVM launches propagates to every Python worker the executors
    spawn. Gated on the full SKX flag set in /proc/cpuinfo and on the
    user not having chosen a coretype; numerically safe for the
    engine: the only f32 GEMM consumer is the near-dup PREFILTER,
    whose error margin (_f32_margin) covers any standard summation
    order — survivors are decided by the exact integer path, so
    operator output is bit-identical under either kernel set.

    r13 (ADVICE): returns the coretype it chose (or None) so
    get_spark can ALSO scope it to the executor env
    (spark.executorEnv.OPENBLAS_CORETYPE — the channel that reaches
    executor-spawned Python workers on a real cluster, where the
    executor JVM does not inherit this driver env), and logs when
    the default is applied. The process-global set remains for
    local-mode (the single JVM inherits our env at launch) and is
    acknowledged to be a no-op for numpy already loaded in THIS
    driver process (OpenBLAS reads the var at library init)."""
    if "OPENBLAS_CORETYPE" in os.environ:
        return os.environ["OPENBLAS_CORETYPE"]
    try:
        with open("/proc/cpuinfo") as f:
            flags = f.read()
    except OSError:
        return None
    if all(x in flags for x in ("avx512f", "avx512bw", "avx512vl", "avx512dq")):
        os.environ["OPENBLAS_CORETYPE"] = "SKYLAKEX"
        _log.info(
            "OPENBLAS_CORETYPE defaulted to SKYLAKEX (full AVX512 "
            "flag set detected; set OPENBLAS_CORETYPE to override)"
        )
        return "SKYLAKEX"
    return None


def get_spark(
    config: EngineConfig | None = None,
    app_name: str = "gpu-olap-engine-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's confs applied.

    Static confs only take effect on the first build in a JVM; dynamic
    SQL confs (shuffle partitions, AQE, Arrow) are re-applied to a
    reused session so a driver-provided session still behaves.
    """
    config = config or EngineConfig()
    coretype = _default_openblas_coretype()  # before the JVM inherits our env
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in builder_confs(config, master, coretype).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark, config)
    return spark


def builder_confs(
    config: EngineConfig, master: str, coretype: str | None = None
) -> dict[str, str]:
    """Every conf get_spark puts on the session builder: the engine's
    confs, the OpenBLAS coretype for executor-spawned Python workers
    (the channel that reaches them on clusters), and, for local
    masters only, the engine's Python worker daemon (worker_daemon).
    The daemon runs from the package's parent directory, appended to
    the workers' PYTHONPATH, so it imports whatever the cwd is. Cluster
    masters keep Spark's daemon: a --py-files package reaches the
    workers' path only after the daemon has started."""
    confs = config.spark_confs()
    if coretype:
        confs["spark.executorEnv.OPENBLAS_CORETYPE"] = coretype
    if master.startswith("local"):
        confs.setdefault(
            "spark.python.daemon.module", f"{__package__}.worker_daemon"
        )
        home = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        key = "spark.executorEnv.PYTHONPATH"
        confs[key] = os.pathsep.join(p for p in (confs.get(key), home) if p)
    return confs


def apply_runtime_confs(spark: SparkSession, config: EngineConfig | None = None) -> None:
    """Apply dynamic SQL confs to an existing session (e.g. the
    driver's). Safe to call repeatedly; only touches runtime-settable
    confs."""
    config = config or EngineConfig()
    for k, v in config.spark_confs().items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session - keep session's value
