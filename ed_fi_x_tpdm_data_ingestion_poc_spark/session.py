"""SparkSession factory and engine configuration.

Replaces the reference's Spring bootstrap + application.properties
(/root/reference/banner-connector/src/main/java/org/edfi/sis/SisConnectorApp.java:18-29,
/root/reference/runtime/input/application.properties:1-14) with a config
dataclass and a tuned SparkSession.

Scale posture (SURVEY.md §4): AQE on (runtime re-planning + skew-join
handling), shuffle partitions sized to the cluster, Arrow enabled for the
pandas-UDF slow path, UTC session timezone so date/time semantics are
engine-independent.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .queries import session_cache


@dataclass(frozen=True)
class EngineConfig:
    """Engine-level knobs (analog of the reference's application.properties)."""

    app_name: str = "tpdm-spark-engine"
    master: str | None = None  # None -> respect existing session / local[*]
    shuffle_partitions: int | None = None  # None -> 2x cores, min 32
    session_timezone: str = "UTC"
    extra_conf: dict[str, str] = field(default_factory=dict)


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def _cgroup_available_bytes() -> int | None:
    """Memory headroom under this process's cgroup limit, if one is set.

    Containers and CI sandboxes enforce memory via cgroups while
    /proc/meminfo keeps reporting the HOST's memory — sizing a heap
    from meminfo alone inside a 32 GiB container on a 256 GiB host
    reproduces exactly the oversized-heap collapse this module guards
    against. Reads limit and usage for v2 (memory.max/memory.current)
    and v1 (memory.limit_in_bytes/memory.usage_in_bytes); returns None
    when unlimited or unreadable."""
    try:
        paths: list[tuple[str, str]] = []
        with open("/proc/self/cgroup") as f:
            for line in f:
                parts = line.strip().split(":", 2)
                if len(parts) != 3:
                    continue
                hid, ctrls, cpath = parts
                if hid == "0":  # cgroup v2 unified
                    base = "/sys/fs/cgroup" + cpath
                    paths.append((base + "/memory.max",
                                  base + "/memory.current"))
                elif "memory" in ctrls.split(","):  # v1 memory controller
                    base = "/sys/fs/cgroup/memory" + cpath
                    paths.append((base + "/memory.limit_in_bytes",
                                  base + "/memory.usage_in_bytes"))
        for lim_p, use_p in paths:
            try:
                with open(lim_p) as f:
                    raw = f.read().strip()
                if raw == "max":
                    continue
                limit = int(raw)
                if limit >= 1 << 60:  # v1 "unlimited" sentinel
                    continue
                with open(use_p) as f:
                    usage = int(f.read().strip())
                return max(0, limit - usage)
            except (OSError, ValueError):
                continue
    except OSError:
        pass
    return None


def mem_available_gb() -> float | None:
    """Effective available memory in GiB: min of /proc/meminfo
    MemAvailable and the process's cgroup headroom (None off-Linux)."""
    avail = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail = int(line.split()[1]) / (1024 * 1024)
                    break
    except OSError:
        return None
    cg = _cgroup_available_bytes()
    if cg is not None:
        cg_gb = cg / (1024**3)
        avail = cg_gb if avail is None else min(avail, cg_gb)
    return avail


def _default_driver_memory(par: int) -> str:
    """Local-mode heap default sized to the BOX, not to one host.

    Round 17 shipped a flat 20g default measured on a 128 GiB box
    (suite seq 162.6 -> 117.2 s: the ~60 persisted artifacts stop
    evicting/GC-churning in the single local JVM). The round-17 verdict
    showed the same default COLLAPSING the canonical bench on a
    smaller box at local[32]: the 20 GiB heap plus one resident Python
    worker per core exceeds physical memory, the kernel thrashes page
    cache / kills workers, and pure-JVM queries read 2.5-10x slower —
    exactly guide §5's warning that memory config must be sized to the
    machine. So: budget ~0.4 GiB per concurrent task for Python
    workers (pandas+pyarrow RSS), take half of what is left of
    MemAvailable for the heap, clamp to [8g, 20g] (8g = the pre-r17
    default that was safe everywhere; 20g = where the artifact-eviction
    win saturates on the 128 GiB box). A 128 GiB box still gets 20g, a
    ~32 GiB box at 32 cores gets back the safe 8g, and
    SPARK_DRIVER_MEMORY overrides everything. On a real cluster
    driver/executor memory comes from spark-submit and this default is
    irrelevant."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    avail = mem_available_gb()
    if avail is None:
        return "8g"
    heap = (avail - 0.4 * par) * 0.5
    return f"{int(max(8, min(20, heap)))}g"


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile (the --py-files path).

    Several operators run package code INSIDE executor Python workers
    (mapInPandas/pandas-UDF closures import operators.multimodal,
    operators.dedup, ...). cloudpickle serializes module-level functions
    by REFERENCE, so the worker must be able to import the package — true
    when the driver runs from the repo checkout (cwd on path), false for
    an external driver process launched elsewhere. Zipping the package
    once per SparkContext and addPyFile-ing it makes worker imports
    location-independent — identical to shipping --py-files on a real
    cluster, where executor hosts share nothing with the driver's
    filesystem. ~100 KB, once per context: sessions from newSession()
    share their context's files, so the flag lives in the context's
    store, not the session's."""
    sc = spark.sparkContext
    shipped = session_cache(sc)
    if ("ship_package",) in shipped:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zip_path = tempfile.mkstemp(prefix=pkg_name + "_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".pyc"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    shipped[("ship_package",)] = zip_path


def tune(spark: SparkSession, cfg: EngineConfig | None = None) -> SparkSession:
    """Apply engine runtime conf to an existing session (driver-provided or ours).

    Only touches runtime-mutable confs; safe to call on a session we did not
    create (the correctness driver passes its own session into queries()).
    Idempotent per session: every conf set is a py4j round-trip, and table()
    calls this on each load.
    """
    cache = session_cache(spark)
    if cfg is None and ("tune",) in cache:
        return spark
    cfg = cfg or EngineConfig()
    conf = {
        # Deterministic wall-clock date/time fields regardless of host TZ —
        # matches DuckDB's naive-timestamp reading of the same parquet.
        "spark.sql.session.timeZone": cfg.session_timezone,
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # NOTE: coalescePartitions.parallelismFirst stays at its default
        # (true). Setting it false ("respect advisory partition size", the
        # posture Spark docs suggest for large clusters) coalesces small
        # reduce stages to ONE task and measurably regressed every window/
        # sort query 50-70% at sf0.1 — byte-sized reducers belong in the
        # cluster deploy conf where stages actually carry gigabytes.
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for the pandas-UDF path (10-100x over row-at-a-time Python).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Case-insensitive resolution is Spark's default; pin it anyway since
        # the reference's column matching is case-insensitive (SURVEY.md R5).
        "spark.sql.caseSensitive": "false",
    }
    if cfg.shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(cfg.shuffle_partitions)
    conf.update(cfg.extra_conf)
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on a live session: keep going
    ship_package(spark)
    cache[("tune",)] = True
    return spark


# Tungsten page size for the local session. Spark derives it from the heap
# (64 MiB at 8g), and every broadcast hash relation takes at least one
# whole page: a 4-row descriptor vocabulary's broadcast held a 64 MiB
# long[], and an ingest sync's relations stay reachable into the next
# sync. At 4 MiB the 8192-entry page table still covers a 20g heap's
# per-task share.
PAGE_SIZE = "4m"


def _submitted_conf(launch: dict[str, str]):
    """The conf spark-submit gives the driver (its --conf flags,
    PYSPARK_SUBMIT_ARGS, spark-defaults.conf): the JVM's spark.* system
    properties. Launches the JVM with `launch` when none runs yet."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized(conf=SparkConf().setAll(launch.items()))
    return SparkConf()


def get_spark(cfg: EngineConfig | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    local[N] in tests; on a real cluster the master/resources come from
    spark-submit and this only applies SQL-level conf. The page size is
    PAGE_SIZE unless extra_conf or spark-submit sets spark.buffer.pageSize.
    """
    cfg = cfg or EngineConfig()
    par = _default_parallelism()
    conf = {
        "spark.app.name": cfg.app_name,
        "spark.sql.shuffle.partitions": str(cfg.shuffle_partitions or max(32, par)),
        # Local-mode heap default: adaptive to the box (see
        # _default_driver_memory), overridable via SPARK_DRIVER_MEMORY.
        "spark.driver.memory": _default_driver_memory(par),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": cfg.session_timezone,
    }
    if cfg.master:
        conf["spark.master"] = cfg.master
    elif not os.environ.get("SPARK_MASTER"):
        conf["spark.master"] = f"local[{par}]"
    key = "spark.buffer.pageSize"
    conf[key] = cfg.extra_conf.get(key) or _submitted_conf(conf).get(key, PAGE_SIZE)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    return tune(spark, cfg)
