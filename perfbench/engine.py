"""Engine start-up and tear-down for one benchmark process.

Start-up is the engine's `get_session`, which launches the JVM. Tear-down
stops the session and ends the JVM, so a run leaves no process behind.
"""

from __future__ import annotations

import os
import time

CPUS = "4"


def configure_env(root: str, work: str) -> None:
    """Point the engine and Spark at the checkout and the work dir. Must run
    before the engine's modules are imported (they read SPARK_GRAFT_* at
    import time)."""
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    # Spark's Python workers import the engine and the benchmark's sleeper
    # by module path; a checkout outside the launch dir is not on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )


def use_fixture(name: str) -> str:
    """Returns the engine's fixture directory `name` (e.g. "sf0.1"), a
    sibling of the catalog's default scale directory (which
    SPARK_GRAFT_SF_DIR overrides), and makes it the session's data dir,
    which the session sizes shuffles from. Must run before `start`. The
    fixtures are read, never written."""
    from sqldataintegrationfunctiontriggerapp_spark.catalog import DEFAULT_SF_DIR

    path = os.path.join(os.path.dirname(os.path.abspath(DEFAULT_SF_DIR)), name)
    os.environ["SPARK_GRAFT_SF_DIR"] = path
    return path


def start(app_name: str = "perfbench"):
    """Returns (spark, seconds spent in the engine's `get_session`). Each
    workload then warms the JVM, the Python workers and the receiver by
    running its own path once before timing."""
    from sqldataintegrationfunctiontriggerapp_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(app_name=app_name)
    return spark, time.perf_counter() - t0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the JVM it launched."""
    kb = _hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _hwm_kb(pid)
    return kb / 1024.0


def stop(spark) -> None:
    """Stop the session and end the JVM, waiting for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
