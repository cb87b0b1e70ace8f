"""One set-up sample: import the program and build its Spark session in a
fresh process (JVM launch included), print the seconds it took, and shut the
session and its JVM down.

Usage: python3 setup_probe.py <master>
"""

from __future__ import annotations

import sys
import time


def stop_session(spark) -> None:
    """Stop the session, then close the JVM's standard input (the PySpark
    gateway exits on EOF) and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    t0 = time.perf_counter()
    from sparkx.session import build_session

    session = build_session(app_name="sxbench-setup", master=sys.argv[1])
    print(f"{time.perf_counter() - t0:.6f}", flush=True)
    stop_session(session)
