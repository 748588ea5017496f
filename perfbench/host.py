"""Per-run host-contention record (metadata, never a metric).

The machine is shared: a run taken while neighbours steal CPU reads slower
for reasons outside the program. Each run records the load average before
anything of its own runs and again when it ends, plus ``bench.py``'s
md5 calibration timed on one core and on every core at once, before the
JVM starts. Effective parallelism ``n * calib_s / calib_mc_s`` well below
``n`` marks a run taken under steal.
"""

from __future__ import annotations

import os

from bench import _calibrate, _calibrate_multicore


def record_before(n_cpus: int) -> dict:
    loadavg = list(os.getloadavg())  # before our own calibration loads the host
    calib = _calibrate()
    calib_mc = _calibrate_multicore(n_cpus)
    return {
        "loadavg_before": loadavg,
        "calib_s": calib,
        "calib_mc_s": calib_mc,
        "calib_nproc": n_cpus,
        "effective_parallelism": n_cpus * calib / calib_mc,
    }


def record_after(record: dict) -> dict:
    return {**record, "loadavg_after": list(os.getloadavg())}
