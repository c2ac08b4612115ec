"""A child process for the benchmark's own work: input generation and the
DuckDB correctness checks.  Keeping that work out of the driver process
means the driver's peak resident memory (part of ``retained_mb``) is the
program's, not the harness's.
"""

from __future__ import annotations

import multiprocessing
from concurrent.futures import ProcessPoolExecutor


class Helper:
    """``helper(fn, *args)`` runs a module-level function of ``gen`` or
    ``oracle`` in one worker process and returns its result.

    The worker is forked at construction, which must come before pyspark
    starts its JVM and gateway threads, so the fork copies a single-threaded
    process.  Forking, unlike spawning, starts no resource-tracker process
    that would outlive the run."""

    def __init__(self) -> None:
        self._pool = ProcessPoolExecutor(
            max_workers=1, mp_context=multiprocessing.get_context("fork"))
        self._pool.submit(int).result()   # forks the worker now

    def __call__(self, fn, *args):
        return self._pool.submit(fn, *args).result()

    def close(self) -> None:
        """Stop the worker and wait until it has exited."""
        self._pool.shutdown(wait=True)
