"""Runs the package's command line the way ``python -m`` does (through
``runpy``, as ``__main__``, with the same arguments) and reports what the
benchmark reads from inside the process: the time its ``get_session``
call took and the peak memory of the process and its JVM, read just
before exit.

    python3 perfbench/cli_main.py REPORT.json <input dir> <output dir> <query file>

Exits with the command line's own exit code.
"""

from __future__ import annotations

import json
import os
import runpy
import sys
import time

from spans import cpu_s, tree_cpu_s, tree_peak_rss_mb, tree_pids

PACKAGE = "similarity_search_with_hadoop_mapreduce_spark"


def main() -> int:
    report, argv = sys.argv[1], sys.argv[2:]
    from similarity_search_with_hadoop_mapreduce_spark import session

    starts: list[float] = []
    start_cpus: list[float] = []
    get_session = session.get_session

    def timed_get_session(*args, **kwargs):
        t, c = time.perf_counter(), cpu_s(os.getpid())
        try:
            return get_session(*args, **kwargs)
        finally:
            starts.append(time.perf_counter() - t)
            start_cpus.append(tree_cpu_s(tree_pids(os.getpid())) - c)

    session.get_session = timed_get_session
    sys.argv = [PACKAGE, *argv]
    code = 0
    try:
        runpy.run_module(PACKAGE, run_name="__main__", alter_sys=True)
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else (e.code is not None)
    with open(report, "w") as f:
        json.dump({"exit": code, "session_start_s": starts,
                   "session_start_cpu_s": start_cpus,
                   "cpu_s": tree_cpu_s(tree_pids(os.getpid())),
                   "peak_rss_mb": tree_peak_rss_mb(os.getpid())}, f)
    return code


if __name__ == "__main__":
    sys.exit(main())
