"""Benchmark of the similarity-search engine: one command per workload.

    python3 perfbench/run.py --workload topk_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` in the current directory, starts
the measured processes on ``local[N]`` with ``N`` the cores this process
may use, checks every answer against ``expected.py``, prints one JSON line
of run details and, last, the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the span file is kept under
``.perfbench_work/traces/``. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import expected as E  # noqa: E402
import gen  # noqa: E402

PACKAGE = "similarity_search_with_hadoop_mapreduce_spark"
# every process a run starts must have ended this long after it began
RUN_DEADLINE_S = 170


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """/proc/stat's machine-wide ``cpu`` line: user, nice, system, idle,
    iowait, irq, softirq, steal (guest time is inside user)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the vCPUs' time the hypervisor ran something else while
    they had work: on a shared host, what makes a run's window noisy."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def child_env(work: str) -> dict:
    """Environment of every measured process: the package from the
    current directory, ``local[nproc]``, and every temporary file (Spark
    shuffle and block files, the session's temp warehouse, JVM temp
    files) under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_WAREHOUSE", None)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env.update({
        "PYTHONPATH": os.getcwd(),
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
        ),
    })
    return env


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


def _end_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait until every process of the group has ended: the JVM a PySpark
    driver started leaves shortly after its parent; stragglers get
    SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + grace_s
    sig = None
    while _group_members(pgid):
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                raise RuntimeError(f"process group {pgid} would not end")
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def run_child(cmd: list[str], env: dict, deadline: float) -> float:
    """Run ``cmd`` in its own process group and return its wall time.
    Raises on a non-zero exit or when ``deadline`` (``time.monotonic()``)
    passes; the whole group, the JVM a PySpark driver starts included,
    has always ended before this returns."""
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, env=env, start_new_session=True,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        p.wait(timeout=max(0.0, deadline - time.monotonic()))
        wall = time.perf_counter() - t0
    except subprocess.TimeoutExpired:
        raise TimeoutError(f"{cmd[1:3]} still running at the deadline") from None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        _end_group(p.pid)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd[1:3]} exited with code {p.returncode}")
    return wall


def serve_cmd(workload: str, *args: str) -> list[str]:
    return [sys.executable, os.path.join(HERE, "serve.py"),
            "--workload", workload, *args]


def _median_stat(recs: list, key: str) -> float:
    return statistics.median(r["stats"][key] for r in recs)


# -- top-k serving ----------------------------------------------------------


def topk_serve(a, work: str, env: dict) -> dict:
    corpus = gen.zipf_corpus(os.path.join(work, "corpus"), a.seed)
    queries = list(range(20_000))
    random.Random(a.seed).shuffle(queries)
    qfile = os.path.join(work, "queries.json")
    with open(qfile, "w") as f:
        json.dump(queries, f)
    out = os.path.join(work, "serve.json")
    spans = os.path.join(os.getcwd(), ".perfbench_work", "traces",
                         f"{a.workload}-seed{a.seed}.jsonl")
    run_child(serve_cmd(a.workload, "--input", corpus, "--queries", qfile,
                        "--out", out, "--seconds", str(a.seconds),
                        "--trace", str(a.trace), "--spans", spans),
              env, a.deadline)
    with open(out) as f:
        res = json.load(f)
    reqs = res["requests"]
    index = E.Index(E.read_parquet_corpus(corpus), [r["query"] for r in reqs])
    failed = count_failures(index, reqs)

    timed = [r for r in reqs if not r["warmup"] and r["error"] is None]
    plain = [r for r in timed if not r["traced"]]
    latency = [r["latency_s"] for r in plain]
    cpu = [r["cpu_s"] for r in plain]
    summary = {
        "correct": failed == 0, "attempted": len(reqs), "failed": failed,
        "samples": len(plain),
        "latencies_s": [round(x, 4) for x in latency],
        "cpus_s": [round(x, 3) for x in cpu],
        "latency_p50_s": statistics.median(latency),
        "queries_per_s": len(timed) / res["loop_wall_s"],
        "setup_wall_s": res["setup_s"],
    }
    if not a.trace:
        summary["peak_rss_mb"] = res["peak_rss_mb"]
        summary["metrics"] = {
            "setup_s": res["setup_cpu_s"],
            "cpu_s_per_query": statistics.median(cpu),
        }
        return summary
    traced = [r for r in timed if r["traced"]]
    p50_traced = statistics.median(r["cpu_s"] for r in traced)
    cores = res["cores"]
    layers = dict(res["layers"])
    layers.update({
        "similarity.build_s": _median_stat(traced, "build_s"),
        "similarity.exec_s": _median_stat(traced, "exec_s"),
        "similarity.jobs": _median_stat(traced, "jobs"),
        "similarity.stages": _median_stat(traced, "stages"),
        "similarity.shuffle_bytes": _median_stat(traced, "shuffle_bytes"),
        "similarity.docs_per_result": statistics.median(
            r["stats"]["input_records"] / max(1, r["stats"]["rows"])
            for r in traced
        ),
        "sinks.write_self_s": 0.0,
        "sinks.bytes_written": 0,
        "engine.task_cpu_s": _median_stat(traced, "task_cpu_s"),
        "engine.jit_compile_s": _median_stat(traced, "jit_s"),
        "engine.core_busy_frac": statistics.median(
            r["stats"]["task_cpu_s"] / (r["latency_s"] * cores) for r in traced
        ),
        "engine.peak_rss_mb": res["peak_rss_mb"],
        "trace.overhead_frac": p50_traced / statistics.median(cpu) - 1.0,
    })
    summary["metrics"] = layers
    summary["cpu_p50_traced_s"] = p50_traced
    return summary


def count_failures(index, reqs: list[dict]) -> int:
    """Requests that raised or whose top-k differs from ``index``'s."""
    failed = 0
    for r in reqs:
        ok = r["error"] is None and E.same_ranking(
            [tuple(x) for x in r["answer"]],
            E.top_k(index.parity_scores(r["query"])),
        )
        failed += not ok
        if not ok:
            print(f"perfbench: request {r['rid']} failed: "
                  f"{r['error'] or 'wrong answer'}", file=sys.stderr)
    return failed


# -- reference CLI on book directories ---------------------------------------


def cli_books(a, work: str, env: dict) -> dict:
    def books(i: int) -> tuple[str, dict]:
        """A directory no process has read before, and the scores the
        CLI must write for it."""
        d = gen.book_dir(os.path.join(work, f"books{i}"), a.seed * 1000 + i)
        return d, E.Index(E.read_book_dir(d), ["query"]).parity_scores("query")

    def check(want: dict, out_dir: str) -> bool:
        try:
            ok = E.same_score_set(E.read_reference_output(out_dir), want)
        except (OSError, ValueError) as e:
            print(f"perfbench: unreadable CLI output: {e}", file=sys.stderr)
            return False
        if not ok:
            print(f"perfbench: wrong CLI output in {out_dir}", file=sys.stderr)
        return ok

    def invoke(d: str, want: dict, i: int) -> dict:
        """One CLI invocation on ``d``; its wall time from process start
        to exit, what ``cli_main.py`` read inside it, and whether its
        output was right."""
        out = os.path.join(work, f"out{i}")
        report = os.path.join(work, f"cli{i}.json")
        try:
            wall = run_child([sys.executable, os.path.join(HERE, "cli_main.py"),
                              report, d, out, os.path.join(d, "query.txt")],
                             env, a.deadline)
            with open(report) as f:
                rec = json.load(f)
            rec["wall_s"], rec["ok"] = wall, check(want, out)
        except (RuntimeError, TimeoutError, OSError, ValueError) as e:
            print(f"perfbench: CLI invocation {i} failed: {e}", file=sys.stderr)
            rec = {"ok": False}
        return rec

    if a.trace:
        # the untraced invocation and the traced process read the same
        # directory: both are fresh processes, so neither keeps state
        d, want = books(0)
        plain = invoke(d, want, 0)
        if "wall_s" not in plain:
            raise RuntimeError("the untraced CLI invocation did not complete")
        out, res_file = os.path.join(work, "out1"), os.path.join(work, "cli.json")
        spans = os.path.join(os.getcwd(), ".perfbench_work", "traces",
                             f"cli_books-seed{a.seed}.jsonl")
        wall_traced = run_child(
            serve_cmd("cli_books", "--input", d, "--out-dir", out,
                      "--out", res_file, "--spans", spans),
            env, a.deadline,
        )
        with open(res_file) as f:
            res = json.load(f)
        ok_traced = check(want, out)
        latency_traced = wall_traced - res["after_sequence_s"]
        st = res["stats"]
        rows = len(E.read_reference_output(out)) if ok_traced else 0
        layers = dict(res["layers"])
        layers.update({
            "similarity.jobs": st["jobs"],
            "similarity.stages": st["stages"],
            "similarity.shuffle_bytes": st["shuffle_bytes"],
            "similarity.docs_per_result": st["input_records"] / max(1, rows),
            "engine.task_cpu_s": st["task_cpu_s"],
            "engine.jit_compile_s": st["jit_s"],
            "engine.core_busy_frac":
                st["task_cpu_s"] / (latency_traced * res["cores"]),
            "engine.peak_rss_mb": res["peak_rss_mb"],
            "trace.overhead_frac": res["cpu_sequence_s"] / plain["cpu_s"] - 1.0,
        })
        failed = (not plain["ok"]) + (not ok_traced)
        return {"correct": failed == 0, "attempted": 2, "failed": failed,
                "samples": 1, "metrics": layers,
                "latency_traced_s": latency_traced,
                "cpu_traced_s": res["cpu_sequence_s"],
                "latency_untraced_s": plain["wall_s"],
                "cpu_untraced_s": plain["cpu_s"]}

    recs: list[dict] = []
    spent = 0.0  # invocation time, failed invocations included
    while spent < a.seconds and time.monotonic() < a.deadline:
        d, want = books(len(recs))
        t = time.perf_counter()
        recs.append(invoke(d, want, len(recs)))
        spent += time.perf_counter() - t
        shutil.rmtree(d)
    done = [r for r in recs if "wall_s" in r]
    if not done:
        raise RuntimeError("no CLI invocation completed")
    walls = [r["wall_s"] for r in done]
    failed = sum(not r["ok"] for r in recs)
    return {
        "correct": failed == 0, "attempted": len(recs), "failed": failed,
        "samples": len(walls), "latencies_s": [round(x, 4) for x in walls],
        "cpus_s": [round(r["cpu_s"], 3) for r in done],
        "setup_wall_s": statistics.median(
            r["session_start_s"][0] for r in done),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in done),
        "metrics": {
            "setup_s": statistics.median(
                r["session_start_cpu_s"][0] for r in done),
            "cpu_s_per_query": statistics.median(r["cpu_s"] for r in done),
        },
    }


# -- result line ------------------------------------------------------------

RUNNERS = {"topk_serve": topk_serve, "cli_books": cli_books}


def versions() -> dict:
    import pyspark

    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        java = "unknown"
    return {"spark": pyspark.__version__, "java": java}


UNITS = {
    "setup_s": "s", "cpu_s_per_query": "s",
    "session.start_s": "s", "tables.load_s": "s", "tables.scan_s": "s",
    "text.shingle_s": "s", "text.shingles": "count",
    "text.shingles_per_s": "1/s", "similarity.build_s": "s",
    "similarity.exec_s": "s", "similarity.jobs": "count",
    "similarity.stages": "count", "similarity.shuffle_bytes": "bytes",
    "similarity.docs_per_result": "ratio", "sinks.write_self_s": "s",
    "sinks.bytes_written": "bytes", "engine.task_cpu_s": "s",
    "engine.jit_compile_s": "s",
    "engine.core_busy_frac": "ratio", "engine.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    a.deadline = time.monotonic() + RUN_DEADLINE_S
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {os.getcwd()}; "
              "run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{a.workload}-seed{a.seed}-{os.getpid()}")
    details = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "seconds": a.seconds, "nproc": cpu_count(),
               "loadavg_start": os.getloadavg(), **versions()}
    ticks = cpu_ticks()
    try:
        res = RUNNERS[a.workload](a, work, child_env(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    details["loadavg_end"] = os.getloadavg()
    details["cpu_steal_frac"] = round(steal_frac(ticks, cpu_ticks()), 4)
    for k in [k for k in res if k not in ("correct", "attempted", "failed",
                                           "metrics")]:
        details[k] = res.pop(k)
    res["metrics"] = {k: {"value": v, "unit": UNITS[k]}
                      for k, v in res["metrics"].items()}
    print(json.dumps({"perfbench": details}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
