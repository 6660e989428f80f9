"""Crash drive for the extraction sink: kill ``run_extract.py`` in each
commit window, re-run it to completion, and check the committed tables.

    python scripts/crash_drive.py [--work DIR]

Builds a 400-page corpus, runs ``scripts/run_extract.py`` (with
``--figures``) once cleanly for reference digests, then for each window
starts a fresh job in its own process group and SIGKILLs the whole group
(the job's Python process, its JVM and the Python workers) as soon as
the window's marker appears:

* ``mid-output``      — ``out/.spark-staging-*`` (output write running)
* ``figures-only``    — ``figs/run_id=*`` (figures written, output not yet)
* ``output-only``     — ``out/run_id=*`` (output committed, manifest not yet)
* ``stream-batch``    — ``out/run_id=stream-*`` of a ``--stream`` run (a
  micro-batch committed, its checkpoint not yet)

It then ages what the kill left for the janitor (``.spark-staging-*``
directories under the three roots, figure run directories) past
``ORPHAN_MIN_AGE_SEC``, re-runs the same command to completion and checks
that every url appears once in ``read_output``, the digests equal the
clean run's, the manifest ``row_count`` sum equals the rows, and the
``read_figures`` keys are unique; after a batch re-run, whose start-up
janitor reaps them, no staging directory and no figure run without an
output run may be left.  One line per window says which state the kill
hit and whether the checks held; the exit status is 1 if any check
failed.
Killing only a ``spark-submit`` wrapper is not enough: the orphaned JVM
finishes the job and races the retry.
"""

from __future__ import annotations

import argparse
import glob
import os
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = 400
MASTER = "local[2]"  # every job of the drive, and the checking session
WINDOWS = {
    "mid-output": ("out", ".spark-staging-*"),
    "figures-only": ("figs", "run_id=*"),
    "output-only": ("out", "run_id=*"),
    "stream-batch": ("out", "run_id=stream-*"),
}


def _job(base: str, pages: str, stream: bool) -> list[str]:
    cmd = [sys.executable, os.path.join(ROOT, "scripts", "run_extract.py"),
           "--master", MASTER, "--pages", pages,
           "--out", f"{base}/out", "--figures", f"{base}/figs",
           "--manifest", f"{base}/man"]
    if stream:
        cmd += ["--stream", "--checkpoint", f"{base}/ckpt"]
    return cmd


def _env() -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return env


def _run(cmd: list[str], log: str, timeout: float = 900) -> None:
    with open(log, "a") as f:
        subprocess.run(cmd, env=_env(), stdout=f, stderr=subprocess.STDOUT,
                       timeout=timeout, check=True)


def _kill_at(cmd: list[str], marker: str, log: str,
             timeout: float = 900) -> bool:
    """Start ``cmd`` in a new process group; SIGKILL the group when
    ``marker`` (a glob) matches.  False when the job exited first."""
    with open(log, "a") as f:
        p = subprocess.Popen(cmd, env=_env(), stdout=f,
                             stderr=subprocess.STDOUT, start_new_session=True)
    deadline = time.monotonic() + timeout
    try:
        while p.poll() is None and time.monotonic() < deadline:
            if glob.glob(marker):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                return True
            time.sleep(0.02)
        return False
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        try:  # nothing of the group may outlive the kill
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(base: str) -> str:
    def count(table, pattern):
        return len(glob.glob(f"{base}/{table}/{pattern}"))
    return ", ".join(f"{t} staging={count(t, '.spark-staging-*')} "
                     f"runs={count(t, 'run_id=*')}"
                     for t in ("out", "figs", "man"))


def _reapable(base: str) -> list[str]:
    """What a killed run can leave for the janitor: staging directories
    under the three roots, and figure run directories."""
    return [p for t in ("out", "figs", "man")
            for p in glob.glob(f"{base}/{t}/.spark-staging-*")] + \
        glob.glob(f"{base}/figs/run_id=*")


def _age(paths: list[str]) -> None:
    """Push the modification time of ``paths`` past the janitor's age
    guard, as if the killed run were a day old."""
    from qwen_ocr_spark.sinks.manifest import ORPHAN_MIN_AGE_SEC
    for p in paths:
        t = os.path.getmtime(p) - ORPHAN_MIN_AGE_SEC - 60
        os.utime(p, (t, t))


def _leftovers(base: str) -> list[str]:
    """Staging directories and orphan figure runs still present."""
    def runs(table):
        return {os.path.basename(p)
                for p in glob.glob(f"{base}/{table}/run_id=*")}
    staged = [os.path.relpath(p, base) for p in _reapable(base)
              if ".spark-staging-" in p]
    orphans = [f"figs/{r}" for r in sorted(runs("figs") - runs("out"))]
    return [f"left {p}" for p in staged + orphans]


def _check(spark, base: str, ref: dict[str, str]) -> list[str]:
    from pyspark.sql import functions as F

    from qwen_ocr_spark.sinks.manifest import (MANIFEST_SCHEMA, read_figures,
                                               read_output)
    rows = read_output(spark, f"{base}/out").select("url", "digest").collect()
    problems = []
    urls = [r["url"] for r in rows]
    if len(urls) != len(set(urls)):
        problems.append(f"{len(urls) - len(set(urls))} duplicate urls")
    if {r["url"]: r["digest"] for r in rows} != ref:
        problems.append("digests differ from the clean run")
    man = spark.read.schema(MANIFEST_SCHEMA).parquet(f"{base}/man") \
        .agg(F.sum("row_count")).collect()[0][0]
    if man != len(rows):
        problems.append(f"manifest row_count sum {man} != {len(rows)} rows")
    keys = read_figures(spark, f"{base}/figs", f"{base}/out") \
        .select("url", "page_number", "fig_number")
    if keys.count() != keys.distinct().count():
        problems.append("duplicate figure keys")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", default=None,
                    help="work directory (default: a new temporary one)")
    args = ap.parse_args()
    work = args.work or tempfile.mkdtemp(prefix="crash-drive-")
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "jobs.log")
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")

    from qwen_ocr_spark.plans.session import get_spark
    from qwen_ocr_spark.sources.pages import write_pages
    spark = get_spark(master=MASTER, app_name="crash-drive")
    pages = os.path.join(work, "pages")
    write_pages(spark, pages, DOCS, seed=7)

    clean = os.path.join(work, "clean")
    _run(_job(clean, pages, stream=False), log)
    ref = {r["url"]: r["digest"] for r in spark.read.parquet(f"{clean}/out")
           .select("url", "digest").collect()}
    print(f"clean: {len(ref)} urls", flush=True)

    failed = False
    for name, (table, pattern) in WINDOWS.items():
        base = os.path.join(work, name)
        cmd = _job(base, pages, stream=name.startswith("stream"))
        hit = _kill_at(cmd, f"{base}/{table}/{pattern}", log)
        state = _state(base) if hit else "marker not seen, job finished"
        _age(_reapable(base))
        _run(cmd, log)
        problems = _check(spark, base, ref)
        if not name.startswith("stream"):
            problems += _leftovers(base)
        failed |= bool(problems)
        print(f"{name}: killed at [{state}] -> rerun "
              f"{'ok' if not problems else '; '.join(problems)}", flush=True)
    spark.stop()
    print(f"work dir: {work}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
