"""Benchmark entry point: ``python3 perfbench/run.py --workload point|batch
--seed N --seconds S --trace 0|1``, from the root of a checkout.

Runs ``worker.py`` in its own process session with the checkout on
PYTHONPATH and all scratch files (corpus, store, Spark local dirs, JVM
temp) under ``.perfbench_work/`` in the checkout.  Once the worker prints
its result line, nothing of the run is left to measure, so every process of
the session (the worker, the local Spark JVM and its Python workers) is
killed and waited for, and the result is printed as the last stdout line.
A traced run also writes its spans and per-layer table to
``.perfbench_out/``.

Exits non-zero without printing a result when the checkout holds no
``ds2s`` package, when the worker fails or when it runs past the limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_LIMIT_S = 170
DRIVER_MEM = "4g"  # bounded heap: the host's memory is shared


def session_pids(sid: int) -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(p))
    return pids


def stop_session(sid: int) -> None:
    """SIGKILL every process of session ``sid``; return once none is left."""
    end = time.monotonic() + 30.0
    while pids := session_pids(sid):
        if time.monotonic() > end:
            raise RuntimeError(f"processes {pids} of session {sid} survived SIGKILL")
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "ds2s" / "__init__.py").is_file():
        print(f"perfbench: no ds2s package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "DS2S_LOCAL_DIR": str(work / "spark-local"),
        "DS2S_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work),
    ]
    if args.trace:
        cmd += ["--trace-out",
                str(ROOT / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.json")]
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)
    watchdog = threading.Timer(RUN_LIMIT_S, stop_session, (child.pid,))
    watchdog.start()
    result = None
    try:
        for line in child.stdout:
            if line.startswith('{"correct"'):
                result = json.loads(line)
                break
            print(line, end="", file=sys.stderr)
    finally:
        watchdog.cancel()
        stop_session(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    if not isinstance(result, dict):
        print(f"perfbench: no result (worker exit {child.returncode}; "
              f"limit {RUN_LIMIT_S}s)", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
