"""CASPR benchmark runner.

    python3 perfbench/run.py --workload caspr|catalog --seed N \\
        --seconds S --trace 0|1

Builds the program and the benchmark from source (see build.py), runs one
workload in a fresh JVM on local[C], C = every core this process may use,
and prints one JSON line last: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones of
BENCHMARK.json, with --trace 1 the per-layer ones. See README.md.

Everything the run writes stays under .bench_out/ in the checkout: the JVM's
java.io.tmpdir, Spark's local dir and the generated tables live in a
per-process directory that is deleted at exit; the traced run's spans are
kept as .bench_out/<workload>-spans.json.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def result_line(line, trace):
    """Checks the JVM's result line and attaches the units of BENCHMARK.json,
    the one list of metric names. A per-layer metric whose span does not
    occur in the workload reads 0; a name BENCHMARK.json does not list is
    an error."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1
            and isinstance(res["failed"], int)):
        raise ValueError("attempted/failed must be whole numbers, attempted >= 1")
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res["metrics"]
    unknown = set(got) - set(units)
    missing = set() if trace else set(units) - set(got)
    if unknown or missing:
        raise ValueError(f"metrics differ from BENCHMARK.json: {sorted(unknown | missing)}")
    res["metrics"] = {k: {"value": float(got.get(k, 0.0)), "unit": u} for k, u in units.items()}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["caspr", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    classes = build.build()
    out_root = build.ROOT / ".bench_out"
    run_dir = out_root / f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Duser.timezone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.runtime_classpath(classes), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--data-dir", str(run_dir),
            "--catalog-rows", str(build.BENCH / "catalog_rows.json")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run: {a.workload} exceeded {TIMEOUT_S} s", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    spans = run_dir / "spans.json"
    if spans.exists():
        spans.replace(out_root / f"{a.workload}-spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"run: JVM exited with code {proc.returncode}", file=sys.stderr)
        return 2
    sys.stdout.write("".join(ln + "\n" for ln in lines[:-1]))
    try:
        res = result_line(lines[-1], a.trace)
    except (ValueError, KeyError, TypeError) as e:
        print(f"run: bad result line: {e}", file=sys.stderr)
        return 2
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
