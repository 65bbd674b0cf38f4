"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own sources and specs (perfbench/src, perfbench/test) with the
Scala compiler that ships in the Spark distribution.

    python3 perfbench/build.py

Prints the class directory. Output goes to .bench_build/ under the checkout
root, keyed by a hash of every source file, so an unchanged tree is built
once. Spark's jars are taken from $SPARK_HOME/jars, or from the Spark
distribution that holds the spark-submit on the PATH.
"""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"


def sources():
    dirs = [PROGRAM_SRC, BENCH / "src", BENCH / "test"]
    for d in dirs:
        if not d.is_dir():
            raise SystemExit(f"build: missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def classpath():
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(str(Path(submit).resolve().parent.parent))
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return str(Path(home) / "jars" / "*")
    raise SystemExit("build: set SPARK_HOME to a Spark distribution")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out_root = ROOT / ".bench_build"
    out_root.mkdir(exist_ok=True)
    classes = out_root / f"classes-{h.hexdigest()[:16]}"
    with open(out_root / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (classes / "BUILT").exists():
            return classes
        tmp = out_root / f"tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        args_file = tmp / "sources.txt"
        args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", "-cp", classpath(), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-Ybackend-parallelism", "4",
               "-d", str(tmp), f"@{args_file}"]
        print(f"build: compiling {len(srcs)} files", file=sys.stderr, flush=True)
        r = subprocess.run(cmd, stdout=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"build: scalac failed with code {r.returncode}")
        args_file.unlink()
        (tmp / "BUILT").write_text("ok\n")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        return classes


def runtime_classpath(classes):
    return os.pathsep.join([str(classes), str(RESOURCES), classpath()])


if __name__ == "__main__":
    print(build())
