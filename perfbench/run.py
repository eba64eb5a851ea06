"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Workloads: extract, dedup (BENCHMARK.json) and extract_rotated (runnable,
not in BENCHMARK.json); see perfbench/README.md. Each run builds the program
from source if needed (perfbench/build.py), prepares the seed's corpus once
in a JVM of its own (cached under .bench_build/perfbench/inputs; not part of
setup_s), then starts the benchmark JVM: it sets up (JVM start, Spark
session, input registration, one cold pass; that is setup_s), runs timed
passes back to back for --seconds (and at least the workload's warm-up
passes plus four), and checks its outputs. With --trace 1 it also registers
a SparkListener and reports the per-layer metrics instead of the end-to-end
ones. Outputs go to a private directory that is removed at the end.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORK = build.WORK
WORKLOADS = ("extract", "dedup", "extract_rotated")
DEADLINE_S = 170.0
HEAP = "1g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr, flush=True)
    sys.exit(code)


def cores():
    """Task threads: half the CPUs, leaving the rest to the JIT compiler, GC
    and driver threads, which on a shared VM makes the passes far steadier."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


class Jvm:
    """Runs benchmark JVMs with a private temp directory under `scratch`."""

    def __init__(self, classpath, scratch, deadline):
        self.classpath = classpath
        self.scratch = scratch
        self.deadline = deadline

    def __call__(self, mode, **kw):
        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = [build.java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m",
               "-Djava.io.tmpdir=" + tmp,
               "-Dspark.local.dir=" + tmp,
               "-Dspark.sql.warehouse.dir=" + os.path.join(self.scratch, "warehouse"),
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-Dspark.ui.enabled=false"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", m + "=ALL-UNNAMED"]
        cmd += ["-cp", self.classpath, "perfbench.Main", mode]
        for k, v in kw.items():
            cmd += ["--" + k, str(v)]
        if mode == "run":
            # set-up time counts from here, so it includes JVM start
            cmd += ["--t0", str(time.time_ns())]
        remaining = self.deadline - time.monotonic()
        if remaining <= 0:
            fail("out of time before %s" % mode)
        proc = subprocess.Popen(cmd, cwd=self.scratch, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=remaining)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("%s did not finish in time" % mode)
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            fail("%s exited with %d" % (mode, proc.returncode))
        return json.loads(lines[-1])


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    try:
        e2e_units, layer_units = declared_metrics()
        classpath = build.build()
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        fail(str(e))
    # the limit covers the JVMs; a build happens once per source tree
    deadline = time.monotonic() + DEADLINE_S

    scratch = os.path.join(WORK, "run-%d" % os.getpid())
    try:
        jvm = Jvm(classpath, scratch, deadline)
        common = dict(workload=a.workload, seed=a.seed, root=os.path.join(WORK, "inputs"))
        # preparation is not timed, so it may use every CPU
        prep = jvm("prep", all=a.trace, cores=len(os.sched_getaffinity(0)), **common)
        print("perfbench: input preparation %.2f s (0 when cached; not part of setup_s)"
              % prep["prep_s"], file=sys.stderr, flush=True)
        result = jvm("run", out=os.path.join(scratch, "out"), cores=cores(),
                     seconds=a.seconds, trace=a.trace, **common)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    m = result["metrics"]
    units = layer_units if a.trace else e2e_units
    missing = [k for k in units if m.get(k) is None]
    if missing:
        fail("metrics not measured: %s" % ", ".join(missing))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
