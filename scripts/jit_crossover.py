"""JIT-policy crossover: ``python scripts/jit_crossover.py``.

Writes the files table (JIT_ROWS rows, default 10M, ~1.4 GB parquet
under $JIT_DATA_DIR) once.  Then, for each policy, starts a fresh
local[4] 2g ``get_spark`` session and runs the flagship validation plus
one aggregate 3 times, reporting the JVM's process CPU and the wall of
each run.  Asserts that every policy gives the same result row and
writes the table to BENCH/JIT.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from fences_spark import flagship, session, synth  # noqa: E402

ROWS = int(os.environ.get("JIT_ROWS", "10000000"))
DATA = os.path.join(os.environ.get("JIT_DATA_DIR", "/tmp/fences_jit_data"), f"files_{ROWS}")
POLICIES = {
    "JVM default": "",
    "JIT_POLICY": session.JIT_POLICY,
    "C1 only": "-XX:TieredStopAtLevel=1",
}
ITERATIONS = 3


def process_cpu_s(spark) -> float:
    """The driver JVM's process CPU time.  The bean's implementation
    class is not public, so the call goes through the public interface."""
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    iface = jvm.java.lang.Class.forName("com.sun.management.OperatingSystemMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(iface)
    method = iface.getMethod("getProcessCpuTime", gateway.new_array(jvm.java.lang.Class, 0))
    return method.invoke(bean, gateway.new_array(jvm.java.lang.Object, 0)) / 1e9


def job(spark) -> list:
    res = flagship.validate_files(spark.read.parquet(DATA))
    sums = [F.sum(F.col(r).cast("long")) for r in res.rule_ids]
    row = res.df.agg(F.count("*"), *sums, F.expr("bit_xor(xxhash64(content_sha256))")).first()
    return list(row)


def child(policy: str) -> None:
    """Runs in its own process, so each policy gets a fresh JVM."""
    spark = session.get_spark(app="jit_crossover", cores=4, extra={
        "spark.driver.memory": "2g",
        "spark.driver.defaultJavaOptions": POLICIES.get(policy, ""),
    })
    if policy == "gen":
        synth.files_table(spark, ROWS).write.mode("overwrite").parquet(DATA)
    else:
        for _ in range(ITERATIONS):
            c0, t0 = process_cpu_s(spark), time.perf_counter()
            row = job(spark)
            cpu, wall = process_cpu_s(spark) - c0, time.perf_counter() - t0
            print(json.dumps({"cpu": cpu, "wall": wall, "row": row}), flush=True)
    spark.stop()


def run(policy: str) -> list[dict]:
    out = subprocess.run([sys.executable, __file__, policy],
                         stdout=subprocess.PIPE, text=True, check=True)
    return [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]


def cells(its: list[dict], key: str) -> str:
    return " / ".join(f"{it[key]:.1f}" for it in its)


def main() -> None:
    if not os.path.exists(os.path.join(DATA, "_SUCCESS")):
        run("gen")
    res = {p: run(p) for p in POLICIES}
    rows = {json.dumps(it["row"]) for its in res.values() for it in its}
    if len(rows) != 1:
        sys.exit(f"policies disagree: {rows}")
    warm = {p: sum(it["cpu"] for it in its[1:]) / (ITERATIONS - 1) for p, its in res.items()}
    md = [
        f"# JIT crossover: {ROWS:,}-row typed validation, local[4], 2g heap, "
        f"{os.cpu_count()} vCPUs",
        "",
        f"`python scripts/jit_crossover.py`; result row, equal under every policy: "
        f"`{rows.pop()}`",
        "",
        "| policy | JVM options | JVM CPU s, iterations 1/2/3 | wall s | warm CPU vs default |",
        "|---|---|---|---|---|",
    ]
    for p, its in res.items():
        md.append(f"| {p} | `{POLICIES[p] or '-'}` | {cells(its, 'cpu')} | "
                  f"{cells(its, 'wall')} | {warm[p] / warm['JVM default']:.2f}x |")
    with open(os.path.join(REPO, "BENCH", "JIT.md"), "w") as f:
        f.write("\n".join(md) + "\n")
    print("\n".join(md))


if __name__ == "__main__":
    if len(sys.argv) > 1:
        child(sys.argv[1])
    else:
        main()
