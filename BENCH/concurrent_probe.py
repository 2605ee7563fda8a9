#!/usr/bin/env python
"""Shared-box attribution probe for the scaling studies.

Question: when [4,4] (16 cores) underperforms 4x the [1,4] (4-core)
rate, is the loss in the ENGINE (inter-executor coordination, shuffle,
scheduling) or in the BOX (memory bandwidth / turbo headroom shared by
every core)?

Method: run FOUR completely independent local-cluster[1,4] jobs AT THE
SAME TIME (disjoint JVMs, no shared Spark state, each its own input
slice — same per-core work as one 4x-sized e4 run) and sum their
throughputs. Any deficit of that aggregate vs 4x the SOLO [1,4] rate is
pure box effect — there is no coordination to blame across independent
clusters. Then eff_box = aggregate / (4 x solo); the engine's own
coordination cost is eff_e4 / eff_box.

Round 5: the probe takes the same JOB argument as BENCH/scaling.py
(payloads are imported from there — one definition), so the attribution
argument extends to the shuffle-heavy dedup witness, not just the
map-dominated flagship (the r04 verdict's ask).

Usage: python BENCH/concurrent_probe.py [N_PER_JOB] [JOB=flagship|dedup]
  N_PER_JOB default: 6,000,000 for both jobs. For dedup, run at the
  SAME N as the scaling studies (6M): each child is then byte-for-byte
  the e1 study job, and smaller N can flip AQE into a misestimated
  broadcast of a verify-join side that OOMs the executor (measured at
  1.5M docs: a 396 MiB TorrentBroadcast under a 64 MB-threshold
  estimate — see SCALE.md §3's broadcast-misestimation note).
Prints one JSON line; append interpretation to BENCH/BASELINE.md.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "bench_scaling", os.path.join(REPO, "BENCH", "scaling.py")
)
_scaling = importlib.util.module_from_spec(_spec)
# scaling.py runs its study on import only under __main__; importing it
# here just gives us PAYLOADS (sys.argv is ours, so guard by name).
_scaling.__name__ = "bench_scaling"
_spec.loader.exec_module(_scaling)
PAYLOADS = _scaling.PAYLOADS

JOB = sys.argv[2] if len(sys.argv) > 2 else "flagship"
if JOB not in PAYLOADS:
    raise SystemExit(f"unknown JOB {JOB!r}; choose from {sorted(PAYLOADS)}")
_DEFAULT_N = {"flagship": 6_000_000, "dedup": 6_000_000}
N = int(sys.argv[1]) if len(sys.argv) > 1 else _DEFAULT_N[JOB]
# dedup needs the 6g executor heap the 6M studies settled on (shingle
# explode spill pressure at 4g showed as fake inefficiency), plus
# 4 partitions/core on the shuffle like scaling.py's run_once.
EXEC_MEM = os.environ.get(
    "SPARK_GRAFT_SCALING_EXEC_MEM", "6g" if JOB == "dedup" else "4g"
)
_WORKER_MB = int(EXEC_MEM.rstrip("gG")) * 1024
SHUFFLE = 4 * (4 if JOB == "dedup" else 1)

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import os
n = int(sys.argv[1]); reps = int(sys.argv[2])
total = 4
os.environ["SPARK_GRAFT_CPUS"] = "4"
from logstash_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark(master="local-cluster[1,4,{worker_mb}]",
                  shuffle_partitions={shuffle},
                  extra_conf={{"spark.ui.showConsoleProgress": "false",
                               "spark.driver.memory": "8g",
                               "spark.executor.memory": {exec_mem!r},
                               # this VM stalls whole JVMs for multi-second
                               # waves under contention; the default 120s
                               # network timeout then kills a healthy
                               # executor mid-study (observed repeatedly at
                               # t=+120s). Generous timeouts keep the probe
                               # measuring throughput, not flakiness.
                               "spark.network.timeout": "600s",
                               "spark.executor.heartbeatInterval": "30s"}})
spark.sparkContext.setLogLevel("ERROR")
{payload}
run_job()  # warm plan+codegen+JIT
best = None
for _ in range(reps):
    t0 = time.perf_counter(); run_job(); w = time.perf_counter() - t0
    best = w if best is None or w < best else best
print(json.dumps({{"sec": best, "rows_per_sec": n / best}}))
"""


def spawn(tag: str = "solo") -> subprocess.Popen:
    child = CHILD.format(
        repo=REPO,
        payload=PAYLOADS[JOB],
        worker_mb=_WORKER_MB,
        shuffle=SHUFFLE,
        exec_mem=EXEC_MEM,
    )
    err = open(f"/tmp/concurrent_probe_{JOB}_{tag}.err", "w")  # noqa: SIM115
    return subprocess.Popen(
        [sys.executable, "-c", child, str(N), "2"],
        stdout=subprocess.PIPE, stderr=err, text=True,
    )


def result(p: subprocess.Popen, tag: str = "solo", required: bool = True):
    out, _ = p.communicate(timeout=3600)
    for line in reversed(out.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    tail = ""
    try:
        with open(f"/tmp/concurrent_probe_{JOB}_{tag}.err") as fh:
            tail = fh.read()[-400:]
    except OSError:
        pass
    if required:
        raise RuntimeError(f"no result line ({tag}); stderr tail: {tail!r}")
    # a concurrent child can die on transient executor loss under full
    # box contention; main() then reports no efficiency: the survivors
    # ran on a less loaded box, so their sum is biased up (and retrying
    # the child ALONE would measure a solo epoch)
    sys.stderr.write(f"concurrent child {tag} died; stderr tail: {tail!r}\n")
    return None


def main() -> None:
    def solo_run(tag: str) -> dict:
        # solos retry once: a transient worker loss (this VM sheds an
        # executor JVM every so often) otherwise kills a 30-min study,
        # and a retried SOLO still measures the solo condition.
        try:
            return result(spawn(tag), tag)
        except RuntimeError as e:
            sys.stderr.write(f"{e}\nretrying {tag} once\n")
            return result(spawn(tag + "r"), tag + "r")

    # solo baseline: one [1,4] job alone on the box
    solo = solo_run("solo0")
    # aggregate: four independent [1,4] jobs simultaneously
    t0 = time.time()
    procs = [(spawn(f"c{i}"), f"c{i}") for i in range(4)]
    rs = [result(p, tag, required=False) for p, tag in procs]
    ok = [r for r in rs if r is not None]
    agg = sum(r["rows_per_sec"] for r in ok)
    # second solo to bracket epoch drift
    solo2 = solo_run("solo1")
    solo_best = max(solo["rows_per_sec"], solo2["rows_per_sec"])
    print(json.dumps({
        "job": JOB,
        "n_per_job": N,
        "solo_1x4_rows_per_sec": round(solo["rows_per_sec"]),
        "solo_1x4_after_rows_per_sec": round(solo2["rows_per_sec"]),
        "concurrent_each": [round(r["rows_per_sec"]) for r in ok],
        "concurrent_children_died": len(rs) - len(ok),
        "concurrent_aggregate_rows_per_sec": round(agg),
        # null when any child died: no survivor-biased efficiency
        "eff_box_vs_nx_solo": (
            round(agg / (len(rs) * solo_best), 3) if len(ok) == len(rs) else None
        ),
        "wall_concurrent_sec": round(time.time() - t0, 1),
    }))


if __name__ == "__main__":
    main()
