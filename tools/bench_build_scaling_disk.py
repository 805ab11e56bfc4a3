"""Build-path scaling efficiency on a DISK-BACKED corpus (r4 verdict #3).

North rule: throughput scaling efficiency >=0.8 from N to 4N executors.
Prior artifacts regenerated the synthetic corpus inside every measured
subprocess, so a 2-core rep burned ~30 min of generation before the
timed build even started.  This tool instead writes the corpus to
parquet ONCE (at full parallelism) and each measured rep reads it back —
which is also the north-rule-faithful shape: the production input is an
Iceberg TABLE of source-code repositories, not an in-memory generator,
so "build throughput" legitimately includes the scan.

Protocol (BASELINE.md "Measurement protocol" — shared-VM noise rules):
interleaved lo,hi,lo,hi,... reps, per-level MEDIAN files/s, plus the
no-Spark hardware-ceiling probe for the SAME core pair in the same
session (independent python processes running the tokenize kernel).

Run: PYTHONPATH=. python tools/bench_build_scaling_disk.py
Env: SCALE_DOCS (default 4_000_000), SCALE_CORES ("2,8"),
     SCALE_REPS (3), SCALE_CORPUS_PATH (default /tmp/gs_scale_corpus).
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("SCALE_DOCS", "4000000"))
LO, HI = (int(x) for x in os.environ.get("SCALE_CORES", "2,8").split(","))
REPS = int(os.environ.get("SCALE_REPS", "3"))
CORPUS = os.environ.get(
    "SCALE_CORPUS_PATH", f"/tmp/gs_scale_corpus_{N_DOCS}"
)
MEM_PER_CORE_GB = int(os.environ.get("SCALE_MEM_PER_CORE_GB", "8"))

# one measured rep: read the corpus table at local[cores], build the
# inverted index (scan -> tokenize -> salted repartition-by-term ->
# block encode), materialize via parquet write; prints seconds
#
# Scan-split sizing: the default 128MB maxPartitionBytes gives a ~2.5GB
# 4M-doc corpus only ~20 scan splits, so the dominant tokenize stage runs
# 2.5 task WAVES at 8 cores (the last wave idles half the machine; stage
# metrics measured 6.55/8 average concurrency = 82%% packing) while 2
# cores get exactly 10 full waves — wave quantization that punishes the
# 4N level only.  This is a toy-scale artifact: a production 100TB table
# has ~800k splits and every stage runs hundreds of waves per core.  The
# faithful local emulation sizes splits so the scan yields at least
# WAVES_PER_CORE tasks per core (Spark's own tuning guidance: several
# tasks per core), bounded to [16MB, 128MB].
_WORKER = r"""
import os, sys, time
sys.path.insert(0, %(repo)r)
os.environ["SPARK_GRAFT_CPUS"] = str(%(cores)d)
from groonga_spark.session import get_spark
from groonga_spark.index.build import build_index
corpus_bytes = sum(
    os.path.getsize(os.path.join(d, f))
    for d, _, files in os.walk(%(corpus)r)
    for f in files if f.endswith(".parquet")
)
if corpus_bytes <= 0:
    sys.exit("no .parquet files under %(corpus)s: cannot size scan splits")
spark = get_spark("scale_disk_%(cores)d", cores=%(cores)d)
spark.sparkContext.setLogLevel("ERROR")
split = max(16 << 20, min(128 << 20, corpus_bytes // (%(cores)d * %(waves)d)))
spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
corpus = spark.read.parquet(%(corpus)r)
t0 = time.perf_counter()
idx = build_index(corpus, ["content"], tokenizer="code")
idx.postings.write.mode("overwrite").parquet("/tmp/gs_scale_idx_%(cores)d")
print(time.perf_counter() - t0)
"""
WAVES_PER_CORE = int(os.environ.get("SCALE_WAVES_PER_CORE", "8"))


def ceiling_probe(lo: int, hi: int) -> dict:
    """Hardware ceiling for THIS pair: K independent no-Spark python
    processes each tokenize their own docs; if they don't scale, no job
    on this host can (bench.py --ceiling, parametrized to the pair)."""
    worker = (
        "import sys, time; sys.path.insert(0, %r); "
        "from groonga_spark.corpus import doc_row; "
        "from groonga_spark.tokenize import tokenize_batch; "
        "docs=[doc_row(i)[4] for i in range(4000)]; "
        "t0=time.perf_counter(); "
        "[tokenize_batch(docs, 'code') for _ in range(5)]; "
        "print(time.perf_counter()-t0)"
    ) % REPO
    out = {}
    for nproc in (lo, hi):
        ps = [
            subprocess.Popen(
                [sys.executable, "-c", worker], stdout=subprocess.PIPE
            )
            for _ in range(nproc)
        ]
        times = [float(p.communicate()[0]) for p in ps]
        out[str(nproc)] = round(nproc * 20000 / max(times), 0)
    return {
        "agg_docs_per_sec": out,
        "ceiling_eff": round(out[str(hi)] / out[str(lo)] / (hi / lo), 3),
    }


def main() -> None:
    if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        # one-time corpus materialization at full parallelism (NOT timed)
        from groonga_spark.corpus import corpus_df
        from groonga_spark.session import get_spark

        spark = get_spark("scale_disk_gen", cores=32)
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        corpus_df(spark, N_DOCS, n_partitions=64).write.mode(
            "overwrite"
        ).parquet(CORPUS)
        print(f"corpus gen+write {time.perf_counter()-t0:.0f}s", file=sys.stderr)
        spark.stop()

    runs: dict[int, list[float]] = {LO: [], HI: []}
    driver_mem: dict[int, str] = {}  # effective heap per level (env may preset it)
    for rep in range(REPS):
        for cores in (LO, HI):
            code = _WORKER % {
                "repo": REPO,
                "cores": cores,
                "corpus": CORPUS,
                "waves": WAVES_PER_CORE,
            }
            env = dict(os.environ)
            # Memory per core is held CONSTANT across the pair (the
            # cluster-faithful shape: the north rule scales EXECUTORS,
            # each bringing its own heap, so a real N -> 4N scale-up has
            # 4x the total memory).  A fixed local-mode heap instead cuts
            # memory-per-task 4x at the 4N level, and the 4N build pays
            # sort/shuffle spill the N build never sees — that asymmetry
            # is a sandbox artifact, not a property of the job.
            env.setdefault("SPARK_DRIVER_MEM", f"{cores * MEM_PER_CORE_GB}g")
            driver_mem[cores] = env["SPARK_DRIVER_MEM"]
            out = subprocess.run(
                [sys.executable, "-c", code],
                env=env,
                capture_output=True,
                text=True,
                check=True,
            )
            secs = float(out.stdout.strip().splitlines()[-1])
            runs[cores].append(secs)
            print(
                f"rep{rep} local[{cores}]: {secs:.1f}s "
                f"({N_DOCS/secs:.0f} files/s)",
                file=sys.stderr,
            )

    med = lambda xs: sorted(xs)[len(xs) // 2]
    fps = {c: round(N_DOCS / med(runs[c]), 1) for c in (LO, HI)}
    eff = round(fps[HI] / fps[LO] / (HI / LO), 4)
    ceil = ceiling_probe(LO, HI)
    print(
        json.dumps(
            {
                "metric": (
                    f"index-build scaling efficiency local[{LO}] -> "
                    f"local[{HI}] on a disk-backed {N_DOCS}-file corpus "
                    f"(median of {REPS} interleaved reps; scan included "
                    "in build time — north-rule input is a table)"
                ),
                "value": eff,
                "unit": "efficiency",
                "n_docs": N_DOCS,
                "mem_per_core_gb": MEM_PER_CORE_GB,
                "waves_per_core": WAVES_PER_CORE,
                "driver_mem": {str(c): driver_mem[c] for c in (LO, HI)},
                "build_files_per_sec": {"N": fps[LO], "4N": fps[HI]},
                "build_secs": {str(c): runs[c] for c in (LO, HI)},
                "hardware_ceiling_same_pair": ceil,
                "eff_of_ceiling": round(eff / ceil["ceiling_eff"], 3)
                if ceil["ceiling_eff"]
                else None,
            }
        )
    )


if __name__ == "__main__":
    main()
