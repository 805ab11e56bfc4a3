"""Update-commit A/B across storage layouts (r4 verdict #8): what does
COMMITTING a 0.1% churn actually cost, in wall time and bytes written,
under each shape?

Arms (each rep runs every arm on a pristine copy of the base index):
  rebuild        — build_index(updated corpus) + write_index packed
  packed_commit  — apply_update (block-surgical, in-memory) + write_index
                   packed: compute is churn-proportional but the commit
                   rewrites the whole postings table
  br_surgical    — blockrows.commit_update(mode="surgical"): decode
                   touched blocks, delta commit (appends + block
                   tombstones; dictionary/doclens overwritten)
  br_append      — blockrows.commit_update(mode="append_only"): no
                   decode; appends + gen-aware doc tombstones only

Bytes written = total size of files under the arm's storage dir whose
mtime >= the commit's start (parquet part files + metadata).

Run: PYTHONPATH=. python tools/ab_update_layout.py
Env: ABL_DOCS (default 1_000_000), ABL_CHURN_PCT (0.1), ABL_REPS (3),
ABL_ARMS (comma-separated subset of the arms; unknown names exit 1).
"""
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from groonga_spark.corpus import corpus_df
from groonga_spark.index import blockrows
from groonga_spark.index.build import build_index
from groonga_spark.index.checkpoint import write_index
from groonga_spark.index.update import apply_update
from groonga_spark.query.engine import SearchEngine
from groonga_spark.session import get_spark

N_DOCS = int(os.environ.get("ABL_DOCS", "1000000"))
CHURN_PCT = float(os.environ.get("ABL_CHURN_PCT", "0.1"))
REPS = int(os.environ.get("ABL_REPS", "3"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ROOT = f"/tmp/gs_ab_layout_{N_DOCS}"
ARM_NAMES = ("rebuild", "packed_commit", "br_surgical", "br_append")
# ABL_ARMS=rebuild,br_append subsets the arms (large-N runs where the
# measured-slower packed/surgical arms would dominate the machine time);
# rebuild stays mandatory — it is the comparison denominator.  Checked
# before any Spark work: a misspelled arm would otherwise silently vanish
# from the artifact.
SELECTED = {a.strip() for a in os.environ.get("ABL_ARMS", "").split(",") if a.strip()}
if SELECTED - set(ARM_NAMES):
    sys.exit(
        f"ABL_ARMS: unknown arm(s) {sorted(SELECTED - set(ARM_NAMES))}; "
        f"known arms: {', '.join(ARM_NAMES)}"
    )

spark = get_spark("ab_update_layout", cores=CORES)
spark.sparkContext.setLogLevel("ERROR")


def dir_bytes_since(path: str, t0: float) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            fp = os.path.join(dirpath, fn)
            try:
                st = os.stat(fp)
            except OSError:
                continue
            if st.st_mtime >= t0:
                total += st.st_size
    return total


corpus = corpus_df(spark, N_DOCS, n_partitions=max(CORES, 8)).persist()
corpus.count()
t0 = time.perf_counter()
idx = build_index(corpus, ["content"], tokenizer="code").persist()
base_build_s = round(time.perf_counter() - t0, 1)
print(f"base build {base_build_s}s", file=sys.stderr)

mod = max(1, int(round(100.0 / CHURN_PCT)))
old_docs = corpus.filter(F.col("doc_id") % mod == 0).persist()
n_churn = old_docs.count()
new_docs = old_docs.withColumn(
    "content", F.concat(F.lit("updated revision "), F.col("content"))
).persist()
new_docs.count()
updated_corpus = (
    corpus.join(old_docs.select("doc_id"), "doc_id", "left_anti")
    .unionByName(new_docs)
    .persist()
)
updated_corpus.count()
print(f"churn: {n_churn} docs", file=sys.stderr)

# pristine on-disk bases (written once, copied per rep)
shutil.rmtree(ROOT, ignore_errors=True)
os.makedirs(ROOT)
write_index(idx, f"{ROOT}/base_packed")
blockrows.write_index_block_rows(idx, f"{ROOT}/base_br")
base_packed_bytes = dir_bytes_since(f"{ROOT}/base_packed", 0)
base_br_bytes = dir_bytes_since(f"{ROOT}/base_br", 0)
print(
    f"base sizes: packed {base_packed_bytes/1e6:.0f}MB "
    f"br {base_br_bytes/1e6:.0f}MB",
    file=sys.stderr,
)


def arm_rebuild():
    d = f"{ROOT}/arm_rebuild"
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.perf_counter()
    e2 = build_index(updated_corpus, ["content"], tokenizer="code")
    write_index(e2, d)
    return time.perf_counter() - t0, dir_bytes_since(d, 0)


def arm_packed():
    d = f"{ROOT}/arm_packed"
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(f"{ROOT}/base_packed", d)
    from groonga_spark.index.checkpoint import read_index

    base = read_index(spark, d)
    t0 = time.time()
    tp0 = time.perf_counter()
    upd = apply_update(base, old_docs, new_docs)
    write_index(upd, d)
    return time.perf_counter() - tp0, dir_bytes_since(d, t0)


def _arm_br(mode):
    d = f"{ROOT}/arm_br_{mode}"
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(f"{ROOT}/base_br", d)
    t0 = time.time()
    tp0 = time.perf_counter()
    blockrows.commit_update(d, old_docs, new_docs, mode=mode)
    return time.perf_counter() - tp0, dir_bytes_since(d, t0)


ARMS = {
    "rebuild": arm_rebuild,
    "packed_commit": arm_packed,
    "br_surgical": lambda: _arm_br("surgical"),
    "br_append": lambda: _arm_br("append_only"),
}
assert tuple(ARMS) == ARM_NAMES
if SELECTED:
    ARMS = {a: fn for a, fn in ARMS.items() if a in SELECTED | {"rebuild"}}

res = {a: {"s": [], "bytes": []} for a in ARMS}
order = list(ARMS)
for rep in range(REPS):
    seq = order if rep % 2 == 0 else order[::-1]
    for a in seq:
        s, b = ARMS[a]()
        res[a]["s"].append(round(s, 2))
        res[a]["bytes"].append(int(b))
        print(f"rep{rep} {a}: {s:.1f}s {b/1e6:.0f}MB", file=sys.stderr)

med = lambda xs: sorted(xs)[len(xs) // 2]
out = {
    "metric": (
        f"update COMMIT cost by layout ({CHURN_PCT}% churn, {N_DOCS} docs, "
        f"median of {REPS} interleaved reps; bytes = files written)"
    ),
    "n_docs": N_DOCS,
    "n_churn_docs": n_churn,
    "cores": CORES,
    "base_build_s": base_build_s,
    "base_bytes": {"packed": base_packed_bytes, "block_rows": base_br_bytes},
    "arms": {
        a: {
            "commit_s": med(v["s"]),
            "bytes_written": med(v["bytes"]),
            "raw": v,
        }
        for a, v in res.items()
    },
}
for a in [k for k in ("packed_commit", "br_surgical", "br_append") if k in ARMS]:
    out["arms"][a]["speedup_vs_rebuild"] = round(
        out["arms"]["rebuild"]["commit_s"] / max(out["arms"][a]["commit_s"], 1e-9),
        2,
    )
    out["arms"][a]["write_amp_vs_rebuild"] = round(
        out["arms"][a]["bytes_written"]
        / max(out["arms"]["rebuild"]["bytes_written"], 1),
        4,
    )
print(json.dumps(out))
