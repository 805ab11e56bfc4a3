"""One-block-per-row postings layout — the low-WRITE-amplification
deployment shape (r4 verdict #8; module-docstring caveat in update.py).

The default ("packed") layout stores one row per (term, pbucket, salt
bucket) with a ``blocks`` ARRAY; an incremental commit therefore dirties
a touched block's whole row, and — because ``ParquetDirStorage`` commits
are full-table overwrites — writes the entire postings table even when
the churn touched 0.1% of it.  This module stores **one block per row**:

    postings_rows(pbucket, term, first_doc_id, last_doc_id, n, enc,
                  doc_deltas, sids, tfs, dls, pos_deltas, max_tf,
                  max_score)

and expresses an incremental update as a **delta commit**:

    appends  = the re-encoded touched+new postings, exploded to rows
    deletes  = the touched block keys (term, first_doc_id) appended to a
               ``postings_deletes`` tombstone table (readers anti-join)

Neither side scales with index size — this is grn_ii's buffer-insert
write locality (reference lib/ii.c:3725, one buffer segment dirtied per
updated term) re-expressed on immutable storage.  On Iceberg the same
delta is a MERGE (row-level delete files); on parquet directories the
tombstone table IS the delete file, LSM-style, and :func:`compact`
folds it in (the Iceberg analogue: rewrite_data_files).

Two deliberate non-deltas, both vocab/corpus-ROW-sized (narrow columns,
orders of magnitude under the postings bytes): the dictionary (df/cf
change for every affected term — the Zipf head — so a delta buys
nothing) and doclens are committed by overwrite each update.

``df`` / ``n_postings`` are NOT stored per row — df per row would force
rewriting every affected term's every row on update (the Zipf-head
write-amp this layout exists to kill).  Readers attach df by a
broadcast join against the (term-range-sorted) dictionary — see
``SearchEngine._filtered_blocks``'s block-rows branch.

Block key note: rows carry a ``gen`` (commit generation) column and
tombstones are keyed (term, first_doc_id, gen).  The gen exists because
a REPLACED doc keeps its doc id: the old block containing it is
tombstoned, and the re-encoded replacement block can legitimately start
at the very same (term, first_doc_id) — a bare-key tombstone would kill
the new row along with the old.  Among LIVE rows (term, first_doc_id)
stays unique (a new block's first doc is either a fresh id or a
replaced id whose old block was necessarily touched and tombstoned),
which the tests assert; decode paths aggregate across rows regardless.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    DEFAULT_N_PBUCKETS,
    DEFAULT_POSTINGS_PER_BUCKET,
    InvertedIndex,
)
from .checkpoint import _load_stats
from .update import _update_parts

_BLOCK_COLS = [
    "first_doc_id",
    "last_doc_id",
    "n",
    "enc",
    "doc_deltas",
    "sids",
    "tfs",
    "dls",
    "pos_deltas",
    "max_tf",
    "max_score",
]


def explode_to_rows(postings: DataFrame, gen: int = 0) -> DataFrame:
    """Packed POSTINGS_SCHEMA → one block per row (df/n_postings dropped;
    df is the dictionary's job in this layout)."""
    return postings.select(
        "pbucket", "term", F.explode("blocks").alias("b")
    ).select(
        "pbucket",
        "term",
        *[F.col(f"b.{c}") for c in _BLOCK_COLS],
        F.lit(gen).cast("int").alias("gen"),
    )


def regroup_rows(rows: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Block rows → the packed runtime shape (compat path for consumers
    of ``InvertedIndex.postings`` — apply_update, write_index(packed)).
    One shuffle on (term, pbucket); the engine's query hot path never
    calls this (it reads the rows directly)."""
    return (
        rows.groupBy("term", "pbucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(*_BLOCK_COLS))
            ).alias("blocks"),
            F.sum("n").cast("long").alias("n_postings"),
        )
        .join(dictionary.select("term", "df"), "term")
        .withColumn("bucket", F.lit(0))
        .select("term", "pbucket", "bucket", "df", "n_postings", "blocks")
    )


def _meta_path(path: str) -> str:
    return os.path.join(path, "stats.json")


def _write_meta(
    index: InvertedIndex, path: str, gen: int, n_doc_tombstones: int = 0
) -> None:
    os.makedirs(path, exist_ok=True)
    with open(_meta_path(path), "w") as f:
        json.dump(
            {
                "layout": "block_rows",
                "commit_gen": int(gen),
                "n_doc_tombstones": int(n_doc_tombstones),
                "n_docs": index.stats.n_docs,
                "section_tokens": index.stats.section_tokens,
                "sections": index.stats.sections,
                "tokenizer": index.tokenizer,
                "n_pbuckets": index.n_pbuckets,
                "token_filters": list(index.token_filters),
                "stopwords": sorted(index.stopwords),
                "bounds_exact": bool(index.bounds_exact),
            },
            f,
        )


def write_index_block_rows(index: InvertedIndex, path: str, storage=None):
    """Persist ``index`` in the one-block-per-row layout.  Rows are
    partitioned by pbucket (same directory-level pruning as packed) and
    sorted by term within partitions so parquet row-group min/max stats
    prune term-selective scans (the commit path's affected-term probe and
    the engine's per-query term filter both benefit)."""
    spark = index.dictionary.sparkSession
    if storage is None:
        from ..storage import ParquetDirStorage

        storage = ParquetDirStorage(spark, path)
    storage.overwrite(
        "dictionary",
        index.dictionary.repartitionByRange(F.col("term")).sortWithinPartitions(
            "term"
        ),
    )
    storage.overwrite(
        "postings_rows",
        explode_to_rows(index.postings).sortWithinPartitions("term"),
        partition_by=["pbucket"],
    )
    storage.overwrite("doclens", index.doclens)
    # empty tombstone table (schema-stable so readers can always anti-join)
    storage.overwrite(
        "postings_deletes",
        spark.createDataFrame([], "term string, first_doc_id long, gen int"),
    )
    _write_meta(index, path, gen=0)


def read_index_block_rows(
    spark: SparkSession, path: str, storage=None
) -> InvertedIndex:
    if storage is None:
        from ..storage import ParquetDirStorage

        storage = ParquetDirStorage(spark, path)
    with open(_meta_path(path)) as f:
        meta = json.load(f)
    if meta.get("layout") != "block_rows":
        raise ValueError(f"{path} is not a block_rows index")
    stats = _load_stats(_meta_path(path))
    rows = storage.read("postings_rows")
    dels = storage.read("postings_deletes")
    # tombstones are churn-proportional between compactions → broadcast
    live = rows.join(
        F.broadcast(dels), ["term", "first_doc_id", "gen"], "left_anti"
    )
    n_doc_tombs = int(meta.get("n_doc_tombstones", 0))
    if n_doc_tombs:
        # append-only commits: dead docs are masked at decode time via a
        # per-block ``_excl`` array (tombstoned ids overlapping the
        # block's [first, last] range), persisted because every query's
        # decode references it.  gen-aware: a tombstone only masks rows
        # from OLDER commits — a replaced doc's re-appended postings
        # (same doc id, gen = the tombstone's commit) must survive.
        #
        # Join strategy (measured, bench_blockrows_read): a plain
        # broadcast RANGE join is a nested loop over every live block row
        # × every tombstone — O(n_blocks · tombs), 24 s of per-reader
        # _excl build at 1M docs × 8 stacked 0.1% commits, and growing
        # with BOTH index size and churn history.  Reuse update.py's
        # touched-block split instead: *narrow* blocks (dense terms)
        # overlap few 4096-id buckets → explode to buckets and broadcast
        # HASH-join the bucketized tombstones; *wide* blocks (rare terms
        # whose 128 postings straddle a large id range) would explode
        # O(span/bucket) rows, so they alone take the broadcast range
        # join — both sides of every join are now churn- or
        # density-bounded, never O(n_blocks · tombs).
        tombs = storage.read("doc_deletes").select(
            "doc_id", F.col("gen").alias("_tgen")
        )
        _B = 1 << 12
        _WIDE_BKTS = 64
        blk = live.select("term", "first_doc_id", "last_doc_id", "gen")
        n_bkts = (F.col("last_doc_id") / _B).cast("long") - (
            F.col("first_doc_id") / _B
        ).cast("long")
        tombk = tombs.withColumn("_bkt", (F.col("doc_id") / _B).cast("long"))
        in_range_newer = (
            (F.col("doc_id") >= F.col("first_doc_id"))
            & (F.col("doc_id") <= F.col("last_doc_id"))
            & (F.col("_tgen") > F.col("gen"))
        )
        hits_narrow = (
            blk.filter(n_bkts < _WIDE_BKTS)
            .withColumn(
                "_bkt",
                F.explode(
                    F.sequence(
                        (F.col("first_doc_id") / _B).cast("long"),
                        (F.col("last_doc_id") / _B).cast("long"),
                    )
                ),
            )
            .join(F.broadcast(tombk), "_bkt")
            .filter(in_range_newer)
            .drop("_bkt")
        )
        hits_wide = blk.filter(n_bkts >= _WIDE_BKTS).join(
            F.broadcast(tombs), in_range_newer
        )
        ex = (
            hits_narrow.unionByName(hits_wide)
            .groupBy("term", "first_doc_id", "gen")
            .agg(F.collect_set("doc_id").alias("_excl"))
            .persist()
        )
        live = live.join(ex, ["term", "first_doc_id", "gen"], "left")
    dictionary = storage.read("dictionary")
    idx = InvertedIndex(
        dictionary=dictionary,
        # compat packed frame (lazy, cold path); with pending doc
        # tombstones the packed shape cannot express the decode-time
        # mask — require compaction first
        postings=(
            regroup_rows(live, dictionary)
            if not n_doc_tombs
            else _raise_on_use(
                "index has pending doc tombstones (append-only commits): "
                "run blockrows.compact() before using packed-layout APIs"
            )
        ),
        doclens=storage.read("doclens"),
        stats=stats,
        tokenizer=meta["tokenizer"],
        token_filters=tuple(meta.get("token_filters", [])),
        stopwords=frozenset(meta.get("stopwords", [])),
        n_pbuckets=int(meta.get("n_pbuckets", DEFAULT_N_PBUCKETS)),
        bounds_exact=bool(meta.get("bounds_exact", True)),
    )
    idx.postings_rows = live  # engine hot path reads rows directly
    idx.n_doc_tombstones = n_doc_tombs
    return idx


class _raise_on_use:
    """Lazy error placeholder for InvertedIndex.postings when the packed
    shape is unavailable; any attribute access raises."""

    def __init__(self, msg: str):
        self._msg = msg

    def __getattr__(self, name):
        raise RuntimeError(self._msg)


def commit_update(
    path: str,
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    postings_per_bucket: int = DEFAULT_POSTINGS_PER_BUCKET,
    n_pbuckets: "int | None" = None,
    storage=None,
    mode: str = "surgical",
) -> InvertedIndex:
    """Apply an upsert/delete batch to the block_rows index at ``path``
    as a DELTA commit and return the reloaded index.

    The batch's bookkeeping runs on the driver (``update._update_parts``):
    it is collected and tokenized once, and the new stats, the affected
    terms' dictionary rows, the tombstones and the new docs' doclens rows
    are driver arithmetic.  The cluster runs only the work that scales
    with touched blocks, plus the table writes.  Bound: ``old_docs`` holds
    the indexed value by contract and both frames are collected, so the
    batch must fit on the driver; a bulk change goes through
    ``build_index`` + :func:`write_index_block_rows` instead.

    ``mode="surgical"``: blocks containing a tombstoned doc are decoded,
    survivors re-encoded with the new docs, old rows tombstoned — decode
    volume O(churn · terms-per-doc · block_size).  ``mode="append_only"``:
    NO decode at all — new docs' postings append, dead docs are masked at
    decode time by gen-aware doc tombstones (grn/Lucene deleted-docs
    semantics; Iceberg equality-delete files), deferring the block
    rewrite to :func:`compact`.  Scores are rebuild-identical either way
    (dictionary/doclens/stats deltas are exact; df/idf never read from
    stale rows on this layout).

    Write amplification: appends + tombstones are churn-proportional in
    both modes; only dictionary/doclens (narrow, row-sized) are
    overwritten.  Compare the packed path, where committing
    apply_update's result rewrites the whole postings table.
    tools/ab_update_layout.py measures all three."""
    spark = old_docs.sparkSession
    if storage is None:
        from ..storage import ParquetDirStorage

        storage = ParquetDirStorage(spark, path)
    index = read_index_block_rows(spark, path, storage=storage)
    # the bucket modulus is a property of the INDEX (queries compute a
    # term's pbucket driver-side from it) — a mismatched commit would
    # append rows the pruning filter never reads
    if n_pbuckets is None:
        n_pbuckets = index.n_pbuckets
    elif n_pbuckets != index.n_pbuckets:
        raise ValueError(
            f"n_pbuckets={n_pbuckets} != index's {index.n_pbuckets}"
        )
    with open(_meta_path(path)) as f:
        meta = json.load(f)
    gen = int(meta.get("commit_gen", 0)) + 1
    p = _update_parts(
        index,
        old_docs,
        new_docs,
        id_col,
        postings_per_bucket,
        n_pbuckets,
        append_only=(mode == "append_only"),
    )
    # _update_parts has already snapshotted the touched blocks; the appends
    # read only that snapshot and driver literals, never postings_rows, so
    # they may be written lazily after the tables start to change.  Each
    # pbucket's rows go to one writer task: one small file per touched
    # pbucket instead of one per (encode task, pbucket) — half the
    # commit's bytes were parquet footers, and every file costs readers
    appends = explode_to_rows(p["reenc"], gen=gen).repartition(
        spark.sparkContext.defaultParallelism, "pbucket"
    )
    storage.append("postings_rows", appends, partition_by=["pbucket"])
    if mode == "append_only":
        doc_dels = p["tomb"].select("doc_id", F.lit(gen).cast("int").alias("gen"))
        n_new_tombs = p["n_tomb"]
        if storage.exists("doc_deletes"):
            storage.append("doc_deletes", doc_dels)
        else:
            storage.create("doc_deletes", doc_dels)
    else:
        n_new_tombs = 0
        storage.append("postings_deletes", p["touched_keys"])
    storage.overwrite(
        "dictionary",
        p["dictionary"]
        .repartitionByRange(F.col("term"))
        .sortWithinPartitions("term"),
    )
    storage.overwrite("doclens", p["doclens"])
    upd = InvertedIndex(
        dictionary=index.dictionary,
        postings=index.postings,
        doclens=index.doclens,
        stats=p["stats"],
        tokenizer=index.tokenizer,
        token_filters=index.token_filters,
        stopwords=index.stopwords,
        n_pbuckets=n_pbuckets,
        bounds_exact=False,
    )
    _write_meta(
        upd,
        path,
        gen=gen,
        n_doc_tombstones=int(meta.get("n_doc_tombstones", 0)) + n_new_tombs,
    )
    for t in ("postings_rows", "postings_deletes", "dictionary", "doclens"):
        storage.refresh(t)
    return read_index_block_rows(spark, path, storage=storage)


def compact(path: str, storage=None) -> None:
    """Fold both tombstone kinds into postings_rows (Iceberg analogue:
    rewrite_data_files + delete-file expiry).  Block tombstones drop
    rows; doc tombstones (append-only commits) make the DEFERRED block
    rewrite happen here — dirty blocks (non-null ``_excl`` after the
    read-time mask join) are decoded, survivors re-encoded under the
    current exact stats, everything else passes through byte-identical.
    Run when tombstones grow past a few % of rows."""
    spark = SparkSession.getActiveSession()
    if storage is None:
        from ..storage import ParquetDirStorage

        storage = ParquetDirStorage(spark, path)
    idx = read_index_block_rows(spark, path, storage=storage)
    live = idx.postings_rows  # block tombstones + _excl mask already wired
    gen = 0  # compaction resets generations (no tombstones survive it)
    if getattr(idx, "n_doc_tombstones", 0):
        from ..query.decode import decoded_postings
        from .build import _pos_bytes_udf, encode_postings, salted_tf

        dirty = live.filter(F.col("_excl").isNotNull())
        clean = live.filter(F.col("_excl").isNull()).drop("_excl")
        dirty_terms = dirty.select("term").distinct()
        ddf = idx.dictionary.join(F.broadcast(dirty_terms), "term").select(
            "term", "df"
        )
        # decoded_postings applies the _excl mask → survivors only
        dec = decoded_postings(
            dirty.join(F.broadcast(ddf), "term"), with_pos=True
        ).select(
            "term",
            "doc_id",
            "sid",
            F.col("tf").cast("long").alias("tf"),
            _pos_bytes_udf(F.col("positions")).alias("pos_bytes"),
        )
        avgdl_by_sid = {
            sid: idx.stats.avgdl(sid) for sid in idx.stats.section_tokens
        }
        tf2 = salted_tf(
            dec,
            idx.doclens,
            idx.dictionary,
            n_pbuckets=idx.n_pbuckets,
            heavy=ddf.select("term", F.col("df").alias("_heavy_df")),
        )
        reenc = explode_to_rows(
            encode_postings(tf2, idx.stats.n_docs, avgdl_by_sid), gen=gen
        )
        out = clean.withColumn("gen", F.lit(gen).cast("int")).unionByName(
            reenc
        )
    else:
        out = live.withColumn("gen", F.lit(gen).cast("int"))
    storage.overwrite(
        "postings_rows",
        out.sortWithinPartitions("term"),
        partition_by=["pbucket"],
    )
    storage.overwrite(
        "postings_deletes",
        spark.createDataFrame([], "term string, first_doc_id long, gen int"),
    )
    if storage.exists("doc_deletes"):
        storage.drop("doc_deletes")
    with open(_meta_path(path)) as f:
        meta = json.load(f)
    meta["commit_gen"] = gen
    meta["n_doc_tombstones"] = 0
    with open(_meta_path(path), "w") as f:
        json.dump(meta, f)
    storage.refresh("postings_rows")
    storage.refresh("postings_deletes")
