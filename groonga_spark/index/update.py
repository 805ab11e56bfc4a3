"""Incremental index update — the Spark re-expression of
``grn_ii_column_update`` (reference lib/ii.c:5120-5338).

Groonga updates one record in place: tokenize the OLD value and the NEW
value, diff the token multisets, and per term insert/delete postings in the
mutable buffer region (``grn_ii_update_one`` / ``grn_ii_delete_one``,
ii.c:3725).  The API therefore requires the caller to supply the old value —
we keep that contract.

An update batch is churn-sized, so its bookkeeping runs on the DRIVER (a
Delta Lake commit's shape) and the cluster only rewrites the blocks the
change touches:

  1. the batch (old ∪ new docs, one collect) is tokenized on the driver by
     the same kernel stage T runs in the workers (``build._doc_tf_batch``),
     so its terms, tf, dl and positions equal a build's;
  2. every delta is plain arithmetic on that batch: the tombstones (ids of
     replaced/deleted docs), ``n_docs``, the per-section token totals
     (stored total − the old content's dl + the new content's dl — exact,
     because by contract the old value is the indexed value), the
     ``affected`` terms (old ∪ new content's terms: a tombstoned doc's
     postings sit exactly under its old content's terms) and their df/cf
     deltas;
  3. the dictionary commits as the old dictionary minus the affected terms
     ∪ their literal new rows (old df/cf read by one pruned
     ``term IN (...)`` lookup); doclens as the old doclens minus the
     tombstones ∪ the new docs' literal dl rows.  BM25's inputs N, df, tf,
     dl and Σdl are all exact, so query scores are **identical to a full
     rebuild**;
  4. untouched terms keep their encoded blocks BYTE-IDENTICAL.  Their
     build-time ``max_score`` is stale under the new stats, so the result
     sets ``bounds_exact=False`` and pruning consumers derive a looser-but-
     sound bound query-time from the stored (df, max_tf) alone
     (:func:`derived_bound_expr`);
  5. within affected terms, only the BLOCKS that contain a tombstoned doc
     are decoded (exact metadata-only detection: a bucketized range join of
     block [first, last] spans against the broadcast tombstones); their
     survivors are re-encoded with the new docs' postings by the build's
     encoder (merge_hit_blocks semantics, ii.c:7578).  That decode →
     re-encode is the only Python-heavy Spark work an update runs.

Bound: the batch carries the old value by contract and is collected to the
driver, so it must fit there — an update is churn-sized.  A bulk change (a
large fraction of the corpus) goes through ``build_index`` + a write
instead.

Scale: decode/re-encode volume is O(churn · terms-per-doc · block_size) —
independent of the head terms' posting-list lengths (re-encoding every
posting of every affected term measured SLOWER than a full rebuild at 0.1%
churn / 1M docs, because at natural-language churn the affected set is the
Zipf head; see BASELINE.md).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import scoring
from ..hashutil import term_pbucket
from ..tokenize import resolve_tokenizer
from .build import (
    DEFAULT_N_PBUCKETS,
    DEFAULT_POSTINGS_PER_BUCKET,
    IndexStats,
    InvertedIndex,
    _doc_tf_batch,
    _pos_bytes_udf,
    encode_postings,
    salted_tf,
)

# touched-block detection (_touched_blocks): 4096-id buckets; a block
# spanning >= _WIDE_BKTS of them is "wide"
_B = 1 << 12
_WIDE_BKTS = 64


def derived_bound_expr(n_docs: int, avgdl_max: float) -> str:
    """A sound ``max_score`` upper bound under NEW corpus stats, derivable
    per exploded block row from its stored ``df`` and ``max_tf`` alone
    (no decode, no block rewrite): idf is exact (df unchanged for
    untouched terms), and tfc(tf, dl) ≤ tfc(max_tf, dl=1) evaluated at the
    largest per-section avgdl (tfc is increasing in tf and in avgdl,
    decreasing in dl ≥ 1).  Looser than the build's exact per-block max,
    so block-max pruning stays correct, merely less selective.

    r4 design change: the r3 shape (`_rebound_blocks`) REWROTE every
    untouched block's max_score inside the blocks array at update time —
    an O(index) transform that made a 0.1% churn cost more wall-time than
    a full rebuild (measured; see BASELINE.md incremental row).  Untouched
    blocks are now kept byte-identical (`InvertedIndex.bounds_exact =
    False`) and pruning consumers apply THIS expression query-time
    instead."""
    k1, b = scoring.K1, scoring.B
    idf = f"ln(1.0 + ({float(n_docs)} - df + 0.5) / (df + 0.5))"
    tfc = (
        f"(max_tf * {k1 + 1.0}) / "
        f"(max_tf + {k1} * (1.0 - {b} + {b} * 1.0 / {float(avgdl_max)}))"
    )
    return f"({idf}) * ({tfc})"


def _local(spark, rows: list, ddl: str) -> DataFrame:
    """Driver rows as a LocalRelation (built via pandas/Arrow).  A
    list-built frame is a Python RDD instead: every scan or broadcast of
    it runs Python-worker tasks (measured ~250 ms a broadcast)."""
    names = [c.split()[0] for c in ddl.split(",")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=names), ddl)
    return df if rows else df.limit(0)


def _batch_tf(docs: dict, sections: dict, tokenizer, do_stem: bool) -> pd.DataFrame:
    """(term, doc_id, sid, tf, dl, pos_bytes) of ``docs`` ({doc id: texts
    in section order}) — stage T's per-section kernel, run on the driver."""
    ids = np.fromiter(docs, dtype=np.int64, count=len(docs))
    texts = list(docs.values())
    return pd.concat(
        [
            _doc_tf_batch(ids, [t[i] or "" for t in texts], sid, tokenizer, do_stem)
            for i, sid in enumerate(sorted(sections))
        ],
        ignore_index=True,
    )


def _term_delta(tf: pd.DataFrame) -> dict:
    """term → (df, cf) over one side of the batch."""
    g = tf.groupby("term").agg(df=("doc_id", "nunique"), cf=("tf", "sum"))
    return {t: (int(d), int(c)) for t, d, c in zip(g.index, g["df"], g["cf"])}


def _touched_blocks(blk: DataFrame, tomb: DataFrame) -> DataFrame:
    """The rows of ``blk`` whose [first_doc_id, last_doc_id] span holds a
    tombstoned doc — exact, on block metadata only, in ONE broadcast semi
    join (one scan; every block row emitted at most once).

    Join key: a *narrow* block (dense term, spanning < _WIDE_BKTS 4096-id
    buckets) keys by its first bucket, and each tombstone is replicated
    over the _WIDE_BKTS buckets a narrow block holding it can start in.
    A *wide* block (a rare term whose postings straddle a large id range)
    keys -1, which every tombstone also carries once.  The exact range
    test then runs on the key's matches only: churn × _WIDE_BKTS rows
    against narrow blocks, and tombstones × wide blocks (≈ one per rare
    affected term) — churn-proportional at any corpus size."""
    lo = (F.col("first_doc_id") / _B).cast("long")
    hi = (F.col("last_doc_id") / _B).cast("long")
    tb = (F.col("_tid") / _B).cast("long")
    tombk = tomb.select(F.col("doc_id").alias("_tid")).select(
        "_tid",
        F.explode(
            F.concat(
                F.array(F.lit(-1).cast("long")),
                F.sequence(
                    F.greatest(tb - (_WIDE_BKTS - 1), F.lit(0).cast("long")), tb
                ),
            )
        ).alias("_tkey"),
    )
    return (
        blk.withColumn("_bkey", F.when(hi - lo < _WIDE_BKTS, lo).otherwise(-1))
        .join(
            F.broadcast(tombk),
            (F.col("_bkey") == F.col("_tkey"))
            & (F.col("_tid") >= F.col("first_doc_id"))
            & (F.col("_tid") <= F.col("last_doc_id")),
            "left_semi",
        )
        .drop("_bkey")
    )


def _surgical(
    index: InvertedIndex,
    affected: list,
    aff_lit: DataFrame,
    tomb: DataFrame,
    n_tomb: int,
    heavy: DataFrame,
    cores: int,
) -> dict:
    """Block-surgical half of an update: snapshot the blocks of the
    ``affected`` terms that hold a tombstoned doc and decode their
    surviving postings (``survivors``: term, doc_id, sid, tf, dl,
    pos_bytes).  Also returns ``touched_keys`` and, on a packed index,
    ``untouched``/``kept_aff``."""
    # affected blocks, pruned to the affected terms' pbuckets (directory
    # pruning on a block-rows index) and terms
    pbuckets = sorted({term_pbucket(t, index.n_pbuckets) for t in affected})
    pruned = F.col("pbucket").isin(pbuckets) & F.col("term").isin(affected)
    prows = getattr(index, "postings_rows", None)
    if prows is not None:
        # block-rows index: the rows ARE the table; decode needs no df
        aff_blk = prows.filter(pruned).withColumn("df", F.lit(0).cast("long"))
    else:
        aff_rows = index.postings.filter(pruned)
        aff_blk = aff_rows.select(
            "term", "df", F.explode("blocks").alias("b")
        ).select("term", "df", "b.*")
    # snapshot the touched blocks BEFORE any table mutates: a replaced doc
    # keeps its id, so detection re-run over appended rows would tombstone
    # the replacements themselves.  A pure insert touches nothing.
    touched = (
        _touched_blocks(aff_blk, tomb).coalesce(cores).localCheckpoint(eager=True)
        if n_tomb
        else aff_blk.limit(0)
    )
    out = dict(
        touched_keys=touched.select(
            "term", "first_doc_id", *(["gen"] if prows is not None else [])
        )
    )
    if prows is None:
        # packed layout: untouched terms' rows pass through; affected rows
        # drop their touched blocks (JVM filter) and refresh df to the new
        # dictionary value (scores read df from the decoded rows); rows
        # left empty (fully-deleted terms) drop
        out["untouched"] = index.postings.join(
            F.broadcast(aff_lit), "term", "left_anti"
        )
        touched_per_term = touched.groupBy("term").agg(
            F.collect_set("first_doc_id").alias("_tb")
        )
        out["kept_aff"] = (
            aff_rows.join(touched_per_term, "term", "left")
            .join(F.broadcast(heavy), "term", "left")
            .withColumn(
                "blocks",
                F.when(F.col("_tb").isNull(), F.col("blocks")).otherwise(
                    F.expr(
                        "filter(blocks, bb -> NOT array_contains(_tb, bb.first_doc_id))"
                    )
                ),
            )
            .withColumn("df", F.coalesce(F.col("_heavy_df"), F.lit(0)).cast("long"))
            .withColumn(
                "n_postings",
                F.expr("aggregate(blocks, 0L, (a, bb) -> a + bb.n)"),
            )
            .drop("_tb", "_heavy_df")
            .filter(F.size("blocks") > 0)
        )

    from ..query.decode import decoded_postings

    # survivors keep their stored dl (their docs did not change), so dl
    # rides inline and salted_tf never joins doclens
    out["survivors"] = (
        decoded_postings(touched, with_pos=True)
        .join(F.broadcast(tomb), "doc_id", "left_anti")
        .select(
            "term",
            "doc_id",
            F.col("sid").cast("int").alias("sid"),
            F.col("tf").cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
            _pos_bytes_udf(F.col("positions")).alias("pos_bytes"),
        )
    )
    return out


def _update_parts(
    index: InvertedIndex,
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    postings_per_bucket: int = DEFAULT_POSTINGS_PER_BUCKET,
    n_pbuckets: int = DEFAULT_N_PBUCKETS,
    append_only: bool = False,
) -> dict:
    """Shared core of :func:`apply_update` (packed layout) and
    :func:`blockrows.commit_update` (one-block-per-row delta commit).

    Collects and tokenizes the batch once, computes every churn-sized piece
    (stats, dictionary delta, tombstones) on the driver, and materializes
    (``localCheckpoint``) only the touched blocks — before the caller
    mutates any table.  Returns the committed frames lazily: ``dictionary``
    and ``doclens`` (old table minus the changed keys ∪ literal new rows),
    ``stats``, ``reenc`` (re-encoded survivors + new postings, packed
    shape), ``touched_keys`` (the touched blocks' keys — with ``gen`` on a
    block-rows index, i.e. the rows ``postings_deletes`` takes), ``tomb``
    (tombstoned doc ids) and ``n_tomb``; on a packed index also
    ``untouched``/``kept_aff``.
    ``append_only`` skips detection and decode: only the new docs' postings
    are encoded.  The batch must fit on the driver (see the module
    docstring)."""
    spark = old_docs.sparkSession
    sections = index.stats.sections
    text_cols = [sections[sid] for sid in sorted(sections)]

    # ---- the batch: one collect, tokenized on the driver -------------------
    def side(df: DataFrame, is_new: bool) -> DataFrame:
        return df.select(
            F.lit(is_new).alias("_new"),
            F.col(id_col).cast("long").alias("_id"),
            *[F.col(c).alias(f"_t{i}") for i, c in enumerate(text_cols)],
        )

    old, new = {}, {}
    for r in side(old_docs, False).union(side(new_docs, True)).collect():
        (new if r[0] else old)[r[1]] = tuple(r[2:])
    tok = resolve_tokenizer(index.tokenizer)
    do_stem = "stem" in index.token_filters
    rem = _batch_tf(old, sections, tok, do_stem)
    add = _batch_tf(new, sections, tok, do_stem)

    # ---- deltas: driver arithmetic -----------------------------------------
    tomb_ids = sorted(old)
    rem_tok, add_tok = (
        {int(s): int(n) for s, n in t.groupby("sid")["tf"].sum().items()}
        for t in (rem, add)
    )
    section_tokens = {}
    for sid in sorted(set(index.stats.section_tokens) | set(add_tok)):
        total = (
            index.stats.section_tokens.get(sid, 0)
            - rem_tok.get(sid, 0)
            + add_tok.get(sid, 0)
        )
        if total > 0:
            section_tokens[sid] = total
    stats = IndexStats(
        n_docs=int(index.stats.n_docs - len(old) + len(new)),
        section_tokens=section_tokens,
        sections=dict(sections),
    )
    avgdl_by_sid = {sid: stats.avgdl(sid) for sid in stats.section_tokens}
    rem_d, add_d = _term_delta(rem), _term_delta(add)
    affected = sorted(set(rem_d) | set(add_d))

    # ---- dictionary: one pruned lookup, literal new rows -------------------
    old_d = {
        r["term"]: (r["df"], r["cf"])
        for r in index.dictionary.filter(F.col("term").isin(affected))
        .select("term", "df", "cf")
        .collect()
    }
    new_d = []
    for t in affected:
        (df, cf), (rdf, rcf), (adf, acf) = (
            d.get(t, (0, 0)) for d in (old_d, rem_d, add_d)
        )
        if df - rdf + adf > 0:
            new_d.append((t, df - rdf + adf, cf - rcf + acf))
    aff_lit = _local(spark, [(t,) for t in affected], "term string")
    tomb = _local(spark, [(d,) for d in tomb_ids], "doc_id long")
    new_dict = _local(spark, new_d, "term string, df long, cf long")
    dictionary = (
        index.dictionary.select("term", "df", "cf")
        .join(F.broadcast(aff_lit), "term", "left_anti")
        .unionByName(new_dict)
        .withColumn("rterm", F.reverse(F.col("term")))
    )

    # ---- doclens: minus tombstones, plus literal new dl rows ---------------
    new_dl = add[["doc_id", "sid", "dl"]].drop_duplicates()
    doclens = index.doclens.join(
        F.broadcast(tomb), "doc_id", "left_anti"
    ).unionByName(
        _local(
            spark,
            [tuple(map(int, r)) for r in new_dl.itertuples(index=False)],
            "doc_id long, sid int, dl long",
        )
    )

    # ---- postings ----------------------------------------------------------
    # every affected term's exact NEW df rides into the encode: the build's
    # in-group df counting (salted_tf sentinel -1) assumes a group holds a
    # term's ENTIRE postings, but these groups hold only the delta
    heavy = new_dict.select("term", F.col("df").alias("_heavy_df"))
    add_tf = _local(
        spark,
        [
            (t, int(d), int(s), int(f), int(dl), bytes(p))
            for t, d, s, f, dl, p in add[
                ["term", "doc_id", "sid", "tf", "dl", "pos_bytes"]
            ].itertuples(index=False)
        ],
        "term string, doc_id long, sid int, tf long, dl long, pos_bytes binary",
    )
    parts = dict(
        dictionary=dictionary,
        doclens=doclens,
        stats=stats,
        untouched=None,
        kept_aff=None,
        tokenizer=index.tokenizer,
        tomb=tomb,
        n_tomb=len(tomb_ids),
    )
    # the re-encode is churn-sized: one partition per core, since every
    # partition costs the decode and encode stages a Python task
    cores = spark.sparkContext.defaultParallelism
    if append_only:
        # blockrows append-only commit: NO touched detection, NO decode —
        # old postings stay on disk masked by gen-aware doc tombstones at
        # decode time; only the new docs' postings are encoded
        parts["touched_keys"] = _local(spark, [], "term string, first_doc_id long")
        postings_tf = add_tf
    else:
        surgical = _surgical(
            index, affected, aff_lit, tomb, len(tomb_ids), heavy, cores
        )
        postings_tf = surgical.pop("survivors").unionByName(add_tf)
        parts.update(surgical)
    tf2 = salted_tf(
        postings_tf, doclens, dictionary, postings_per_bucket, n_pbuckets, heavy=heavy
    )
    parts["reenc"] = encode_postings(
        tf2, stats.n_docs, avgdl_by_sid, num_partitions=cores
    )
    return parts


def apply_update(
    index: InvertedIndex,
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    postings_per_bucket: int = DEFAULT_POSTINGS_PER_BUCKET,
    n_pbuckets: int = DEFAULT_N_PBUCKETS,
) -> InvertedIndex:
    """Apply an upsert/delete batch to ``index``.

    ``old_docs``: the PREVIOUS content of every doc being replaced or
    deleted (grn_ii_column_update's oldvalue).  ``new_docs``: the new
    content of replaced + newly added docs (newvalue).  A doc id present
    only in ``old_docs`` is a delete; only in ``new_docs`` an insert; in
    both, a replace.  Preconditions: old_docs ids ⊆ indexed ids; new-only
    ids are not already indexed.
    """
    if getattr(index, "n_doc_tombstones", 0):
        raise RuntimeError(
            "index has pending doc tombstones (append-only commits): "
            "run blockrows.compact() before apply_update's packed "
            "assembly (the packed shape cannot express the decode-"
            "time mask)"
        )
    p = _update_parts(
        index, old_docs, new_docs, id_col, postings_per_bucket, n_pbuckets
    )
    if p["untouched"] is not None:
        postings = (
            p["untouched"].unionByName(p["kept_aff"]).unionByName(p["reenc"])
        )
    else:
        # block_rows-loaded index: untouched rows = everything minus the
        # touched keys; regroup_rows attaches the POST-update df (the
        # packed kept_aff's refresh) and inner-joining the new dictionary
        # drops fully-deleted terms' rows.  (The delta-commit path —
        # blockrows.commit_update — never materializes this.)
        from .blockrows import regroup_rows

        keys = p["touched_keys"]
        live = index.postings_rows.join(F.broadcast(keys), keys.columns, "left_anti")
        postings = regroup_rows(live, p["dictionary"]).unionByName(p["reenc"])
    return InvertedIndex(
        dictionary=p["dictionary"],
        postings=postings,
        doclens=p["doclens"],
        stats=p["stats"],
        tokenizer=p["tokenizer"],
        token_filters=index.token_filters,
        stopwords=index.stopwords,
        n_pbuckets=n_pbuckets,
        bounds_exact=False,
    )
