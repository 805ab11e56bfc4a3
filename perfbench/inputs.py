"""Seeded benchmark inputs: the corpus, the query stream and the churn.

Everything here is a pure function of ``(seed, size)``.  The corpus is
generated once per (seed, size) with the engine's own per-document
generator (``corpus.doc_row``, the rows ``corpus.corpus_df`` yields) and
cached as one parquet file under the run's work
directory; later runs with the same seed load the file instead, because
generation is input preparation, not work of the system under test.

Queries are drawn from a word-level df table computed here from the corpus
text (identifier segments, as the ``code`` tokenizer splits them), so the
query set never depends on the engine's own index.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import Counter

import numpy as np

from groonga_spark.corpus import doc_row

# One cycle of the closed-loop query stream: (shape, df band).  Every run
# issues whole cycles in this order, so its latency distribution has the
# same composition whatever the seed and however fast the engine is.
QUERY_MIX = [
    ("term", "head"),
    ("and", "mid-mid"),
    ("phrase", "doc"),
    ("or", "rare+prefix"),
    ("near", "doc"),
]

_WORD = re.compile(r"[A-Za-z]+")
_SEG = re.compile(r"[A-Z]?[a-z]+|[A-Z]+(?![a-z])")


def segments(text: str) -> list[str]:
    """Lower-cased alphabetic identifier segments, in text order
    (``getSet_merge`` -> get, set, merge)."""
    out = []
    for w in _WORD.findall(text):
        out.extend(s.lower() for s in _SEG.findall(w))
    return out


# -- corpus ------------------------------------------------------------------


def sha_xor(contents) -> str:
    """Order-insensitive corpus fingerprint, computed in plain Python: xor of
    the first 15 hex digits of each row's sha256(content) — the same
    definition the engine's lineage manifest uses."""
    x = 0
    for c in contents:
        x ^= int(hashlib.sha256(c.encode()).hexdigest()[:15], 16)
    return format(x, "x")


def corpus_file(cache_dir: str, n_docs: int, seed: int) -> tuple[str, dict]:
    """Path of the cached corpus parquet for (n_docs, seed) and its sidecar
    metadata; generates both on a cache miss.

    The rows are ``corpus.corpus_df``'s rows: the same per-doc generator,
    dense ``doc_id`` from 1 in (repo, path) key order, and
    ``content_sha`` = sha256(content).  They are produced here in plain
    Python, in this process and outside Spark, so a cache miss leaves no
    trace in the measured session."""
    from groonga_spark.ids import _SEP

    base = os.path.join(cache_dir, f"corpus-n{n_docs}-s{seed}")
    path, meta_path = base + ".parquet", base + ".json"
    if not (os.path.exists(path) and os.path.exists(meta_path)):
        import pandas as pd

        rows = [doc_row(i, seed=seed) for i in range(n_docs)]
        rows.sort(key=lambda r: r[0] + _SEP + r[1])
        pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
        pdf.insert(0, "doc_id", range(1, n_docs + 1))
        pdf["content_sha"] = [
            hashlib.sha256(c.encode()).hexdigest() for c in pdf["content"]
        ]
        os.makedirs(cache_dir, exist_ok=True)
        pdf.to_parquet(path + ".tmp", index=False)
        meta = {
            "n_docs": n_docs,
            "source_bytes": int(sum(len(c.encode()) for c in pdf["content"])),
            "sha_xor": sha_xor(pdf["content"]),
        }
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(path + ".tmp", path)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as f:
        return path, json.load(f)


def read_rows(path: str) -> dict[int, str]:
    """doc_id -> content, read with pandas (no Spark)."""
    import pandas as pd

    pdf = pd.read_parquet(path, columns=["doc_id", "content"])
    return dict(zip(pdf["doc_id"].astype(int), pdf["content"]))


# -- queries -----------------------------------------------------------------


class QueryGen:
    """Draws queries by df band and shape from the corpus text.

    Bands, over identifier segments of >= 3 letters: ``head`` = the 20
    highest-df segments; ``mid`` = df in [0.5%, 5%] of the docs; ``rare`` =
    df in [2, max(3, 0.2%)].  Phrase and NEAR queries take adjacent (or
    two-apart) segments of one comment line of a real document, so they
    match at least that document."""

    def __init__(self, rows: dict[int, str], seed: int):
        self.rows = rows
        self.rng = np.random.default_rng([seed, 1])
        df: Counter = Counter()
        for text in rows.values():
            df.update({s for s in segments(text) if len(s) >= 3})
        n = len(rows)
        by_df = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
        self.head = [t for t, _ in by_df[:20]]
        self.mid = sorted(t for t, d in df.items() if 0.005 * n <= d <= 0.05 * n)
        self.rare = sorted(t for t, d in df.items() if 2 <= d <= max(3, 0.002 * n))
        self.df = df
        self.mid_set = set(self.mid)
        if not (self.mid and self.rare):
            raise ValueError("corpus too small for the query bands")
        self.doc_ids = sorted(rows)

    def _pick(self, seq):
        return seq[int(self.rng.integers(0, len(seq)))]

    def _line_words(self, gap: int) -> tuple[str, str]:
        """Two segments ``gap`` apart on one comment line of a document."""
        while True:
            text = self.rows[self._pick(self.doc_ids)]
            lines = [ln for ln in text.split("\n") if ln.startswith("# ")]
            if not lines:
                continue
            segs = [s for s in segments(self._pick(lines)) if len(s) >= 3]
            if len(segs) > gap:
                i = int(self.rng.integers(0, len(segs) - gap))
                return segs[i], segs[i + gap]

    def query(self, shape: str) -> str:
        if shape == "term/head":
            return self._pick(self.head)
        if shape == "term/rare":
            return self._pick(self.rare)
        if shape == "and/mid-mid":
            # two mid-band segments of one document, so the AND can match,
            # minus a third mid-band segment
            while True:
                segs = sorted(
                    set(segments(self.rows[self._pick(self.doc_ids)])) & self.mid_set
                )
                if len(segs) >= 2:
                    i, j = self.rng.choice(len(segs), size=2, replace=False)
                    return f"{segs[i]} {segs[j]} -{self._pick(self.mid)}"
        if shape == "or/rare+prefix":
            pfx = self._pick([t for t in self.mid if len(t) >= 5])[:4]
            return f"{self._pick(self.rare)} OR {pfx}*"
        if shape == "phrase/doc":
            a, b = self._line_words(1)
            return f'"{a} {b}"'
        if shape == "near/doc":
            a, b = self._line_words(2)
            return f"*N5 {a} {b}"
        raise ValueError(shape)

    def new_doc_term(self, text: str) -> str:
        """A segment of a just-written document, from the mid band when it
        has one (else the segment of lowest df), so the read after each
        commit has the same df class whatever the seed."""
        segs = sorted({s for s in segments(text) if len(s) >= 3})
        mid = [s for s in segs if s in self.mid_set]
        if mid:
            return self._pick(mid)
        return min(segs, key=lambda s: (self.df.get(s, 0), s))

    def cycle(self) -> list[tuple[str, str]]:
        """One cycle of (shape label, query) pairs in QUERY_MIX order."""
        out = []
        for shape, band in QUERY_MIX:
            label = f"{shape}/{band}"
            out.append((label, self.query(label)))
        return out


# -- churn -------------------------------------------------------------------


def churn_batch(
    live: dict[int, str], seed: int, commit_no: int, next_id: int, frac: float
):
    """One seeded upsert/delete batch over the live corpus.

    ``frac`` of the live docs churn (at least one each of replace, delete
    and insert).  Returns ``(old, new, next_id)`` where ``old`` maps the
    replaced and deleted ids to their current content and ``new`` maps the
    replaced and inserted ids to their new content."""
    rng = np.random.default_rng([seed, 2, commit_no])
    n = max(3, int(round(frac * len(live))))
    k = -(-n // 3)
    ids = sorted(live)
    picked = rng.choice(len(ids), size=2 * k, replace=False)
    replaced = [ids[i] for i in picked[:k]]
    deleted = [ids[i] for i in picked[k:]]
    # fresh content from the corpus generator, at indices no base doc uses
    fresh = (doc_row(10_000_000 + commit_no * 1000 + j, seed)[4] for j in range(2 * k))
    old = {d: live[d] for d in replaced + deleted}
    new = {d: next(fresh) for d in replaced}
    for j in range(k):
        new[next_id + j] = next(fresh)
    return old, new, next_id + k
