"""Correctness gate: the engine's answers against the independent
pure-Python oracle (``oracle/pyoracle.py``), never against the engine.

Comparison is the rank-identity rule of the repository's own tests: same
doc ids in the same order, scores equal to 1e-9."""

from __future__ import annotations

from oracle.pyoracle import OracleEngine, OracleIndex

SCORE_TOL = 1e-9


class Oracle(OracleEngine):
    """The oracle with per-term score lists memoized.  ``_term_scores`` is a
    pure function of (term, weights) for a fixed corpus; the memo only
    avoids rescanning the corpus once per candidate doc in multi-token
    scoring."""

    def __init__(self, rows: dict[int, str]):
        super().__init__(
            OracleIndex.build(
                [{"doc_id": d, "content": c} for d, c in sorted(rows.items())],
                ["content"],
                tokenizer="code",
            )
        )
        self._memo: dict = {}

    def _term_scores(self, term, weights):
        key = (term, tuple(sorted(weights.items())))
        if key not in self._memo:
            self._memo[key] = super()._term_scores(term, weights)
        return self._memo[key]


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(abs(g - w) < SCORE_TOL for (_, g), (_, w) in zip(got, want))


def index_stats_ok(stats, rows: dict[int, str], oracle: Oracle) -> bool:
    """Document count and exact token total of a (read-back) index."""
    total = sum(len(toks) for toks in oracle.idx.docs[1].values())
    return stats.n_docs == len(rows) and stats.section_tokens.get(1) == total
