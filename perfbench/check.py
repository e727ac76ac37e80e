"""Answer checks: the engine's top-k against the brute-force
pdx_spark.oracle.BM25Oracle over the live corpus, and a routed batch
against the same queries run with exact=True."""

from __future__ import annotations

import math


def by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """Result rows (query_id, doc_id, score) -> per-query ranking in the
    engine's order: score desc, doc_id asc."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        out.setdefault(int(r[0]), []).append((int(r[1]), float(r[2])))
    for v in out.values():
        v.sort(key=lambda x: (-x[1], x[0]))
    return out


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]]) -> bool:
    """Identical doc ids in identical order, scores equal to 1e-9
    relative (the two sides sum the same float64 terms in the same
    order, so they normally agree bit for bit)."""
    if len(got) != len(want):
        return False
    return all(gd == wd and math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)
               for (gd, gs), (wd, ws) in zip(got, want))


class LiveOracle:
    """BM25Oracle over the live corpus, keyed by the index's own doc ids:
    the docs table maps each live (conv_id, turn_idx) key to its id and
    the benchmark supplies the text. The oracle is rebuilt only when
    that mapping changes (compactions keep it)."""

    def __init__(self):
        self._mapping = None
        self.oracle = None

    def refresh(self, searcher, texts: dict, dead: set) -> bool:
        """-> whether the docs table holds exactly the live keys."""
        from pdx_spark.oracle import BM25Oracle
        pdf = searcher.docs().select("doc_id", "conv_id",
                                     "turn_idx").toPandas()
        rows = [(int(d), (str(c), int(t))) for d, c, t in
                zip(pdf["doc_id"], pdf["conv_id"], pdf["turn_idx"])
                if (str(c), int(t)) not in dead]
        mapping = dict(rows)
        if mapping != self._mapping:
            self._mapping = mapping
            self.oracle = BM25Oracle({d: texts[k] for d, k in mapping.items()
                                      if k in texts})
        keys = {k for _, k in rows}
        return (len(mapping) == len(keys) == len(rows)
                and keys == set(texts) - dead)

