"""Phrase search over an optional positional artifact — pure DataFrame.

The blocked segment format deliberately stores no positions (the
reference's layout has none either — it is a distance engine,
index_base.hpp); phrase queries need them, so builds can opt in to a
SIDE artifact (`Indexer.build(store_positions=True)`): one parquet of
(term, doc_id, pos array<int>) range-partitioned and sorted by term so
a phrase query's scan prunes to its terms' row groups. The artifact is
additive — nothing in the existing format, search paths, or benchmarks
changes when it is absent.

Matching is a JVM-only composition (the Spark-first answer to "Spark
lacks this operator"): shift each term's position list by its offset in
the phrase (`transform(pos, p -> p - i)`), inner-join the phrase terms
on doc_id, and intersect the shifted lists — a non-empty intersection
marks a phrase start, and its size is the phrase tf. Scoring is BM25
with the PHRASE as the unit: idf from the phrase document frequency
(computed on the matched set, one lazy aggregate), tf-norm from the
phrase tf — the classic exact-phrase scoring reduction. Everything
stays whole-stage-codegen; no UDF, no driver loop; the join fan-in is
bounded by the phrase terms' posting sizes, shuffled on doc_id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdx_spark.functions.bm25 import idf_col, tfnorm_col
from pdx_spark.functions.tokenize import tokenize_py

POSITIONS_SCHEMA = "term string, doc_id long, pos array<int>"


def positions_df(with_ids: DataFrame) -> DataFrame:
    """(term, doc_id, pos array<int>) from a frame carrying (doc_id,
    text). Same discipline as corpus.doc_postings: a term's positions
    within a doc are a PER-DOCUMENT quantity, so they are grouped
    inside the Arrow batch (vectorized: factorize + one stable lexsort
    per batch, no per-doc python loop) and the only cluster-wide data
    movement left is the writer's term-range shuffle — not the
    explode -> groupBy -> collect_list flat-row shuffle, which at
    10^12 turns would move ~dl rows per doc just to regroup what each
    batch already holds locally."""
    import itertools

    import numpy as np
    import pandas as pd

    from pdx_spark.config import TOKEN_PATTERN

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            toks = pdf["text"].fillna("").str.lower() \
                .str.findall(TOKEN_PATTERN)
            lens = np.fromiter((len(t) for t in toks), dtype=np.int64,
                               count=n)
            total = int(lens.sum())
            if total == 0:
                continue
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            flat = pd.Series(
                list(itertools.chain.from_iterable(toks)), dtype=object)
            codes, uniq = pd.factorize(flat, sort=True)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
            # position of each token within its doc: global arange minus
            # each doc's start offset
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            pos = (np.arange(total, dtype=np.int64)
                   - np.repeat(starts, lens)).astype(np.int32)
            # stable sort by (doc, term-code) keeps positions ascending
            # within each (doc, term) run
            order = np.lexsort((pos, codes, doc_idx))
            d_s, c_s, p_s = doc_idx[order], codes[order], pos[order]
            change = np.nonzero((d_s[1:] != d_s[:-1])
                                | (c_s[1:] != c_s[:-1]))[0] + 1
            run_starts = np.concatenate([[0], change])
            uniq_arr = np.asarray(uniq, dtype=object)
            yield pd.DataFrame({
                "term": uniq_arr[c_s[run_starts]],
                "doc_id": doc_ids[d_s[run_starts]],
                "pos": np.split(p_s, change),
            })

    return (with_ids.select("doc_id", "text")
            .mapInPandas(fn, schema=POSITIONS_SCHEMA))


def write_positions_rows(df: DataFrame, out_path: str,
                         num_partitions: int | None = None) -> None:
    """Range-partition + sort (term, doc_id) rows so parquet row-group
    stats prune a phrase query's read to its terms."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    (df.repartitionByRange(n, "term")
     .sortWithinPartitions("term", "doc_id")
     .write.mode("overwrite").parquet(out_path))


def write_positions(with_ids: DataFrame, out_path: str,
                    num_partitions: int | None = None) -> None:
    write_positions_rows(positions_df(with_ids), out_path, num_partitions)


def phrase_topk(searcher, phrase_text: str, k: int = 10) -> DataFrame:
    """-> DataFrame(doc_id, score) top-k docs containing the EXACT
    phrase (adjacent tokens, in order), scored by phrase-unit BM25
    (idf of the phrase df x tf-norm of the phrase tf). Tie-break
    (score desc, doc_id asc). Requires a positions-enabled index."""
    dirs = searcher.snap.positions_dirs()
    if not dirs:
        raise ValueError(
            "index has no positional artifact - build with "
            "Indexer.build(store_positions=True)")
    terms = tokenize_py(phrase_text)
    if not terms:
        return searcher.spark.createDataFrame([], "doc_id long, score double")
    pos = searcher.snap.union(dirs, POSITIONS_SCHEMA) \
        .filter(F.col("term").isin(sorted(set(terms))))

    # shift each occurrence list by its offset in the phrase; a doc
    # contains the phrase iff the shifted lists share a start position
    legs = []
    for i, t in enumerate(terms):
        legs.append(pos.filter(F.col("term") == t).select(
            "doc_id",
            F.expr(f"transform(pos, p -> p - {i})").alias(f"_a{i}")))
    joined = reduce(lambda a, b: a.join(b, "doc_id"), legs)
    common = reduce(lambda acc, i: F.array_intersect(acc, F.col(f"_a{i}")),
                    range(1, len(terms)), F.col("_a0"))
    matched = (joined.select("doc_id", F.size(common).alias("ptf"))
               .filter(F.col("ptf") > 0))

    tomb = searcher.tombstones()
    if tomb is not None:
        matched = matched.join(tomb.select("doc_id"), "doc_id", "left_anti")

    # phrase-unit BM25: df(phrase) via one lazy aggregate on the matched
    # set (broadcast 1-row crossjoin keeps the whole plan a single job)
    dfp = matched.agg(F.count(F.lit(1)).alias("dfp"))
    docs = searcher.docs().select("doc_id", "dl")
    scored = (matched.join(docs, "doc_id")
              .crossJoin(F.broadcast(dfp))
              .select("doc_id",
                      (idf_col(F.col("dfp"), F.lit(float(searcher.n_docs)))
                       * tfnorm_col(F.col("ptf"), F.col("dl"),
                                    F.lit(float(searcher.avgdl)),
                                    searcher.params)).alias("score")))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
