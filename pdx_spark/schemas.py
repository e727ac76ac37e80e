"""Fixed, explicit StructType schemas — no inference anywhere.

The reference self-describes its serialized index with a 1-byte type tag
plus header ints (/root/reference/include/pdx/index.hpp:224-238,
ivf_wrapper.hpp:133-165); our analog is these declared schemas plus a
JSON manifest with a format_version.
"""

from pyspark.sql import types as T

# Input corpus (BASELINE.json input_hint): multi-turn transcripts.
TRANSCRIPTS = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])

# Dense-doc-id mapped corpus (docs side table of the index).
DOCS = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("dl", T.IntegerType(), False),        # doc length (tokens)
    T.StructField("text_hash", T.LongType(), False),    # xxhash64(text), roundtrip check
])

# One posting block: the PDX-layout analog. Parallel packed arrays
# (doc-id deltas / tfs / dls) + block-max metadata that drives pruning
# (reference: transposed cluster buffers, layout.hpp:20-87; block-skip
# metadata plays the role of ADSampling thresholds, searcher.hpp:376-540).
SEGMENTS = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard", T.LongType(), False),
    T.StructField("block_id", T.IntegerType(), False),  # within (term, shard)
    T.StructField("n", T.IntegerType(), False),         # postings in block
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("last_doc", T.LongType(), False),
    T.StructField("max_tf", T.IntegerType(), False),
    T.StructField("min_dl", T.IntegerType(), False),
    T.StructField("gmax", T.DoubleType(), False),       # max tfnorm at build avgdl
    T.StructField("ids_bw", T.IntegerType(), False),    # bit widths
    T.StructField("tfs_bw", T.IntegerType(), False),
    T.StructField("dls_bw", T.IntegerType(), False),
    T.StructField("ids", T.BinaryType(), False),        # delta-encoded, bit-packed
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
])

# Per-term global stats (the broadcast "centroid table" analog).
TERM_STATS = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("max_tf", T.IntegerType(), False),
    T.StructField("gmax", T.DoubleType(), False),
])

# Per-(term,shard) directory row — 2-level routing analog of the
# reference's meso-cluster L0 (index.hpp:714-757): lets the planner skip
# whole shards whose summed upper bounds cannot reach the heap.
#
# Bound metadata is u8-quantized (the SQ8-metadata half of the reference,
# scalar.hpp:60-106, layout.hpp:50-87): max_tf is quantized with a CEIL
# (dequant >= true max_tf), min_dl with a FLOOR (dequant <= true min_dl).
# tfnorm is monotone up in tf and down in dl, so the bound computed from
# the dequantized pair can only over-estimate — pruning stays exact. The
# pair is avgdl-drift-safe (tf/dl are avgdl-independent; the bound
# idf * tfnorm(max_tf, min_dl, CURRENT avgdl) is recomputed per query).
# Affine (base, scale) params live in the manifest per directory dir
# ("dir_quant"), so append deltas quantize against their own range and
# can never clamp below a true value. Two u8s replace (i32, i32, f64).
DIRECTORY = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("shard", T.LongType(), False),
    T.StructField("n_blocks", T.IntegerType(), False),
    T.StructField("n_postings", T.LongType(), False),
    T.StructField("max_tf_q", T.ShortType(), False),
    T.StructField("min_dl_q", T.ShortType(), False),
])

# Tombstones and compacted-away dead docs: one doc id per row.
DOC_IDS = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
])

# Search results.
RESULTS = T.StructType([
    T.StructField("query_id", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])

QUERIES = T.StructType([
    T.StructField("query_id", T.IntegerType(), False),
    T.StructField("query_text", T.StringType(), False),
    T.StructField("k", T.IntegerType(), False),
])
