"""Descriptor extraction directly over a raw text column.

One Arrow pass fuses tokenization (protein-alphabet char filter) with the
descriptor kernel — previously two chained pandas UDFs (tokenize →
extract), i.e. two Python boundaries and one intermediate token-array
column crossing Arrow twice.  The fused plan is a single ArrowEvalPython
node over the pruned (id, text) scan; rows whose token stream is too short
for the descriptor produce all-zero vectors (the kernels' safe-division),
which downstream `freq > 0` filters drop exactly like the old pre-filter.

The UDF is the engine's one descriptor UDF (`extract._descriptor_udf`)
with `_tokens_from_strings` as its decoder.  The tokenizer is fully
vectorized — one 256-entry byte LUT gather over the string column's flat
UTF-8 buffer instead of a per-row Python loop (guide §4.2), nulls
included.  Case folding is in the LUT (both cases map to the same token
id), so no per-row .upper() either.
Semantics match the old path for ASCII text (any byte outside the 20-AA
alphabet is dropped, as the old `ids[ids < 20]` filter did); non-ASCII
bytes are dropped too, where the old path raised.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ifeatureomega_cli_spark.functions.extract import (_descriptor_udf,
                                                       _out_names)
from ifeatureomega_cli_spark.functions.kernels import Ragged
from ifeatureomega_cli_spark.tokenize import PROTEIN_AA

_LUT256 = np.full(256, -1, dtype=np.int8)
for _i, _c in enumerate(PROTEIN_AA):
    _LUT256[ord(_c)] = _i
    _LUT256[ord(_c.lower())] = _i


def _tokens_from_strings(arr) -> Ragged:
    """Arrow string / large_string array → gap-filtered protein-token
    Ragged, vectorized.  Null rows become empty rows through one mask over
    the flat bytes."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:  # a zero-length array may carry no offsets buffer
        return Ragged(np.empty(0, np.int64), np.empty(0, np.int64))
    # string arrays expose no .offsets property — read the offsets buffer
    # directly (int64 for large_string; window it by arr.offset for sliced
    # arrays)
    otype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=otype)[
        arr.offset:arr.offset + n + 1]
    char_lens = np.diff(offsets)
    buf = arr.buffers()[2]
    data = (np.frombuffer(buf, dtype=np.uint8) if buf is not None
            else np.empty(0, np.uint8))
    ids = _LUT256[data[offsets[0]:offsets[-1]]]
    rid = np.repeat(np.arange(n), char_lens)
    keep = ids >= 0
    if arr.null_count:
        keep &= np.repeat(arr.is_valid().to_numpy(zero_copy_only=False),
                          char_lens)
    lengths = np.bincount(rid[keep], minlength=n).astype(np.int64)
    return Ragged(ids[keep].astype(np.int64), lengths)


def char_descriptor(
    df: DataFrame,
    name: str,
    text_col: str = "text",
    out_col: str = "features",
    params: dict | None = None,
) -> DataFrame:
    """Append `out_col array<double>` computed straight from `text_col`:
    the shared descriptor UDF with the vectorized tokenizer as decoder."""
    udf = _descriptor_udf([name], {name: params}, 0, "float64",
                          _tokens_from_strings)
    return df.withColumn(out_col, udf(F.col(text_col))[_out_names([name])[0]])
