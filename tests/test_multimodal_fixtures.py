"""The per-document mapInPandas adapter and the exact integer log2 of
operators/multimodal.py, checked in plain Python (no Spark)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from dfs_w_mapreduce_spark.operators.multimodal import (
    RESIZE_SCHEMA,
    _build_resize_media,
    _ilog2,
    _per_doc,
)

SCHEMA = "doc_id long, k int, tag string"


@_per_doc(SCHEMA)
def _k_rows(doc_id: int, n_chars: int) -> list[tuple]:
    """n_chars rows per document, numbered k = 0..n_chars-1."""
    return [(doc_id, k, f"{doc_id}:{k}") for k in range(n_chars)]


def _batch(*docs: tuple[int, int]) -> pd.DataFrame:
    return pd.DataFrame(list(docs), columns=["doc_id", "n_chars"])


def test_empty_batch_gives_empty_frame_with_schema_columns():
    (out,) = list(_k_rows(iter([_batch()])))
    assert out.empty
    assert list(out.columns) == ["doc_id", "k", "tag"]


def test_zero_and_several_rows_per_document():
    (out,) = list(_k_rows(iter([_batch((7, 0), (8, 3), (9, 1))])))
    assert [tuple(r) for r in out.itertuples(index=False)] == [
        (8, 0, "8:0"), (8, 1, "8:1"), (8, 2, "8:2"), (9, 0, "9:0"),
    ]


def test_one_output_frame_per_input_batch():
    frames = list(_k_rows(iter([_batch((1, 2)), _batch((2, 1), (3, 1))])))
    assert [len(f) for f in frames] == [2, 2]
    resized = list(_build_resize_media(iter([_batch((1, 10)), _batch((2, 20))])))
    assert [f.doc_id.tolist() for f in resized] == [[1], [2]]
    assert list(resized[0].columns) == [c.split()[0] for c in RESIZE_SCHEMA.split(",")]


def test_adapter_keeps_the_row_function_name():
    # the MapInPandas plan node shows this name
    assert _k_rows.__name__ == "_k_rows"
    assert _build_resize_media.__name__ == "_build_resize_media"


def test_ilog2_is_exact_bit_length():
    values = [0, 1] + [v for k in range(1, 63) for v in (2**k - 1, 2**k)]
    arr = np.array(values, dtype=np.int64)
    assert _ilog2(arr).tolist() == [v.bit_length() for v in values]
    # float64 rounds 2^54 - 1 up to 2^54: a frexp log2 reads 55 here
    assert _ilog2(np.array([2**54 - 1], dtype=np.int64)).tolist() == [54]
    assert _ilog2(arr.reshape(-1, 2)).shape == (len(values) // 2, 2)
