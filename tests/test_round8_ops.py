"""Round-8 operator semantics that the shipped corpora cannot reach:
every shipped document has at least K=10 tokens, so the shingle
lineage behind c43/p24 is pinned here on a hand-built corpus."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from iceberg_playground_spark.queries.round8 import _C43_K, _flagged_positions


def test_flagged_positions_skips_short_documents(spark, tmp_path):
    # doc 1 is shorter than one K-gram; doc 2 repeats one token, so its
    # 12 - K + 1 = 3 shingles share a digest and every start is flagged
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": ["one two three four", " ".join(["a"] * 12)],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = sorted(
        tuple(r) for r in _flagged_positions(spark, str(tmp_path)).collect()
    )
    assert _C43_K == 10
    assert rows == [(2, 12, 0), (2, 12, 1), (2, 12, 2)]
