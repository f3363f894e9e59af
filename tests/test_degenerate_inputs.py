"""Degenerate corpora fail loudly: an empty or ragged embeddings table
raises a named ValueError from the trainer that first meets it, not a
TypeError or a numpy shape error from deep inside it."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def _corpus(tmp_path, name, vectors):
    sf = tmp_path / name
    sf.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"vec_id": i, "embedding": v, "label": 0}
                for i, v in enumerate(vectors)
            ],
            EMB_SCHEMA,
        ),
        sf / "embeddings.parquet",
    )
    return str(sf)


def test_kmeans_on_empty_corpus_raises_value_error(spark, tmp_path):
    from clickhouse_build_spark.plans.kmeans import shared_kmeans

    with pytest.raises(ValueError, match="empty corpus"):
        shared_kmeans(spark, _corpus(tmp_path, "empty", []))


def test_ivf_sample_on_empty_corpus_raises_value_error(spark, tmp_path):
    from clickhouse_build_spark.plans.similarity import shared_ivf_sample

    with pytest.raises(ValueError, match="empty corpus"):
        shared_ivf_sample(spark, _corpus(tmp_path, "empty", []))


def test_ivf_sample_on_ragged_corpus_raises_value_error(spark, tmp_path):
    from clickhouse_build_spark.plans.similarity import shared_ivf_sample

    sf = _corpus(tmp_path, "ragged", [[1.0, 0.0], [0.0, 1.0, 0.5], [1.0, 1.0]])
    with pytest.raises(ValueError, match="ragged corpus"):
        shared_ivf_sample(spark, sf)
