"""The shared stored table (sources.stores): a failed overwrite is loud for
every reader, the on-disk meta format of all six store kinds is pinned,
metas written before the bucket columns existed read as plain stores, and
the gates' static-side caches are kept per gate kind."""

from __future__ import annotations

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from bulkfhirloader_spark.operators import dedup
from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
from bulkfhirloader_spark.streaming import joins

_TEXT = "doc_id long, text string"
_OLD_FIT = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
_NEW_FIT = [(0, [0.0, 0.0, 1.0]), (1, [0.0, 1.0, 0.0])]


def _docs(spark):
    return spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        _TEXT,
    )


def _emb(spark):
    return spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0]), (2, [0.1, 0.9, 0.2])],
        "vec_id long, embedding array<double>",
    )


# each kind: (write(geometry, mode), read(geometry), register) over `store`
def _signature(spark, store):
    docs = _docs(spark)
    geo = {"old": (16, 3), "new": (32, 2)}
    return (
        lambda g, mode: dedup.signature_store_write(
            docs, store, num_hashes=geo[g][0], shingle_words=geo[g][1], mode=mode
        ),
        lambda g: dedup.signature_store_read(spark, store, *geo[g]),
        dedup.register_signature_bands_table,
    )


def _banded(spark, store):
    docs = _docs(spark)
    geo = {"old": (16, 8), "new": (8, 4)}
    return (
        lambda g, mode: joins.banded_signature_store_write(
            docs, store, num_hashes=geo[g][0], bands=geo[g][1], mode=mode
        ),
        lambda g: joins.banded_signature_store_read(spark, store, *geo[g], 3)[0],
        joins.register_banded_table,
    )


def _winnow(spark, store):
    docs = _docs(spark)
    geo = {"old": 3, "new": 2}
    return (
        lambda g, mode: joins.winnow_store_write(docs, store, k=geo[g], mode=mode),
        lambda g: joins.winnow_store_read(spark, store, k=geo[g])[0],
        joins.register_winnow_table,
    )


def _semantic(spark, store):
    emb = _emb(spark)
    fit = {"old": _OLD_FIT, "new": _NEW_FIT}
    return (
        lambda g, mode: joins.semantic_store_write(emb, store, fit[g], mode=mode),
        lambda g: joins.semantic_store_read(spark, store)[0],
        joins.register_semantic_table,
    )


@pytest.mark.parametrize(
    "kind, fail_at",
    [
        (_signature, "meta.parquet"),
        (_banded, "meta.parquet"),
        (_winnow, "meta.parquet"),
        (_semantic, "centroids.parquet"),
        (_semantic, "meta.parquet"),
    ],
    ids=["signature", "banded", "winnow", "semantic-centroids", "semantic-meta"],
)
def test_failed_overwrite_is_loud_until_overwritten_again(
    spark, tmp_path, monkeypatch, kind, fail_at
):
    """An overwrite that fails after its data job but before its meta is
    written must leave a store that every reader refuses: otherwise the
    new-geometry rows (or vectors assigned under a re-fit) are served
    under the old meta with no error.  Append under the new geometry still
    reports the geometry mismatch first; re-running the overwrite is the
    recovery."""
    store = str(tmp_path / "store")
    write, read, register = kind(spark, store)
    write("old", "append")
    real_parquet = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        if path.endswith(fail_at):
            raise RuntimeError("injected failure")
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="injected failure"):
        write("new", "overwrite")
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    with pytest.raises(ValueError, match="unfinished overwrite"):
        read("old")
    with pytest.raises(ValueError, match="unfinished overwrite"):
        register(spark, store)
    with pytest.raises(ValueError, match="unfinished overwrite"):
        write("old", "append")
    if kind is not _semantic:
        with pytest.raises(ValueError, match="geometry mismatch"):
            write("new", "append")
    write("new", "overwrite")
    read("new")


# the meta columns each kind wrote at the time the stores were unified
_META_FORMAT = {
    "signature": ("bfls_sigbands", "meta.parquet",
                  "num_hashes int, shingle_words int, bands int, "
                  "num_buckets int, bucket_table string"),
    "banded": ("bfls_banded", "meta.parquet",
               "num_hashes int, bands int, shingle_words int, "
               "num_buckets int, bucket_table string"),
    "semantic": ("bfls_semstore", "meta.parquet",
                 "round_dp int, k int, dim int, centroid_sha string, "
                 "num_buckets int, bucket_table string"),
    "ivf": ("bfls_ivflists", "lists_bucketed_meta.parquet",
            "num_buckets int, bucket_table string, n_rows bigint"),
    "winnow": ("bfls_winnow", "meta.parquet",
               "k int, window int, hash_tier string, "
               "num_buckets int, bucket_table string"),
    "image": ("bfls_imghash", "meta.parquet",
              "bands int, num_buckets int, bucket_table string"),
}


def test_meta_format_of_every_store_kind_is_pinned(spark, tmp_path):
    """Same paths, meta column names and types, and recorded table names
    as stores written before the stores shared one implementation, so
    those stores keep reading, appending and re-attaching."""
    from bulkfhirloader_spark.operators import similarity

    docs, emb = _docs(spark), _emb(spark)
    root = str(tmp_path)
    dedup.signature_store_write(docs, f"{root}/signature", bands=8, num_buckets=2)
    joins.banded_signature_store_write(docs, f"{root}/banded", num_buckets=2)
    joins.semantic_store_write(emb, f"{root}/semantic", _OLD_FIT, num_buckets=2)
    similarity.build_ivf_index(emb, f"{root}/ivf", precomputed_centroids=[
        [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]
    ])
    joins.ivf_lists_bucketed_write(spark, f"{root}/ivf", num_buckets=2)
    joins.winnow_store_write(docs, f"{root}/winnow", num_buckets=2)
    joins.image_hash_store_write(
        spark.createDataFrame([(1, 7, 9)], "media_id long, hash_hi long, hash_lo long"),
        f"{root}/image",
        num_buckets=2,
    )
    for kind, (prefix, meta, ddl) in _META_FORMAT.items():
        path = f"{root}/{kind}"
        m = spark.read.parquet(f"{path}/{meta}")
        got = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in m.schema)
        assert got == ddl, kind
        (row,) = m.collect()
        assert row["num_buckets"] == 2, kind
        assert row["bucket_table"] == bucketed_table_name(prefix, path), kind


def test_meta_without_bucket_columns_reads_as_plain_store(spark, tmp_path):
    """A meta holding only the geometry columns (as written before the
    bucketed layout existed) is a plain store: it reads, appends and
    refuses registration like one."""
    docs = _docs(spark)
    store = str(tmp_path / "store")
    joins.banded_signature_store_write(docs, store)
    spark.createDataFrame(
        [(16, 8, 3)], "num_hashes int, bands int, shingle_words int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{store}/meta.parquet")
    assert not joins.banded_signature_store_read(spark, store, 16, 8, 3)[1]
    joins.banded_signature_store_write(docs, store)
    rows, bucketed = joins.banded_signature_store_read(spark, store, 16, 8, 3)
    assert not bucketed and rows.count() == 32
    with pytest.raises(ValueError, match="plain"):
        joins.register_banded_table(spark, store)


def test_gate_caches_are_kept_per_gate_kind(spark):
    """Building a gate evicts the previous gate of its own kind only, and
    a construction that fails validation evicts nothing."""
    docs = _docs(spark)
    joins.stream_winnow_admission(docs, existing=docs)
    (winnow_side,) = joins._live_static_winnow_caches
    joins.stream_near_dup_admission(docs, existing=docs)
    (band_side,) = joins._live_static_band_caches
    assert joins._live_static_winnow_caches[0] is winnow_side
    with pytest.raises(ValueError, match="existing"):
        joins.stream_near_dup_admission(docs)
    assert joins._live_static_band_caches[0] is band_side
    joins.stream_winnow_admission(docs, existing=docs)
    assert joins._live_static_winnow_caches[0] is not winnow_side
    assert not winnow_side.is_cached
