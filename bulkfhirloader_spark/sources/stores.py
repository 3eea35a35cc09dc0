"""One stored-table implementation for the admission gates' static sides
and the probe stores.

Six stores share it, each a module-level :class:`StoredTable` constant:
the MinHash signature store's band table (``operators.dedup``) and, in
``streaming.joins``, the banded, semantic, winnow and image-hash gate
stores plus the bucketed IVF lists mirror.  A family keeps only its row
projection and what is truly its own (sidecars, extra checks).

The family contract, stated once:

- **Layout.** ``<path>/<meta>`` holds one row: the kind's geometry
  columns, its layout columns (``num_buckets``; the signature store adds
  ``bands``), ``bucket_table`` and any trailer columns.  The rows live at
  ``<path>/<rows>``: plain parquet appends, or with ``num_buckets=<n>`` an
  external bucketed table (``bucketBy(n, key).sortBy(key)``, catalog name
  recorded in the meta at creation).  The bucketed layout satisfies a
  gate join's static-side distribution, so the join plans zero
  static-side Exchange even from a fresh session, and ``key IN (...)``
  probes get planning-time bucket pruning.  Metas written before the
  layout columns existed read as plain stores.
- **Geometry is validated hard** on append and read: rows written under
  another geometry never collide with probes, so the gate would silently
  admit every duplicate.
- **Mixing is refused.** A plain append to a bucketed store, a bucketed
  append to a plain one, or a second bucket count would put rows in files
  whose bucket id disagrees with their hash, where pruned scans never see
  them.  ``num_buckets`` is fixed at creation; changing it is a rebuild.
- **Commit order.** Append validates (or bootstraps) the meta before the
  data.  Overwrite creates a marker at the store root, writes the data,
  writes the meta last and then removes the marker.  While the marker
  exists, read, register and append refuse: a failed overwrite is always
  loud, and re-running the overwrite is the recovery.  Overwrite is not
  atomic for readers already running; replace a live store at a fresh
  path and swap the pointer.
- **Snapshot reads.** A gate captures the store's file listing when it is
  built, so appends screen only from the next gate construction.
- **Single writer.** Nothing excludes concurrent writers (two first-time
  appenders under different geometries can each bootstrap a meta), so
  callers serialize store writes; id uniqueness across appended batches
  is the caller's contract too.
- **Re-attach.** A fresh session re-attaches a bucketed table with
  :meth:`StoredTable.register` (no data rewrite); reads and appends do it
  automatically.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bulkfhirloader_spark.fsutil import (
    fs_delete,
    fs_dir_has_entries,
    fs_path_exists,
    fs_touch,
)
from bulkfhirloader_spark.sources.bucketing import (
    bucketed_table_name,
    register_external_bucketed_table,
)


def _names(ddl: str) -> tuple[str, ...]:
    return tuple(part.split()[0] for part in ddl.split(",") if part.strip())


@dataclass(frozen=True)
class StoredTable:
    """One kind of stored table (see the module docstring).

    ``geometry``, ``layout`` and ``trailer`` are DDL fragments for the
    meta columns; ``num_buckets`` is always the last layout column, and
    trailer values are computed when the meta is written."""

    label: str
    prefix: str
    rows: str
    bucket_col: str
    geometry: str
    layout: str = "num_buckets int"
    layout_noun: str = "bucket"
    meta_name: str = "meta.parquet"
    trailer: str = ""

    def _marker(self, path: str) -> str:
        return f"{path}/_{self.rows}.overwriting"

    def meta(self, spark, path: str, geometry: tuple | None = None, check=None):
        """The store's meta row, refused while an overwrite is unfinished,
        then passed to ``check`` (a family's own test) and compared with
        ``geometry`` when given."""
        self._refuse_unfinished(spark, path)
        return self._checked_row(spark, path, geometry, check)

    def _refuse_unfinished(self, spark, path: str) -> None:
        if fs_path_exists(spark, self._marker(path)):
            raise ValueError(
                f"{self.label} at {path} has an unfinished overwrite "
                f"({self._marker(path)} exists): its rows and meta may "
                f"disagree — re-run the overwrite to recover"
            )

    def _checked_row(self, spark, path: str, geometry: tuple | None, check):
        meta_path = f"{path}/{self.meta_name}"
        if not fs_path_exists(spark, meta_path):
            raise ValueError(f"no {self.label} at {path}: {meta_path} is missing")
        rows = spark.read.parquet(meta_path).collect()
        if len(rows) != 1:
            raise ValueError(f"corrupt {self.label} meta at {meta_path}: {rows}")
        if check is not None:
            check(rows[0])
        names = _names(self.geometry)
        got = tuple(rows[0][n] for n in names)
        if geometry is not None and got != tuple(geometry):
            raise ValueError(
                f"{self.label} geometry mismatch at {meta_path}: store has "
                f"({', '.join(names)})={got}, caller asked {tuple(geometry)} "
                f"— rows under another geometry never collide with this "
                f"caller's, so duplicates would be silently admitted"
            )
        return rows[0]

    def layout_of(self, row) -> tuple:
        """The row's layout values; absent columns read as None (plain)."""
        d = row.asDict()
        return tuple(d.get(n) for n in _names(self.layout))

    def _attach(self, spark, path: str, table, num_buckets) -> str:
        if num_buckets is None or table is None:
            raise ValueError(
                f"{self.label} at {path} is a plain (non-bucketed) store — "
                f"there is no table to register; rebuild it with "
                f"num_buckets=<n> for the bucketed layout"
            )
        return register_external_bucketed_table(
            spark, table, f"{path}/{self.rows}", self.bucket_col, num_buckets,
            [self.bucket_col],
        )

    def _table(self, row) -> tuple:
        """(bucket_table, num_buckets) recorded in a meta row."""
        return row.asDict().get("bucket_table"), self.layout_of(row)[-1]

    def register(self, spark, path: str) -> str:
        """Re-attach the bucketed table to this session's catalog under its
        recorded name; idempotent, and a different location under the same
        name raises.  Refuses a plain store."""
        return self._attach(spark, path, *self._table(self.meta(spark, path)))

    def read(
        self, spark, path: str, geometry: tuple, check=None
    ) -> tuple[DataFrame, bool]:
        """(rows, is_bucketed), geometry-validated.  A bucketed store is read
        through its catalog table, which carries the bucket layout into the
        plan; ``spark.read.parquet`` over the same files would not."""
        table, num_buckets = self._table(self.meta(spark, path, geometry, check))
        if num_buckets is not None:
            return spark.table(self._attach(spark, path, table, num_buckets)), True
        return spark.read.parquet(f"{path}/{self.rows}"), False

    @contextmanager
    def writing(
        self, spark, path: str, mode: str, geometry: tuple, layout: tuple,
        check=None, trailer=tuple,
    ):
        """Run a store write under the meta lifecycle.  Yields
        ``save(rows) -> table name | None``, the plain or bucketed write of
        the rows; the family writes any sidecars inside the block."""
        meta_path = f"{path}/{self.meta_name}"
        num_buckets = layout[-1]
        table = None if num_buckets is None else bucketed_table_name(self.prefix, path)

        def write_meta() -> None:
            cols = (self.geometry, self.layout, "bucket_table string", self.trailer)
            ddl = ", ".join(c for c in cols if c)
            values = (*geometry, *layout, table, *trailer())
            spark.createDataFrame([values], ddl).coalesce(1).write.mode(
                "overwrite"
            ).parquet(meta_path)

        if mode != "append":
            fs_touch(spark, self._marker(path))
        elif fs_path_exists(spark, meta_path):
            # geometry first, so a retry under the wrong geometry says so
            row = self._checked_row(spark, path, geometry, check)
            self._refuse_unfinished(spark, path)
            if self.layout_of(row) != tuple(layout):
                raise ValueError(
                    f"{self.label} {self.layout_noun}-layout mismatch at "
                    f"{meta_path}: store was written with "
                    f"({', '.join(_names(self.layout))})={self.layout_of(row)}, "
                    f"caller asked {tuple(layout)} — mixing plain and "
                    f"bucketed part files (or two bucket counts) under one "
                    f"table silently corrupts bucketed scans.  Rebuild the "
                    f"store to change its layout"
                )
            table = self._table(row)[0]
        elif fs_dir_has_entries(spark, path):
            raise ValueError(
                f"{self.label} at {path} has data but no readable meta at "
                f"{meta_path} — refusing to append under an unverifiable "
                f"geometry; rebuild the store or restore its meta"
            )
        else:
            write_meta()

        def save(rows: DataFrame) -> str | None:
            rows_path = f"{path}/{self.rows}"
            if num_buckets is None:
                rows.write.mode(mode).parquet(rows_path)
                return None
            attached = spark.catalog.tableExists(table)
            if attached and mode != "append":
                # overwrite = fresh create: a changed schema can never
                # half-apply against a stale catalog entry
                spark.sql(f"DROP TABLE `{table}`")
            elif not attached and mode == "append" and fs_path_exists(spark, rows_path):
                # a fresh session appending: re-attach first, so Spark
                # checks the bucket spec and writes bucket-hashed file names
                self._attach(spark, path, table, num_buckets)
            # hash-partition on the bucketing's own Murmur3 first: each
            # bucket's rows land in one task, so ≤ num_buckets files per
            # write instead of one per (task, bucket)
            rows.repartition(num_buckets, F.col(self.bucket_col)).write.format(
                "parquet"
            ).mode(mode).bucketBy(num_buckets, self.bucket_col).sortBy(
                self.bucket_col
            ).option("path", rows_path).saveAsTable(table)
            return table

        yield save
        if mode != "append":
            write_meta()
            fs_delete(spark, self._marker(path))


SIGNATURE_BANDS = StoredTable(
    "signature store", "bfls_sigbands", "bands", "band_hash",
    "num_hashes int, shingle_words int",
    layout="bands int, num_buckets int", layout_noun="banded",
)
BANDED = StoredTable(
    "banded store", "bfls_banded", "bands", "band_hash",
    "num_hashes int, bands int, shingle_words int",
)
SEMANTIC = StoredTable(
    "semantic store", "bfls_semstore", "vectors", "cluster_id",
    "round_dp int, k int, dim int, centroid_sha string",
)
IVF_LISTS = StoredTable(
    "bucketed lists mirror", "bfls_ivflists", "lists_bucketed", "_cluster", "",
    meta_name="lists_bucketed_meta.parquet", trailer="n_rows long",
)
WINNOW = StoredTable(
    "winnow store", "bfls_winnow", "fps", "fp_hash",
    "k int, window int, hash_tier string",
)
IMAGE_HASH = StoredTable(
    "image-hash store", "bfls_imghash", "bands", "band_key", "bands int",
)
