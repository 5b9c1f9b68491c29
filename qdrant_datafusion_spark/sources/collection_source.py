"""A PySpark Python Data Source for collection directories.

Structural parity with the reference provider (reference src/table.rs):

=====================================  ====================================
reference                              here
=====================================  ====================================
``QdrantTableProvider::try_new``       ``CollectionDataSource.__init__`` —
(collection_info RPC → schema,         reads ``_collection.json`` →
src/table.rs:132-146)                  ``schema()`` StructType
``scan(projection, filters, limit)``   Spark calls ``reader()``; column
(src/table.rs:157-184)                 pruning arrives via
                                       ``DataSourceReader.read`` pushdown
``QdrantScanExec`` 1 partition         ``partitions()`` — one partition per
(src/table.rs:247)                     parquet fragment (the reference's
                                       single-partition limit removed)
point → Arrow deserialization          pyarrow record-batch passthrough
(src/arrow/deserialize.rs)             (data at rest is already columnar)
=====================================  ====================================

For ordinary use, ``CollectionCatalog.load`` (plain ``spark.read.parquet``)
is strictly better — Catalyst's native parquet scan has vectorized readers,
filter pushdown, and stats.  This source exists as the *connector seam*:
``_read_fragment`` is where a live Qdrant-style gRPC fetch would replace
the local file read, with everything else unchanged.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StructType

from qdrant_datafusion_spark.collections import CollectionDescriptor, DESCRIPTOR_FILE

#: filter values the seam can serialize into a fragment/remote request
_PUSHABLE_VALUE = (int, float, str, bool, bytes)


def _arrow_filter_expr(filters: list[Filter]):
    """Translate pushed Spark filters to one pyarrow dataset expression.

    The analogue of the reference's filter → ScanRequest translation —
    except the reference silently IGNORES filters (src/table.rs:174-175);
    here accepted filters are exactly applied at the fragment scan, which
    also buys row-group statistics pruning from the parquet reader.
    Returns (expression | None, unsupported filters).
    """
    import pyarrow.dataset as ds

    expr = None
    rejected: list[Filter] = []
    for f in filters:
        e = None
        attr = getattr(f, "attribute", None)  # e.g. Not() wraps, no attribute
        if attr is not None and len(attr) == 1:  # top-level columns only
            field = ds.field(attr[0])
            if isinstance(f, EqualTo) and isinstance(f.value, _PUSHABLE_VALUE):
                e = field == f.value
            elif isinstance(f, GreaterThan) and isinstance(f.value, _PUSHABLE_VALUE):
                e = field > f.value
            elif isinstance(f, GreaterThanOrEqual) and isinstance(f.value, _PUSHABLE_VALUE):
                e = field >= f.value
            elif isinstance(f, LessThan) and isinstance(f.value, _PUSHABLE_VALUE):
                e = field < f.value
            elif isinstance(f, LessThanOrEqual) and isinstance(f.value, _PUSHABLE_VALUE):
                e = field <= f.value
            elif isinstance(f, In) and all(
                isinstance(v, _PUSHABLE_VALUE) for v in f.value
            ):
                e = field.isin(list(f.value))
            elif isinstance(f, IsNull):
                e = field.is_null()
            elif isinstance(f, IsNotNull):
                e = ~field.is_null()
            elif isinstance(f, StringStartsWith):
                import pyarrow.compute as pc

                e = pc.starts_with(field, f.value)
            elif isinstance(f, StringEndsWith):
                import pyarrow.compute as pc

                e = pc.ends_with(field, f.value)
            elif isinstance(f, StringContains):
                import pyarrow.compute as pc

                e = pc.match_substring(field, f.value)
        if e is None:
            rejected.append(f)
        else:
            expr = e if expr is None else (expr & e)
    return expr, rejected


class CollectionPartition(InputPartition):
    def __init__(self, fragment_path: str):
        self.fragment_path = fragment_path


class CollectionReader(DataSourceReader):
    """Fragment reader with the reference's full pushdown contract honored:

    - **filters** via :meth:`pushFilters` (Spark 4.1 Python DS API) —
      accepted predicates are exactly applied at the fragment scan
      (exceeding the reference, which drops filters, src/table.rs:174-175)
    - **projection** via the ``columns`` option — only requested columns
      are read (the selector derivation of reference src/utils.rs:53-83:
      ``with_payload`` / ``with_vectors`` built from the pruned schema)
    - **limit** via the ``limit`` option — each fragment read stops after
      ``limit`` rows (reference src/table.rs:296-298 pushes the limit into
      the ScanRequest; Spark applies the global limit on top)
    """

    def __init__(self, path: str, schema: StructType, options=None):
        self.path = path
        self._schema = schema
        options = options or {}
        cols = options.get("columns")
        self._columns = (
            [c.strip() for c in cols.split(",") if c.strip()] if cols else None
        )
        limit = options.get("limit")
        self._limit = int(limit) if limit is not None else None
        self._pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]):
        """Accept the predicates the seam can serialize; yield back the
        rest for Spark to evaluate."""
        _, rejected = _arrow_filter_expr(filters)
        rejected_set = {id(f) for f in rejected}
        self._pushed = [f for f in filters if id(f) not in rejected_set]
        yield from rejected

    def partitions(self) -> list[CollectionPartition]:
        """One partition per parquet fragment — a multi-partition scan,
        unlike the reference's UnknownPartitioning(1)."""
        frags = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        return [CollectionPartition(f) for f in frags] or [CollectionPartition("")]

    def read(self, partition: CollectionPartition):
        """Yield Arrow record batches for one fragment, honoring pushed
        filters, the column projection, and the row limit.

        This is the connector seam: replace the dataset scan with a remote
        fetch carrying the same (columns, filter, limit) request — exactly
        what the reference sends over gRPC (src/table.rs:269-320) — with
        everything else unchanged.
        """
        import pyarrow.dataset as ds

        if not partition.fragment_path:
            return
        expr, _ = _arrow_filter_expr(self._pushed)
        scanner = ds.dataset(partition.fragment_path, format="parquet").scanner(
            columns=self._columns,
            filter=expr,
            batch_size=8192,
        )
        remaining = self._limit
        for batch in scanner.to_batches():
            if batch.num_rows == 0:
                continue
            if remaining is not None:
                if remaining <= 0:
                    return
                if batch.num_rows > remaining:
                    batch = batch.slice(0, remaining)
                remaining -= batch.num_rows
            yield batch


class CollectionDataSource(DataSource):
    """``spark.read.format("qdrant_collection").option("path", dir)``."""

    @classmethod
    def name(cls) -> str:
        return "qdrant_collection"

    def schema(self) -> StructType:
        """Schema from the collection descriptor — the analogue of
        collection_to_arrow_schema (reference src/arrow/schema.rs:59-110).
        Falls back to the parquet footer when no descriptor file exists.
        A ``columns`` option narrows the schema to the projected fields
        (the selector derivation of reference src/utils.rs:53-83)."""
        path = self.options.get("path")
        desc_file = os.path.join(path, DESCRIPTOR_FILE)
        if os.path.exists(desc_file):
            with open(desc_file) as fh:
                full = CollectionDescriptor.from_json(fh.read()).schema()
        else:
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            frags = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not frags:
                raise FileNotFoundError(f"no parquet fragments under {path!r}")
            full = from_arrow_schema(pq.read_schema(frags[0]))
        cols = self.options.get("columns")
        if cols:
            wanted = [c.strip() for c in cols.split(",") if c.strip()]
            missing = set(wanted) - {f.name for f in full.fields}
            if missing:
                raise ValueError(f"unknown columns in projection: {sorted(missing)}")
            return StructType([f for f in full.fields if f.name in set(wanted)])
        return full

    def reader(self, schema: StructType) -> CollectionReader:
        # keep the projected schema's field order for the fragment scan
        options = dict(self.options)
        if self.options.get("columns"):
            options["columns"] = ",".join(f.name for f in schema.fields)
        return CollectionReader(self.options.get("path"), schema, options)

    def simpleStreamReader(self, schema: StructType) -> "CollectionStreamReader":
        """``spark.readStream.format("qdrant_collection")`` — continuous
        ingestion from a growing collection directory.  The reference has
        no streaming at all (its scan is Boundedness::Bounded,
        src/table.rs:248-249); this is the additive live-ingest seam: an
        offset is the sorted fragment list already consumed, so each
        micro-batch reads exactly the new fragments (replayable between
        offsets for exactly-once sinks)."""
        return CollectionStreamReader(self.options.get("path"), schema)


class CollectionStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, path: str, schema: StructType):
        self.path = path
        self._schema = schema
        self._fields = [f.name for f in schema.fields]

    def _fragments(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, "*.parquet")))

    def initialOffset(self) -> dict:
        return {"seen": []}

    def _rows_for(self, frags: list[str]):
        # materialized (not a generator): Spark's prefetching cache copies
        # the returned iterator, which generators don't support
        import pyarrow.parquet as pq

        rows = []
        for f in frags:
            table = pq.read_table(f, columns=self._fields)
            for rec in table.to_pylist():
                rows.append(tuple(rec[name] for name in self._fields))
        return iter(rows)

    def read(self, start: dict):
        frags = self._fragments()
        new = [f for f in frags if f not in set(start.get("seen", []))]
        return self._rows_for(new), {"seen": frags}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay for recovery: exactly the fragments that
        # arrived between the two offsets
        seen = set(start.get("seen", []))
        return self._rows_for([f for f in end.get("seen", []) if f not in seen])


def register_collection_source(spark) -> None:
    """Register the format on a session (once per session)."""
    spark.dataSource.register(CollectionDataSource)
