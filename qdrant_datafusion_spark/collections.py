"""Collection descriptor + Parquet-backed collection tables.

The reference derives an Arrow schema from a live Qdrant collection's config
(reference src/arrow/schema.rs:59-110: fixed ``id`` Utf8 non-null +
``payload`` Utf8 nullable, one column per declared dense/multi vector field,
and an ``{name}_indices``/``{name}_values`` column pair per sparse field).
Here the collection config is an explicit :class:`CollectionDescriptor` and
data-at-rest is Parquet with the same column convention, which hands
Catalyst column pruning / predicate pushdown / multi-partition scans for
free — removing the reference's single-partition bottleneck
(reference src/table.rs:247, ``UnknownPartitioning(1)``).

Vector encodings (reference src/arrow/schema.rs:35-53, 91-107):

=============  =======================================  =========================
kind           reference Arrow encoding                 Spark type
=============  =======================================  =========================
dense          List<Float32> nullable                   ArrayType(FloatType())
multi          List<List<Float32>> nullable             ArrayType(ArrayType(FloatType()))
sparse         {n}_indices List<UInt32> +               ArrayType(LongType()) +
               {n}_values List<Float32>                 ArrayType(FloatType())
=============  =======================================  =========================

Sparse UInt32 indices widen to LongType (Spark has no unsigned ints).
Element type is always Float32 — the reference deliberately collapses
declared Float16/UInt8 to Float32 (src/arrow/schema.rs:18-27).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pandas as pd  # module-level: pandas_udf resolves string hints here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from qdrant_datafusion_spark.session import Pins

#: distance metrics a vector field can declare (reference e2e tests configure
#: Cosine / Dot / Euclid per field — tests/e2e.rs:127-148).
METRICS = ("cosine", "dot", "euclid", "manhattan")

UNNAMED_VECTOR_COLUMN = "vector"  # reference src/arrow/schema.rs:74-77


@dataclass(frozen=True)
class VectorField:
    """One declared vector field of a collection."""

    name: str
    dim: int
    metric: str = "cosine"
    kind: str = "dense"  # dense | multi | sparse

    def __post_init__(self) -> None:
        if self.metric not in METRICS:
            raise ValueError(f"unknown metric {self.metric!r}; one of {METRICS}")
        if self.kind not in ("dense", "multi", "sparse"):
            raise ValueError(f"unknown vector kind {self.kind!r}")


@dataclass(frozen=True)
class CollectionDescriptor:
    """The analogue of a Qdrant collection config.

    ``unnamed=True`` models the reference's single-unnamed-vector collection
    (one column literally named ``vector``); otherwise each
    :class:`VectorField` becomes one (dense/multi) or two (sparse) columns.
    A collection is either named or unnamed, never both
    (reference CLAUDE.md:80-87 structural rules).
    """

    name: str
    fields: tuple[VectorField, ...] = field(default_factory=tuple)
    unnamed: bool = False

    def __post_init__(self) -> None:
        if self.unnamed:
            if len(self.fields) != 1 or self.fields[0].kind != "dense":
                raise ValueError("unnamed collection declares exactly one dense field")
        if any(f.kind == "sparse" and self.unnamed for f in self.fields):
            raise ValueError("sparse vectors must be named")

    # -- schema derivation (mirror of collection_to_arrow_schema) ------------

    def schema(self) -> T.StructType:
        """Descriptor -> Spark schema, mirroring reference src/arrow/schema.rs:59-110."""
        out = [
            T.StructField("id", T.StringType(), False),
            T.StructField("payload", T.StringType(), True),
        ]
        for f in self.fields:
            if f.kind == "sparse":
                out.append(
                    T.StructField(f"{f.name}_indices", T.ArrayType(T.LongType()), True)
                )
                out.append(
                    T.StructField(f"{f.name}_values", T.ArrayType(T.FloatType()), True)
                )
            elif f.kind == "multi":
                out.append(
                    T.StructField(
                        self._col(f), T.ArrayType(T.ArrayType(T.FloatType())), True
                    )
                )
            else:
                out.append(T.StructField(self._col(f), T.ArrayType(T.FloatType()), True))
        return T.StructType(out)

    def _col(self, f: VectorField) -> str:
        return UNNAMED_VECTOR_COLUMN if self.unnamed else f.name

    def metric_for(self, column: str | None = None) -> str:
        """Per-field metric lookup — V_SEARCH without an explicit metric uses the
        collection-configured one (reference tests/e2e.rs:127-148)."""
        if column is None or self.unnamed:
            return self.fields[0].metric
        base = column
        for suffix in ("_indices", "_values"):
            if base.endswith(suffix):
                base = base[: -len(suffix)]
        for f in self.fields:
            if f.name == base:
                return f.metric
        raise KeyError(f"no vector field {column!r} in collection {self.name!r}")

    # -- (de)serialization ---------------------------------------------------

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "unnamed": self.unnamed,
                "fields": [
                    {"name": f.name, "dim": f.dim, "metric": f.metric, "kind": f.kind}
                    for f in self.fields
                ],
            }
        )

    @classmethod
    def from_json(cls, text: str) -> CollectionDescriptor:
        d = json.loads(text)
        return cls(
            name=d["name"],
            unnamed=d.get("unnamed", False),
            fields=tuple(VectorField(**f) for f in d.get("fields", ())),
        )


def descriptor_from_collection_info(
    name: str, info: dict
) -> CollectionDescriptor:
    """REST ``GET /collections/{name}`` response → descriptor.

    The live analogue of :meth:`CollectionDescriptor.from_json`: the
    reference derives its Arrow schema from ``get_collection_info``'s
    config at TableProvider construction (src/table.rs:60-74 →
    src/arrow/schema.rs:59-110); this does the same from the REST
    ``result.config.params`` shape — a bare ``{"size", "distance"}``
    params object is the single unnamed dense vector, a name→params map
    is a named collection (``multivector_config`` presence marks a
    multi-vector field), and ``sparse_vectors`` entries append sparse
    fields (dim 0 — sparse fields carry no fixed dimension).

    Accepts either the full response (``{"result": {...}}``) or the
    unwrapped result object.
    """
    result = info.get("result", info)
    params = (result.get("config") or {}).get("params") or {}
    vectors = params.get("vectors") or {}
    fields: list[VectorField] = []
    unnamed = "size" in vectors
    if unnamed:
        fields.append(
            VectorField(
                name=UNNAMED_VECTOR_COLUMN,
                dim=int(vectors["size"]),
                metric=str(vectors.get("distance", "Cosine")).lower(),
            )
        )
    else:
        for vname in sorted(vectors):
            cfg = vectors[vname]
            fields.append(
                VectorField(
                    name=vname,
                    dim=int(cfg.get("size", 0)),
                    metric=str(cfg.get("distance", "Cosine")).lower(),
                    kind="multi" if cfg.get("multivector_config") else "dense",
                )
            )
    for sname in sorted(params.get("sparse_vectors") or {}):
        fields.append(VectorField(name=sname, dim=0, kind="sparse"))
    return CollectionDescriptor(
        name=name, fields=tuple(fields), unnamed=unnamed
    )


DESCRIPTOR_FILE = "_collection.json"


class CollectionCatalog:
    """Registers collection directories as Spark tables.

    A collection lives at ``{root}/{name}/`` as Parquet files plus a
    ``_collection.json`` descriptor.  ``register`` is the analogue of the
    reference's ``ctx.register_table`` (tests/e2e.rs:217): after it, the
    collection is queryable by name from ``spark.sql``.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._descriptors: dict[str, CollectionDescriptor] = {}

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(
        self,
        descriptor: CollectionDescriptor,
        df: DataFrame,
        mode: str = "overwrite",
        partitions: int | None = None,
    ) -> None:
        """Persist a collection (the write path the reference left ``todo!()``
        at src/table.rs:186-193)."""
        expected = {f.name for f in descriptor.schema().fields}
        missing = expected - set(df.columns)
        if missing:
            raise ValueError(f"DataFrame missing collection columns: {sorted(missing)}")
        path = self._dir(descriptor.name)
        writer = df.repartition(partitions) if partitions else df
        writer.write.mode(mode).parquet(path)
        with open(os.path.join(path, DESCRIPTOR_FILE), "w") as fh:
            fh.write(descriptor.to_json())
        self._descriptors[descriptor.name] = descriptor

    def descriptor(self, name: str) -> CollectionDescriptor:
        if name not in self._descriptors:
            with open(os.path.join(self._dir(name), DESCRIPTOR_FILE)) as fh:
                self._descriptors[name] = CollectionDescriptor.from_json(fh.read())
        return self._descriptors[name]

    def load(self, name: str) -> DataFrame:
        """Collection scan — Parquet-backed, multi-partition, with Catalyst
        column pruning / predicate pushdown (exceeding the reference scan,
        which ignores filters — src/table.rs:174-175)."""
        return self.spark.read.parquet(self._dir(name))

    def register(self, name: str, view_name: str | None = None) -> DataFrame:
        df = self.load(name)
        df.createOrReplaceTempView(view_name or name)
        return df

    def insert_into(self, name: str, df: DataFrame) -> None:
        """INSERT INTO — append rows to an existing collection."""
        descriptor = self.descriptor(name)
        self.write(descriptor, df, mode="append")

    def compact(
        self,
        name: str,
        target_fragments: int | None = None,
        target_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Rewrite a collection's fragments into ``target_fragments`` files
        (default: sized from on-disk bytes at ``target_bytes`` per
        fragment, min 1) and swap atomically-enough for a single writer.

        The small-files answer for streaming ingest: every micro-batch of
        ``stream_collection_writer`` appends a fragment, and a
        1000-executor scan of 10⁶ tiny files spends its time in task
        scheduling and footer reads, not IO.  Compaction is one
        repartition-write — shuffle keyed on nothing (round-robin), so
        it scales with data volume, not file count.  Returns the new
        fragment count.  Readers racing the swap should re-resolve the
        directory (same caveat as any non-transactional parquet rewrite;
        a table format adds the commit protocol, not different IO)."""
        import glob as _glob
        import shutil

        path = self._dir(name)
        frags = _glob.glob(os.path.join(path, "*.parquet"))
        if target_fragments is None:
            total = sum(os.path.getsize(f) for f in frags)
            target_fragments = max(1, -(-total // target_bytes))
        return self._rewrite(name, self.load(name).repartition(target_fragments))

    def _rewrite(self, name: str, df: DataFrame) -> int:
        """Materialize ``df`` as the collection's new fragment set (write
        to a sibling tmp dir, then swap — single-writer semantics, same
        caveat as any non-transactional parquet rewrite).  Returns the new
        fragment count.  Shared by compact / delete_where / update_payload."""
        import glob as _glob
        import shutil

        path = self._dir(name)
        descriptor = self.descriptor(name)
        frags = _glob.glob(os.path.join(path, "*.parquet"))
        tmp = path + ".rewrite_tmp"
        df.write.mode("overwrite").parquet(tmp)
        for f in frags:
            os.remove(f)
        for f in _glob.glob(os.path.join(tmp, "*.parquet")):
            shutil.move(f, os.path.join(path, os.path.basename(f)))
        shutil.rmtree(tmp, ignore_errors=True)
        with open(os.path.join(path, DESCRIPTOR_FILE), "w") as fh:
            fh.write(descriptor.to_json())
        return len(_glob.glob(os.path.join(path, "*.parquet")))

    def delete_where(self, name: str, predicate) -> int:
        """Delete matching points — the table-side analogue of Qdrant's
        delete-points API, which the reference's read-only table cannot
        express (its write path is ``todo!()``, src/table.rs:186-193).

        ``predicate`` is a SQL string or Column selecting the rows to
        REMOVE.  Implemented as filter + fragment rewrite (one scan, one
        write, no shuffle); returns the number of rows deleted.  At 100 TB
        pair it with partitioned layouts so the rewrite touches only
        affected partitions (here: whole-collection rewrite, documented
        single-writer)."""
        from pyspark.sql import functions as F

        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        pin = Pins()
        try:
            df = pin(self.load(name))
            total = df.count()
            kept = df.filter(~cond | cond.isNull())
            kept_n = kept.count()
            self._rewrite(name, kept)
        finally:
            pin.release()
        return total - kept_n

    def update_payload(self, name: str, predicate, patch: dict) -> int:
        """Merge JSON keys into matching points' payloads — the analogue
        of Qdrant's set-payload API (merge semantics: existing keys keep
        their values unless patched; non-matching rows untouched).

        The merge is a real JSON merge (typed values preserved) via an
        Arrow-batched pandas UDF — a write-path cost, not a query path.
        Returns the number of rows updated."""
        import json as _json

        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        patch_text = _json.dumps(patch)

        @pandas_udf("string")
        def _merge(payload: pd.Series) -> pd.Series:
            def one(p):
                base = _json.loads(p) if p else {}
                base.update(_json.loads(patch_text))
                return _json.dumps(base, sort_keys=True)

            return payload.map(one)

        pin = Pins()
        try:
            df = pin(self.load(name))
            # split-and-union rather than when(cond, udf): a Python UDF
            # inside when() is hoisted to an unconditional ArrowEvalPython
            # node, which would run the JSON merge over EVERY row
            matched = df.filter(cond)
            updated = matched.count()
            out = df.filter(~cond | cond.isNull()).unionByName(
                matched.withColumn("payload", _merge(F.col("payload")))
            )
            self._rewrite(name, out)
        finally:
            pin.release()
        return updated
