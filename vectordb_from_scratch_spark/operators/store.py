"""VectorStore facade — API-level parity with the reference's
``VectorStore`` (src/storage.rs:81-327): insert/insert_batch (upsert),
delete, get/get_metadata, list_ids, len, search, search_with_filter,
search_batch — re-expressed over an immutable DataFrame snapshot.

This is deliberately a THIN facade: every method compiles to the
set-oriented operators in this package (crud/knn/filters), so "state" is
just the current folded DataFrame and mutation returns a NEW store —
the DataFrame-native translation of the reference's &mut self methods.
Dimension is enforced on first insert exactly like the reference
(dimension inferred then checked, src/storage.rs:93-94, 145-154).

Scale: a search runs the kNN/ANN operator's plan over the store and
the probe table and nothing else — per-query k and the final order are
applied on the driver to the at most n_queries × k_max collected rows,
so the facade adds no join, sort or exchange to the plans. Driver-side
rows (probes, upserts, delete ids) enter Spark as Arrow-built local
relations (`_local_df`). A 100 TB deployment calls the operators directly
on partitioned tables; this class exists for API-parity tests and small
interactive use.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, replace
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions import vectormath as vm
from . import crud, knn
from .filters import compile_filter

STORE_SCHEMA = "id string, embedding array<double>, metadata map<string,string>"


def _local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side rows as a DataFrame over a LocalRelation, built from a
    pyarrow.Table. ``spark.createDataFrame(rows)`` would give a LogicalRDD
    of pickled rows, which runs a Python task every time a plan containing
    it executes; the values and types are the same either way."""
    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


class DimensionMismatch(ValueError):
    """Insert/query vector dimension differs from the store's
    (reference src/error.rs:11-12)."""


class VectorNotFound(KeyError):
    """Delete of an absent id (reference src/storage.rs:177-179)."""


@dataclass(frozen=True)
class VectorStore:
    spark: SparkSession
    df: DataFrame
    dimension: Optional[int] = None
    metric: str = "euclidean"
    # approximate-index mode: SRP-LSH params (nbits, n_tables, seed,
    # multiprobe) — the facade analog of the reference's generic
    # VectorStore<I: Index> instantiated with HnswIndex (its production
    # server serves the ANN index, src/server/mod.rs:39). None = exact
    # FlatIndex behavior.
    ann_params: Optional[dict] = None

    # -- construction -------------------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession, metric: str = "euclidean") -> "VectorStore":
        # NOT _local_df: a LocalRelation root would give in-memory stores
        # exact row statistics and flip knn's auto strategy off the fold
        # (vecblock.estimated_rows reads 0 for this RDD-backed root)
        return cls(spark, spark.createDataFrame([], STORE_SCHEMA), None, metric)

    def with_ann(
        self,
        nbits: int = 4,
        n_tables: int = 2,
        seed: int = 42,
        multiprobe: bool | int = 1,
    ) -> "VectorStore":
        """Switch the store's search path to the SRP-LSH approximate
        index (the HnswIndex-server parity mode): every search/filtered
        search routes through bucket probe -> exact re-rank instead of
        the full scan. May return fewer than k rows for sparse buckets —
        the same recall/latency trade the reference's ANN serve path
        makes; multiprobe widens the beam (ef analog)."""
        return replace(
            self,
            ann_params=dict(
                kind="srp",
                nbits=nbits, n_tables=n_tables, seed=seed, multiprobe=multiprobe,
            ),
        )

    def with_ivf_sq8(
        self,
        n_lists: int = 8,
        n_probe: int = 4,
        rerank: int = 30,
        seed: int = 42,
    ) -> "VectorStore":
        """Switch the store's search path to the QUANTIZED IVF-SQ8 index:
        KMeans coarse routing reads n_probe lists of int8 codes
        (asymmetric distance, zero decode materialization), then the
        rerank-deep shortlist exact-re-ranks on raw vectors — the
        production quantized serving design (FAISS IVF-SQ, public),
        composed over the same facade the reference's VectorStore<Index>
        exposes. Euclidean only (the asymmetric kernel); filtered search
        composes by pre-filtering the corpus before the build — exactly
        min(k, matches) rows, no starvation. n_lists is clamped to the
        row count at search time so tiny stores stay valid."""
        if self.metric != "euclidean":
            raise ValueError("ivf_sq8 serving supports metric='euclidean' only")
        return replace(
            self,
            ann_params=dict(
                kind="ivf_sq8",
                n_lists=n_lists, n_probe=n_probe, rerank=rerank, seed=seed,
            ),
        )

    # -- writes (return a NEW store; reference mutates in place) ------------

    def _check_dim(self, items: list[tuple]) -> Optional[int]:
        dims = {len(v) for _, v, *_ in items}
        if self.dimension is not None:
            dims.add(self.dimension)
        if len(dims) > 1:
            raise DimensionMismatch(f"expected dim {min(dims)}, got {dims}")
        return next(iter(dims)) if dims else None

    def insert(self, id: str, vector: list[float], metadata: dict | None = None) -> "VectorStore":
        """Upsert one row (reference insert/insert_with_metadata,
        src/storage.rs:130-172 — existing id replaced)."""
        return self.insert_batch([(id, vector, metadata or {})])

    def insert_batch(self, items: list[tuple]) -> "VectorStore":
        """Batch upsert (reference insert_batch, src/storage.rs:293-298 —
        but atomic rather than stop-at-first-error; divergence noted in
        SURVEY §2.2 R9)."""
        return self.apply(self.upsert_entries(items))

    def delete(self, id: str) -> "VectorStore":
        """Delete one id; raises VectorNotFound if absent (reference
        src/storage.rs:175-192)."""
        return self.apply(self.delete_entries(id))

    def upsert_entries(self, items: list[tuple]) -> list[tuple]:
        """The log entries ("insert", id, vector, metadata) of a batch
        upsert of (id, vector[, metadata]) items; raises
        DimensionMismatch. No Spark job."""
        items3 = [(i, list(map(float, v)), m or {}) for i, v, *rest in items
                  for m in [rest[0] if rest else {}]]
        # reference insert_batch is a HashMap insert loop — last write per
        # id wins within one batch (duplicates must not both survive)
        items3 = list({i: (i, v, m) for i, v, m in items3}.values())
        self._check_dim(items3)
        return [("insert", *it) for it in items3]

    def delete_entries(self, id: str, tail: dict | None = None) -> list[tuple]:
        """The log entry ("delete", id, None, None); raises VectorNotFound
        when `id` is absent. `tail` is the store directory's folded log
        tail (`StoreLog.tail`, id -> row or None for a tombstone): an id
        it holds is answered from it with no Spark job; any other id
        costs one job over the store."""
        if id in (tail or {}):
            absent = tail[id] is None
        else:
            absent = self.df.filter(F.col("id") == id).isEmpty()
        if absent:
            raise VectorNotFound(id)
        return [("delete", id, None, None)]

    def apply(self, entries: list[tuple]) -> "VectorStore":
        """This store with log entries (op, id, vector, metadata) applied,
        in order — a lazy plan; no Spark job."""
        new = self
        for op, group in itertools.groupby(entries, key=lambda e: e[0]):
            rows = [e[1:] for e in group]
            if op == "insert":
                updates = _local_df(self.spark, rows, STORE_SCHEMA)
                new = replace(new, df=crud.upsert(new.df, updates),
                              dimension=new._check_dim(rows))
            else:
                ids = _local_df(self.spark, [r[:1] for r in rows], "id string")
                new = replace(new, df=crud.delete_ids(new.df, ids))
        return new

    # -- reads --------------------------------------------------------------

    def lookup(self, id: str) -> Optional[tuple[list[float], dict]]:
        """(vector, metadata) of `id`, or None — one Spark job: collect(),
        not first(), which scans one partition and launches a second job
        when the id is not in it."""
        rows = self.df.filter(F.col("id") == id).select("embedding", "metadata").collect()
        return (list(rows[0].embedding), dict(rows[0].metadata or {})) if rows else None

    def get(self, id: str) -> Optional[list[float]]:
        row = self.lookup(id)
        return row and row[0]

    def get_metadata(self, id: str) -> Optional[dict]:
        row = self.lookup(id)
        return row and row[1]

    def list_ids(self) -> list[str]:
        return [r.id for r in self.df.select("id").collect()]

    def __len__(self) -> int:
        return self.df.count()

    # -- search -------------------------------------------------------------

    def _query_df(self, queries: list[tuple]) -> DataFrame:
        if self.dimension is not None:
            bad = [q for q, _ in queries if len(q) != self.dimension]
            if bad:
                raise DimensionMismatch(
                    f"query dim {len(bad[0])} != store dim {self.dimension}"
                )
        rows = [(i, list(map(float, q))) for i, (q, _) in enumerate(queries)]
        return _local_df(self.spark, rows, "query_id long, query_embedding array<double>")

    def search(self, query: list[float], k: int = 10) -> list[tuple[str, float]]:
        """Exact k-NN (reference src/storage.rs:217-245)."""
        return self.search_batch([(query, k)])[0]

    def search_batch(self, queries: list[tuple]) -> list[list[tuple[str, float]]]:
        """Batch search with per-query k (reference src/storage.rs:302-310)."""
        if not queries:
            return []
        kmax = max(k for _, k in queries)
        if kmax <= 0:
            return [[] for _ in queries]
        qdf = self._query_df(queries)
        kind = (self.ann_params or {}).get("kind")
        if kind == "ivf_sq8" and not self.df.isEmpty():
            from . import ann

            params = {k_: v for k_, v in self.ann_params.items() if k_ != "kind"}
            n_lists = max(1, min(params["n_lists"], self.df.count()))
            centers, assigned = ann.build_ivf(
                self.df, n_lists=n_lists, id_col="id", vec_col="embedding",
                seed=params["seed"],
            )
            centers_df = _local_df(
                self.spark,
                [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
                "list_id int, cvec array<double>",
            )
            idx = ann.ivf_sq8_index(assigned, id_col="id", vec_col="embedding")
            res = ann.ann_knn_ivf_sq8(
                idx, centers_df, qdf, k=kmax,
                n_probe=params["n_probe"], rerank=params["rerank"],
                raw=assigned.select(
                    "id", vm.as_double("embedding").alias("vec")
                ),
            )
        elif kind == "srp" and self.dimension is not None:
            from . import ann

            params = {k_: v for k_, v in self.ann_params.items() if k_ != "kind"}
            res = ann.ann_knn_srp(
                self.df, qdf, k=kmax, metric=self.metric,
                dim=self.dimension, id_col="id", vec_col="embedding",
                **params,
            )
        else:
            res = knn.knn(
                self.df, qdf, k=kmax, metric=self.metric,
                id_col="id", vec_col="embedding",
            )
        # per-query k and the order on the driver: the operator returned at
        # most len(queries) * kmax rows, and a join back to the probes plus
        # a global sort would cost a broadcast, a sample and a shuffle
        ks = [int(k) for _, k in queries]
        out: list[list[tuple[str, float]]] = [[] for _ in queries]
        for r in sorted(res.collect(), key=lambda r: (r.query_id, r.rank)):
            if r.rank <= ks[r.query_id]:
                out[r.query_id].append((r.id, r.distance))
        return out

    def search_with_filter(
        self, query: list[float], k: int, filter_spec: dict
    ) -> list[tuple[str, float]]:
        """Filtered k-NN (reference src/storage.rs:249-290) — PRE-filtered,
        so exactly min(k, matches) rows return (no 3k-over-fetch
        starvation; documented divergence)."""
        pred = compile_filter(filter_spec)
        filtered = replace(self, df=self.df.filter(pred))
        return filtered.search_batch([(query, k)])[0]

    def search_batch_with_filter(
        self, queries: list[tuple], filter_spec: dict
    ) -> list[list[tuple[str, float]]]:
        """Batch filtered k-NN, one filter shared by all queries
        (reference search_batch_with_filter, src/storage.rs:313-325) —
        pre-filtered like `search_with_filter`."""
        pred = compile_filter(filter_spec)
        filtered = replace(self, df=self.df.filter(pred))
        return filtered.search_batch(queries)
