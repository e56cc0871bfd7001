"""The one deterministic Lloyd (operators/ann.py) behind the IVF coarse
quantizer and the PQ codebooks: ivf_det_index must equal the separate
build + spread + assign composition it replaces, bit for bit, and
build_ivf_det must reject an assign strategy it does not know instead of
silently running another one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_from_scratch_spark.operators import ann
from vectordb_from_scratch_spark.sources.tables import spread


def _assert_same(a, b):
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_ivf_det_index_equals_inline_composition(embeddings):
    n_lists, iters, block = 8, 2, 4096
    cent, assigned = ann.ivf_det_index(embeddings, n_lists=n_lists, iters=iters, block=block)

    ref_cent = ann.build_ivf_det(embeddings, n_lists=n_lists, iters=iters, block=block)
    v = spread(embeddings).select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    ref_assigned = ann.assign_ivf_det(v, ref_cent)
    _assert_same(cent, ref_cent)
    _assert_same(assigned, ref_assigned)
    assert assigned.count() == embeddings.count()


def test_build_ivf_det_rejects_unknown_assign_strategy(embeddings):
    with pytest.raises(ValueError, match="assign_strategy"):
        ann.build_ivf_det(embeddings, n_lists=4, iters=1, assign_strategy="kernal")
