"""The numpy kernels behind the similarity operators
(operators/vector_kernels.py): their fold-order arithmetic, their
input contract, and the id types the operators built on them keep."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from database_query_processor_spark.catalog import load_table
from database_query_processor_spark.operators import similarity as SIM
from database_query_processor_spark.operators import vector_kernels as VK
from tests.conftest import SF_CORRECT


def _fold(terms) -> float:
    """The sequential fold of dot_d / _l2sq / DuckDB list_sum."""
    s = 0.0
    for t in terms:
        s += t
    return s


def test_kernels_match_sequential_fold_bit_for_bit():
    rng = np.random.default_rng(3)
    a = rng.normal(size=(50, 64)).astype(np.float32).astype(np.float64)
    b = rng.normal(size=64).astype(np.float32).astype(np.float64)
    assert VK.dots(a, b).tolist() == [_fold(x * y for x, y in zip(r, b)) for r in a]
    assert VK.l2sq(a, b).tolist() == [_fold((x - y) * (x - y) for x, y in zip(r, b)) for r in a]


def test_first_extremum_tie_break():
    scores = np.array([0.5, 0.9, np.nan, 0.9, 0.1])
    assert VK.top_first(scores, 3).tolist() == [1, 3, 0]
    codebook = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]])
    rows = np.array([[1.0, 0.0], [0.5, 0.5]])  # exact tie on row 2
    assert VK.nearest_codes(rows, codebook).tolist() == [0, 0]


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_CORRECT, "embeddings")


@pytest.fixture(scope="module")
def planted(spark):
    """100 random vectors + a tiny-noise copy of each (ids i, i+100):
    every operator has pairs to find and vectors to drop."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(100, SIM._EMB_DIM)).astype("float32")
    noisy = base + 0.03 * rng.normal(size=base.shape).astype("float32")
    rows = [(i, v.tolist()) for i, v in enumerate(np.concatenate([base, noisy]))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _typed(df, id_type):
    if id_type == "string":  # zero-padded: string order == numeric order
        ids = F.format_string("v%06d", F.col("vec_id"))
    else:
        ids = F.col("vec_id").cast(id_type)
    return df.withColumn("vec_id", ids)


def _num(v):
    return int(v[1:]) if isinstance(v, str) else v


def _run_all(df, query_id):
    pairs = SIM.embedding_dup_pairs(df, "vec_id", "embedding", threshold=0.9)
    verdicts = SIM.semantic_dedup(df, "vec_id", "embedding", tau=0.9)
    ann = SIM.ann_pq_rerank(df, "vec_id", "embedding", query_id=query_id, k=10)
    out = {
        "pairs": sorted((_num(r.id_a), _num(r.id_b), r.cos) for r in pairs.collect()),
        "verdicts": sorted((_num(r.vec_id), _num(r.cell), r.kept) for r in verdicts.collect()),
        "ann": [(_num(r.vec_id), r.approx, r.cos) for r in ann.collect()],
    }
    types = {
        "pairs": {pairs.schema["id_a"].dataType, pairs.schema["id_b"].dataType},
        "verdicts": {verdicts.schema["vec_id"].dataType},
        "ann": {ann.schema["vec_id"].dataType},
    }
    return out, types


@pytest.fixture(scope="module")
def long_run(planted):
    return _run_all(planted, 0)[0]


@pytest.mark.parametrize("id_type", ["int", "long", "string"])
def test_id_type_kept_and_results_unchanged(planted, long_run, id_type):
    """embedding_dup_pairs, semantic_dedup and ann_pq_rerank keep the
    input's id type and return the same pairs, verdicts and neighbors
    as with long ids."""
    df = _typed(planted, id_type)
    out, types = _run_all(df, "v000000" if id_type == "string" else 0)
    id_dtype = df.schema["vec_id"].dataType
    assert types == {k: {id_dtype} for k in types}
    assert out == long_run
    assert len(long_run["pairs"]) >= 90
    assert sum(not kept for *_, kept in long_run["verdicts"]) >= 90


@pytest.mark.parametrize("component", ["nan", "null"])
@pytest.mark.parametrize("op", ["x05", "x49", "x66"])
def test_non_finite_component_fails_loudly(embeddings, op, component):
    """One NaN or NULL vector component raises an error naming the
    column instead of an argmin/cosine that silently disagrees with
    the oracle (which orders NaN last and folds NULL to NULL)."""
    bad = F.lit(float("nan") if component == "nan" else None).cast("float")
    df = embeddings.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 499,
            F.transform("embedding", lambda x, i: F.when(i == 3, bad).otherwise(x)),
        ).otherwise(F.col("embedding")),
    )
    build = {
        "x05": lambda: SIM.embedding_dup_pairs(df, "vec_id", "embedding"),
        "x49": lambda: SIM.semantic_dedup(df, "vec_id", "embedding"),
        "x66": lambda: SIM.ann_pq_rerank(df, "vec_id", "embedding", query_id=0),
    }[op]
    with pytest.raises(PythonException, match="column 'embedding' holds a NULL or non-finite"):
        build().collect()


def test_blas_assign_keeps_string_cells(planted, monkeypatch):
    """Past the literal-argmax cliff the BLAS assignment emits string
    cent_ids as strings (the literal path carries them in its struct)."""
    df = _typed(planted, "string")
    cents = SIM._ids_codebook(df, "vec_id", "embedding", cells=12)
    monkeypatch.setattr(SIM, "_ASSIGN_LITERAL_MAX", 1)
    out = SIM._assign_cells(df, "vec_id", "embedding", cents)
    assert out.schema["cell"].dataType == df.schema["vec_id"].dataType
    assert {r.cell for r in out.collect()} == {cid for cid, _ in cents}
