"""Round-9 operators: product quantization for the IVF-PQ index and the
single-pass replace rule BPE merges rely on.

Reference parity anchor: inyo-global/ducklake-kafka-connect has no
vector/tokenizer ops — these extend the beyond-parity LLM-pipeline
family (SURVEY §6); correctness is oracle-twinned in
tests/test_entry_oracle.py, these tests pin operator-level invariants.
"""

import math

from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.operators.similarity import (
    PQ_CB_HALF,
    PQ_K,
    PQ_M,
    PQ_QSCALE,
    pq_codebooks,
    pq_encode,
)
from ducklake_kafka_connect_spark.sources.parquet_loader import load_parquet

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def test_pq_codebooks_shape_and_determinism():
    b1 = pq_codebooks()
    b2 = pq_codebooks()
    assert b1 == b2, "codebooks must be pure functions of the seed"
    assert len(b1) == PQ_M and all(len(s) == PQ_K for s in b1)
    assert all(len(c) == 64 // PQ_M for s in b1 for c in s)
    flat = [v for s in b1 for c in s for v in c]
    assert all(isinstance(v, int) for v in flat), "integer codewords only"
    assert min(flat) >= -PQ_CB_HALF and max(flat) < PQ_CB_HALF


def test_pq_encode_codes_in_range(spark):
    emb = load_parquet(spark, f"{SF}/embeddings.parquet")
    enc = pq_encode(emb)
    aggs = enc.agg(
        *[F.min(f"__pq_c{s}").alias(f"lo{s}") for s in range(PQ_M)],
        *[F.max(f"__pq_c{s}").alias(f"hi{s}") for s in range(PQ_M)],
    ).head()
    for s in range(PQ_M):
        assert 1 <= aggs[f"lo{s}"] and aggs[f"hi{s}"] <= PQ_K


def test_pq_dist_matches_python_adc(spark, tmp_path):
    """One row's pq_dist from the IVF-PQ probe recomputed in pure Python
    from the codebooks — pins the quantize→encode→ADC arithmetic end to
    end."""
    from ducklake_kafka_connect_spark.lake import LakeCatalog
    from ducklake_kafka_connect_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_indexed_topk,
        _lcg_hyperplanes,
        NUM_CELLS,
    )

    cents = _lcg_hyperplanes(dim=64, n=NUM_CELLS, seed=11)
    emb = load_parquet(spark, f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    t = LakeCatalog(spark, str(tmp_path)).table("emb_ivfpq")
    build_ivfpq_index(t, emb, cents)
    probe = ivfpq_indexed_topk(t, q, cents, k=1, nprobe=2, exclude_ids=[0]).head()
    v = [
        float(x)
        for x in emb.filter(F.col("vec_id") == probe["vec_id"])
        .select("embedding")
        .head()[0]
    ]
    books = pq_codebooks()
    sub = 64 // PQ_M
    qq = [math.floor(x * PQ_QSCALE) for x in q]
    vv = [math.floor(x * PQ_QSCALE) for x in v]
    expect = 0
    for s, codes in enumerate(books):
        vs = vv[s * sub : (s + 1) * sub]
        dists = [sum((a - b) * (a - b) for a, b in zip(vs, c)) for c in codes]
        code = dists.index(min(dists))
        qs = qq[s * sub : (s + 1) * sub]
        expect += sum((a - b) * (a - b) for a, b in zip(qs, codes[code]))
    assert probe["pq_dist"] == expect


# ---------------------------------------------------------------------------
# BPE merge rule
# ---------------------------------------------------------------------------


def test_bpe_single_pass_replace_semantics(spark):
    """' a a a ' merges leftmost non-overlapping identically in Spark
    and Python's str.replace — the documented deterministic rule."""
    df = spark.createDataFrame([(" a a a ",)], "st string")
    got = df.select(
        F.replace(F.col("st"), F.lit(" a a "), F.lit(" aa ")).alias("r")
    ).head()["r"]
    assert got == " a a a ".replace(" a a ", " aa ") == " aa a "


# ---------------------------------------------------------------------------
# IVF-PQ composed index
# ---------------------------------------------------------------------------


def test_ivfpq_index_layout_and_pruning(spark, tmp_path):
    """The index must store only (id, cell, codes) — no raw vectors —
    and the nprobe probe must prune unprobed cells' files from the
    manifest."""
    from ducklake_kafka_connect_spark.lake import LakeCatalog
    from ducklake_kafka_connect_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_indexed_topk,
        probe_cells,
        _lcg_hyperplanes,
        NUM_CELLS,
    )

    cents = _lcg_hyperplanes(dim=64, n=NUM_CELLS, seed=11)
    emb = load_parquet(spark, f"{SF}/embeddings.parquet")
    cat = LakeCatalog(spark, str(tmp_path))
    t = cat.table("emb_ivfpq")
    build_ivfpq_index(t, emb, cents)
    cols = set(t.read().columns)
    assert "embedding" not in cols, "IVF-PQ stores codes, not vectors"
    assert {"vec_id", "cell"} <= cols
    assert sum(c.startswith("pqc") for c in cols) == PQ_M
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    cells = probe_cells(query, cents, nprobe=2)
    kept, pruned = t.prune_files(f"cell IN ({cells[0]}, {cells[1]})")
    assert pruned > 0, "unprobed cells' files must never be opened"
    top = ivfpq_indexed_topk(t, query, cents, k=5, nprobe=2, exclude_ids=[0])
    rows = top.collect()
    assert len(rows) == 5
    assert all(r["pq_dist"] >= 0 for r in rows)
