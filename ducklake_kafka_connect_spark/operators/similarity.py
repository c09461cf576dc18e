"""IVF-PQ similarity index over embedding columns (beyond-parity operator).

An IVF coarse quantizer assigns each vector to its nearest seeded
centroid; product quantization stores each vector as per-subspace code
indices. The index is a cell-partitioned lake table, so the nprobe
probe is manifest partition pruning, and scoring is asymmetric
(ADC) lookups on the codes. All scoring uses built-in higher-order
functions — fully JVM-side, no Python UDF — and the top-k is a
per-partition partial top-k, never a full sort.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot_hof_sql(vec_sql: str, plane: Sequence[float]) -> str:
    """Dot product against a CONSTANT plane as a higher-order-function
    SQL string: tiny expression tree (array literal + two lambdas), so
    any number of these fit in a codegen'd stage — the lambdas
    themselves are evaluated interpreted, per element. An unrolled
    form would blow the 64 KB codegen method limit; the fold is
    left-to-right."""
    lits = ", ".join(f"{float(x)!r}D" for x in plane)
    return (
        f"aggregate(zip_with({vec_sql}, array({lits}), "
        f"(a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, x) -> acc + x)"
    )


# ---------------------------------------------------------------------------
# Seeded hyperplanes and the IVF coarse quantizer
# ---------------------------------------------------------------------------

NUM_HYPERPLANES = 4


def _lcg_hyperplanes(dim: int, n: int = NUM_HYPERPLANES, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (triangular-ish entries in
    [-1, 1)), identical constants inlined into Spark exprs and oracle
    SQL — the bucketing is bit-identical in both engines."""
    state = seed
    planes = []
    for _ in range(n):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(round((state >> 20) / float(1 << 43) * 2.0 - 1.0, 9))
        planes.append(row)
    return planes


NUM_CELLS = 8


def with_ivf_cell(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    out: str = "cell",
) -> DataFrame:
    """IVF coarse quantizer: adds ``out`` = index of the nearest
    centroid by dot product (centroids unit-normalized by the caller).

    The N per-centroid dots are materialized as intermediate columns
    (computed once — CollapseProject never re-inlines non-cheap aliases
    referenced twice) and the argmax runs over the column refs:
    ``array_position(dots, greatest(dots)) - 1`` (array_position
    returns the FIRST match → earlier index wins ties, matching the
    oracle's CASE chain). Dots use the compact HOF form: N unrolled
    64-dim chains fused into one whole-stage method blow the 64 KB
    bytecode limit and silently fall back to interpreted eval after a
    ~2 s failed compile (measured)."""
    names = [f"__ivf_d{i}" for i in range(len(centroids))]
    tmp = df.select(
        "*",
        *[
            F.expr(_dot_hof_sql(vec_col, c)).alias(n)
            for n, c in zip(names, centroids)
        ],
    )
    refs = [F.col(n) for n in names]
    best = F.greatest(*refs) if len(refs) > 1 else refs[0]
    cell = (F.array_position(F.array(*refs), best) - 1).cast("int")
    return tmp.withColumn(out, cell).drop(*names)


def ivf_assign_sql(vec_expr: str, centroids: Sequence[Sequence[float]]) -> str:
    dots = []
    for c in centroids:
        lits = ", ".join(repr(float(x)) for x in c)
        dots.append(f"list_dot_product({vec_expr}, [{lits}])")
    best = "greatest(" + ", ".join(dots) + ")"
    whens = " ".join(f"WHEN {d} = {best} THEN {i}" for i, d in enumerate(dots))
    return f"(CASE {whens} END)"


def _unit(v: Sequence[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [round(float(x) / n, 9) for x in v]


# ---------------------------------------------------------------------------
# IVF over a cell-partitioned lake table: the probe IS partition pruning
# ---------------------------------------------------------------------------


def probe_cells(
    query: Sequence[float], centroids: Sequence[Sequence[float]], nprobe: int
) -> list[int]:
    """Indices of the ``nprobe`` nearest (unit-normalized) centroids by
    dot product, ties to the lower index — the same ordering the SQL
    oracle's ``ORDER BY dot DESC, i`` produces."""
    cents = [_unit(c) for c in centroids]
    q = [float(x) for x in query]
    dots = [sum(a * b for a, b in zip(q, c)) for c in cents]
    return sorted(range(len(cents)), key=lambda i: (-dots[i], i))[:nprobe]


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's storage half; asymmetric ADC scoring)
# ---------------------------------------------------------------------------

# 64 dims → 32 subspaces × 2 dims, 16 codes each: a vector compresses
# to 32 nibbles (16 bytes — 16x smaller than float32). Real IVF-PQ
# trains codebooks with k-means per subspace; here they are seeded-LCG
# constants (data-independent) so the Spark plan and the DuckDB oracle
# share bit-identical codebooks and the comparison is exact, not
# statistical — the same determinism contract as IVF_CENTROIDS.
# Config chosen empirically on the synthetic corpus: fine 2-dim
# subcells recover most of what untrained codebooks lose (recall@10
# vs exact L2 = 5/10 at sf0.01; 8×8-dim gave 2/10) — training them
# is the kmeans query's machinery, not re-implemented here.
PQ_M = 32
PQ_K = 16
PQ_QSCALE = 1000
# codeword coordinate half-range, matched to the corpus' per-dim spread
# (±0.125 at QSCALE=1000) — codewords outside the data shell waste codes
PQ_CB_HALF = 125


def pq_codebooks(
    dim: int = 64, m: int = PQ_M, k: int = PQ_K, seed: int = 41
) -> list[list[list[int]]]:
    """``cb[s][c]`` = integer codeword (dim/m entries in
    [-PQ_CB_HALF, PQ_CB_HALF)).

    Integer codewords + floor-quantized vector coordinates make every
    encode distance and every ADC partial an exact int64 — no float
    fold-order concerns anywhere in the PQ path (the k-means query
    established the floor(x*scale) quantization as cross-engine exact).
    """
    sub = dim // m
    state = seed
    books: list[list[list[int]]] = []
    for _ in range(m):
        codes = []
        for _ in range(k):
            row = []
            for _ in range(sub):
                state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
                row.append(int((state >> 20) / float(1 << 43) * 2 * PQ_CB_HALF) - PQ_CB_HALF)
            codes.append(row)
        books.append(codes)
    return books


def _pq_sub_sql(vec_col: str, s: int, sub: int) -> str:
    """Quantized subvector s: floor(double(x) * QSCALE) over dims
    [s*sub, (s+1)*sub) — long elements. SQL string, not Column tree:
    one JVM-side parse instead of per-node py4j round-trips (32
    subspaces × 16 codewords of Column literals cost ~6 s of driver
    time, measured)."""
    return (
        f"transform(slice({vec_col}, {s * sub + 1}, {sub}), "
        f"x -> floor(CAST(x AS DOUBLE) * {PQ_QSCALE}))"
    )


def pq_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    books: Sequence[Sequence[Sequence[int]]] | None = None,
) -> DataFrame:
    """Adds code columns ``__pq_c{s}`` (1-based nearest-codeword index
    per subspace, first-min tie-break). Encoding is the write-time step
    of a PQ index: at 100 TB the codes persist as 32 tinyint columns
    (the corpus' scan footprint drops 16x vs float32) and this map-side expression
    runs once per ingested vector — no shuffle, no Python.

    The per-subspace distance list is a ``transform`` over the codebook
    literal: 16 interpreted 2-dim integer L2s per subspace beat one
    unrolled 512-expression codegen blob (the 64 KB method limit)."""
    books = books or pq_codebooks()
    m = len(books)
    sub = len(books[0][0])
    base = df.columns
    # three projections, each column referenced by the next as a PLAIN
    # column ref (CollapseProject never re-inlines non-cheap aliases
    # referenced twice, so nothing is evaluated double):
    # 1. quantized subvectors  2. per-codebook distance lists  3. codes
    subs = df.select(
        "*",
        *[
            F.expr(_pq_sub_sql(vec_col, s, sub)).alias(f"__pq_s{s}")
            for s in range(m)
        ],
    )

    def _dist_sql(s: int, codes) -> str:
        cb = ", ".join(
            "array(" + ", ".join(str(v) for v in c) + ")" for c in codes
        )
        return (
            f"transform(array({cb}), c -> aggregate("
            f"zip_with(__pq_s{s}, c, (a, b) -> (a - b) * (a - b)), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x))"
        )

    dists = subs.select(
        *base,
        *[
            F.expr(_dist_sql(s, codes)).alias(f"__pq_d{s}")
            for s, codes in enumerate(books)
        ],
    )
    return dists.select(
        *base,
        *[
            F.expr(
                f"CAST(array_position(__pq_d{s}, array_min(__pq_d{s})) AS INT)"
            ).alias(f"__pq_c{s}")
            for s in range(m)
        ],
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells for pruning + PQ codes for storage (the full index)
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    table,
    emb: DataFrame,
    centroids: Sequence[Sequence[float]],
    books: Sequence[Sequence[Sequence[int]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the FAISS-style IVF-PQ layout into a lake table: rows are
    (id, cell, pqc0..pqc{M-1}) — the raw embedding is NOT stored. Cell
    partitions give manifest-level pruning (the nprobe probe opens
    nprobe/NUM_CELLS of the files); PQ codes shrink what remains to
    M small ints per vector. At 100 TB this is the only vector layout
    whose query cost is independent of corpus bytes: the probe prunes
    files, the codes bound bytes-per-row, and ADC never touches a
    float vector."""
    from ..lake.writer import LakeWriter

    books = books or pq_codebooks()
    cents = [_unit(c) for c in centroids]
    coded = pq_encode(with_ivf_cell(emb, vec_col, cents), vec_col, books)
    cols = [F.col(id_col), F.col("cell")] + [
        F.col(f"__pq_c{s}").alias(f"pqc{s}") for s in range(len(books))
    ]
    LakeWriter(table, pk=[id_col], partition_by="cell", auto_create=True).append(
        coded.select(*cols)
    )


def ivfpq_indexed_topk(
    table,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 2,
    books: Sequence[Sequence[Sequence[int]]] | None = None,
    id_col: str = "vec_id",
    exclude_ids: Sequence[int] = (),
) -> DataFrame:
    """ADC top-k over the probed cells of an IVF-PQ index: the scan
    reads only pruned-manifest files and only code columns; scoring is
    M list_extract lookups against driver-built ADC tables; ranking is
    a per-partition partial top-k."""
    books = books or pq_codebooks()
    sub = len(books[0][0])
    q = [float(x) for x in query]
    qq = [math.floor(x * PQ_QSCALE) for x in q]
    cells = probe_cells(query, centroids, nprobe)
    pred = f"cell IN ({', '.join(str(c) for c in cells)})"
    df = table.read(where=pred)
    terms = []
    for s, codes in enumerate(books):
        qs = qq[s * sub : (s + 1) * sub]
        adc = [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in codes]
        lits = ", ".join(f"CAST({int(v)} AS BIGINT)" for v in adc)
        terms.append(f"element_at(array({lits}), CAST(pqc{s} AS INT))")
    scored = df.select(
        F.col(id_col), F.expr("(" + " + ".join(terms) + ")").alias("pq_dist")
    )
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(*[int(i) for i in exclude_ids]))
    return scored.orderBy(F.col("pq_dist"), F.col(id_col)).limit(k)


def ivfpq_indexed_topk_sql(
    centroids: Sequence[Sequence[float]],
    k: int = 10,
    nprobe: int = 2,
    table: str = "embeddings",
    query_id: int = 0,
    dim: int = 64,
) -> str:
    """DuckDB oracle: recomputes cells + codes from the raw vectors
    (no index), with the identical probe ordering and ADC arithmetic —
    static SQL, no data-dependent constants."""
    books = pq_codebooks(dim=dim)
    sub = len(books[0][0])
    cents = [_unit(c) for c in centroids]
    assign = ivf_assign_sql("CAST(embedding AS DOUBLE[])", cents)
    cent_rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}])"
        for i, c in enumerate(cents)
    )

    def qe(i: int) -> str:
        return (
            f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {PQ_QSCALE}) AS BIGINT)"
        )

    e_cols = ", ".join(f"{qe(i)} AS e{i}" for i in range(dim))
    adc_lists = []
    dl_lists = []
    for s, codes in enumerate(books):
        a_els, d_els = [], []
        for c in codes:
            a_els.append(
                "(" + " + ".join(
                    f"({qe(s * sub + d)} - {c[d]}) * ({qe(s * sub + d)} - {c[d]})"
                    for d in range(sub)
                ) + ")"
            )
            d_els.append(
                "(" + " + ".join(
                    f"(e{s * sub + d} - {c[d]}) * (e{s * sub + d} - {c[d]})"
                    for d in range(sub)
                ) + ")"
            )
        adc_lists.append("list_value(" + ", ".join(a_els) + f") AS adc{s}")
        dl_lists.append("list_value(" + ", ".join(d_els) + f") AS dl{s}")
    code_cols = ", ".join(
        f"list_position(dl{s}, list_min(dl{s})) AS c{s}" for s in range(len(books))
    )
    score = " + ".join(
        f"list_extract(q.adc{s}, codes.c{s})" for s in range(len(books))
    )
    return f"""
    WITH raw AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM {table}
                 WHERE vec_id = {query_id}),
    cents(i, c) AS (VALUES {cent_rows}),
    probed AS (
      SELECT i FROM cents, raw
      ORDER BY list_dot_product(raw.v, cents.c) DESC, i
      LIMIT {nprobe}
    ),
    q AS (SELECT {", ".join(adc_lists)} FROM {table} WHERE vec_id = {query_id}),
    v AS (SELECT vec_id, {e_cols}, {assign} AS cell FROM {table}
          WHERE vec_id <> {query_id}),
    flt AS (SELECT * FROM v WHERE cell IN (SELECT i FROM probed)),
    dl AS (SELECT vec_id, {", ".join(dl_lists)} FROM flt),
    codes AS (SELECT vec_id, {code_cols} FROM dl)
    SELECT codes.vec_id, ({score}) AS pq_dist
    FROM codes, q
    ORDER BY pq_dist, codes.vec_id
    LIMIT {k}
    """
