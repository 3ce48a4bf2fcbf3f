"""Vector similarity operators over an embedding column (array<float>).

 - search: brute-force cosine top-k (exact baseline, one narrow pass
   plus a TakeOrderedAndProject), random-hyperplane LSH (8 fixed
   integer hyperplanes -> 8-bit bucket; queries probe only their own
   bucket, a partition-pruned scan of ~corpus/256 when the corpus is
   stored partitioned by bucket), IVF coarse cells, and product
   quantization (PQ/ADC) over literal or trained codebooks;
 - SemDeDup: one k-means (``kmeans_assign_hierarchical``; depth=1 is
   the flat one-Lloyd-iteration clustering) and one within-cluster
   pruning operator (``semdedup``), plus the incremental probe of an
   ingest batch against stored cluster state.

Vector maths (dot, norm, cosine, L2, LSH, IVF and PQ distances) is
emitted as SQL fragments (the ``sql_*`` builders) with fold-left double
accumulation, so values are deterministic and reproducible across
engines; no Python UDFs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sales_data_pipeline_spark.scale import bounded_broadcast, gated_broadcast

DIM = 64  # driver testdata embedding dimensionality

# Deterministic integer hyperplanes for sign-LSH (public
# random-projection scheme; integers keep the dot products exact).
N_PLANES = 8


def hyperplane(i: int, dim: int = DIM) -> list[int]:
    return [((i * 31 + j * 17) % 13) - 6 for j in range(dim)]


def query_vector(dim: int = DIM) -> list[float]:
    """Fixed deterministic probe vector used by the catalog queries."""
    return [float((j * 13) % 7 - 3) for j in range(dim)]


# ---------------------------------------------------------------------------
# Vector-expression vocabulary: SQL fragments.
#
# Each sql_* returns a fragment referencing its vector operand by SQL
# text (a column name or a nested fragment); wrap with F.expr(...) or
# pass to selectExpr. One SQL string hands the whole HOF fold tree to
# the JVM in a single parse (~0.05 s); building the same tree node by
# node through the Column API costs one py4j round-trip per literal and
# operator, measured 2.4-3.6 s of driver time per ADC/k-means-sized
# expression.
#
# Fold contract: every dot/L2 product is aggregate(zip_with(...), 0.0D,
# (acc, x) -> acc + x), the sequential ((0+t1)+t2)... association the
# DuckDB oracle SQL spells out term by term (queries/base.py
# sql_fold_dot / sql_fold_l2sq), with each element cast to DOUBLE
# before multiplying, so the doubles are bit-identical across engines.
# Literals print as repr(x) + "D", which round-trips the exact IEEE
# value. A HOF fold keeps the expression tree O(1) in the dimension;
# an unrolled element_at chain compiles ~dim*N_PLANES-term codegen
# expressions (8-11 s of janino per plan).
# ---------------------------------------------------------------------------


def sql_lit_array(vec: list[float]) -> str:
    """SQL array literal of doubles — repr() round-trips the exact IEEE
    value, 'D' pins DoubleType (a bare 0.5 would parse as DECIMAL)."""
    return "array(" + ", ".join(repr(float(x)) + "D" for x in vec) + ")"


def sql_dot_literal(vec_sql: str, lit_vec: list[float]) -> str:
    """Dot product with a literal vector. The column side is sliced to
    the literal's length, so an overlong vector truncates
    deterministically instead of NULL-poisoning the score (zip_with pads
    the shorter side with nulls); an undersized vector still yields
    NULL — a corrupt embedding should fail the score, not fake one."""
    return (
        f"aggregate(zip_with(slice({vec_sql}, 1, {len(lit_vec)}), "
        f"{sql_lit_array(lit_vec)}, (a, b) -> CAST(a AS DOUBLE) * b), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def sql_l2sq_to_literal(vec_sql: str, lit_vec: list[float]) -> str:
    """Squared L2 distance to a literal vector (no slice; the literal
    side is already double)."""
    return (
        f"aggregate(zip_with({vec_sql}, {sql_lit_array(lit_vec)}, "
        f"(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def sql_fold_l2sq(a_sql: str, b_sql: str, dim: int = DIM) -> str:
    """Squared L2 distance between two vector expressions, both sides
    sliced to dim and cast."""
    return (
        f"aggregate(zip_with(slice({a_sql}, 1, {dim}), "
        f"slice({b_sql}, 1, {dim}), "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def sql_dot(a_sql: str, b_sql: str, dim: int = DIM) -> str:
    """Dot product of two vector expressions, both sides sliced to dim
    and cast (an undersized vector yields NULL, see sql_dot_literal)."""
    return (
        f"aggregate(zip_with(slice({a_sql}, 1, {dim}), "
        f"slice({b_sql}, 1, {dim}), "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def sql_norm(vec_sql: str, dim: int = DIM) -> str:
    return f"SQRT({sql_dot(vec_sql, vec_sql, dim)})"


def sql_cosine(a_sql: str, b_sql: str, dim: int = DIM) -> str:
    return (
        f"{sql_dot(a_sql, b_sql, dim)} / "
        f"({sql_norm(a_sql, dim)} * {sql_norm(b_sql, dim)})"
    )


def sql_cosine_to_literal(
    vec_sql: str, lit_vec: list[float], dim: int = DIM
) -> str:
    import math

    qn = math.sqrt(sum(x * x for x in lit_vec))
    return (
        f"{sql_dot_literal(vec_sql, lit_vec)} / "
        f"({sql_norm(vec_sql, dim)} * {qn!r}D)"
    )


def sql_rounded(expr_sql: str, round_digits: int = 6) -> str:
    """FLOOR(x*10^n + 0.5)/10^n.0 — the det_round recipe (int scale
    literal, double divisor)."""
    s = 10**round_digits
    return f"FLOOR(({expr_sql}) * {s} + 0.5D) / {float(s)!r}D"


def sql_lsh_bucket(vec_sql: str, dim: int = DIM) -> str:
    """8-bit sign-LSH bucket id: bit i set iff dot(vec, plane_i) > 0,
    as 0 + one int CASE per plane."""
    parts = []
    for i in range(N_PLANES):
        plane = [float(x) for x in hyperplane(i, dim)]
        parts.append(
            f"CASE WHEN ({sql_dot_literal(vec_sql, plane)}) > 0 "
            f"THEN {1 << i} ELSE 0 END"
        )
    return "0 + " + " + ".join(parts)


def lsh_bucket_of(vec: list[float], dim: int = DIM) -> int:
    """Driver-side bucket of a literal query vector (same formula)."""
    out = 0
    for i in range(N_PLANES):
        plane = hyperplane(i, dim)
        if sum(v * p for v, p in zip(vec, plane)) > 0:
            out |= 1 << i
    return out


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k vs a literal query vector. Score is rounded
    before ranking and ties break on id — a total order, so the top-k
    set is unique and reproducible. The fold tree is one SQL parse
    (see the SQL-fragment block), not a py4j storm."""
    scored = df.selectExpr(
        id_col,
        f"{sql_rounded(sql_cosine_to_literal(vec_col, query), round_digits)}"
        " AS cos_sim",
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def ann_lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k: probe only the query's LSH bucket, then exact rerank
    within it. At scale the bucket is a partition-pruned scan of
    ~corpus/256."""
    bucket = lsh_bucket_of(query)
    candidates = df.filter(F.expr(sql_lsh_bucket(vec_col)) == bucket)
    scored = candidates.selectExpr(
        id_col,
        f"{sql_rounded(sql_cosine_to_literal(vec_col, query), round_digits)}"
        " AS cos_sim",
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def embedding_near_dup_pairs(
    df: DataFrame,
    min_cosine: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    blocked: bool = True,
) -> DataFrame:
    """Near-duplicate vector pairs by cosine similarity.

    blocked=True joins within LSH buckets (near-identical vectors land
    in the same bucket with high probability — the scale path);
    blocked=False is the exact n² baseline for small corpora/oracles.
    Returns (id_a, id_b, cos_sim) with id_a < id_b, rounded.
    """
    base = df.selectExpr(
        f"{id_col} AS id",
        f"{vec_col} AS v",
        f"{sql_lsh_bucket(vec_col) if blocked else '0'} AS bucket",
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
    )
    return (
        pairs.withColumn(
            "cos_sim",
            F.expr(sql_rounded(sql_cosine("a.v", "b.v"), round_digits)),
        )
        .filter(F.col("cos_sim") >= min_cosine)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cos_sim"
        )
    )


N_IVF_CENTROIDS = 8


def ivf_centroid(i: int, dim: int = DIM) -> list[float]:
    """Fixed deterministic IVF coarse centroids (stand-in for trained
    k-means centroids; the operators are centroid-agnostic)."""
    return [((i * 7 + j * 3) % 11 - 5) / 10.0 for j in range(dim)]


def sql_ivf_assign(vec_sql: str) -> str:
    """Nearest-centroid id (argmin of squared L2, first-match
    tie-break) — the IVF coarse quantizer.

    Formulated as array_position(darr, array_min(darr)) - 1 rather than
    a CASE WHEN d_i = least(..) chain: the chain embeds the full least()
    tree in every branch (~n² copies of every distance fold), which
    Catalyst optimizes for MINUTES at n=8, dim=64; the array form keeps
    two copies total. array_position is first-match, so ties go to the
    lower centroid id."""
    darr = (
        "array("
        + ", ".join(
            sql_l2sq_to_literal(vec_sql, ivf_centroid(i))
            for i in range(N_IVF_CENTROIDS)
        )
        + ")"
    )
    return f"CAST(array_position({darr}, array_min({darr})) - 1 AS INT)"


def ivf_probe_centroids(query: list[float], nprobe: int = 1) -> list[int]:
    """The ``nprobe`` nearest coarse centroids to the query, ascending
    by distance (ties to the lower id) — IVF's recall/cost dial: a
    query near a cell boundary finds boundary-crossing neighbors only
    when the adjacent cells are probed too. Driver-side plain Python
    (centroids are literals)."""
    dists = sorted(
        (sum((a - b) ** 2 for a, b in zip(query, ivf_centroid(i))), i)
        for i in range(N_IVF_CENTROIDS)
    )
    return [i for _d, i in dists[:nprobe]]


def ivf_probe_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN search: quantize the query to its nearest coarse
    centroid, score ONLY that centroid's inverted list, exact top-k
    rerank. At scale the corpus is written partitioned by centroid id
    (see sql_ivf_assign), so the probe is a partition-pruned scan of
    ~1/n_centroids of the data — same storage trick as the LSH-bucket
    path, but with data-adaptive (trained) cells.

    Assignment and rerank fuse into one generated stage. (An earlier
    unrolled-expression formulation needed a localCheckpoint barrier
    here — its ~5k-node literal trees wedged janino when fused; the
    HOF folds keep the fused stage's expression tree O(planes+dims) so
    the barrier, and its extra job, are gone.)"""
    [probe] = ivf_probe_centroids(query)
    in_cell = df.select(id_col, vec_col).filter(
        F.expr(sql_ivf_assign(vec_col)) == probe
    )
    return brute_force_topk(in_cell, query, k=k, id_col=id_col, vec_col=vec_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN. Each vector splits
# into PQ_M subvectors, each quantized to its nearest codeword in a
# per-subspace sub-codebook — a vector becomes PQ_M small codes
# (here 4 x 4 bits = 2 bytes vs 64 floats, a 128x compression), and
# search scores CODES against a per-query lookup table (ADC) without
# touching the raw vectors. At 100 TB this is the ANN path when even
# one pass over raw embeddings is too expensive: the code table is
# ~1/100th the scan, and the LUT turns scoring into PQ_M array lookups.
#
# Every PQ path shares one vocabulary: a codebook is a
# {(sub, code): codeword} dict (PQ_CODEBOOK, or a trained one from
# collect_codebook); sql_pq_d_cols gives the per-subspace distance
# arrays, pq_lut the query's lookup table, and sql_pq_adc the score
# over 1-based argmin positions. A stored code_j is position - 1.
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces per vector
PQ_KSUB = 16  # codewords per sub-codebook (4-bit codes)
PQ_SUBDIM = DIM // PQ_M

Codebook = dict[tuple[int, int], list[float]]


def pq_codeword(j: int, i: int) -> list[float]:
    """Deterministic codeword i of sub-codebook j (stand-in for trained
    per-subspace k-means — the same trade ivf_centroid makes: the
    operators are codebook-agnostic, and literal codebooks keep both
    engines bit-identical). Modulus 17 > PQ_KSUB keeps all 16 codewords
    of a subspace distinct (a 13-modulus would alias i and i+13)."""
    return [
        ((i * 5 + j * 13 + t * 3) % 17 - 8) / 16.0 for t in range(PQ_SUBDIM)
    ]


PQ_CODEBOOK: Codebook = {
    (j, i): pq_codeword(j, i) for j in range(PQ_M) for i in range(PQ_KSUB)
}


def _sub_codebooks(codebook: Codebook | None) -> list[list[list[float]]]:
    """Per subspace, its codewords in code-id order (PQ_CODEBOOK when
    ``codebook`` is None). Cells a training left empty are simply
    absent, so the distance arrays and the LUT rows index the same
    list: an argmin position selects the LOWEST code id among distance
    ties — the tie-break the trained oracle mirrors with MIN(code)."""
    items = sorted((PQ_CODEBOOK if codebook is None else codebook).items())
    subs = []
    for j in range(PQ_M):
        words = [cw for (sub, _code), cw in items if sub == j]
        if not words:
            raise ValueError(f"codebook has no cells for subspace {j}")
        subs.append(words)
    return subs


def sql_pq_d_cols(vec_sql: str, codebook: Codebook | None = None) -> list[str]:
    """The PQ_M per-subspace distance arrays as aliased select items
    (``array(...) AS __d{j}``): squared L2 from subvector j to every
    codeword of sub-codebook j — the E-step input for encoding (argmin)
    and quantization error (array_min), and the shared first stage of
    every PQ consumer. Materializing them as named columns keeps each
    array's fold chain in the plan ONCE even though argmin references
    it twice."""
    return [
        "array("
        + ", ".join(
            sql_l2sq_to_literal(
                f"slice({vec_sql}, {j * PQ_SUBDIM + 1}, {PQ_SUBDIM})", cw
            )
            for cw in words
        )
        + f") AS __d{j}"
        for j, words in enumerate(_sub_codebooks(codebook))
    ]


def sql_pq_argmin(j: int) -> str:
    """1-based position of subspace j's nearest codeword in ``__d{j}``
    (array_position is first-match, so ties go to the lower code)."""
    return f"CAST(array_position(__d{j}, array_min(__d{j})) AS INT)"


def sql_pq_adc(
    lut: list[list[float]], pos: Callable[[int], str] = sql_pq_argmin
) -> str:
    """ADC score: the sum over subspaces j of the literal LUT row j at
    the 1-based position ``pos(j)`` — the argmin over ``__d{j}`` by
    default, a stored ``code_{j} + 1``, or a precomputed column."""
    return " + ".join(
        f"element_at({sql_lit_array(row)}, {pos(j)})"
        for j, row in enumerate(lut)
    )


def pq_lut(
    query: list[float], codebook: Codebook | None = None
) -> list[list[float]]:
    """Driver-side ADC lookup table: lut[j][p] = squared L2 from the
    query's subvector j to the p-th codeword of sub-codebook j (code p
    for the full literal codebook). The query and the codewords are
    both literals — collect_codebook collects a trained codebook — so
    this is plain Python left folds, and both engines consume the SAME
    Python doubles as literals: ADC scores cannot drift between Spark
    and the oracle."""
    lut: list[list[float]] = []
    for j, words in enumerate(_sub_codebooks(codebook)):
        qsub = query[j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
        row = []
        for c in words:
            d = 0.0
            for a, b in zip(qsub, c):
                d = d + (a - b) * (a - b)
            row.append(d)
        lut.append(row)
    return lut


def pq_encode(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """PQ-encode every vector: (id, code_0..code_{m-1}, err_micro).
    code_j is the 0-based argmin codeword of subspace j (first-match
    tie-break, as sql_ivf_assign); err_micro is the integer-scaled total
    quantization error sum_j min_i l2sq(sub_j, c_{j,i}) — the distance
    from the vector to its own reconstruction, the quantity PQ training
    minimizes and the index-health number an encode job reports.
    Integer-scaled (floor(err*1e6+0.5)) so downstream sums stay exact
    across engines and shard orders. One narrow projection — no
    shuffle, no UDF; the expression tree is O(m*ksub) HOF folds,
    emitted as two chained selectExpr stages (distance arrays, then
    codes + error) so the whole tree is ONE SQL parse instead of a
    py4j storm (see the SQL-fragment block)."""
    code_sel = [id_col] + [
        f"CAST(array_position(__d{j}, array_min(__d{j})) - 1 AS INT)"
        f" AS code_{j}"
        for j in range(PQ_M)
    ]
    err = " + ".join(f"array_min(__d{j})" for j in range(PQ_M))
    code_sel.append(
        f"CAST(FLOOR(({err}) * 1000000 + 0.5D) AS BIGINT) AS err_micro"
    )
    return df.selectExpr(id_col, *sql_pq_d_cols(vec_col)).selectExpr(
        *code_sel
    )


def pq_adc_scored(
    df: DataFrame,
    query: list[float],
    codebook: Codebook | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: dict[str, str] | None = None,
) -> DataFrame:
    """(id, *carry, adc_dist) for every row: the rounded ADC score of
    the row's PQ encoding, plus the ``carry`` columns (name -> SQL over
    the input row) computed in the same scan. Two chained selectExpr
    stages — distance arrays, then LUT lookups at their argmins — so
    the scoring tree is one SQL parse, not a py4j storm (measured 3.6 s
    -> 0.05 s of driver time per instance; values bit-identical)."""
    carry = carry or {}
    return df.selectExpr(
        id_col,
        *(f"{sql} AS {name}" for name, sql in carry.items()),
        *sql_pq_d_cols(vec_col, codebook),
    ).selectExpr(
        id_col,
        *carry,
        f"{sql_rounded(sql_pq_adc(pq_lut(query, codebook)))} AS adc_dist",
    )


def pq_adc_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    codebook: Codebook | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k: approximate
    dist(q, x) by sum_j lut[j][code_j(x)] — the query stays full
    precision, the corpus is scored through its PQ codes. Here the
    encode fuses into the scan (codes aren't stored at bench scale);
    at 100 TB the code table is precomputed by pq_encode and the scan
    reads 2-byte codes instead of 256-byte vectors (pq_adc_topk_codes)
    — the scan-volume win that makes PQ the memory-bound ANN path.
    ``codebook`` is the literal PQ_CODEBOOK by default, or a TRAINED
    one (collect_codebook over the stored table): the plan shape is the
    same either way, which is what makes the operators
    codebook-agnostic. Score is rounded with id tie-break for a total
    order; top-k is TakeOrderedAndProject, never a full sort."""
    scored = pq_adc_scored(df, query, codebook, id_col, vec_col)
    return scored.orderBy(F.asc("adc_dist"), F.col(id_col)).limit(k)


def ivfpq_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC composition): coarse-quantize the query
    on the driver, scan ONLY the ``nprobe`` nearest centroids' inverted
    lists, and score them through PQ codes with the ADC lookup table —
    IVF prunes WHICH rows are read (~nprobe/n_centroids,
    partition-pruned when the corpus is stored partitioned by centroid
    id), PQ shrinks WHAT scoring reads (2-byte codes vs 256-byte
    vectors). Together they are the standard billion-scale ANN serving
    shape: both knobs compose because they cut different costs, and
    each has its own recall dial — nprobe here (certified by
    ivfpq_nprobe_recall), shortlist size on the PQ side (certified by
    pq_recall_eval). Same total order as pq_adc_topk (rounded score,
    id tie-break)."""
    probes = ivf_probe_centroids(query, nprobe)
    in_cells = df.select(id_col, vec_col).filter(
        F.expr(sql_ivf_assign(vec_col)).isin(probes)
    )
    return pq_adc_topk(in_cells, query, k=k, id_col=id_col, vec_col=vec_col)


def ivfpq_residual_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """Residual-encoded IVFADC (the full Jegou et al. 2011 scheme):
    PQ quantizes the RESIDUAL x - c(x) of each vector w.r.t. its coarse
    centroid, not the raw vector — residuals concentrate near the
    origin, so the same 16-codeword sub-codebooks spend their capacity
    on the within-cell detail the coarse quantizer already removed
    (plain ivfpq_topk is the "IVF + PQ on raw vectors" shortcut; this
    is what FAISS IndexIVFPQ actually stores). The price is a per-cell
    ADC table: dist(q, x) ~= sum_j lut_c[j][code_j(x)] where
    lut_c scores the QUERY'S residual q - c against the codebook, so
    each probed cell gets its own driver-side LUT (nprobe small
    literal tables, never a join). Per probed cell: one filtered scan
    (a pruned partition read when the corpus is stored partitioned by
    cell id), residual projection, m literal-array lookups; cells
    union and the global top-k is one TakeOrderedAndProject — no
    shuffle anywhere before it. Rounded score + id tie-break = total
    order, as every ANN query here."""
    if nprobe < 1:
        raise ValueError(
            f"nprobe must be >= 1 (got {nprobe}): IVF search scans the "
            "nprobe nearest cells, and probing zero cells has no result"
        )
    # Single-scan form (round-12 optimization; the per-cell union made
    # nprobe full passes, each re-evaluating the IVF assignment AND its
    # own residual-ADC tree — 6.6 s of driver build time at nprobe=2).
    # The cell id is computed ONCE; the residual subtracts the row's
    # OWN cell's centroid via one CASE over the probed cells (identical
    # per-row value: in the union form each branch's filter pinned the
    # cell, so each row was only ever scored against its own centroid);
    # the per-subspace distance arrays and their argmin positions are
    # cell-independent (codewords are shared; only the query-residual
    # LUT differs per cell), so they compute once, and the score is a
    # CASE over the probed cells' LUT lookups. Same rounded score, same
    # total order, one scan, one parse.
    probes = ivf_probe_centroids(query, nprobe)
    cent_case = (
        "CASE __cell "
        + " ".join(
            f"WHEN {c} THEN {sql_lit_array(ivf_centroid(c))}"
            for c in probes
        )
        + " END"
    )
    score_case = (
        "CASE __cell "
        + " ".join(
            f"WHEN {c} THEN "
            + sql_pq_adc(
                pq_lut([a - b for a, b in zip(query, ivf_centroid(c))]),
                lambda j: f"__p{j}",
            )
            for c in probes
        )
        + " END"
    )
    scored = (
        df.selectExpr(
            id_col,
            vec_col,
            f"{sql_ivf_assign(vec_col)} AS __cell",
        )
        .filter(F.col("__cell").isin(probes))
        .selectExpr(
            id_col,
            "__cell",
            f"zip_with({vec_col}, {cent_case}, "
            "(a, b) -> CAST(a AS DOUBLE) - b) AS __res",
        )
        .selectExpr(id_col, "__cell", *sql_pq_d_cols("__res"))
        .selectExpr(
            id_col,
            "__cell",
            *[f"{sql_pq_argmin(j)} AS __p{j}" for j in range(PQ_M)],
        )
        .selectExpr(id_col, f"{sql_rounded(score_case)} AS adc_dist")
    )
    return scored.orderBy(F.asc("adc_dist"), F.col(id_col)).limit(k)


def pq_adc_topk_codes(
    codes: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over a STORED code table (pq_encode's output read
    back from parquet) — the literal serving shape: the scan touches
    m small ints per row and never sees a raw vector. Identical
    values to pq_adc_topk over the original vectors (ADC depends only
    on the codes, and a stored code_j is the argmin position - 1), so
    the same oracle certifies both; what changes is the physical read
    — 2 bytes/vector instead of 256 — which is the entire point of PQ
    at 100 TB."""
    adc = sql_pq_adc(pq_lut(query), lambda j: f"code_{j} + 1")
    scored = codes.selectExpr(id_col, f"{sql_rounded(adc)} AS adc_dist")
    return scored.orderBy(F.asc("adc_dist"), F.col(id_col)).limit(k)


def pq_train_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Train per-subspace PQ sub-codebooks with one Lloyd E+M step —
    the data-dependent codebook the literal ``pq_codeword`` stands in
    for. Returns (sub, code, t, cval, n): component t of trained
    codeword ``code`` of sub-codebook ``sub``, plus the cell occupancy.

    Training = k-means per subspace, the kmeans_assign_hierarchical
    level-0 determinism recipe applied to PQ (Jegou et al. 2011 train each
    sub-codebook by independent k-means over the subvectors):
     - Forgy seeds are DATA POINTS: the ksub lowest-id vectors'
       subvectors (one TakeOrderedAndProject, packed into a one-row
       array — the scalar-BNLJ broadcast idiom; seeds never shuffle
       the corpus side);
     - the E-step argmin is a per-row left-fold L2 chain against the
       packed seeds with array_position first-match tie-break;
     - the M-step mean is the integer-scaled exact-sum pattern:
       components scale to micro-unit int64 (associative in any shard
       order), and the mean is two deterministic double divisions —
       no float sum ever crosses a shuffle.

    One pass over the corpus: the E-step is a narrow codegen
    projection; the only shuffle is the (m*ksub*subdim)-group integer
    aggregation — aggregate-sized at any corpus size. A cell that wins
    no assignments yields no rows (consumers read the cells that
    exist, mirroring FAISS's empty-cell handling)."""
    seeds_row = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(PQ_KSUB)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(id_col).alias("i"),
                            F.col(vec_col).alias("v"),
                        )
                    )
                ),
                lambda s: s["v"],
            ).alias("s")
        )
    )
    code_exprs = []
    for j in range(PQ_M):
        off = j * PQ_SUBDIM + 1
        d = (
            "array("
            + ", ".join(
                sql_fold_l2sq(
                    f"slice({vec_col}, {off}, {PQ_SUBDIM})",
                    f"slice(s[{i}], {off}, {PQ_SUBDIM})",
                    PQ_SUBDIM,
                )
                for i in range(PQ_KSUB)
            )
            + ")"
        )
        code_exprs.append(
            f"CAST(array_position({d}, array_min({d})) - 1 AS INT)"
            f" AS code_{j}"
        )
    assigned = df.crossJoin(seeds_row).selectExpr(
        vec_col, *code_exprs
    )
    comp = assigned.select(
        F.posexplode(vec_col).alias("pos0", "val"),
        *[F.col(f"code_{j}") for j in range(PQ_M)],
    ).select(
        F.floor(F.col("pos0") / PQ_SUBDIM).cast("int").alias("sub"),
        F.element_at(
            F.array(*[F.col(f"code_{j}") for j in range(PQ_M)]),
            F.floor(F.col("pos0") / PQ_SUBDIM).cast("int") + 1,
        ).alias("code"),
        (F.col("pos0") % PQ_SUBDIM).cast("int").alias("t"),
        F.floor(
            F.col("val").cast("double") * scale
            + F.when(F.col("val") >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))
        )
        .cast("long")
        .alias("scaled"),
    )
    return comp.groupBy("sub", "code", "t").agg(
        (F.sum("scaled") / float(scale) / F.count("*")).alias("cval"),
        F.count("*").cast("long").alias("n"),
    )


def collect_codebook(
    cb: DataFrame,
) -> dict[tuple[int, int], list[float]]:
    """Assemble a stored codebook table (pq_train_codebooks' output,
    typically read back from parquet) into {(sub, code): codeword}.
    The table is aggregate-sized (m*ksub*subdim rows at most) — this
    is the sanctioned driver-side collect of a tiny aggregate, the
    pca_loadings pattern: the codewords then feed the search plan as
    literals, keeping scoring whole-stage codegen."""
    acc: dict[tuple[int, int], dict[int, float]] = {}
    for row in cb.select("sub", "code", "t", "cval").collect():
        acc.setdefault((int(row["sub"]), int(row["code"])), {})[
            int(row["t"])
        ] = float(row["cval"])
    return {
        key: [comps[t] for t in sorted(comps)]
        for key, comps in acc.items()
    }


def pq_rerank_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ serving (the production shape): ADC over codes
    builds a SHORTLIST of ``shortlist`` candidates — the cheap,
    compressed-domain pass that reads 2-byte codes — then ONLY those
    rows are re-read at full precision and exactly re-ranked by
    cosine. Quantization error costs recall only when a true neighbor
    falls outside the shortlist, so the knob is shortlist size, not
    code length — the same recall/cost dial as IVF's nprobe. The
    re-rank join is a ``shortlist``-row build side against the corpus
    (broadcast hash join; at 100 TB the full-precision re-read is an
    id-keyed point lookup against the vector store, not a scan).
    Output schema matches brute_force_topk, so recall is directly
    comparable."""
    short = pq_adc_topk(
        df, query, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select(id_col)
    exact = df.join(short, id_col).select(
        id_col, F.col(vec_col)
    )
    return brute_force_topk(
        exact, query, k=k, id_col=id_col, vec_col=vec_col
    )


def pca_loadings(
    df: DataFrame, vec_col: str = "embedding", k: int = 4
) -> list[list[float]]:
    """Fit distributed PCA and return k sign-normalized loading vectors
    (each a dim-length list, column of the loading matrix).

    The fit is pyspark.ml.feature.PCA: the covariance Gram matrix is
    computed distributed (one pass, O(dim^2) driver state — the right
    shape at any corpus size for dim<=a few thousand) and the
    eigendecomposition runs on the driver's dim x dim matrix.
    Eigenvector sign is arbitrary, so each component is flipped to make
    its largest-|loading| coordinate positive (ties broken by lowest
    index) — without this, reruns could emit mirrored projections.
    The returned literals are meant to feed sql_dot_literal, keeping
    the projection itself whole-stage codegen."""
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector

    ve = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "__features"
        )
    )
    model = MLPCA(k=k, inputCol="__features", outputCol="__pc").fit(ve)
    mat = model.pc.toArray()  # dim x k, driver-local
    out: list[list[float]] = []
    for c in range(k):
        col = mat[:, c]
        pivot = max(range(len(col)), key=lambda i: (abs(col[i]), -i))
        if col[pivot] < 0:
            col = -col
        out.append([float(x) for x in col])
    return out


def pca_project(
    df: DataFrame,
    loadings: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto the given loading vectors as pc1..pcK —
    pure codegen sql_dot_literal folds, no Python on the hot path."""
    return df.selectExpr(
        id_col,
        *[
            f"{sql_dot_literal(vec_col, lv)} AS pc{i + 1}"
            for i, lv in enumerate(loadings)
        ],
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): one-Lloyd-iteration-per-level k-means over
# the embedding column, then within-cluster cosine pruning.
# Reproduces the pipeline of reference-class semantic dedup (Abbas et
# al. 2023, "SemDeDup"): cluster, compare only within clusters, keep
# one representative per near-duplicate ball. The effective k =
# branch**depth GROWS with the corpus (auto_depth) while per-vector
# assignment work stays O(branch * depth); depth=1 is the flat k=branch
# clustering the DuckDB oracles encode.
# ---------------------------------------------------------------------------


def semdedup_state_sums(
    assign: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact integer-scaled per-cluster component sums ``(g, pos, s,
    c)`` over an (id, vec, cluster) assignment — the one centroid
    derivation every k-means step here builds on. Components scale to
    micro-unit int64, so the partial sums are associative in any shard
    order, and a centroid component is (s / scale) / c, two
    deterministic double divisions: no float sum ever crosses a
    shuffle, and the DuckDB oracles reproduce every double.

    k*dim rows total (aggregate-sized at any corpus size), and sums and
    counts add exactly, so upper-level centroids roll up from this table
    alone. It is also the storable CENTROID half of the incremental-dedup
    state: a production ingest pipeline persists (labels+norms, these
    sums) between batches and never runs a corpus-sized aggregate per
    batch — pass the stored table to
    ``semdedup_incremental(leaf_sums=...)``."""
    return (
        assign.select(
            F.col("cluster").cast("long").alias("g"),
            F.posexplode(vec_col).alias("pos0", "val"),
        )
        .select(
            "g",
            (F.col("pos0") + 1).alias("pos"),
            F.floor(
                F.col("val").cast("double") * scale
                + F.when(F.col("val") >= 0, F.lit(0.5)).otherwise(
                    F.lit(-0.5)
                )
            )
            .cast("long")
            .alias("scaled"),
        )
        .groupBy("g", "pos")
        .agg(F.sum("scaled").alias("s"), F.count("*").alias("c"))
    )


def _centroid_vecs(sums: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """(g, cv): each cluster's mean centroid from its stored component
    sums, components in position order. The collect_list runs over
    k*dim sum rows, never over data rows."""
    return sums.groupBy("g").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        (F.col("s") / float(scale) / F.col("c")).alias(
                            "cval"
                        ),
                    )
                )
            ),
            lambda st: st["cval"],
        ).alias("cv")
    )


def _cells() -> Column:
    """The centroid pack: array<struct<cid,cv>> sorted by cid, so the
    argmin tie-break is deterministic."""
    return F.array_sort(
        F.collect_list(F.struct(F.col("g").alias("cid"), "cv"))
    ).alias("cells")


def _pack_root(vecs: DataFrame) -> DataFrame:
    """All centroids as ONE row. A GLOBAL aggregate, so the cross join
    against it is the sanctioned scalar-BNLJ shape the plan gates
    certify (a keyed pack would be a keyed BNLJ build)."""
    return vecs.agg(_cells())


def _pack_by_parent(vecs: DataFrame, branch: int) -> DataFrame:
    """Centroids packed per PARENT cell (g DIV branch): k/branch rows,
    aggregate-sized at any corpus size."""
    return vecs.groupBy(
        F.floor(F.col("g") / branch).cast("long").alias("parent")
    ).agg(_cells())


def _sql_argmin_cell(cells_sql: str, vec_sql: str, dim: int = DIM) -> str:
    """cid of the nearest centroid in a packed array<struct<cid,cv>>
    (first-match, i.e. lowest-cid, tie-break). The HOF transform keeps
    the expression tree O(1) in the number of centroids — the property
    that lets branch*depth replace an unrolled k."""
    d = (
        f"transform({cells_sql}, "
        f"st -> {sql_fold_l2sq(vec_sql, 'st.cv', dim)})"
    )
    return (
        f"element_at({cells_sql}, "
        f"CAST(array_position({d}, array_min({d})) AS INT)).cid"
    )


def kmeans_assign_hierarchical(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    depth: int = 1,
    branch: int = 8,
    dim: int = DIM,
    scale: int = 1_000_000,
) -> DataFrame:
    """Hierarchical one-Lloyd-iteration-per-level k-means: effective
    k = branch**depth with per-vector work O(branch*depth*dim). Returns
    (id, vec, cluster) with cluster a long path id in
    [0, branch**depth).

    Level 0 (all of depth=1, the flat k=branch clustering the catalog's
    SemDeDup oracles encode) is one deterministic Lloyd iteration:
     - Forgy seeds are DATA POINTS, the branch lowest-id vectors
       (distributed TakeOrderedAndProject, no global sort), packed into
       a ONE-ROW array joined by broadcast cross join — the sanctioned
       scalar-BNLJ idiom, the seeds never shuffle the data side;
       precondition: the seed vectors are pairwise distinct, which
       holds for any real float embedding table;
     - assign by first-match argmin over the seeds, exact integer-scaled
       mean update (semdedup_state_sums), re-assign against the means.
    Deeper levels split each cell with one Lloyd iteration whose INIT is
    pmod(xxhash64(id), branch): a per-cell lowest-id Forgy pick would
    need a per-cell top-b (a window or collect over data rows — the
    thing this operator exists to avoid at 100 TB), while hash-init is
    a pure projection; the final assignment is still value-based
    (nearest updated centroid), so identical vectors always co-locate
    regardless of init.

    Shuffle shape per level: one (k*dim)-group integer aggregation +
    one join of the data against the k-row centroid table — level 0
    cross-joins the one-row root pack, deeper levels equi-join the
    table packed per PARENT cell (broadcast while small; a plain
    shuffled equi-join on the parent cell once k*dim outgrows the hint
    — Catalyst/AQE decides, nothing is forced). No window functions,
    no collect over data rows, no cartesian: assignment cost is
    n*branch*depth folds, i.e. O(n log n) when depth tracks
    log(corpus) — the measured scale-check path
    (SCALE_CHECK_SF10_R8.json)."""
    from sales_data_pipeline_spark.caching import scoped_persist

    def _vecs(assigned: DataFrame) -> DataFrame:
        return _centroid_vecs(
            semdedup_state_sums(assigned, vec_col, scale), scale
        )

    # ---- level 0: flat Forgy-by-lowest-id Lloyd iteration -----------
    seeds_row = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(branch)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(id_col).alias("i"),
                            F.col(vec_col).alias("v"),
                        )
                    )
                ),
                lambda s, i: F.struct(
                    i.cast("long").alias("cid"),
                    s["v"].cast("array<double>").alias("cv"),
                ),
            ).alias("cells")
        )
    )
    a0 = scoped_persist(
        df.select(id_col, vec_col)
        .crossJoin(seeds_row)
        .selectExpr(
            id_col,
            vec_col,
            f"{_sql_argmin_cell('cells', vec_col, dim)} AS cluster",
        )
    )
    cur = a0.crossJoin(_pack_root(_vecs(a0))).selectExpr(
        id_col, vec_col, f"{_sql_argmin_cell('cells', vec_col, dim)} AS cell"
    )

    # ---- levels 1..depth-1: hash-init Lloyd split of each cell ------
    for _level in range(1, depth):
        cur = scoped_persist(cur)
        prelim = cur.withColumn(
            "cluster",
            F.col("cell") * branch
            + F.pmod(F.xxhash64(F.col(id_col)), F.lit(branch)),
        )
        cents = _pack_by_parent(_vecs(prelim), branch)
        cur = cur.join(cents, cur["cell"] == cents["parent"]).selectExpr(
            id_col,
            vec_col,
            f"{_sql_argmin_cell('cells', vec_col, dim)} AS cell",
        )
    return cur.select(id_col, vec_col, F.col("cell").alias("cluster"))


def auto_depth(n: int, branch: int = 8, target: int = 400) -> int:
    """Smallest depth whose branch**depth cells bound the mean cluster
    at ~target vectors: ceil(log_branch(n / target)), min 1. This is
    the 'k grows with the corpus' schedule — cluster size stays O(1)
    in n, so the within-cluster pair join is O(n * target), linear."""
    import math

    if n <= target * branch:
        return 1
    return max(1, math.ceil(math.log(n / target) / math.log(branch)))


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    branch: int = 8,
    target: int = 400,
    depth: int | None = None,
    min_cosine: float = 0.96,
    dim: int = DIM,
) -> DataFrame:
    """SemDeDup pruning: cluster (kmeans_assign_hierarchical), then flag
    every vector whose rounded cosine to some LOWER-id vector in the
    SAME cluster reaches ``min_cosine`` (greedy keep-lowest-id — one
    representative survives per near-duplicate ball). Returns one row
    per vector: (id, cluster, best_sim, is_dup), cluster as long;
    best_sim is NULL for vectors with no lower-id cluster partner.

    k ∝ corpus: ``depth`` defaults to auto_depth(n) =
    ceil(log_branch(n/target)) (one count() job to size the corpus),
    so per-cluster blocks stay ~target vectors at ANY corpus size — the
    pair join is O(n*target) and the assignment O(n*branch*depth), the
    100 TB execution path (SCALE_CHECK_SF10_R8.json). depth=1 is the
    flat k=branch operator the DuckDB oracle encodes.

    The pair space is the equi-join on cluster — a plain shuffled
    equi-join, never a cartesian. Scores round to 4 decimals BEFORE
    thresholding so both engines threshold identical values."""
    from sales_data_pipeline_spark.caching import scoped_persist

    if depth is None:
        depth = auto_depth(df.count(), branch, target)
    # norms precomputed ONCE per vector (persisted with the
    # assignment): the pair space is quadratic in cluster size, so a
    # per-pair norm would fold 3x64 terms per pair instead of 1x64 —
    # measured 9.3s -> ~2x faster at sf0.1. Value-identical: norm is a
    # scalar factor, the dot fold's association is unchanged.
    assign = scoped_persist(
        kmeans_assign_hierarchical(
            df, id_col, vec_col, depth, branch, dim
        ).withColumn("nrm", F.expr(sql_norm(vec_col, dim)))
    )
    a, b = assign.alias("a"), assign.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).selectExpr(
        f"b.{id_col} AS {id_col}",
        f"FLOOR({sql_dot(f'a.{vec_col}', f'b.{vec_col}', dim)}"
        " / (a.nrm * b.nrm) * 10000 + 0.5D) / 10000.0D AS cs",
    )
    best = pairs.groupBy(id_col).agg(F.max("cs").alias("best_sim"))
    return assign.join(best, id_col, "left").select(
        id_col,
        F.col("cluster").cast("long").alias("cluster"),
        "best_sim",
        F.coalesce(
            F.col("best_sim") >= F.lit(min_cosine), F.lit(False)
        ).alias("is_dup"),
    )


def semdedup_packed_levels(
    leaf: DataFrame,
    depth: int,
    branch: int,
    scale: int = 1_000_000,
) -> dict[int, DataFrame]:
    """Roll the stored leaf component sums up into the per-level packed
    centroid tables the beam-2 descent joins against: {1: one-row root
    pack (scalar-BNLJ broadcast shape), lvl>=2: per-parent
    array<struct<cid,cv>> packs}. Exact integer rollups — sums and
    counts add exactly, and each level's mean is the same
    (sum/scale)/count double pair the k-means M-step computes.

    Factored out of semdedup_incremental (round-12 optimization) so a
    caller probing MANY batches against the SAME stored state — the
    streaming ingest loop — derives and persists these aggregate-sized
    tables ONCE instead of re-aggregating them per micro-batch. Every
    table is k*dim values at its level, aggregate-sized at any corpus
    size."""
    levels = {depth: leaf}
    for lvl in range(depth - 1, 0, -1):
        levels[lvl] = (
            levels[lvl + 1]
            .groupBy(
                F.floor(F.col("g") / branch).cast("long").alias("g"),
                "pos",
            )
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        )

    packed: dict[int, DataFrame] = {
        # level 1 has exactly one parent (the root): pack via a GLOBAL
        # aggregate so the scalar-BNLJ build is the sanctioned
        # one-row-global-agg shape the plan gate certifies
        1: _pack_root(_centroid_vecs(levels[1], scale))
    }
    for lvl in range(2, depth + 1):
        packed[lvl] = _pack_by_parent(
            _centroid_vecs(levels[lvl], scale), branch
        )
    return packed


def semdedup_incremental(
    base: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    branch: int = 8,
    min_cosine: float = 0.96,
    dim: int = DIM,
    scale: int = 1_000_000,
    assign: DataFrame | None = None,
    depth: int = 1,
    leaf_sums: DataFrame | None = None,
    packed_levels: dict[int, DataFrame] | None = None,
) -> DataFrame:
    """Incremental semantic dedup: probe an incoming embedding BATCH
    against a stored corpus without re-clustering the corpus — the
    semantic counterpart of the MinHash dedup_incremental_batch
    contract (at 100 TB you never re-dedup the corpus; each ingest
    batch assigns to the STORED cluster state and compares only
    against stored members of its own cluster).

    Stored state: the corpus assignment (id, vec, cluster path id,
    optional nrm) — ``assign``, or kmeans_assign_hierarchical(base) at
    (``depth``, ``branch``) when omitted — plus centroid tables
    RE-DERIVED from the stored labels as exact integer-scaled means:
    the production shape, where (labels, centroids) persist between
    batches and the centroid derivation is a k*dim-row aggregate,
    never a corpus re-cluster.

    Per batch vector: MULTI-PROBE assignment — the TWO nearest stored
    centroids (IVF's classic recall knob), then rounded cosine against
    those clusters' stored members only; output one row per batch
    vector — (id, matched_base_id, cos_sim, is_unique) with the best
    match at cosine >= min_cosine (ties to the lowest base id),
    mirroring dedup_incremental_batch's schema. Unmatched vectors flag
    is_unique and would enter the corpus. Why nprobe=2: the stored
    labels predate the re-derived means (one Lloyd half-step of drift),
    so a boundary original can sit in a cluster that is not the batch
    copy's nearest — measured recall on injected near-dups at sf0.01:
    top-1 probe 113/125 (90.4%), top-2 124/125 (99.2%, one
    >=3rd-cluster straggler) at 2x probe cost, pinned in
    tests/test_semdedup_scaled.py.

    The batch DESCENDS the hierarchy (beam-2: both surviving parents'
    children score at the next level, ~2*branch folds per level)
    against per-level centroid tables ROLLED UP from the stored leaf
    sums — exact integer rollups, aggregate-sized at every level. With
    bounded clusters (depth from auto_depth) the probe cost is
    O(batch * (2*branch*depth + nprobe*target)), linear in the corpus:
    the 100 TB ingest path, measured 1.3x wall on 10x data
    (SCALE_CHECK_SF10_R8.json). A flat all-k probe was measured 23x on
    10x data at sf10 (k=4096: every batch vector scored all 4096
    centroids); the descent replaces it. depth=1 makes the descent one
    all-siblings scoring round — a flat top-2 argmin, the k=branch
    state the DuckDB oracle encodes; there each probed cluster holds
    ~corpus/branch members, so the per-batch-vector compare cost grows
    with the corpus.

    Shuffle shape: level-1 centroids are a ONE-ROW packed array
    (scalar-BNLJ broadcast — the batch never shuffles for assignment);
    the probe clusters EXPLODE to (vector, cluster) rows so the probe
    join stays a plain hash equi-join on cluster (an OR-of-equalities
    condition would nest-loop), partition-prunable when the stored
    assignment is written partitioned by cluster; the best-match
    window partitions by batch id (bounded groups — candidates within
    nprobe clusters).

    ``leaf_sums`` passes the STORED centroid component sums
    (semdedup_state_sums over the same assignment — what production
    persists next to the labels): the per-batch plan then derives every
    level's centroids from k*dim stored rows and never re-aggregates
    the corpus. Omitted, the sums derive inline from ``assign`` — same
    values (the helper IS the inline derivation), one extra
    corpus-sized aggregate, the certification fixture's shape.

    ``packed_levels`` passes the per-level packed centroid tables
    (semdedup_packed_levels over the same sums) pre-built — the
    many-batches-one-state caller (streaming ingest) persists them once
    instead of re-aggregating per micro-batch. Identical values by
    construction (the default path calls the same helper)."""
    from pyspark.sql import Window as W

    from sales_data_pipeline_spark.caching import scoped_persist

    if assign is None:
        assign = kmeans_assign_hierarchical(
            base, id_col, vec_col, depth, branch, dim, scale
        )
    if "nrm" not in assign.columns:
        assign = assign.withColumn("nrm", F.expr(sql_norm(vec_col, dim)))
    assign = assign.withColumn("cluster", F.col("cluster").cast("long"))
    # exact integer component sums per LEAF cluster, rolled up level by
    # level (sums and counts add exactly; the per-level mean is the
    # same (sum/scale)/count double pair the k-means M-step computes).
    # When the caller passes STORED sums (semdedup_state_sums written
    # alongside the labels — the production state shape), the per-batch
    # plan contains no corpus-sized aggregate at all and the assignment
    # feeds only the probe join, so it needs no persist either.
    if packed_levels is None:
        if leaf_sums is None:
            assign = scoped_persist(assign)
            leaf = semdedup_state_sums(
                assign, vec_col=vec_col, scale=scale
            )
        else:
            leaf = leaf_sums
        packed_levels = semdedup_packed_levels(leaf, depth, branch, scale)

    # beam-2 descent: at each level both surviving parents' children
    # score (<= 2*branch candidate folds per batch vector), and the two
    # best (distance, cid) pairs survive — struct sort breaks distance
    # ties on the lower cid, matching the flat argmin's first-match.
    #
    # Round-13 optimization (guide §2.4 — remove shuffles outright):
    # the per-level candidate set lives in ONE packed array column per
    # batch row, so the top-2 selection is an array expression over
    # that column — the round-12 shape instead EXPLODED the cells and
    # re-grouped by qid, paying a full shuffle per level per
    # (micro-)batch. Same values by construction: array_sort over
    # named_struct('d', fold, 'cid', cid) is the identical total order
    # the collect_list+sort computed (distances from the same fold
    # expression, cids unique within a level), and slice(..., 1, 2) is
    # the same top-2. Levels >= 2 fetch both surviving parents' cell
    # packs via broadcast equi-joins against the aggregate-sized packed
    # tables (never a shuffle of the batch); a single-cell level leaves
    # parent 2 NULL and scores parent 1's cells alone, exactly as the
    # exploded form did.
    def _t2_sql(cells_sql: str) -> str:
        return (
            f"slice(array_sort(transform({cells_sql}, "
            f"st -> named_struct('d', {sql_fold_l2sq('qvec', 'st.cv', dim)}, "
            "'cid', st.cid))), 1, 2)"
        )

    cur = batch.selectExpr(
        f"{id_col} AS qid",
        f"{vec_col} AS qvec",
        f"{sql_norm(vec_col, dim)} AS qnrm",
    )
    # level 1 has exactly ONE parent (the root), so the cells pack as a
    # one-row GLOBAL aggregate and join via the sanctioned scalar-BNLJ
    # cross join. (An equi-join on a LITERAL parent column
    # constant-folds to TRUE and plans a BNLJ whose build side is the
    # scaling BATCH union — the exact shape the plan gate rejects.)
    cur = cur.crossJoin(packed_levels[1]).selectExpr(
        "qid", "qvec", "qnrm", _t2_sql("cells") + " AS t2"
    )
    for lvl in range(2, depth + 1):
        pk = packed_levels[lvl]
        cells1 = pk.selectExpr("parent AS p1", "cells AS cells1")
        cells2 = pk.selectExpr("parent AS p2", "cells AS cells2")
        cur = (
            cur.selectExpr(
                "qid",
                "qvec",
                "qnrm",
                "t2[0].cid AS p1",
                "element_at(t2, 2).cid AS p2",
            )
            .join(bounded_broadcast(cells1, "branch ** (lvl-1) parents"), "p1")
            .join(
                bounded_broadcast(cells2, "branch ** (lvl-1) parents"),
                "p2",
                "left",
            )
            .selectExpr(
                "qid",
                "qvec",
                "qnrm",
                _t2_sql(
                    "CASE WHEN cells2 IS NULL THEN cells1 "
                    "ELSE concat(cells1, cells2) END"
                )
                + " AS t2",
            )
        )
    bq = cur.selectExpr(
        "qid",
        "qvec",
        "qnrm",
        "explode(transform(t2, e -> e.cid)) AS cluster",
    )
    # the probe side is batch-sized, so while the batch's footprint is
    # under the broadcast cap, broadcast it: the corpus-sized stored
    # assignment then streams through a BroadcastHashJoin with NO
    # exchange on either side, instead of both sides shuffling on
    # cluster per (micro-)batch (guide §3.1). A batch derived from an
    # unbounded source loses the hint and Catalyst/AQE pick the join.
    matches = (
        gated_broadcast(bq, corpus=batch).join(assign, "cluster")
        .selectExpr(
            "qid",
            f"{id_col} AS bid",
            f"FLOOR({sql_dot('qvec', vec_col, dim)}"
            " / (qnrm * nrm) * 10000 + 0.5D) / 10000.0D AS cs",
        )
        .filter(F.col("cs") >= F.lit(min_cosine))
    )
    best = (
        matches.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("cs"), F.col("bid"))
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        batch.select(id_col)
        # best is at most batch-sized (one row per matched qid):
        # broadcast it under the same gate so the verdict join never
        # shuffles the batch
        .join(
            gated_broadcast(best, corpus=batch),
            F.col(id_col) == F.col("qid"),
            "left",
        )
        .select(
            id_col,
            F.col("bid").alias("matched_base_id"),
            F.col("cs").alias("cos_sim"),
            F.col("bid").isNull().alias("is_unique"),
        )
    )


def cluster_cohesion(
    assign: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-cluster cohesion metrics over a (id, vec, cluster)
    assignment: each vector's rounded (4 dp) cosine to its OWN
    cluster's centroid — the measure-your-clustering-before-trusting-
    your-semantic-dedup step (SemDeDup prunes within clusters, so a
    low-cohesion cluster is where its recall dies). Returns one row
    per cluster: (cluster, n_vectors, mean_cohesion, min_cohesion).

    LINEAR, unlike the within-cluster pair join: one posexplode
    aggregate re-derives the exact integer-scaled mean centroids from
    the labels (semdedup_state_sums: k*dim rows, aggregate-sized at
    any corpus size), one hash equi-join puts each vector next to its
    k-row centroid table (Catalyst broadcasts the agg side from stats;
    nothing forced), one partial-agg groupBy. Cross-engine determinism:
    the per-vector cosine rounds to an INTEGER 1e4 grid before
    aggregating, so the per-cluster sums are order-free int64 math and
    the mean is two IEEE divisions of identical integers on both
    engines."""
    centv = _centroid_vecs(
        semdedup_state_sums(assign, vec_col, scale), scale
    )
    css = F.expr(
        f"CAST(FLOOR({sql_dot(vec_col, 'cv', dim)}"
        f" / ({sql_norm(vec_col, dim)} * {sql_norm('cv', dim)})"
        " * 10000 + 0.5D) AS BIGINT)"
    ).alias("css")
    scored = assign.join(
        centv, assign["cluster"] == centv["g"]
    ).select(F.col("cluster").cast("int").alias("cluster"), css)
    return scored.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        (F.sum("css").cast("long") / 10000.0 / F.count("*")).alias(
            "mean_cohesion"
        ),
        (F.min("css") / 10000.0).alias("min_cohesion"),
    )
