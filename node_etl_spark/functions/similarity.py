"""Similarity search over embedding columns (`array<float>`).

Three paths, per the standard ANN playbook:

* **Brute-force cosine top-k** — the exactness baseline, executed as a
  blocked distributed GEMM: vectors pack into per-block rows, each
  block × query-set tile is one numpy matmul emitting only local
  top-k, and the global merge is exact. O(|Q|·N·d) flops but
  O(blocks·|Q|·k) shuffled rows.
* **Hyperplane-LSH bucketed ANN** — scale path #1. Sign bits against
  deterministic pseudo-random hyperplanes give each vector L small
  integer buckets; candidates come from an id-only bucket join (the
  wide vectors never ride through the explode), scored after dedup.
  The bucket join replaces the N×Q cross product with a shuffle on
  bucket id.
* **IVF coarse quantizer** — scale path #2. Deterministic spherical
  k-means cells; queries probe n_probe nearest cells, touching
  ~n_probe/n_cells of the corpus.

Determinism: hyperplane weights come from a hash-free formula
(sin-based pseudo-randoms of (plane, dim)), and k-means initializes
from the lowest-id vectors, so results are exactly reproducible across
runs without storing a model.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf
# resolves type hints at runtime and rejects stringified annotations.
import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Order-deterministic double dot product of two float arrays
    (element-wise cast to double, sequential accumulate)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_vec(a: Column, b: Column) -> Column:
    """Vectorized pairwise cosine: one numpy einsum per Arrow batch.

    Catalyst higher-order lambdas (``aggregate``/``zip_with``) are
    interpreted per element — fine for a handful of rows, 10-100x too
    slow for millions of candidate pairs. This is the hot-path scorer;
    ``cosine`` (expression form) remains for contexts that must stay
    pure-SQL. Summation order differs from the sequential fold but both
    sit within float-ulp of the exact value; all consumers round to 6
    digits before compare/rank, which absorbs it.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _sim(x: pd.Series, y: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack(x.to_numpy()).astype(np.float64)
        B = np.vstack(y.to_numpy()).astype(np.float64)
        dp = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        return pd.Series(dp / (na * nb))

    return _sim(a, b)


def _require_integral_id(df: DataFrame, id_col: str) -> None:
    """The blocked-GEMM operators block on ``floor(id / block_size)``
    and pack ids into int64 numpy arrays — an integral id column is a
    hard contract (string/decimal ids would silently coerce or fail
    deep inside an Arrow batch). Fail fast with a clear message;
    callers with string keys should zipWithUniqueId/monotonically_
    increasing_id first and join back."""
    t = df.schema[id_col].dataType.simpleString()
    if t not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"similarity blocking requires an integral id column; "
            f"{id_col!r} is {t}"
        )


def _block_frame(
    df: DataFrame, id_col: str, vec_col: str, block_size: int, out_name: str
) -> DataFrame:
    """Pack vectors into GEMM-ready blocks: one row per block of up to
    ``block_size`` (id, vec) structs, blocked deterministically on
    ``floor(id / block_size)``. Turns per-pair vector shipping into
    per-block shipping — the data-movement term drops from O(pairs*d)
    to O(blocks*block_size*d)."""
    _require_integral_id(df, id_col)
    return (
        df.groupBy(
            F.floor(F.col(id_col) / block_size).alias("__blk")
        ).agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
            ).alias(out_name)
        )
    )


def _unpack(items) -> tuple:
    """(ids ndarray, row-normalized matrix) from a collect_list column
    value (numpy array of {'id','vec'} dicts in Arrow land)."""
    import numpy as np

    ids = np.array([it["id"] for it in items], dtype=np.int64)
    M = np.vstack([np.asarray(it["vec"], dtype=np.float64) for it in items])
    norms = np.sqrt(np.einsum("ij,ij->i", M, M))
    norms[norms == 0.0] = 1.0
    return ids, M / norms[:, None]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    block_size: int = 2048,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector, as a blocked
    distributed GEMM.

    The corpus is packed into blocks of ``block_size`` vectors; the
    (small-by-contract) query set rides along as one broadcast row.
    Each block computes a dense ``(block x queries)`` similarity
    matrix with one numpy matmul and emits only its local top-k per
    query; the global top-k over block winners is exact (a global
    winner is a winner in its own block). Shuffled bytes are
    O(blocks * queries * k), not O(N * queries). Ranking uses the
    *rounded* similarity with an id tiebreak so ordering is stable
    against last-ulp float divergence.
    """
    import numpy as np

    _require_integral_id(queries, id_col)  # query ids land in the same
    # int64 arrays as corpus ids — validate BOTH sides up front
    qrow = queries.agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        ).alias("__qitems")
    )
    blocks = _block_frame(corpus, id_col, vec_col, block_size, "__citems")
    joined = blocks.crossJoin(F.broadcast(qrow))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                cids, C = _unpack(row["__citems"])
                qids, Q = _unpack(row["__qitems"])
                S = np.round(C @ Q.T, round_digits)  # (m, q)
                for j in range(len(qids)):
                    sims = S[:, j]
                    mask = cids != qids[j]
                    cand_ids, cand_sims = cids[mask], sims[mask]
                    # local exact top-k by (sim desc, id asc)
                    order = np.lexsort((cand_ids, -cand_sims))[:k]
                    for idx in order:
                        rows.append((int(qids[j]), int(cand_ids[idx]), float(cand_sims[idx])))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "sim"])

    scored = joined.mapInPandas(
        gen, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def topk_oracle_sql(
    k: int = 5,
    query_pred: str = "vec_id < 50",
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    round_digits: int = 6,
) -> str:
    """DuckDB mirror of brute_force_topk.

    Summation-order caveat: Spark folds doubles sequentially; a SQL
    SUM has no order guarantee, so the oracle sums the per-dimension
    products as exact DECIMAL(38,30) (order-independent). The two
    values differ only at float-error magnitude; BOTH sides round to
    ``round_digits`` before ranking/compare, so they agree unless the
    true value sits within ~1e-15 of a rounding boundary (negligible,
    and the gate would surface it).
    """
    return f"""
    WITH q AS (SELECT {id_} AS query_id, {vec} AS qvec FROM {table} WHERE {query_pred}),
    c AS (SELECT {id_} AS neighbor_id, {vec} AS cvec FROM {table}),
    expanded AS (
        SELECT query_id, neighbor_id, qvec, cvec,
               unnest(generate_series(1, len(qvec))) AS i
        FROM q, c WHERE query_id != neighbor_id),
    pairs AS (
        SELECT query_id, neighbor_id,
            CAST(SUM(CAST(CAST(qvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS dp,
            CAST(SUM(CAST(CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS nq,
            CAST(SUM(CAST(CAST(cvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS nc
        FROM expanded
        GROUP BY 1, 2),
    scored AS (
        SELECT query_id, neighbor_id,
               round(dp / (sqrt(nq) * sqrt(nc)), {round_digits}) AS sim
        FROM pairs)
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


def topk_recall_audit(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    recall_floor: float,
) -> DataFrame:
    """Self-validation frame for an approximate top-k path: mean
    recall@k of ``approx`` against the IN-PLAN exact
    :func:`brute_force_topk` result, as ONE row whose exact columns
    (n_queries, n_exact_pairs) the SQL oracle recomputes from the
    base table and whose ``recall_ok`` boolean carries the accuracy
    claim — if the ANN path's recall ever drops below
    ``recall_floor`` the cross-engine value hash mismatches and the
    gate turns red. This puts the approximate operators on the exact
    gate (the q211/q243 pattern) instead of a rows-only check.

    Both inputs are (query_id, neighbor_id, ...) frames; the overlap
    is a broadcast-sized left-semi join (n_queries * k rows), the two
    scalar aggregates cross-join as one-row frames.
    """
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    hits = e.join(a, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    stats = e.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact_pairs"),
    )
    return stats.crossJoin(F.broadcast(hits)).select(
        "n_queries",
        "n_exact_pairs",
        F.lit(int(k)).alias("k"),
        F.lit(float(recall_floor)).alias("recall_floor"),
        (
            F.col("n_hits").cast("double")
            / F.col("n_exact_pairs").cast("double")
            >= F.lit(float(recall_floor))
        ).alias("recall_ok"),
    )


def topk_recall_audit_sql(
    k: int,
    recall_floor: float,
    query_pred: str = "vec_id < 50",
    table: str = "embeddings",
) -> str:
    """DuckDB mirror of :func:`topk_recall_audit`: the exact columns
    are recomputed from the base table (brute-force top-k returns
    exactly k rows per query whenever the corpus has > k vectors,
    which every sf dir does); ``recall_ok`` asserts the same floor —
    TRUE here, and the Spark side must agree or the hash differs."""
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) * {int(k)} AS BIGINT) AS n_exact_pairs,
           {int(k)} AS k,
           CAST({float(recall_floor)!r} AS DOUBLE) AS recall_floor,
           TRUE AS recall_ok
    FROM {table} WHERE {query_pred}
    """


# ------------------------------------------------- embedding near-dup


def lsh_neardup_candidates(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    planes_per_table: int = 4,
) -> DataFrame:
    """Candidate (a, b) id pairs (a < b) for near-dup scoring: vectors
    that share a hyperplane-LSH bucket in at least one table.

    The self-join key is (table, bucket) — an equi-join over id-only
    rows (the wide vectors never ride through the explode/join), so
    shuffled volume is O(N * n_tables) ids and the pair stream is
    linear in bucket occupancy, not O(N^2). This is the same shape as
    text MinHash-LSH (`dedup.lsh_candidate_pairs`), applied to the
    embedding modality. Recall follows the hyperplane s-curve
    1-(1-(1-theta/pi)^P)^T — at threshold 0.9 with T=8, P=4 it is
    ~0.998; raise planes_per_table to cut candidates at the cost of
    recall.
    """
    bucket_udf = lsh_buckets_udf(dim, n_tables, planes_per_table)
    bk = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(bucket_udf(F.col(vec_col))).alias("t", "b"),
    )
    a, b = bk.alias("a"), bk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("a"), F.col("b.__id").alias("b"))
        .distinct()
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    block_size: int = 1024,
    candidates: DataFrame | None = None,
    mode: str = "auto",
    auto_lsh_above: int = 200_000,
    n_tables: int | None = None,
    planes_per_table: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, sim) with a < b
    and rounded cosine >= threshold.

    Two physical strategies:

    * **exact** — blocked all-pairs GEMM: vectors pack into blocks,
      every (block_i <= block_j) pair is one task computing a dense
      similarity tile with a single matmul. Data movement is
      O(blocks^2 * block_size * d); the tile stream is quadratic in
      corpus size, so this is only for corpora that fit an all-pairs
      budget.
    * **lsh** — the 100 TB path: candidate pairs from the hyperplane-
      LSH bucket equi-join (:func:`lsh_neardup_candidates`), exact
      cosine scored only on candidates via the Arrow-batched
      vectorized kernel. No quadratic stage anywhere; recall follows
      the LSH s-curve (~0.998 at threshold 0.9 with the defaults).
      Pair-level (not block-level) pruning is deliberate: blocks are
      id-ordered and therefore similarity-random, so at scale almost
      every block PAIR contains some colliding vector pair and
      block-granular pruning converges back to the quadratic stream,
      while sparse candidates would waste block_size^2 flops per tile.

    ``mode``: "exact" | "lsh" | "auto" (default). Auto counts the
    corpus and switches to LSH above ``auto_lsh_above`` rows — below
    it the all-pairs GEMM is both exact and faster (no bucket join);
    above it the quadratic tile stream is the scale-killer. An
    explicit ``candidates`` frame ((a, b) id pairs) skips generation
    and forces the candidate-scored path.
    """
    import numpy as np

    if candidates is None and mode not in ("auto", "exact", "lsh"):
        raise ValueError(f"unknown mode {mode!r}")
    if candidates is None and mode in ("auto", "lsh"):
        # one count job serves both the auto-mode switch and the
        # adaptive ladder rung; non-null vectors only, matching the
        # oracle's counted frame
        n = df.filter(F.col(vec_col).isNotNull()).count()
        use_lsh = mode == "lsh" or n > auto_lsh_above
        if use_lsh:
            if n_tables is None or planes_per_table is None:
                auto_t, auto_p = lsh_adaptive_config(n)
                n_tables = auto_t if n_tables is None else n_tables
                planes_per_table = (
                    auto_p if planes_per_table is None else planes_per_table
                )
            # probe the dim from a non-null vector; empty/all-null
            # corpora fall back to the exact path below, which yields
            # an empty, correctly-typed result instead of handing a
            # degenerate dim to the plane-matrix builder
            row = (
                df.filter(F.col(vec_col).isNotNull())
                .select(F.size(vec_col))
                .first()
            )
            if row is None or not row[0] or row[0] <= 0:
                use_lsh = False
            else:
                candidates = lsh_neardup_candidates(
                    df, row[0], id_col, vec_col, n_tables, planes_per_table
                )

    if candidates is not None:
        va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("__va"))
        vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("__vb"))
        return (
            candidates.join(va, "a")
            .join(vb, "b")
            .withColumn(
                "sim",
                F.round(cosine_vec(F.col("__va"), F.col("__vb")), round_digits),
            )
            .filter(F.col("sim") >= threshold)
            .select("a", "b", "sim")
        )

    blocks = _block_frame(df, id_col, vec_col, block_size, "__items").persist()
    ba = blocks.select(F.col("__blk").alias("__ba"), F.col("__items").alias("__ia"))
    bb = blocks.select(F.col("__blk").alias("__bb"), F.col("__items").alias("__ib"))
    pairs = ba.join(bb, F.col("__ba") <= F.col("__bb"))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                aids, A = _unpack(row["__ia"])
                bids, B = _unpack(row["__ib"])
                S = np.round(A @ B.T, round_digits)
                ii, jj = np.nonzero(S >= threshold)
                for i, j in zip(ii, jj):
                    if aids[i] < bids[j]:
                        rows.append((int(aids[i]), int(bids[j]), float(S[i, j])))
            yield pd.DataFrame(rows, columns=["a", "b", "sim"])

    return pairs.mapInPandas(gen, schema="a long, b long, sim double")


def neardup_oracle_sql(
    threshold: float,
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    round_digits: int = 6,
) -> str:
    """DuckDB mirror of cosine_neardup_pairs (same DECIMAL exact-sum
    trick as topk_oracle_sql so both engines round identical doubles)."""
    return f"""
    WITH pairs0 AS (
        SELECT x.{id_} AS a, y.{id_} AS b, x.{vec} AS avec, y.{vec} AS bvec
        FROM {table} x, {table} y WHERE x.{id_} < y.{id_}),
    expanded AS (
        SELECT a, b, avec, bvec, unnest(generate_series(1, len(avec))) AS i
        FROM pairs0),
    sums AS (
        SELECT a, b,
            CAST(SUM(CAST(CAST(avec[i] AS DOUBLE) * CAST(bvec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS dp,
            CAST(SUM(CAST(CAST(avec[i] AS DOUBLE) * CAST(avec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS na,
            CAST(SUM(CAST(CAST(bvec[i] AS DOUBLE) * CAST(bvec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS nb
        FROM expanded GROUP BY 1, 2)
    SELECT a, b, round(dp / (sqrt(na) * sqrt(nb)), {round_digits}) AS sim
    FROM sums
    WHERE round(dp / (sqrt(na) * sqrt(nb)), {round_digits}) >= {threshold}
    """


def neardup_lsh_oracle_sql(
    threshold: float,
    dim: int,
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    round_digits: int = 6,
    n_tables: int | None = None,
    planes_per_table: int | None = None,
) -> str:
    """DuckDB mirror of the LSH-pruned :func:`cosine_neardup_pairs`
    (mode="lsh"), replicating the candidate generation exactly — the
    same pattern as ``dedup.minhash_oracle_sql``.

    The hyperplane weights are md5-derived (:func:`_plane_weight`) —
    integer md5 bits scaled by an exact power-of-two divide — so the
    SQL recomputes them bit-identically at runtime for WHICHEVER
    ladder rung the corpus size selects (``n_tables``/
    ``planes_per_table`` None = the :data:`LSH_LADDER` rule, as a
    CASE over the same non-null count Spark uses; pinned ints mirror
    a pinned Spark config). Projection sums use the exact-DECIMAL
    trick (order-independent); a sign flip vs numpy's float64 matmul
    would need the true projection within ~1e-13 of zero — same
    negligible-boundary risk class as every rounded-cosine oracle
    here.
    """
    if (n_tables is None) != (planes_per_table is None):
        raise ValueError("pin both n_tables and planes_per_table or neither")
    if n_tables is not None:
        cfg = f"SELECT {planes_per_table} AS p_cnt, {n_tables} AS t_cnt"
    else:
        p_case = " ".join(
            f"WHEN n <= {LSH_TARGET_OCCUPANCY << p} THEN {p}"
            for p, _ in LSH_LADDER[:-1]
        )
        t_case = " ".join(
            f"WHEN n <= {LSH_TARGET_OCCUPANCY << p} THEN {t}"
            for p, t in LSH_LADDER[:-1]
        )
        cfg = f"""SELECT CASE {p_case} ELSE {LSH_LADDER[-1][0]} END AS p_cnt,
                   CASE {t_case} ELSE {LSH_LADDER[-1][1]} END AS t_cnt
            FROM (SELECT COUNT(*) AS n FROM {table}
                  WHERE {vec} IS NOT NULL)"""
    max_p, max_t = LSH_LADDER[-1]
    if n_tables is not None:
        # pinned values may exceed the ladder maximum (a caller
        # mirroring a hand-tuned Spark config); the generate_series
        # bounds must cover them or the plane family silently
        # truncates and the gate mismatches with no error
        max_p = max(max_p, planes_per_table)
        max_t = max(max_t, n_tables)
    return f"""
    WITH cfg AS ({cfg}),
    w AS (
        SELECT tt.t, pp.p, dd.i,
               CAST(('0x' || substring(md5(
                   'plane:' || CAST(tt.t * cfg.p_cnt + pp.p AS VARCHAR)
                   || ':' || CAST(dd.i - 1 AS VARCHAR)), 1, 8))
                   AS BIGINT) / 2147483648.0 - 1.0 AS wt
        FROM cfg,
             generate_series(0, {max_t - 1}) tt(t),
             generate_series(0, {max_p - 1}) pp(p),
             generate_series(1, {dim}) dd(i)
        WHERE tt.t < cfg.t_cnt AND pp.p < cfg.p_cnt),
    expl AS (
        SELECT {id_} AS vid, i, CAST({vec}[i] AS DOUBLE) AS x
        FROM {table}, unnest(generate_series(1, len({vec}))) AS u(i)),
    proj AS (
        SELECT vid, t, p,
               CAST(SUM(CAST(x * wt AS DECIMAL(38,30))) AS DOUBLE) AS pr
        FROM expl JOIN w USING (i)
        GROUP BY 1, 2, 3),
    buckets AS (
        SELECT vid, t, SUM(CASE WHEN pr > 0 THEN 1 << p ELSE 0 END) AS b
        FROM proj GROUP BY 1, 2),
    cands AS (
        SELECT DISTINCT x.vid AS a, y.vid AS b
        FROM buckets x JOIN buckets y
          ON x.t = y.t AND x.b = y.b AND x.vid < y.vid),
    pexp AS (
        SELECT c.a, c.b, ea.{vec} AS avec, eb.{vec} AS bvec
        FROM cands c
        JOIN {table} ea ON ea.{id_} = c.a
        JOIN {table} eb ON eb.{id_} = c.b),
    expanded AS (
        SELECT a, b, avec, bvec, unnest(generate_series(1, len(avec))) AS i
        FROM pexp),
    sums AS (
        SELECT a, b,
            CAST(SUM(CAST(CAST(avec[i] AS DOUBLE) * CAST(bvec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS dp,
            CAST(SUM(CAST(CAST(avec[i] AS DOUBLE) * CAST(avec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS na,
            CAST(SUM(CAST(CAST(bvec[i] AS DOUBLE) * CAST(bvec[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE) AS nb
        FROM expanded GROUP BY 1, 2)
    SELECT a, b, round(dp / (sqrt(na) * sqrt(nb)), {round_digits}) AS sim
    FROM sums
    WHERE round(dp / (sqrt(na) * sqrt(nb)), {round_digits}) >= {threshold}
    """


# --------------------------------------------------------------- IVF ANN


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer —
    the second scale path next to hyperplane LSH.

    Spherical k-means: centroids initialize from the ``n_cells``
    lowest-id vectors (deterministic, no RNG), refine for
    ``lloyd_iters`` rounds (assignment is a per-batch numpy argmax
    against the broadcast centroid matrix; new centroids are per-cell
    per-dimension means via posexplode + avg). Each corpus vector lands
    in exactly one cell; each query probes its ``n_probe`` nearest
    cells, so scoring touches ~n_probe/n_cells of the corpus. The
    centroid matrix is the only driver-side state — k*d floats, an
    aggregate, not data-plane rows. Shuffles: one per Lloyd round
    (cell means) + the final (cell) candidate join.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _normalize(M: "np.ndarray") -> "np.ndarray":
        n = np.sqrt(np.einsum("ij,ij->i", M, M))
        n[n == 0.0] = 1.0
        return M / n[:, None]

    init = corpus.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    C = _normalize(np.vstack([np.asarray(r[0], dtype=np.float64) for r in init]))

    def assign_udf(Cmat: "np.ndarray"):
        @pandas_udf("int")
        def cell(v: pd.Series) -> pd.Series:
            X = _normalize(np.vstack(v.to_numpy()).astype(np.float64))
            return pd.Series((X @ Cmat.T).argmax(axis=1).astype(np.int32))

        return cell

    dim = C.shape[1]
    for _ in range(lloyd_iters):
        assigned = corpus.select(
            F.col(vec_col).alias("v"), assign_udf(C)(F.col(vec_col)).alias("cell")
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("d", "x"))
            .groupBy("cell", "d")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        newC = C.copy()  # cells that lost all members keep old centroid
        by_cell: dict[int, list] = {}
        for r in means:
            by_cell.setdefault(r.cell, [None] * dim)[r.d] = r.m
        for c_idx, vals in by_cell.items():
            newC[c_idx] = np.asarray(vals, dtype=np.float64)
        C = _normalize(newC)

    corpus_cells = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        assign_udf(C)(F.col(vec_col)).alias("cell"),
    )

    @pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        X = _normalize(np.vstack(v.to_numpy()).astype(np.float64))
        order = np.argsort(-(X @ C.T), axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    query_probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    scored = (
        corpus_cells.join(F.broadcast(query_probes), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", F.round(cosine_vec(F.col("qvec"), F.col("cvec")), round_digits)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# --------------------------------------------------------------- LSH ANN


def _plane_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-1, 1):
    32 md5 bits of "plane:<p>:<d>" scaled by 2^-31, minus 1. md5 is
    the one hash both engines compute bit-identically (the repo-wide
    portable-hash rule, sampling.py), and h/2^31 - 1 is exact float
    arithmetic (power-of-two divide), so the SQL oracle can generate
    the planes for ANY ladder rung at runtime instead of embedding
    literal weights for one pinned configuration. (The previous
    sin-fract shader formula was Python-side only: DuckDB's sin()
    differs from libm by ~1 ulp, which the *43758 fract amplifies to
    1e-9 — far above the near-zero-projection risk floor.)"""
    h = int(
        hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()[:8], 16
    )
    return h / 2147483648.0 - 1.0


# (planes_per_table P, n_tables T) ladder for hyperplane LSH, indexed
# by corpus size: P is the smallest value keeping expected bucket
# occupancy n / 2^P at or under 64 (bucket count must scale with the
# corpus — a pinned P=4 gives 16 buckets forever, occupancy grows
# linearly and the in-bucket pair stream quadratically: measured 66x
# for 10x data at sf1), and T holds the s-curve recall
# 1-(1-p^P)^T >= ~0.99 at the cosine-0.9 design point (p = 1 -
# theta/pi = 0.856). Cost per vector is T*P projections ~ (log n)^2.
# Both engines derive the rung from the SAME count — the oracle as a
# CASE over a scalar subquery, Spark from one count() job — so the
# exact gate holds at every scale factor. Extend by appending rungs.
LSH_LADDER: list[tuple[int, int]] = [
    (4, 8),
    (5, 8),
    (6, 10),
    (7, 12),
    (8, 14),
    (9, 17),
    (10, 20),
    (11, 23),
    (12, 28),
    (13, 33),
    (14, 39),
    (15, 45),
    (16, 53),
]
LSH_TARGET_OCCUPANCY = 64


def lsh_adaptive_config(n: int) -> tuple[int, int]:
    """(n_tables, planes_per_table) for a corpus of ``n`` vectors,
    from :data:`LSH_LADDER` (rung = smallest P with n <= 64 * 2^P)."""
    for planes, tables in LSH_LADDER:
        if n <= LSH_TARGET_OCCUPANCY << planes:
            return tables, planes
    return LSH_LADDER[-1][1], LSH_LADDER[-1][0]


def _plane_matrix(dim: int, n_tables: int, planes_per_table: int):
    """Shared hyperplane construction for the bucket UDFs: (M, powers)
    with M[(t * planes_per_table + p), d] = _plane_weight(...). ONE
    source of the hash family — the corpus index, the neardup bucket
    UDF, and the multi-probe query side must draw from identical
    planes or recall silently collapses."""
    import numpy as np

    M = np.array(
        [
            [_plane_weight(t * planes_per_table + p, d) for d in range(dim)]
            for t in range(n_tables)
            for p in range(planes_per_table)
        ]
    )  # (T*P, dim)
    powers = 2 ** np.arange(planes_per_table)
    return M, powers


def lsh_buckets_udf(dim: int, n_tables: int = 8, planes_per_table: int = 4):
    """Vectorized bucket computation: one numpy matmul per Arrow batch
    ((batch x dim) @ (dim x T*P)) instead of T*P per-row expression
    folds — the documented fast path for wide-matrix work. Returns a
    pandas_udf producing array<int> of length n_tables."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    import pandas as pd

    M, powers = _plane_matrix(dim, n_tables, planes_per_table)

    @pandas_udf("array<int>")
    def buckets(v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (X @ M.T > 0).astype(np.int64).reshape(len(X), n_tables, planes_per_table)
        bucket_ids = (bits * powers).sum(axis=2).astype(np.int32)
        return pd.Series(list(bucket_ids))

    return buckets


def lsh_probe_buckets_udf(
    dim: int,
    n_tables: int = 8,
    planes_per_table: int = 4,
    n_probes: int = 2,
):
    """Multi-probe variant of :func:`lsh_buckets_udf` (Lv et al.
    VLDB'07): per table, the base bucket PLUS ``n_probes`` buckets
    reached by flipping the lowest-|margin| hyperplane bits — the
    buckets a near-boundary vector most likely "just missed".
    Returns array<array<int>>: per table, 1 + n_probes bucket ids
    (all distinct — each probe flips a different plane).

    Query-side only: probing multiplies the QUERY stream (small) by
    1 + n_probes while the corpus stays single-bucket, buying the
    recall of ~(1 + n_probes) x more tables at none of the corpus
    index cost.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    import pandas as pd

    M, powers = _plane_matrix(dim, n_tables, planes_per_table)
    probes = min(n_probes, planes_per_table)

    @pandas_udf("array<array<int>>")
    def buckets(v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy()).astype(np.float64)  # (n, dim)
        S = (X @ M.T).reshape(len(X), n_tables, planes_per_table)
        bits = (S > 0).astype(np.int64)
        base = (bits * powers).sum(axis=2).astype(np.int64)  # (n, T)
        # planes ordered by how close the vector sits to the boundary
        order = np.argsort(np.abs(S), axis=2)  # (n, T, P)
        out = []
        for i in range(len(X)):
            per_table = []
            for t in range(n_tables):
                row = [int(base[i, t])]
                for j in range(probes):
                    row.append(int(base[i, t]) ^ (1 << int(order[i, t, j])))
                per_table.append(row)
            out.append(per_table)
        return pd.Series(out)

    return buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_tables: int | None = None,
    planes_per_table: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_probes: int = 0,
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing an LSH bucket in
    at least one table.

    The join is a shuffle on (table, bucket) — no cross product — the
    property that survives the 100x scale-up; with the default
    ladder-derived config (``n_tables``/``planes_per_table`` None ->
    :func:`lsh_adaptive_config` of the corpus count) bucket occupancy
    stays bounded as the corpus grows, so the candidate stream scales
    ~linearly instead of quadratically. Exact cosine is computed
    only for candidates; duplicates across tables are collapsed before
    scoring. ``n_probes > 0`` turns on query-side multi-probe (Lv et
    al. VLDB'07): each query additionally probes the buckets reached
    by flipping its ``n_probes`` closest-to-boundary hyperplane bits
    per table — the recall of ~(1 + n_probes) x more tables while the
    corpus index and its shuffle stay exactly the same size.
    """
    if n_tables is None or planes_per_table is None:
        # count the non-null-vector frame — the same frame
        # cosine_neardup_pairs counts and the oracle CTEs replicate —
        # so a corpus containing null embeddings selects the same
        # ladder rung everywhere even at a rung boundary
        auto_t, auto_p = lsh_adaptive_config(
            corpus.filter(F.col(vec_col).isNotNull()).count()
        )
        n_tables = auto_t if n_tables is None else n_tables
        planes_per_table = (
            auto_p if planes_per_table is None else planes_per_table
        )
    bucket_udf = lsh_buckets_udf(dim, n_tables, planes_per_table)

    # bucket join over (id, table, bucket) ONLY — the wide vector
    # payload never rides through the explode/join/dedup; it is
    # attached once per surviving candidate pair afterwards
    def with_buckets(df: DataFrame, idname: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idname),
            F.posexplode(bucket_udf(F.col(vec_col))).alias("t", "b"),
        )

    c = with_buckets(corpus, "neighbor_id")
    if n_probes > 0:
        probe_udf = lsh_probe_buckets_udf(
            dim, n_tables, planes_per_table, n_probes
        )
        q = (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.posexplode(probe_udf(F.col(vec_col))).alias("t", "bs"),
            )
            .select("query_id", "t", F.explode("bs").alias("b"))
        )
    else:
        q = with_buckets(queries, "query_id")
    cand = (
        c.join(q, on=["t", "b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        cand.join(F.broadcast(qv), on="query_id")
        .join(cv, on="neighbor_id")
        .withColumn(
            "sim", F.round(cosine_vec(F.col("qvec"), F.col("cvec")), round_digits)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ------------------------------------------------------ vector aggregates


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 9,
) -> DataFrame:
    """Per-label centroid of an embedding column, as flat
    ``(label, pos, centroid, n_vecs)`` rows (0-based position).
    ``round_digits`` trims sub-float32 noise so the result is portable
    across engines (same convention as the cosine oracles).

    The class-prototype / k-means-E-step building block: posexplode
    the vector and two-phase aggregate on ``(label, pos)`` — partial
    sums collapse per task before the shuffle, so the exchanged volume
    is ``labels x dim``, independent of corpus size; no vector ever
    assembles on the driver. Component sums use the exact-decimal
    trick (see ``topk_oracle_sql``) so the result is order-independent
    and oracle-checkable.
    """
    return (
        df.select(F.col(label_col).alias("label"), F.posexplode(vec_col))
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("col").cast("double").cast("decimal(38,30)"))
                .cast("double")
                / F.count(F.lit(1)),
                round_digits,
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def label_centroids_oracle_sql(
    table: str = "embeddings",
    label: str = "label",
    vec: str = "embedding",
    round_digits: int = 9,
) -> str:
    """DuckDB mirror of :func:`label_centroids`."""
    return f"""
    SELECT {label} AS label, i - 1 AS pos,
           round(CAST(SUM(CAST(CAST({vec}[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)
               / COUNT(*), {round_digits}) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM {table}, unnest(generate_series(1, len({vec}))) AS t(i)
    GROUP BY 1, 2
    """


def centroid_outliers(
    df: DataFrame,
    k: int = 3,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Top-``k`` farthest vectors from their own label's centroid —
    the mislabel / outlier sweep for embedding QA.

    Composes :func:`label_centroids`: the centroid table (labels x
    dim rows) broadcasts back onto the exploded vectors, squared
    residuals aggregate per vector with the exact-decimal trick, and
    a per-label window takes the deterministic top-k (distance desc,
    id asc). Two shuffles total — the centroid agg and the per-vector
    residual agg; the window partitions on label (small fan-in).
    """
    cents = label_centroids(df, label_col, vec_col, id_col)
    expl = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.posexplode(vec_col),
    )
    dists = (
        expl.join(F.broadcast(cents), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sum(
                    (
                        (F.col("col").cast("double") - F.col("centroid"))
                        * (F.col("col").cast("double") - F.col("centroid"))
                    ).cast("decimal(38,30)")
                ).cast("double"),
                round_digits,
            ).alias("sq_dist")
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("sq_dist").desc(), "vec_id")
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("label", "vec_id", "sq_dist", "rank")
    )


def centroid_outliers_oracle_sql(
    k: int = 3,
    table: str = "embeddings",
    label: str = "label",
    vec: str = "embedding",
    id_: str = "vec_id",
    round_digits: int = 6,
) -> str:
    """DuckDB mirror of :func:`centroid_outliers`."""
    cents = label_centroids_oracle_sql(table, label, vec)
    return f"""
    WITH cents AS ({cents}),
    expl AS (
        SELECT {id_} AS vec_id, {label} AS label, i - 1 AS pos,
               CAST({vec}[i] AS DOUBLE) AS e
        FROM {table}, unnest(generate_series(1, len({vec}))) AS t(i)),
    dists AS (
        SELECT expl.vec_id, expl.label,
               round(CAST(SUM(CAST((e - centroid) * (e - centroid)
                                   AS DECIMAL(38,30))) AS DOUBLE),
                     {round_digits}) AS sq_dist
        FROM expl JOIN cents ON expl.label = cents.label
                            AND expl.pos = cents.pos
        GROUP BY 1, 2),
    ranked AS (
        SELECT label, vec_id, sq_dist,
               row_number() OVER (PARTITION BY label
                                  ORDER BY sq_dist DESC, vec_id) AS rank
        FROM dists)
    SELECT label, vec_id, sq_dist, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


# ------------------------------------------------ int8 quantization


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """Per-dimension min-max quantization of float vectors to int
    codes in [0, levels] — the 4x memory/IO reduction that keeps a
    100 TB ANN index resident (scalar quantization; the IVF/LSH
    coarse structures in this module consume the codes unchanged).

    Two phases: a posexplode + (pos -> min, max) aggregate whose
    shuffle volume is the DIMENSION count, not the corpus, then one
    broadcast of the packed stats arrays back onto the vectors for a
    row-local transform. Codes are
    ``round((v - lo_d) / (hi_d - lo_d) * levels)`` with constant
    dimensions pinned to 0 — all-double arithmetic on identical
    operands, so the DuckDB oracle matches bit-exactly.

    Returns (id, q array<int>, n_dims); dequantization is
    ``lo_d + q * (hi_d - lo_d) / levels``.

    Dimensionality contract: vectors shorter than the corpus maximum
    are EXCLUDED (a row-local length filter against the packed stats
    arrays — mirrored in the oracle) rather than silently null-padded
    by ``arrays_zip``; ragged corpora should be bucketed by dimension
    first.
    """
    stats = (
        df.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.min(F.col("v").cast("double")).alias("lo"),
            F.max(F.col("v").cast("double")).alias("hi"),
        )
    )
    packed = stats.agg(
        F.sort_array(F.collect_list(F.struct("pos", "lo", "hi"))).alias("s")
    ).select(
        F.expr("transform(s, x -> x.lo)").alias("los"),
        F.expr("transform(s, x -> x.hi)").alias("his"),
    )
    return (
        df.crossJoin(F.broadcast(packed))
        .filter(F.size(F.col(vec_col)) == F.size(F.col("los")))
        .select(
            F.col(id_col),
            F.expr(
                f"transform(arrays_zip({vec_col}, los, his), x -> "
                f"CASE WHEN x.his = x.los THEN 0 ELSE "
                f"CAST(round((CAST(x.{vec_col} AS DOUBLE) - x.los)"
                f" / (x.his - x.los) * {levels}) AS INT) END)"
            ).alias("q"),
        )
        .withColumn("n_dims", F.size("q").cast("bigint"))
    )


def quantize_oracle_sql(
    table: str = "embeddings",
    vec: str = "embedding",
    id_: str = "vec_id",
    levels: int = 255,
) -> str:
    """DuckDB mirror of :func:`quantize_embeddings`, aggregated to
    (id, n_dims, q_sum, q_digest) so the int-code arrays ride the
    value-hash gate as deterministic scalars."""
    return f"""
    WITH stats AS (
        SELECT i, MIN(CAST({vec}[i] AS DOUBLE)) AS lo,
               MAX(CAST({vec}[i] AS DOUBLE)) AS hi
        FROM {table}, unnest(generate_series(1, len({vec}))) AS t(i)
        GROUP BY 1),
    q AS (
        SELECT e.{id_} AS vec_id, t.i,
               CASE WHEN s.hi = s.lo THEN 0 ELSE
                   CAST(round((CAST(e.{vec}[t.i] AS DOUBLE) - s.lo)
                        / (s.hi - s.lo) * {levels}) AS BIGINT) END AS qv
        FROM {table} e,
             unnest(generate_series(1, len(e.{vec}))) AS t(i)
             JOIN stats s ON s.i = t.i
        WHERE len(e.{vec}) = (SELECT MAX(len({vec})) FROM {table}))
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(qv) AS BIGINT) AS q_sum,
           md5(string_agg(CAST(qv AS VARCHAR), ',' ORDER BY q.i)) AS q_digest
    FROM q GROUP BY vec_id
    """


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int | None = None,
    threshold: float = 0.9,
    mode: str = "exact",
    n_clusters: int = 256,
    max_cluster_size: int = 512,
) -> DataFrame:
    """Semantic deduplication (Abbas et al. 2023, "SemDeDup"): cluster
    the embedding space, then drop in-cluster semantic duplicates —
    the embedding-level complement of MinHash/SimHash lexical dedup,
    catching paraphrases and re-renderings that share no n-grams.

    Shape per the paper: pairwise comparison happens ONLY within a
    cluster, so total pair work is sum(c_i^2) instead of N^2. The
    number of clusters is the cost dial: assignment is O(n*k) and the
    in-cluster pair stage is O(n * n/k), so k ~ sqrt(n) balances them
    at O(n^1.5) — the best exact shape this algorithm admits (the
    paper's practical variant fixes k and caps cluster size, trading
    exactness). ``seed_mod=None`` (default) applies that rule: the
    seed stride is floor(sqrt(n)) — computed identically by the SQL
    oracle, IEEE sqrt is correctly rounded in both engines — giving
    ~sqrt(n) clusters of ~sqrt(n) vectors. A fixed ``seed_mod``
    reproduces the pinned-stride behavior (k grows LINEARLY with n
    and the assignment pass goes quadratic — measured 83x for 10x
    data at sf1; don't do that outside tests). The assignment stage
    is a broadcast of k centroid rows and one narrow argmin pass
    (q133's Lloyd-step kernel) whose exchange carries only (id,
    cluster) — vectors are re-joined by id afterwards, never shipped
    through the n*k candidate stream — and the in-cluster self-join
    shuffles on cluster id. Centroids are the deterministic data
    seeds ``id % stride = 0`` (an externally trained codebook frame
    can replace them — the geometry is unchanged), so the whole
    operator is a pure function of the data and sits on the exact
    value gate.

    Dedup rule (deterministic, oracle-expressible): a vector is a
    duplicate iff a SAME-CLUSTER vector with a smaller id has
    round(cosine, 6) >= threshold; it is recorded against the
    SMALLEST such keeper. Returns (dup_id, cluster_id, keep_id, cos).

    ``mode="capped"`` is the paper's practical variant and the 100 TB
    shape: a FIXED cluster count (``n_clusters``, so assignment is
    O(n*k) GEMM flops — strictly linear in n, vs exact mode's
    O(n^1.5)) and a hard ``max_cluster_size`` cap (in-cluster pairing
    runs within centroid-distance-ordered chunks of at most that many
    vectors — near-identical vectors sit at near-identical centroid
    distance, so duplicate pairs stay in one chunk, so
    pair work is <= n * max_cluster_size however skewed the clusters
    get). The trade is exactness: a duplicate pair split across two
    chunks of the same cluster, or assigned to different clusters
    than exact mode's sqrt(n) seeds, is missed — see
    tests/test_similarity.py's agreement bracket. Assignment runs as
    an Arrow-batched numpy GEMM against the broadcast (<= n_clusters
    x dim) centroid matrix with distances quantized to the 1e-6 grid
    (positive-half-up, matching round(x, 6) on both engines), ties to
    the smallest cluster id — deterministic and oracle-expressible
    (:func:`semdedup_capped_oracle_sql`). ``seed_mod`` is ignored in
    capped mode; the seed stride is ceil(n / n_clusters) so the seed
    count stays ~n_clusters at any corpus size.
    """
    _require_integral_id(df, id_col)
    if mode == "capped":
        return _semdedup_capped(
            df, id_col, vec_col, n_clusters, max_cluster_size, threshold
        )
    if mode != "exact":
        raise ValueError(f"semdedup: unknown mode {mode!r}")
    e = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())
    if seed_mod is None:
        # sqrt-balanced cluster count; one cheap count job. floor +
        # IEEE-correctly-rounded sqrt make this integer-exact in both
        # engines (the oracle mirrors it as a scalar subquery).
        seed_mod = max(1, math.floor(math.sqrt(e.count())))
    c = e.filter(F.col("id") % seed_mod == 0).select(
        F.col("id").alias("cluster_id"), F.col("v").alias("cv")
    )
    sq = F.round(
        F.aggregate(
            F.zip_with(
                "v",
                "cv",
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    ).alias("sq_dist")
    # argmin as a struct-min AGGREGATE, not a row_number window: the
    # aggregation partial-combines map-side, so the exchange carries
    # one row per vector instead of the rows-x-centroids expansion
    # (struct comparison is field-lexicographic — (sq_dist,
    # cluster_id) reproduces the round-then-smallest-id tiebreak;
    # cluster_id is unique). The candidate structs carry only
    # (sq_dist, cluster_id) — the wide vector re-joins by id AFTER
    # the argmin, so the n*k stream is narrow scalars, not n*k
    # copies of the embedding.
    assigned = (
        e.crossJoin(F.broadcast(c))
        .select("id", F.struct(sq, "cluster_id").alias("cand"))
        .groupBy("id")
        .agg(F.min("cand").alias("best"))
        .select("id", F.col("best.cluster_id").alias("cluster_id"))
        .join(e, "id")
        # referenced twice by the self-join below; materialize once
        .localCheckpoint(eager=True)
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("b.id").alias("dup_id"),
            F.col("b.cluster_id").alias("cluster_id"),
            F.col("a.id").alias("keep_id"),
            F.round(cosine_vec(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    first = F.row_number().over(
        Window.partitionBy("dup_id").orderBy("keep_id")
    )
    return (
        pairs.withColumn("rn", first)
        .filter("rn = 1")
        .select("dup_id", "cluster_id", "keep_id", "cos")
    )


def semdedup_oracle_sql(
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    seed_mod: int | None = None,
    threshold: float = 0.9,
) -> str:
    """DuckDB mirror of :func:`semdedup` (expanded-index arithmetic,
    identical rounding and tiebreaks; ``seed_mod=None`` mirrors the
    sqrt-balanced stride as a scalar subquery over the same frame)."""
    stride = (
        str(seed_mod)
        if seed_mod is not None
        else (
            "(SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))"
            " FROM e)"
        )
    )
    return f"""
    WITH e AS (
        SELECT CAST({id_} AS BIGINT) AS id, {vec} AS v
        FROM {table} WHERE {vec} IS NOT NULL),
    c AS (SELECT id AS cluster_id, v AS cv FROM e
          WHERE id % {stride} = 0),
    expanded AS (
        SELECT e.id, c.cluster_id, e.v, c.cv,
               unnest(generate_series(1, len(e.v))) AS i
        FROM e, c),
    dists AS (
        SELECT id, cluster_id,
               round(CAST(SUM(CAST(
                   (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
                   * (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
                   AS DECIMAL(38,30))) AS DOUBLE), 6) AS sq_dist
        FROM expanded GROUP BY 1, 2),
    assigned AS (
        SELECT e.id, d.cluster_id, e.v
        FROM e JOIN (
            SELECT id, cluster_id,
                   row_number() OVER (PARTITION BY id
                       ORDER BY sq_dist, cluster_id) AS rn
            FROM dists) d ON e.id = d.id AND d.rn = 1),
    pairx AS (
        SELECT b.id AS dup_id, b.cluster_id, a.id AS keep_id,
               a.v AS av, b.v AS bv,
               unnest(generate_series(1, len(a.v))) AS i
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.id < b.id),
    cosines AS (
        SELECT dup_id, cluster_id, keep_id,
               round(SUM(CAST(av[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE))
                     / (sqrt(SUM(CAST(av[i] AS DOUBLE)
                                 * CAST(av[i] AS DOUBLE)))
                        * sqrt(SUM(CAST(bv[i] AS DOUBLE)
                                   * CAST(bv[i] AS DOUBLE)))), 6) AS cos
        FROM pairx GROUP BY 1, 2, 3),
    hits AS (
        SELECT dup_id, cluster_id, keep_id, cos,
               row_number() OVER (PARTITION BY dup_id
                   ORDER BY keep_id) AS rn
        FROM cosines WHERE cos >= {threshold})
    SELECT dup_id, cluster_id, keep_id, cos FROM hits WHERE rn = 1
    """


def _semdedup_capped(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int,
    max_cluster_size: int,
    threshold: float,
) -> DataFrame:
    """Capped SemDeDup (see :func:`semdedup` ``mode="capped"``).

    Scale shape: one count job; one bounded collect of <= n_clusters+1
    seed rows (the centroid matrix, ~n_clusters*dim*8 bytes, rides to
    executors in the UDF closure); one Arrow-batched GEMM pass over
    the corpus emitting only (id, cluster_id); a row_number window per
    cluster for the chunk ids; and a per-(cluster, chunk) self-join
    whose largest group is max_cluster_size rows. No stage is
    super-linear in n, and no stage ships the wide vectors anywhere
    except the final per-chunk cosine verify.
    """
    import numpy as np
    import pandas as pd

    from ..util import spread

    e = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())
    n = e.count()
    if n == 0:
        return e.select(
            F.col("id").alias("dup_id"),
            F.col("id").alias("cluster_id"),
            F.col("id").alias("keep_id"),
            F.lit(0.0).alias("cos"),
        ).limit(0)
    stride = max(1, (n + n_clusters - 1) // n_clusters)
    seed_rows = sorted(
        e.filter(F.col("id") % stride == 0).collect(),
        key=lambda r: r.id,
    )  # bounded: <= n_clusters + 1 rows
    cids = np.array([r.id for r in seed_rows], dtype=np.int64)
    C = np.array([list(r.v) for r in seed_rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            # expanded-form GEMM; error ~1e-13 << the 5e-7 grid
            # half-cell, so the quantized argmin matches the oracle's
            # direct-difference decimal sum
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2
            q = np.floor(d2 * 1e6 + 0.5)  # sq_dist >= 0: half-up grid
            best = q.min(axis=1)
            # argmax(first True) = smallest cluster id among grid ties
            # (C rows are sorted by cluster id)
            idx = (q == best[:, None]).argmax(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cluster_id": cids[idx],
                    "q_dist": best.astype(np.int64),
                }
            )

    # Chunk by CENTROID-DISTANCE order, not id order: near-identical
    # vectors sit at near-identical distance from their centroid, so
    # they stay adjacent and land in the same chunk — id order would
    # scatter a duplicate pair across chunks with probability
    # ~(n_chunks-1)/n_chunks. (Sorted-neighborhood trick; the id
    # tiebreak keeps the split deterministic.)
    chunk = (
        (F.row_number().over(
            Window.partitionBy("cluster_id").orderBy("q_dist", "id"))
         - 1) / max_cluster_size
    ).cast("bigint")
    assigned = (
        spread(e)
        .mapInPandas(assign, "id bigint, cluster_id bigint, q_dist bigint")
        .join(e, "id")
        .withColumn("chunk", chunk)
        # referenced twice by the self-join below; materialize once
        .localCheckpoint(eager=True)
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("b.id").alias("dup_id"),
            F.col("b.cluster_id").alias("cluster_id"),
            F.col("a.id").alias("keep_id"),
            F.round(cosine_vec(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    first = F.row_number().over(
        Window.partitionBy("dup_id").orderBy("keep_id")
    )
    return (
        pairs.withColumn("rn", first)
        .filter("rn = 1")
        .select("dup_id", "cluster_id", "keep_id", "cos")
    )


def semdedup_capped_oracle_sql(
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    n_clusters: int = 256,
    max_cluster_size: int = 512,
    threshold: float = 0.9,
) -> str:
    """DuckDB mirror of :func:`semdedup` ``mode="capped"``: the seed
    stride ceil(n / n_clusters) as integer arithmetic, decimal-exact
    squared distances rounded to the same 1e-6 grid as the GEMM side,
    ties to the smallest cluster id, centroid-distance-ordered chunking at
    ``max_cluster_size``, and in-chunk cosine pruning."""
    return f"""
    WITH e AS (
        SELECT CAST({id_} AS BIGINT) AS id, {vec} AS v
        FROM {table} WHERE {vec} IS NOT NULL),
    c AS (SELECT id AS cluster_id, v AS cv FROM e
          WHERE id % (SELECT GREATEST(1,
              (COUNT(*) + {n_clusters} - 1) // {n_clusters}) FROM e) = 0),
    expanded AS (
        SELECT e.id, c.cluster_id, e.v, c.cv,
               unnest(generate_series(1, len(e.v))) AS i
        FROM e, c),
    dists AS (
        SELECT id, cluster_id,
               round(CAST(SUM(CAST(
                   (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
                   * (CAST(v[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
                   AS DECIMAL(38,30))) AS DOUBLE), 6) AS sq_dist
        FROM expanded GROUP BY 1, 2),
    assigned AS (
        SELECT e.id, d.cluster_id, e.v, d.sq_dist
        FROM e JOIN (
            SELECT id, cluster_id, sq_dist,
                   row_number() OVER (PARTITION BY id
                       ORDER BY sq_dist, cluster_id) AS rn
            FROM dists) d ON e.id = d.id AND d.rn = 1),
    chunked AS (
        SELECT id, cluster_id, v,
               (row_number() OVER (PARTITION BY cluster_id
                    ORDER BY sq_dist, id) - 1)
                   // {max_cluster_size} AS chunk
        FROM assigned),
    pairx AS (
        SELECT b.id AS dup_id, b.cluster_id, a.id AS keep_id,
               a.v AS av, b.v AS bv,
               unnest(generate_series(1, len(a.v))) AS i
        FROM chunked a JOIN chunked b
          ON a.cluster_id = b.cluster_id AND a.chunk = b.chunk
         AND a.id < b.id),
    cosines AS (
        SELECT dup_id, cluster_id, keep_id,
               round(SUM(CAST(av[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE))
                     / (sqrt(SUM(CAST(av[i] AS DOUBLE)
                                 * CAST(av[i] AS DOUBLE)))
                        * sqrt(SUM(CAST(bv[i] AS DOUBLE)
                                   * CAST(bv[i] AS DOUBLE)))), 6) AS cos
        FROM pairx GROUP BY 1, 2, 3),
    hits AS (
        SELECT dup_id, cluster_id, keep_id, cos,
               row_number() OVER (PARTITION BY dup_id
                   ORDER BY keep_id) AS rn
        FROM cosines WHERE cos >= {threshold})
    SELECT dup_id, cluster_id, keep_id, cos FROM hits WHERE rn = 1
    """


def pq_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
    seed_mod: int = 50,
    max_codewords: int = 64,
) -> DataFrame:
    """Product quantization (Jégou et al. PAMI'11): split each
    D-dim embedding into ``n_blocks`` contiguous sub-vectors and
    represent each by the id of its nearest sub-codeword — the
    compressed vector-store layout behind IVF-PQ ANN indexes; an
    embedding shrinks from D floats to n_blocks small codes (here
    8 codes for 64 floats, 32x), and ANN distance evaluation becomes
    table lookups instead of float math.

    Codebooks are deterministic data seeds (sub-slices of vectors
    with ``id % seed_mod = 0``, capped at the FIRST ``max_codewords``
    seeds; swap in externally trained codebooks without changing the
    geometry). The cap is what PQ means: codebook size is a fixed
    quantization-budget hyperparameter (here 64 -> 6-bit codes per
    8-dim sub-vector; Jégou's reference config is 256/8-bit), NOT a
    function of corpus size — an uncapped ``id % seed_mod`` codebook
    grows linearly with the data and turns the n*k assignment pass
    quadratic (measured 116x for 10x data at sf1 before the cap).
    Scale shape: the codebook (n_blocks x k sub-vectors) broadcasts;
    assignment is one narrow pass with a per-(vector, block) argmin —
    no shuffle until the final per-vector code rollup, which
    aggregates n_blocks rows per vector; with k capped the whole
    operator is O(n * max_codewords * dim) — linear in n. Tie-breaks
    and rounding mirror q133: round(sq_dist, 6), then smallest code
    id.

    Returns (vec_id, code_fp, recon_err): md5 fingerprint of the
    ordered code sequence and the total quantization error
    (decimal-summed per-block rounded distances — order-free).
    """
    _require_integral_id(df, id_col)
    w = dim // n_blocks
    e = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())
    blocks = F.explode(
        F.sequence(F.lit(0), F.lit(n_blocks - 1))
    ).alias("b")
    sub = F.expr(f"slice(v, b * {w} + 1, {w})")
    evec = e.select("id", blocks, "v").select(
        "id", "b", sub.alias("sub")
    )
    cvec = (
        e.filter(
            (F.col("id") % seed_mod == 0)
            & (F.col("id") < seed_mod * max_codewords)
        )
        .select(F.col("id").alias("code"), blocks, "v")
        .select("code", "b", sub.alias("csub"))
    )
    sq = F.round(
        F.aggregate(
            F.zip_with(
                "sub",
                "csub",
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    ).alias("sq_dist")
    # same struct-min aggregate as semdedup's assignment: the
    # exchange carries n_blocks rows per vector, not the
    # rows-x-codewords expansion
    best = (
        evec.join(F.broadcast(cvec), "b")
        .select("id", "b", F.struct(sq, "code").alias("cand"))
        .groupBy("id", "b")
        .agg(F.min("cand").alias("m"))
        .select(
            "id",
            "b",
            F.col("m.code").alias("code"),
            F.col("m.sq_dist").alias("sq_dist"),
        )
    )
    codes = F.concat_ws(
        ",",
        F.transform(
            F.sort_array(F.collect_list(F.struct("b", "code"))),
            lambda s: s["code"].cast("string"),
        ),
    )
    return best.groupBy(F.col("id").alias(id_col)).agg(
        F.md5(codes).alias("code_fp"),
        F.round(
            F.sum(F.col("sq_dist").cast("decimal(18,6)")).cast("double"), 6
        ).alias("recon_err"),
    )


def pq_oracle_sql(
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
    seed_mod: int = 50,
    max_codewords: int = 64,
) -> str:
    """DuckDB mirror of :func:`pq_encode`."""
    w = dim // n_blocks
    return f"""
    WITH e AS (
        SELECT CAST({id_} AS BIGINT) AS id, {vec} AS v
        FROM {table} WHERE {vec} IS NOT NULL),
    c AS (SELECT id AS code, v AS cv FROM e
          WHERE id % {seed_mod} = 0
            AND id < {seed_mod * max_codewords}),
    expanded AS (
        SELECT e.id, c.code, b.b, e.v, c.cv,
               unnest(generate_series(1, {w})) AS i
        FROM e, c, (SELECT unnest(generate_series(0, {n_blocks - 1})) AS b) b),
    dists AS (
        SELECT id, b, code,
               round(CAST(SUM(CAST(
                   (CAST(v[b * {w} + i] AS DOUBLE)
                    - CAST(cv[b * {w} + i] AS DOUBLE))
                   * (CAST(v[b * {w} + i] AS DOUBLE)
                      - CAST(cv[b * {w} + i] AS DOUBLE))
                   AS DECIMAL(38,30))) AS DOUBLE), 6) AS sq_dist
        FROM expanded GROUP BY 1, 2, 3),
    best AS (
        SELECT id, b, code, sq_dist,
               row_number() OVER (PARTITION BY id, b
                   ORDER BY sq_dist, code) AS rn
        FROM dists)
    SELECT id AS {id_},
           md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY b))
               AS code_fp,
           round(CAST(SUM(CAST(sq_dist AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS recon_err
    FROM best WHERE rn = 1
    GROUP BY id
    """


# ------------------------------------------------------------ IVF-PQ
# Composed ANN: deterministic IVF coarse cells + PQ asymmetric
# distance (ADC). Unlike ivf_topk (float Lloyd iterations, no exact
# oracle) every step here is quantized integer/round-6 arithmetic
# with id tie-breaks, so the full search is cross-engine exact.
#
# Cell-count ladder (same both-engines-derive-from-the-same-count
# pattern as LSH_LADDER): n_cells ~ sqrt(n) via quadrupling
# thresholds, n_probe = log2(n_cells), so per-query candidate volume
# is ~n * log2(cells) / cells ~ sqrt(n) * log — sub-linear. Above the
# last rung the config PINS (the q27 rule): the operator still
# answers, with the pinned fan-out noted here rather than a silent
# ladder restart.
IVF_CELL_LADDER: list[tuple[int, int]] = [
    (1_000, 8),
    (4_000, 16),
    (16_000, 32),
    (64_000, 64),
    (256_000, 128),
    (1_024_000, 256),
]
IVF_CELL_MAX = 512


def ivf_pq_config(n: int) -> tuple[int, int]:
    """(n_cells, n_probe) for a corpus of ``n`` vectors."""
    for thresh, cells in IVF_CELL_LADDER:
        if n <= thresh:
            return cells, cells.bit_length() - 1
    return IVF_CELL_MAX, IVF_CELL_MAX.bit_length() - 1


def ivf_pq_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_blocks: int = 8,
    seed_mod: int = 50,
    max_codewords: int = 64,
    cell_mod: int = 7,
    query_mod: int = 100,
    rerank: int = 4,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. PAMI'11 IVFADC, the
    non-residual variant): an inverted-file coarse quantizer prunes
    the corpus to a few cells per query, and distances inside the
    probed cells are evaluated against 8-byte PQ codes via a per-query
    lookup table instead of raw 64-float math — the standard
    billion-scale ANN serving layout.

    Deterministic everywhere, hence exactly oracle-checkable (the gap
    q38's float-Lloyd IVF documents away): coarse centroids are the
    corpus vectors with ``id % cell_mod = 0`` (first ``n_cells``,
    cell = id / cell_mod), PQ sub-codewords are q170's seeded
    codebook (``id % seed_mod = 0``, capped at ``max_codewords``),
    every distance is round-6 quantized with smallest-id tie-breaks.
    Queries are the corpus slice ``id % query_mod = 0`` — a workload
    that scales with the corpus.

    Scale shape: both codebooks are bounded collects (<= 512 cells,
    <= 64 x 8 sub-codewords — ~256 KiB of closure state, the q207
    pattern), and ONE Arrow-batched GEMM pass over the corpus
    computes the coarse cell AND all ``n_blocks`` PQ codes per
    vector — 3 us/distance scalar codegen replaced by ~10 ns/element
    matmul (measured 151s -> seconds at sf3). Distances are
    quantized to the q205/q207 integer grid (``floor(d2*1e6+0.5)``
    as BIGINT; expanded-form GEMM error ~1e-13 << the 5e-7
    half-cell), so the float-free ADC sums and every tie-break are
    cross-engine exact. The candidate join ships only the probed
    ~n*log2(cells)/cells rows per query, each carrying ``n_blocks``
    code rows joined to the broadcast ADC table.

    A final refinement stage (the "+R" in Jégou's IVFADC+R) exact
    re-ranks the ADC shortlist: the ``rerank * k`` best candidates by
    ADC rejoin their raw vectors and the true grid-quantized L2
    decides the top-k — recovering neighbors a coarse codebook
    misranks, at the cost of ``rerank * k`` full-dim distances per
    query instead of ~n. Measured recall@5 vs exact L2: 0.56 at
    sf0.01 (8 cells, probe 3), 0.30 at sf0.1 (16 cells, probe 4) —
    tracking the probed-cell fraction, as expected on this
    quasi-uniform synthetic corpus where the coarse quantizer has no
    cluster structure to exploit; on real clustered embeddings cell
    recall dominates the floor. Returns (query_id, neighbor_id,
    dist = grid/1e6, rank), rank 1..k by (dist asc, neighbor_id)
    excluding self.
    """
    import numpy as np
    import pandas as pd

    from ..util import spread

    _require_integral_id(df, id_col)
    w = dim // n_blocks
    e = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).filter(F.col("v").isNotNull())
    n = e.count()  # one scalar job; both engines derive config from it
    n_cells, n_probe = ivf_pq_config(n)

    # bounded collects: coarse centroids and PQ codebook (same
    # deterministic seed rules as the oracle)
    cent_rows = sorted(
        e.filter(
            (F.col("id") % cell_mod == 0) & (F.col("id") < cell_mod * n_cells)
        ).collect(),
        key=lambda r: r.id,
    )
    cw_rows = sorted(
        e.filter(
            (F.col("id") % seed_mod == 0)
            & (F.col("id") < seed_mod * max_codewords)
        ).collect(),
        key=lambda r: r.id,
    )
    if not cent_rows or not cw_rows:
        return e.select(
            F.col("id").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            F.lit(0.0).alias("dist"),
            F.lit(0).alias("rank"),
        ).limit(0)
    cell_ids = np.array([r.id // cell_mod for r in cent_rows], dtype=np.int32)
    C = np.array([list(r.v) for r in cent_rows], dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    code_ids = np.array([r.id for r in cw_rows], dtype=np.int64)
    CW = np.array([list(r.v) for r in cw_rows], dtype=np.float64)

    def _grid(d2: "np.ndarray") -> "np.ndarray":
        return np.floor(d2 * 1e6 + 0.5).astype(np.int64)

    def _cells_of(X: "np.ndarray") -> "np.ndarray":
        g = _grid((X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2)
        # stable argmin == smallest cell id among grid ties (C rows
        # are sorted by cell id)
        return cell_ids[(g == g.min(axis=1)[:, None]).argmax(axis=1)]

    def _codes_of(X: "np.ndarray") -> "np.ndarray":
        out = np.empty((len(X), n_blocks), dtype=np.int64)
        for b in range(n_blocks):
            Xb = X[:, b * w:(b + 1) * w]
            Cb = CW[:, b * w:(b + 1) * w]
            g = _grid(
                (Xb * Xb).sum(axis=1)[:, None]
                - 2.0 * (Xb @ Cb.T)
                + (Cb * Cb).sum(axis=1)
            )
            out[:, b] = code_ids[(g == g.min(axis=1)[:, None]).argmax(axis=1)]
        return out

    def encode(batches):
        # one corpus pass: coarse cell + all PQ codes per vector
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cell": _cells_of(X).astype(np.int32),
                    "codes": list(_codes_of(X)),
                }
            )

    encoded = (
        spread(e)
        .mapInPandas(encode, "id bigint, cell int, codes array<bigint>")
        # read twice (cell assignment + code unpivot): materialize the
        # index once instead of running the corpus GEMM pass twice
        .localCheckpoint(eager=True)
    )
    assigned = encoded.select("id", "cell")
    codes = encoded.select(
        "id", F.posexplode("codes").alias("b", "code")
    )

    # query side: probe the n_probe nearest cells; ADC lookup table
    q = e.filter(F.col("id") % query_mod == 0).select(
        F.col("id").alias("query_id"), F.col("v").alias("v")
    )

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            g = _grid((X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2)
            # stable sort on grid keeps cell-ascending order for ties
            order = np.argsort(g, axis=1, kind="stable")[:, :n_probe]
            qid = np.repeat(pdf["query_id"].to_numpy(), order.shape[1])
            yield pd.DataFrame(
                {"query_id": qid, "cell": cell_ids[order].ravel()}
            )

    def qdists(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            frames = []
            for b in range(n_blocks):
                Xb = X[:, b * w:(b + 1) * w]
                Cb = CW[:, b * w:(b + 1) * w]
                g = _grid(
                    (Xb * Xb).sum(axis=1)[:, None]
                    - 2.0 * (Xb @ Cb.T)
                    + (Cb * Cb).sum(axis=1)
                )
                frames.append(pd.DataFrame({
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(), len(code_ids)),
                    "b": np.int32(b),
                    "code": np.tile(code_ids, len(X)),
                    "qd": g.ravel(),
                }))
            yield pd.concat(frames, ignore_index=True)

    probes = q.mapInPandas(probe, "query_id bigint, cell int")
    dtab = q.mapInPandas(
        qdists, "query_id bigint, b int, code bigint, qd bigint"
    )

    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
    )
    # float-free ADC: integer sum of per-block grid distances
    adc = (
        cand.join(codes, F.col("neighbor_id") == F.col("id"))
        .join(F.broadcast(dtab), ["query_id", "b", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd").alias("adc_grid"))
    )
    adc_w = Window.partitionBy("query_id").orderBy("adc_grid", "neighbor_id")
    shortlist = (
        adc.withColumn("ar", F.row_number().over(adc_w))
        .filter(F.col("ar") <= rerank * k)
        .select("query_id", "neighbor_id")
    )
    # +R refinement: exact grid-quantized L2 on the shortlist's raw
    # vectors (codegen fold; error ~1e-14 << the 5e-7 half-cell)
    grid_full = F.floor(
        F.aggregate(
            F.zip_with(
                "v",
                "cv",
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    refined = (
        shortlist.join(e, F.col("neighbor_id") == F.col("id"))
        .select("query_id", "neighbor_id", F.col("v").alias("cv"))
        .join(
            F.broadcast(q.select("query_id", "v")), "query_id"
        )
        .select("query_id", "neighbor_id", grid_full.alias("g"))
    )
    topk_w = Window.partitionBy("query_id").orderBy("g", "neighbor_id")
    return (
        refined.withColumn("rank", F.row_number().over(topk_w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("g").cast("double") / F.lit(1e6)).alias("dist"),
            "rank",
        )
    )


def ivf_pq_oracle_sql(
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_blocks: int = 8,
    seed_mod: int = 50,
    max_codewords: int = 64,
    cell_mod: int = 7,
    query_mod: int = 100,
    rerank: int = 4,
) -> str:
    """DuckDB mirror of :func:`ivf_pq_topk` — config CASE ladder from
    the same non-null count, identical integer-grid distances
    (``FLOOR(d2*1e6+0.5)`` over exact decimal sums vs Spark's GEMM:
    error ~1e-13 << the 5e-7 half-cell), identical (grid, id)
    tie-breaks, same ADC-shortlist exact re-rank."""
    w = dim // n_blocks
    cells_case = " ".join(
        f"WHEN n <= {t} THEN {c}" for t, c in IVF_CELL_LADDER
    )
    probe_case = " ".join(
        f"WHEN n <= {t} THEN {c.bit_length() - 1}"
        for t, c in IVF_CELL_LADDER
    )
    return f"""
    WITH e AS (
        SELECT CAST({id_} AS BIGINT) AS id, {vec} AS v
        FROM {table} WHERE {vec} IS NOT NULL),
    cfg AS (
        SELECT CASE {cells_case} ELSE {IVF_CELL_MAX} END AS n_cells,
               CASE {probe_case} ELSE {IVF_CELL_MAX.bit_length() - 1} END
                   AS n_probe
        FROM (SELECT COUNT(*) AS n FROM e)),
    cents AS (
        SELECT CAST(id / {cell_mod} AS INTEGER) AS cell, v AS cv
        FROM e, cfg
        WHERE id % {cell_mod} = 0 AND id < {cell_mod} * cfg.n_cells),
    fulld AS (
        SELECT e.id, cents.cell,
               CAST(FLOOR(CAST(SUM(CAST(
                   (CAST(e.v[i] AS DOUBLE) - CAST(cents.cv[i] AS DOUBLE))
                   * (CAST(e.v[i] AS DOUBLE) - CAST(cents.cv[i] AS DOUBLE))
                   AS DECIMAL(38,30))) AS DOUBLE) * 1e6 + 0.5)
                   AS BIGINT) AS g
        FROM e, cents, (SELECT unnest(generate_series(1, {dim})) AS i) dd
        GROUP BY 1, 2),
    assigned AS (
        SELECT id, cell FROM (
            SELECT id, cell,
                   row_number() OVER (PARTITION BY id
                       ORDER BY g, cell) AS rn
            FROM fulld) WHERE rn = 1),
    cw AS (SELECT id AS code, v AS cv FROM e
           WHERE id % {seed_mod} = 0
             AND id < {seed_mod * max_codewords}),
    subd AS (
        SELECT e.id, b.b, cw.code,
               CAST(FLOOR(CAST(SUM(CAST(
                   (CAST(e.v[b.b * {w} + i] AS DOUBLE)
                    - CAST(cw.cv[b.b * {w} + i] AS DOUBLE))
                   * (CAST(e.v[b.b * {w} + i] AS DOUBLE)
                      - CAST(cw.cv[b.b * {w} + i] AS DOUBLE))
                   AS DECIMAL(38,30))) AS DOUBLE) * 1e6 + 0.5)
                   AS BIGINT) AS g
        FROM e, cw,
             (SELECT unnest(generate_series(0, {n_blocks - 1})) AS b) b,
             (SELECT unnest(generate_series(1, {w})) AS i) ii
        GROUP BY 1, 2, 3),
    codes AS (
        SELECT id, b, code FROM (
            SELECT id, b, code,
                   row_number() OVER (PARTITION BY id, b
                       ORDER BY g, code) AS rn
            FROM subd) WHERE rn = 1),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT f.id AS query_id, f.cell,
                   row_number() OVER (PARTITION BY f.id
                       ORDER BY f.g, f.cell) AS pr
            FROM fulld f WHERE f.id % {query_mod} = 0) p, cfg
        WHERE pr <= cfg.n_probe),
    dtab AS (
        SELECT id AS query_id, b, code, g AS qd FROM subd
        WHERE id % {query_mod} = 0),
    cand AS (
        SELECT p.query_id, a.id AS neighbor_id
        FROM assigned a JOIN probes p ON a.cell = p.cell
        WHERE a.id <> p.query_id),
    adc AS (
        SELECT c.query_id, c.neighbor_id,
               SUM(d.qd) AS adc_grid
        FROM cand c
        JOIN codes k ON k.id = c.neighbor_id
        JOIN dtab d ON d.query_id = c.query_id
                   AND d.b = k.b AND d.code = k.code
        GROUP BY 1, 2),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_grid, neighbor_id) AS ar
            FROM adc)
        WHERE ar <= {rerank * k}),
    refined AS (
        SELECT s.query_id, s.neighbor_id,
               CAST(FLOOR(CAST(SUM(CAST(
                   (CAST(qe.v[i] AS DOUBLE) - CAST(ne.v[i] AS DOUBLE))
                   * (CAST(qe.v[i] AS DOUBLE) - CAST(ne.v[i] AS DOUBLE))
                   AS DECIMAL(38,30))) AS DOUBLE) * 1e6 + 0.5)
                   AS BIGINT) AS g
        FROM shortlist s
        JOIN e qe ON qe.id = s.query_id
        JOIN e ne ON ne.id = s.neighbor_id,
             (SELECT unnest(generate_series(1, {dim})) AS i) dd
        GROUP BY 1, 2)
    SELECT query_id, neighbor_id,
           CAST(g AS DOUBLE) / 1e6 AS dist,
           CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT query_id, neighbor_id, g,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY g, neighbor_id) AS rank
        FROM refined)
    WHERE rank <= {k}
    """


def bitext_margin_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    k: int = 4,
    threshold: float = 1.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    dim: int | None = None,
) -> DataFrame:
    """Margin-based bitext / parallel-pair mining (Artetxe & Schwenk
    ACL'19; the CCMatrix/LASER harvesting rule): for each vector on
    side A, its best cosine match on side B scored by the RATIO
    margin — best similarity divided by the average of both
    directions' mean top-k similarities. Absolute cosine thresholds
    break under hubness (some vectors are near everything); the
    margin normalizes by each endpoint's neighborhood density, which
    is what makes mined pairs usable as training bitext.

    ``method="exact"`` (default) runs :func:`brute_force_topk` both
    directions (blocked GEMM, shuffle O(blocks * queries * k)) —
    O(|A|*|B|) by definition, the reference semantics.
    ``method="lsh"`` is the billion-pair regime: each direction's
    top-k comes from :func:`lsh_topk` (ladder-sized hyperplane
    buckets, rung from that direction's corpus count; ``dim``
    required), so candidate volume tracks bucket occupancy instead of
    the side product; the margin math is unchanged and
    :func:`bitext_lsh_oracle_sql` replicates the candidate generation
    bit-exactly for the gate. All statistics use the 6-digit-rounded
    sims with decimal mean accumulation, so both forms sit on the
    exact value gate. Returns (src_id, tgt_id, sim, margin) with
    margin >= threshold.
    """
    if method == "lsh":
        if dim is None:
            raise ValueError('method="lsh" requires dim')
        fwd = lsh_topk(
            b_df, a_df, dim=dim, k=k, id_col=id_col, vec_col=vec_col
        )
        bwd = lsh_topk(
            a_df, b_df, dim=dim, k=k, id_col=id_col, vec_col=vec_col
        )
    elif method == "exact":
        fwd = brute_force_topk(b_df, a_df, k=k, id_col=id_col, vec_col=vec_col)
        bwd = brute_force_topk(a_df, b_df, k=k, id_col=id_col, vec_col=vec_col)
    else:
        raise ValueError(f"unknown method {method!r}")

    # margin = sim / ((mean_a + mean_b) / 2) computed as ONE ratio of
    # exact decimals: 2*sim*na*nb / (sum_a*nb + sum_b*na). Rounding
    # the per-direction means first is an engine trap — sum/k of
    # 6-dp decimals lands EXACTLY on a 7th-digit 5 a quarter of the
    # time, and the two engines resolve that half-way tie differently
    # (seen at sf0.001); the single end rounding is the generic
    # float-boundary class every rounded division here accepts.
    def sum_k(tk: DataFrame, sname: str, cname: str) -> DataFrame:
        return tk.groupBy("query_id").agg(
            F.sum(F.col("sim").cast("decimal(18,6)")).alias(sname),
            F.count(F.lit(1)).cast("bigint").alias(cname),
        )

    ma = sum_k(fwd, "sum_a", "n_a")
    mb = sum_k(bwd, "sum_b", "n_b")
    best = fwd.filter(F.col("rank") == 1).select(
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("tgt_id"),
        "sim",
    )
    num = (
        F.lit(2)
        * F.col("sim").cast("decimal(18,6)")
        * F.col("n_a")
        * F.col("n_b")
    )
    den = F.col("sum_a") * F.col("n_b") + F.col("sum_b") * F.col("n_a")
    return (
        best.join(ma.withColumnRenamed("query_id", "src_id"), "src_id")
        .join(mb.withColumnRenamed("query_id", "tgt_id"), "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            "sim",
            F.round(
                num.cast("double") / den.cast("double"), 6
            ).alias("margin"),
        )
        .filter(F.col("margin") >= threshold)
    )


def bitext_oracle_sql(
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    side_expr: str = "label % 2",
    k: int = 4,
    threshold: float = 1.1,
) -> str:
    """DuckDB mirror of :func:`bitext_margin_pairs` with sides A/B =
    ``side_expr`` 0/1; one cross-side sims CTE serves both
    directions."""
    return f"""
    WITH e AS (SELECT CAST({id_} AS BIGINT) AS id, {vec} AS v,
                      {side_expr} AS side FROM {table}),
    a AS (SELECT id, v FROM e WHERE side = 0),
    b AS (SELECT id, v FROM e WHERE side = 1),
    expanded AS (
        SELECT a.id AS a_id, b.id AS b_id, a.v AS av, b.v AS bv,
               unnest(generate_series(1, len(a.v))) AS i
        FROM a, b),
    sims AS (
        SELECT a_id, b_id,
               round(CAST(SUM(CAST(CAST(av[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)
                     / (sqrt(CAST(SUM(CAST(CAST(av[i] AS DOUBLE) * CAST(av[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE))
                        * sqrt(CAST(SUM(CAST(CAST(bv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE))),
                     6) AS sim
        FROM expanded GROUP BY 1, 2),
    fwd AS (
        SELECT a_id, b_id, sim,
               row_number() OVER (PARTITION BY a_id
                   ORDER BY sim DESC, b_id) AS rnk
        FROM sims),
    bwd AS (
        SELECT a_id, b_id, sim,
               row_number() OVER (PARTITION BY b_id
                   ORDER BY sim DESC, a_id) AS rnk
        FROM sims),
    ma AS (
        SELECT a_id, SUM(CAST(sim AS DECIMAL(18,6))) AS sum_a,
               CAST(COUNT(*) AS BIGINT) AS n_a
        FROM fwd WHERE rnk <= {k} GROUP BY a_id),
    mb AS (
        SELECT b_id, SUM(CAST(sim AS DECIMAL(18,6))) AS sum_b,
               CAST(COUNT(*) AS BIGINT) AS n_b
        FROM bwd WHERE rnk <= {k} GROUP BY b_id),
    best AS (SELECT a_id, b_id, sim FROM fwd WHERE rnk = 1)
    -- one ratio of exact decimals (see bitext_margin_pairs: rounded
    -- per-direction means hit exact half-way ties across engines)
    SELECT best.a_id AS src_id, best.b_id AS tgt_id, best.sim,
           round(CAST(2 * CAST(best.sim AS DECIMAL(18,6)) * n_a * n_b
                      AS DOUBLE)
                 / CAST(sum_a * n_b + sum_b * n_a AS DOUBLE), 6) AS margin
    FROM best JOIN ma USING (a_id) JOIN mb USING (b_id)
    WHERE round(CAST(2 * CAST(best.sim AS DECIMAL(18,6)) * n_a * n_b
                     AS DOUBLE)
                / CAST(sum_a * n_b + sum_b * n_a AS DOUBLE), 6)
          >= {threshold}
    """


def sign_sketch60(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """60-bit binary sketch of a dense vector: bit i = 1 iff
    component i exceeds the vector's own mean over the first 60
    dims — the aHash rule applied to decoded features, and the
    simplest member of the binary-code family (ITQ / sign-random-
    projection) that turns embedding similarity into Hamming
    distance. Near-identical vectors flip few bits, so
    ``dedup.simhash_band_pairs`` finds near-dups with bounded,
    guaranteed-complete candidate generation.

    Cross-engine exactness: every component is quantized to a 1e-6
    integer grid with IEEE-exact double ops — ``CAST(FLOOR(CAST(x AS
    DOUBLE) * 1e6 + 0.5) AS BIGINT)`` — then the bit rule is the pure
    BIGINT comparison ``q_i * 60 > sum(q)``. float->double widening,
    one double multiply/add, FLOOR, and BIGINT arithmetic are all
    bit-identical between Spark and DuckDB, so the sketch agrees by
    construction, not by data luck. (The previous FLOAT->DECIMAL(38,30)
    mean-sum was NOT: the engines' float->decimal casts diverge by
    ~1.5e-11, flipping bits whose margin is that small.) Components
    within half a grid cell (5e-7) of the mean land on the grid's
    deterministic side on both engines.

    Magnitude assumption: the 1e-6 grid presumes components are large
    relative to the cell — roughly unit-norm embeddings (components
    ~1/sqrt(60) ~ 0.13, i.e. >> 1e-6). A vector whose components all
    sit within ~5e-7 of its own mean (near-constant, or magnitudes
    ~1e-6 and below) quantizes to an all-equal grid row and collapses
    to sketch 0 — every such vector then bands together as a
    Hamming-0 "near-dup" class. Normalize (or rescale) inputs whose
    scale is unknown before sketching. Returns (id_col, sketch long)."""
    # posexplode + two hash aggregates (the oracle's own shape): the
    # grid quantization runs in the vectorized aggregate, not a
    # per-element higher-order fold, which measured ~50us per element
    # interpreter-bound. Narrow (id, i, q) rows shuffle twice; at any
    # scale that is the cheap part.
    cells = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .select(
            "__id",
            F.posexplode(F.slice("v", 1, 60)).alias("i", "x"),
        )
        .select(
            "__id",
            "i",
            F.expr(
                "CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
            ).alias("q"),
        )
    )
    tot = cells.groupBy("__id").agg(F.sum("q").alias("__s"))
    return (
        cells.join(tot, "__id")
        .groupBy("__id")
        .agg(
            F.sum(
                F.expr("IF(q * 60 > __s, shiftleft(1L, i), 0L)")
            ).alias("sketch")
        )
        .select(F.col("__id").alias(id_col), "sketch")
    )


def sketch_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed media-dedup pipeline the sketch exists for:
    :func:`sign_sketch60` compacts every vector to a 60-bit code,
    then ``dedup.simhash_band_pairs`` (Manku combination banding,
    pigeonhole-complete for hamming <= ``max_hamming``) finds every
    Hamming-close code pair with bounded candidate generation — no
    all-pairs float math anywhere. This is the embedding-scale
    analogue of the reference's Uniquer key-dedup contract
    (jobs/convertors/job-uniquer.js:15-26): near-identical vectors
    collapse to candidate pairs via exact integer keys. Returns
    (d1, d2, hamming) with d1 < d2.

    Scale shape: sketching is two narrow-row hash aggregates; banding
    emits C(6,2)=15 combo rows/doc over 20-bit keys, so the in-bucket
    pair stream tracks true near-dup density, not corpus^2.
    """
    from .dedup import simhash_band_pairs

    sigs = sign_sketch60(df, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("doc_id"), F.col("sketch").alias("simhash")
    )
    return simhash_band_pairs(sigs, max_hamming=max_hamming, bits=60, blocks=6)


def sign_sketch60_sql(
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB CTE body mirroring :func:`sign_sketch60` (same 1e-6
    integer grid, same BIGINT bit rule); yields ``sigs(doc_id,
    simhash)`` for composition with ``dedup._band_pairs_sql``."""
    return f"""
    cells AS (
        SELECT {id_} AS doc_id, i - 1 AS i,
               CAST(floor(CAST({vec}[i] AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS q
        FROM {table}, unnest(generate_series(1, 60)) AS u(i)
        WHERE {vec} IS NOT NULL),
    tot AS (SELECT doc_id, CAST(SUM(q) AS BIGINT) AS s
            FROM cells GROUP BY doc_id),
    sigs AS (
        SELECT c.doc_id,
               CAST(SUM(CASE WHEN c.q * 60 > tot.s
                        THEN CAST(1 AS BIGINT) << c.i ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM cells c JOIN tot USING (doc_id)
        GROUP BY c.doc_id)"""


def _lsh_cfg_w_sql(tag: str, count_src: str, dim: int) -> str:
    """cfg_{tag} (ladder rung from COUNT(*) of ``count_src``) and
    w_{tag} (md5 plane weights for that rung) CTE fragments — the
    shared SQL replication of :func:`lsh_adaptive_config` +
    :func:`_plane_weight`. The rung count is the NON-NULL-vector
    frame (``WHERE v IS NOT NULL``) — the frame :func:`lsh_topk`
    counts — so a side containing null embeddings picks the same
    rung on both engines even at a rung boundary."""
    p_case = " ".join(
        f"WHEN n <= {LSH_TARGET_OCCUPANCY << p} THEN {p}"
        for p, _ in LSH_LADDER[:-1]
    )
    t_case = " ".join(
        f"WHEN n <= {LSH_TARGET_OCCUPANCY << p} THEN {t}"
        for p, t in LSH_LADDER[:-1]
    )
    max_p, max_t = LSH_LADDER[-1]
    return f"""cfg_{tag} AS (
        SELECT CASE {p_case} ELSE {LSH_LADDER[-1][0]} END AS p_cnt,
               CASE {t_case} ELSE {LSH_LADDER[-1][1]} END AS t_cnt
        FROM (SELECT COUNT(*) AS n FROM {count_src}
              WHERE v IS NOT NULL)),
    w_{tag} AS (
        SELECT tt.t, pp.p, dd.i,
               CAST(('0x' || substring(md5(
                   'plane:' || CAST(tt.t * cfg_{tag}.p_cnt + pp.p AS VARCHAR)
                   || ':' || CAST(dd.i - 1 AS VARCHAR)), 1, 8))
                   AS BIGINT) / 2147483648.0 - 1.0 AS wt
        FROM cfg_{tag},
             generate_series(0, {max_t - 1}) tt(t),
             generate_series(0, {max_p - 1}) pp(p),
             generate_series(1, {dim}) dd(i)
        WHERE tt.t < cfg_{tag}.t_cnt AND pp.p < cfg_{tag}.p_cnt)"""


def _lsh_bucket_sql(tag: str, side: str) -> str:
    """bk_{tag}_{side} CTE: (vid, t, b) bucket rows for the vectors in
    CTE ``side`` (columns id, v) under the w_{tag} plane family."""
    return f"""bk_{tag}_{side} AS (
        SELECT vid, t, SUM(CASE WHEN pr > 0 THEN 1 << p ELSE 0 END) AS b
        FROM (
            SELECT x.id AS vid, w.t, w.p,
                   CAST(SUM(CAST(CAST(x.v[w.i] AS DOUBLE) * w.wt
                       AS DECIMAL(38,30))) AS DOUBLE) AS pr
            FROM {side} x, w_{tag} w
            GROUP BY 1, 2, 3) pr
        GROUP BY vid, t)"""


def bitext_lsh_oracle_sql(
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
    side_expr: str = "label % 2",
    k: int = 4,
    threshold: float = 1.1,
    dim: int = 64,
) -> str:
    """DuckDB mirror of :func:`bitext_margin_pairs` with
    ``method="lsh"``: each direction's candidates are the LSH bucket
    collisions under that direction's corpus-count ladder rung
    (forward: planes/rung from side B, backward: from side A), exact
    cosine + top-k + margin over candidates only — replicated
    bit-exactly, the q136 pattern extended to a two-sided miner."""
    sum_sql = "SUM(CAST(sim AS DECIMAL(18,6)))"
    return f"""
    WITH e AS (SELECT CAST({id_} AS BIGINT) AS id, {vec} AS v,
                      {side_expr} AS side FROM {table}),
    a AS (SELECT id, v FROM e WHERE side = 0),
    b AS (SELECT id, v FROM e WHERE side = 1),
    {_lsh_cfg_w_sql("f", "b", dim)},
    {_lsh_bucket_sql("f", "a")},
    {_lsh_bucket_sql("f", "b")},
    cand_f AS (
        SELECT DISTINCT qa.vid AS a_id, cb.vid AS b_id
        FROM bk_f_a qa JOIN bk_f_b cb ON qa.t = cb.t AND qa.b = cb.b),
    {_lsh_cfg_w_sql("r", "a", dim)},
    {_lsh_bucket_sql("r", "a")},
    {_lsh_bucket_sql("r", "b")},
    cand_r AS (
        SELECT DISTINCT qb.vid AS b_id, ca.vid AS a_id
        FROM bk_r_b qb JOIN bk_r_a ca ON qb.t = ca.t AND qb.b = ca.b),
    simf AS (
        SELECT c.a_id, c.b_id,
               round(CAST(SUM(CAST(CAST(av.v[i] AS DOUBLE) * CAST(bv.v[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)
                     / (sqrt(CAST(SUM(CAST(CAST(av.v[i] AS DOUBLE) * CAST(av.v[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE))
                        * sqrt(CAST(SUM(CAST(CAST(bv.v[i] AS DOUBLE) * CAST(bv.v[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE))),
                     6) AS sim
        FROM cand_f c
        JOIN a av ON av.id = c.a_id
        JOIN b bv ON bv.id = c.b_id,
        unnest(generate_series(1, {dim})) AS u(i)
        GROUP BY 1, 2),
    simr AS (
        SELECT c.a_id, c.b_id,
               round(CAST(SUM(CAST(CAST(av.v[i] AS DOUBLE) * CAST(bv.v[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE)
                     / (sqrt(CAST(SUM(CAST(CAST(av.v[i] AS DOUBLE) * CAST(av.v[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE))
                        * sqrt(CAST(SUM(CAST(CAST(bv.v[i] AS DOUBLE) * CAST(bv.v[i] AS DOUBLE) AS DECIMAL(38,30))) AS DOUBLE))),
                     6) AS sim
        FROM cand_r c
        JOIN a av ON av.id = c.a_id
        JOIN b bv ON bv.id = c.b_id,
        unnest(generate_series(1, {dim})) AS u(i)
        GROUP BY 1, 2),
    fwd AS (
        SELECT a_id, b_id, sim,
               row_number() OVER (PARTITION BY a_id
                   ORDER BY sim DESC, b_id) AS rnk
        FROM simf),
    bwd AS (
        SELECT a_id, b_id, sim,
               row_number() OVER (PARTITION BY b_id
                   ORDER BY sim DESC, a_id) AS rnk
        FROM simr),
    ma AS (
        SELECT a_id, {sum_sql} AS sum_a, CAST(COUNT(*) AS BIGINT) AS n_a
        FROM fwd WHERE rnk <= {k} GROUP BY a_id),
    mb AS (
        SELECT b_id, {sum_sql} AS sum_b, CAST(COUNT(*) AS BIGINT) AS n_b
        FROM bwd WHERE rnk <= {k} GROUP BY b_id),
    best AS (SELECT a_id, b_id, sim FROM fwd WHERE rnk = 1)
    -- one ratio of exact decimals (see bitext_margin_pairs: rounded
    -- per-direction means hit exact half-way ties across engines)
    SELECT best.a_id AS src_id, best.b_id AS tgt_id, best.sim,
           round(CAST(2 * CAST(best.sim AS DECIMAL(18,6)) * n_a * n_b
                      AS DOUBLE)
                 / CAST(sum_a * n_b + sum_b * n_a AS DOUBLE), 6) AS margin
    FROM best JOIN ma USING (a_id) JOIN mb USING (b_id)
    WHERE round(CAST(2 * CAST(best.sim AS DECIMAL(18,6)) * n_a * n_b
                     AS DOUBLE)
                / CAST(sum_a * n_b + sum_b * n_a AS DOUBLE), 6)
          >= {threshold}
    """


# -- Johnson-Lindenstrauss sign projection ----------------------------

def jl_signs(k: int = 16, dim: int = 64) -> list[list[int]]:
    """Deterministic ±1 Achlioptas/JL sign matrix, k rows × dim cols:
    sign(j, i) = +1 iff the md5 of ``"j:i"`` has an even leading-15-hex
    value — the same md5-parity idiom the sketch module's Count-Min
    hashes use, so a SQL engine can re-derive the identical matrix
    (``('0x' || substring(md5(j || ':' || i), 1, 15))::BIGINT % 2``).
    No RNG state to store or ship: the matrix IS the formula."""
    out = []
    for j in range(k):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{j}:{i}".encode()).hexdigest()
            row.append(1 if int(h[:15], 16) % 2 == 0 else -1)
        out.append(row)
    return out


def jl_project(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by ±1 sign
    projection (Achlioptas 2003): proj_j = Σ_i sign(j,i) · q_i over
    components quantized to the module's 1e-6 integer grid — so the
    projection is EXACT BIGINT arithmetic, bit-identical on any
    engine. E[‖proj(a)−proj(b)‖²] = k · ‖a−b‖² (unscaled sign form),
    which is all a distance-preserving pre-filter needs: project once,
    band/bucket in k dims, verify survivors in the original space.

    Scale shape: the sign matrix compiles into k row-local
    ``aggregate(zip_with(...))`` expressions — ZERO shuffles, zero
    joins, one projection riding the existing scan; at 100 TB this is
    the cheapest possible 4× narrowing of an embedding column
    (64 floats → 16 longs) before any LSH/banding stage.

    Bounds: |q_i| ≤ ~1.1e6 for unit-norm-ish inputs, so |proj_j| ≤
    dim·1.1e6 ≈ 7e7 — nowhere near BIGINT range.

    Returns (id_col, proj array<bigint> length k).
    """
    signs = jl_signs(k, dim)
    q = F.transform(
        F.slice(F.col(vec_col), 1, dim),
        lambda x: F.floor(x.cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), q.alias("__q")
    )
    projs = [
        F.aggregate(
            F.zip_with(
                F.col("__q"),
                F.lit(signs[j]),
                lambda x, s: x * s.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias(f"__p{j}")
        for j in range(k)
    ]
    return base.select(id_col, *projs).select(
        id_col,
        F.array(*[F.col(f"__p{j}") for j in range(k)]).alias("proj"),
    )


def jl_project_cells_sql(
    k: int = 16,
    dim: int = 64,
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB CTE body mirroring :func:`jl_project`, exploded form:
    yields ``proj(vec_id, j, p)`` — one row per (vector, output dim).
    The sign matrix is re-derived in-engine from the md5 parity
    formula (see :func:`jl_signs`), proving the matrix is portable
    rather than a Python-side artifact."""
    return f"""
    jl_cells AS (
        SELECT {id_} AS vec_id, i - 1 AS i,
               CAST(floor(CAST({vec}[i] AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS q
        FROM {table}, unnest(generate_series(1, {dim})) AS u(i)
        WHERE {vec} IS NOT NULL),
    jl_signs AS (
        SELECT j, i,
               CASE WHEN CAST(('0x' || substring(md5(
                        CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                    ), 1, 15)) AS BIGINT) % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM unnest(range({k})) AS a(j),
             unnest(range({dim})) AS b(i)),
    proj AS (
        SELECT c.vec_id, s.j, CAST(SUM(c.q * s.s) AS BIGINT) AS p
        FROM jl_cells c JOIN jl_signs s USING (i)
        GROUP BY 1, 2)"""


# -- top principal direction via power iteration ----------------------

def power_iteration_pc(
    df: DataFrame,
    rounds: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top principal direction of the (uncentered) second-moment
    matrix XᵀX by distributed power iteration — the one-vector core
    of PCA as an embedding-QA primitive: the dominant axis exposes
    batch effects, a collapsed encoder, or a single feature dominating
    the space (von Luxburg; Halko-Martinsson-Tropp 2011 §4 for the
    randomized generalization). Uncentered on purpose: centering at
    scale adds one pass for the mean and the synthetic gate wants the
    pure iteration; callers pre-center with a subtract if needed.

    Each round is v ← normalize(Xᵀ(Xv)), computed WITHOUT ever
    materializing the dim×dim Gram matrix:

    * one ``mapInArrow`` pass computes, per Arrow batch, score_i =
      ⟨q_i, v⟩ and the dim partial sums w_j = Σ_i score_i · q_ij as
      two int64 numpy matmuls whose 128-bit products are recovered
      exactly via a two-limb split, accumulated in Python ints, and
      emitted as one DECIMAL(38,0) row per (partition, j) — so the
      per-term products (≤ ~2e19) never overflow and the math stays
      bit-exact (see ``w_frame`` below for why this replaced the
      64-column codegen aggregate);
    * ONE hash aggregate onto dim rows sums the partials
      (DECIMAL(38,0), order-independent exact-integer sum);
    * L∞ normalization: v_j ← ⌊w_j / max|w| · 1e6 + 0.5⌋ on the 1e-6
      grid. Power iteration converges under any norm; the max form
      needs no sqrt and keeps v in small exact integers.

    State per round is dim numbers (collected like the graph module's
    broadcast-rank state; the FINAL round's v stays a DataFrame — no
    terminal collect). Per-round cluster cost at 100 TB: one scan +
    one dim-row aggregate; no joins, no dim×dim anywhere.

    Cross-engine exactness: q and v live on the 1e-6 integer grid;
    score and w are exact integer/decimal sums (order-independent);
    the only float ops are the decimal→double cast, one divide, one
    multiply, one floor — IEEE-identical on Spark and DuckDB, so an
    unrolled-CTE oracle (:func:`power_iteration_oracle_sql`) matches
    bit-for-bit. Returns (j int, v bigint) — dim rows, the final
    direction on the 1e-6 grid.
    """
    q = F.transform(
        F.slice(F.col(vec_col), 1, dim),
        lambda x: F.floor(x.cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    base = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), q.alias("__q"))
        .persist()
    )

    def w_frame(v: list[int]) -> DataFrame:
        # One mapInArrow + a 64-key hash aggregate per round. The
        # r5-r10 form was a flat 64-term codegen score chain + 64
        # DECIMAL(38,0) aggregate columns — exact, but Catalyst
        # analysis + Janino compile of that tree cost ~2.5s PER ROUND
        # regardless of data size (v changes each round, so nothing
        # caches), which dominated the whole query at every bench SF
        # (5 rounds over 2,000 sf0.1 rows = 13s). This form keeps the
        # plan small and round-invariant (v travels in the pickled
        # closure, not in literals) and does the per-batch math as two
        # int64 numpy matmuls (guide §4.2) with the 128-bit products
        # recovered exactly:
        #   s_i = <q_i, v>          (int64 matmul, bound-checked)
        #   s_i = hi_i*2^k + lo_i   (k from max|s|; lo in [0, 2^k))
        #   w_j = 2^k * sum(q_ij*hi_i) + sum(q_ij*lo_i)
        # Per-batch partials accumulate in arbitrary-precision Python
        # ints and leave the worker as DECIMAL(38,0) rows (j, wp) —
        # one row per (partition, j) — so the cross-partition sum is
        # the same order-independent exact-integer sum as before and
        # w_j is bit-identical to the unrolled-CTE oracle. Inputs
        # whose magnitudes break the int64 bounds (|q| beyond ~1e7 at
        # the default 10k-row batch) fall back to exact per-row
        # Python-int math — slower, never wrong. Rows whose sliced
        # vector is short or has null cells contributed NULL (nothing)
        # to the old sums; they are skipped here, same result.
        vs = [int(x) for x in v]
        d = dim

        def gen(batches):
            import numpy as np
            import pyarrow as pa

            v_np = np.asarray(vs, dtype=np.int64)
            mv = max(1, max(abs(x) for x in vs))
            tot = [0] * d
            seen = False
            for batch in batches:
                arr = batch.column(0)
                n = len(arr)
                if n == 0:
                    continue
                flat = arr.flatten()
                if (
                    arr.null_count == 0
                    and flat.null_count == 0
                    and len(flat) == n * d
                ):
                    Q = np.asarray(flat, dtype=np.int64).reshape(n, d)
                else:
                    # slow path: drop rows the old NULL-propagating
                    # score chain dropped (short slice / null cell)
                    rows = [
                        r[:d]
                        for r in arr.to_pylist()
                        if r is not None
                        and len(r) >= d
                        and all(x is not None for x in r[:d])
                    ]
                    if not rows:
                        continue
                    Q = np.asarray(rows, dtype=np.int64)
                    n = len(rows)
                seen = True
                mq = int(np.abs(Q).max()) if Q.size else 0
                if mq and d * mq * mv < (1 << 62):
                    s = Q @ v_np
                    smax = int(np.abs(s).max())
                    k = max(0, smax.bit_length() - 21)
                    if (
                        n * mq * (1 << 21) < (1 << 62)
                        and n * mq * (1 << k) < (1 << 62)
                    ):
                        hi = s >> k  # arithmetic shift == floor div
                        lo = s - (hi << k)
                        A = Q.T @ hi
                        B = Q.T @ lo
                        for j in range(d):
                            tot[j] += (int(A[j]) << k) + int(B[j])
                        continue
                # exact fallback for extreme magnitudes
                for i in range(Q.shape[0]):
                    qi = [int(x) for x in Q[i]]
                    si = sum(qq * ww for qq, ww in zip(qi, vs))
                    for j in range(d):
                        tot[j] += si * qi[j]
            if seen:
                from decimal import Decimal

                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(list(range(d)), type=pa.int32()),
                        pa.array(
                            [Decimal(t) for t in tot],
                            type=pa.decimal128(38, 0),
                        ),
                    ],
                    names=["j", "wp"],
                )

        return (
            base.select("__q")
            .mapInArrow(gen, "j int, wp decimal(38,0)")
            .groupBy("j")
            .agg(F.sum("wp").alias("w"))
        )

    v = [1_000_000] * dim
    for _ in range(rounds - 1):
        rows = w_frame(v).collect()  # bounded: dim rows of sums
        wbyj = {r["j"]: r["w"] for r in rows}
        w = [float(wbyj[j]) for j in range(dim)]
        m = max(abs(x) for x in w)
        v = [
            math.floor(w[j] / m * 1e6 + 0.5) if m > 0 else 0
            for j in range(dim)
        ]
    # final round stays in-engine: the (j, w) aggregate normalized
    # against its broadcast L-inf max
    wf = w_frame(v)
    mf = wf.agg(F.max(F.abs(F.col("w").cast("double"))).alias("m"))
    out = wf.crossJoin(F.broadcast(mf)).select(
        F.col("j").cast("int").alias("j"),
        F.floor(F.col("w").cast("double") / F.col("m") * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("v"),
    )
    base.unpersist()
    return out


def power_iteration_oracle_sql(
    rounds: int = 5,
    dim: int = 64,
    table: str = "embeddings",
    id_: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB mirror of :func:`power_iteration_pc`: the iteration
    unrolled into (score, w, m, v) CTEs per round, identical grids,
    identical decimal/double expression shapes."""
    parts = [
        f"""WITH pc_cells AS MATERIALIZED (
        SELECT {id_} AS vid, i - 1 AS j,
               CAST(floor(CAST({vec}[i] AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS q
        FROM {table}, unnest(generate_series(1, {dim})) AS u(i)
        WHERE {vec} IS NOT NULL),
    v0 AS (SELECT j, CAST(1000000 AS BIGINT) AS val
           FROM unnest(range({dim})) AS a(j))"""
    ]
    for r in range(1, rounds + 1):
        # w{r} is read by BOTH m{r} and v{r}: DuckDB inlines plain
        # CTEs, so without MATERIALIZED the cells-join chain would
        # re-execute 2^rounds times (the q229 HITS oracle lesson)
        parts.append(
            f"""s{r} AS MATERIALIZED (
        SELECT c.vid, CAST(SUM(c.q * v.val) AS BIGINT) AS s
        FROM pc_cells c JOIN v{r - 1} v USING (j) GROUP BY 1),
    w{r} AS MATERIALIZED (
        SELECT c.j, SUM(CAST(s.s AS DECIMAL(38,0)) * c.q) AS w
        FROM pc_cells c JOIN s{r} s USING (vid) GROUP BY 1),
    m{r} AS (SELECT MAX(ABS(CAST(w AS DOUBLE))) AS m FROM w{r}),
    v{r} AS MATERIALIZED (
        SELECT j, CAST(floor(CAST(w AS DOUBLE) / m * 1e6 + 0.5)
                       AS BIGINT) AS val
        FROM w{r}, m{r})"""
        )
    body = ",\n    ".join(parts)
    return (
        f"{body}\n    SELECT CAST(j AS INTEGER) AS j, val AS v"
        f" FROM v{rounds}"
    )


def knn_label_eval(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN label-prediction confusion matrix — THE standard embedding
    quality probe (as in the SentEval/MTEB kNN classification tracks):
    predict each probe vector's label by majority vote of its k
    nearest corpus neighbors (cosine), and report (true_label,
    pred_label, n) confusion counts. A collapsed or batch-effected
    embedding space shows up immediately as off-diagonal mass.

    Built on :func:`brute_force_topk` (blocked distributed GEMM,
    self-matches excluded, sims rounded to 6 so the cut is
    cross-engine deterministic); the vote is one integer aggregate +
    a per-query window with (count desc, label asc) tie-break. Scale:
    the probe set is what you bound (|Q|·N·d flops) — run the eval on
    a sampled probe frame, never all-pairs.
    """
    nn = brute_force_topk(
        df, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    labels = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("nlabel"),
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("c"), F.asc("nlabel")
    )
    pred = (
        votes.select(
            "query_id", "nlabel", F.row_number().over(w).alias("rn")
        )
        .filter("rn = 1")
        .select("query_id", F.col("nlabel").alias("pred_label"))
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("true_label"),
    )
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def knn_label_eval_oracle_sql(
    k: int = 5,
    query_pred: str = "vec_id < 100",
    table: str = "embeddings",
) -> str:
    """DuckDB mirror of :func:`knn_label_eval` over
    :func:`topk_oracle_sql`'s exact-decimal ranking."""
    inner = topk_oracle_sql(k=k, query_pred=query_pred, table=table)
    return f"""
    WITH topk AS ({inner}),
    votes AS (
        SELECT t.query_id, l.label AS nlabel,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM topk t JOIN {table} l ON l.vec_id = t.neighbor_id
        GROUP BY 1, 2),
    pred AS (
        SELECT query_id, nlabel AS pred_label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY c DESC, nlabel) AS rn
            FROM votes) WHERE rn = 1)
    SELECT tl.label AS true_label, p.pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred p JOIN {table} tl ON tl.vec_id = p.query_id
    GROUP BY 1, 2"""


# --------------------------------------------------------------------
# Gonzalez k-center coreset selection (exact integer-grid distances)
# --------------------------------------------------------------------

def kcenter_select(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez
    1985, the 2-approximation every diverse-sample and
    coreset-seeding pipeline leans on): start from the smallest id,
    then ``k - 1`` times pick the point farthest from the selected
    set. The selected rows are the maximally-spread skeleton of the
    embedding space — seeds for q133's k-means, probes for recall
    audits, a diversity-first eval slice.

    Cross-engine exactness: components quantize once to the 1e6
    integer grid, so every squared distance is a pure BIGINT sum
    (64 dims x (2e6)^2 ~ 2.6e14, far inside int64) — no float
    enters the argmax, and ties break on the smaller id. Each round
    is ONE row-local zip-fold against the newest center inlined as
    a 64-int literal array (no join, no shuffle) plus one max
    reduction; driver state is k rows of 64 ints (a bounded
    collect, the q133 pattern). Returns (rnd, vec_id, d2) — d2 the
    squared grid distance to the previously-selected set (0 for the
    seed), i.e. the covering radius as it tightens.
    """
    q = df.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform({vec_col}, x ->"
            " CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))"
        ).alias("qv"),
    ).localCheckpoint(eager=True)

    first = q.agg(F.min("vid").alias("v")).collect()[0][0]
    centers = [
        (1, first, 0)
    ]
    seed_vec = q.filter(F.col("vid") == first).collect()[0]["qv"]
    cur_vec = seed_vec

    state = q.select("vid", "qv", F.lit(None).cast("bigint").alias("dmin"))
    for rnd in range(2, int(k) + 1):
        carr = F.array(*[F.lit(int(c)) for c in cur_vec])
        dist = F.expr(
            "aggregate(zip_with(qv, __c, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, e) -> acc + e)"
        )
        state = (
            state.withColumn("__c", carr)
            .select(
                "vid",
                "qv",
                F.least(
                    F.coalesce("dmin", F.lit((1 << 62))), dist
                ).alias("dmin"),
            )
            .localCheckpoint(eager=True)
        )
        far = (
            state.agg(
                F.max(F.struct(F.col("dmin"), (-F.col("vid")).alias("nv")))
                .alias("m")
            )
            .select(F.col("m.dmin").alias("d"), (-F.col("m.nv")).alias("v"))
            .collect()[0]
        )
        centers.append((rnd, far["v"], far["d"]))
        cur_vec = q.filter(F.col("vid") == far["v"]).collect()[0]["qv"]

    spark = df.sparkSession
    return spark.createDataFrame(
        centers, "rnd int, vec_id bigint, d2 bigint"
    ).orderBy("rnd")


def kcenter_oracle_sql(
    table: str = "embeddings",
    k: int = 8,
    id_: str = "vec_id",
    vec: str = "embedding",
) -> str:
    """DuckDB mirror of :func:`kcenter_select` — the same greedy
    walk unrolled as one long-form CTE chain per round (the oracle
    optimizes for obviousness, not speed)."""
    head = f"""
    WITH kc_l AS (
        SELECT {id_} AS vid, CAST(t.i AS INTEGER) AS i,
               CAST(round(CAST(e[t.i + 1] AS DOUBLE) * 1e6, 0) AS BIGINT)
                   AS q
        FROM (SELECT {id_}, {vec} AS e FROM {table}) b,
             unnest(range(len(e))) AS t(i)),
    kc_c1 AS (SELECT MIN(vid) AS v FROM kc_l)"""
    parts = [head]
    prev_d = None
    for r in range(2, int(k) + 1):
        pc = f"kc_c{r - 1}"
        dn = f"kc_dn{r}"
        dm = f"kc_d{r}"
        cn = f"kc_c{r}"
        parts.append(f""",
    {dn} AS (
        SELECT l.vid, CAST(SUM((l.q - c.q) * (l.q - c.q)) AS BIGINT) AS d
        FROM kc_l l
        JOIN kc_l c ON c.i = l.i AND c.vid = (SELECT v FROM {pc})
        GROUP BY 1)""")
        if prev_d is None:
            parts.append(f""",
    {dm} AS (SELECT vid, d AS dmin FROM {dn})""")
        else:
            parts.append(f""",
    {dm} AS (
        SELECT p.vid, least(p.dmin, n.d) AS dmin
        FROM {prev_d} p JOIN {dn} n USING (vid))""")
        parts.append(f""",
    {cn} AS (
        SELECT vid AS v, dmin AS d FROM {dm}
        ORDER BY dmin DESC, vid ASC LIMIT 1)""")
        prev_d = dm
    sel = [
        f"SELECT 1 AS rnd, (SELECT v FROM kc_c1) AS vec_id,"
        f" CAST(0 AS BIGINT) AS d2"
    ]
    for r in range(2, int(k) + 1):
        sel.append(
            f"SELECT {r} AS rnd, v AS vec_id, d AS d2 FROM kc_c{r}"
        )
    parts.append("\n    " + "\n    UNION ALL\n    ".join(sel))
    parts.append("\n    ORDER BY rnd")
    return "".join(parts)
