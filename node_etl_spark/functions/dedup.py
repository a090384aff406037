"""Deduplication operators for large-scale training-data pipelines.

Scale design (the 100 TB story):

* **Exact dedup** — hash-groupBy on a content fingerprint. One shuffle
  on the hash; representative = min(id) per group. O(N).
* **MinHash + LSH near-dup** — shingle -> k minhash values -> b bands
  of r rows -> bucket join. Candidate generation never compares all
  pairs: docs meet only when a band bucket collides, so the join is
  linear in bucket occupancy (the classic s-curve with collision
  probability 1-(1-j^r)^b for Jaccard j). Exact Jaccard verification
  runs only on candidates.
* **SimHash** — 32-bit signature from per-token hashes; Hamming-close
  pairs found by chunk banding (pigeonhole: hamming<=d pairs share at
  least one of d+1 equal chunks), again avoiding the quadratic scan.
* **Embedding near-dup** — cosine over `array<float>`; brute-force
  within small blocks / LSH-bucketed at scale (see similarity.py).

Portability: every hash is derived from md5 hex strings, which Spark
and DuckDB compute identically — the DuckDB oracles replicate each
algorithm exactly (generated by the ``*_oracle_sql`` helpers).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd  # module-level: pandas_udf resolves stringified
# type hints (PEP 563 above) against module globals

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import normalize_text

# ---------------------------------------------------------------- exact


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group by normalized-content fingerprint: one row per distinct
    content with the representative (min id) and duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


EXACT_ORACLE_SQL = """
SELECT md5(trim(regexp_replace(lower({text}), '\\s+', ' ', 'g'))) AS fp,
       MIN({id}) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM {table} GROUP BY 1
"""

# ------------------------------------------------------------- shingles


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Explode each document into its distinct word n-gram shingles
    (tokens joined by '_'). ``extra_cols`` ride along unchanged
    (side/split tags, source labels).

    Arrow-batched Pandas UDF: Catalyst's ``transform``/``slice``
    higher-order lambdas are interpreted per element, which made the
    expression form the dominant cost of every shingle-based pipeline;
    one Python pass per batch is ~10x faster and semantically
    identical (split on single space, first-occurrence distinct)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = (t or "").split(" ")
            if len(toks) >= n:
                out.append(
                    list(dict.fromkeys(
                        "_".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                    ))
                )
            else:
                out.append([])
        return pd.Series(out)

    from ..util import spread

    # CPU-bound Python pass: spread an under-split scan first (no-op
    # at corpus scale, see util.spread)
    extra = list(extra_cols or [])
    return spread(
        df.select(F.col(id_col).alias("doc_id"), text_col, *extra)
    ).select(
        "doc_id",
        *extra,
        F.explode(_shingles(F.col(text_col))).alias("shingle"),
    )


def _shingle_sql(table: str, text: str, id_: str, n: int) -> str:
    """DuckDB mirror of shingle_rows (1-based list indexing)."""
    parts = " || '_' || ".join(f"ts[i+{j}]" for j in range(n))
    return f"""
    SELECT DISTINCT {id_} AS doc_id, {parts} AS shingle
    FROM (SELECT {id_}, string_split({text}, ' ') AS ts FROM {table}),
         unnest(range(1, len(ts) - {n - 2})) AS t(i)
    """


# ------------------------------------------------- exact n-gram Jaccard


def prefix_candidates(
    shingles: DataFrame, threshold: float, freq: DataFrame | None = None
) -> DataFrame:
    """Exact PPJoin-style prefix filtering: candidate (d1, d2) pairs
    that can possibly reach Jaccard >= threshold.

    Shingles get one global total order (ascending document frequency,
    then shingle text — rarest first, so prefixes index the least
    common shingles). Each document contributes only its first
    ``|A| - ceil(t*|A|) + 1`` shingles to the join; the prefix-prefix
    theorem (Xiao et al., PPJoin) guarantees every qualifying pair
    shares at least one prefix shingle. At scale this shrinks the
    inverted-index join by ~(1-t)^2 while staying exact — frequent
    shingles (the skew/blowup risk) land outside most prefixes.

    ``freq`` accepts a precomputed per-shingle document-frequency
    frame (columns shingle, df) so the auto-selection path in
    :func:`jaccard_pairs` reuses the statistic it already paid for.
    """
    if freq is None:
        freq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = shingles.join(freq, "shingle").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")
        ),
    )
    with_n = ranked.withColumn(
        "n_doc", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    prefix = with_n.filter(
        F.col("pos") <= F.col("n_doc") - F.ceil(F.lit(threshold) * F.col("n_doc")) + 1
    ).select("doc_id", "shingle")
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    prefix_filter: bool | None = None,
    auto_pairs_budget: int = 50_000_000,
) -> DataFrame:
    """All-pairs (or candidate-restricted) n-gram Jaccard similarity.

    Pairs form via the shared-shingle join — only documents sharing at
    least one shingle ever meet (inverted-index join, not a cross
    join). With ``candidates`` (from LSH), the pair stream is
    semi-joined down first. ``prefix_filter`` swaps in exact PPJoin
    candidate generation: its extra shuffles (df-ranking windows +
    prefix join) only pay off once the inverted-index join blows up —
    i.e. large corpora with frequent shingles, exactly the 100 TB
    regime; at dimension scale the plain join is faster.

    ``prefix_filter=None`` (default) auto-selects: one agg over the
    (already persisted) shingle stream computes the exact candidate
    volume of the plain join, ``sum(df*(df-1)/2)`` over per-shingle
    document frequencies — the true blowup statistic, robust to skew
    where row-count heuristics are not. Above ``auto_pairs_budget``
    pairs, PPJoin kicks in and REUSES that df frame for its prefix
    ranking, so the statistic is never paid twice. The probe is one
    eager scalar job; pass an explicit bool to stay fully lazy.
    Results are identical either way (PPJoin is exact).
    """
    # the shingle stream feeds three consumers (sizes, both sides of
    # the pair self-join); without a persist each one re-runs the
    # split/explode scan — 3x the dominant cost
    shingles = shingles.persist()
    hot = None
    if candidates is None and prefix_filter is None:
        # freq is a plan over the persisted shingle stream. Only its
        # df>=2 slice matters downstream: the blowup statistic is a
        # sum over df*(df-1)/2 (zero for df==1), and a shingle seen in
        # one document can never witness a pair. That slice ("hot") is
        # persisted — it is orders of magnitude smaller than the
        # corpus (only repeated shingles) — and the eager statistic
        # job below is what materializes it, so the df agg runs
        # exactly once.
        freq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        hot = freq.filter(F.col("df") >= 2).persist()
        est = hot.agg(
            F.sum(F.col("df") * (F.col("df") - F.lit(1)) / F.lit(2.0)).alias("p")
        ).first()["p"]
        prefix_filter = (est or 0.0) > auto_pairs_budget
        if prefix_filter:
            # the PPJoin path never consumes the hot slice, and it is
            # LARGE in exactly this blowup regime — release it now
            # rather than leaking it for the life of the app
            hot.unpersist(False)
            hot = None
            # prefix ranking needs the FULL df order (df==1 shingles
            # rank first and fill most prefixes) — recompute freq
            # lazily over the cached shingle stream
            candidates = prefix_candidates(shingles, threshold, freq=freq)
    if candidates is None and prefix_filter:
        candidates = prefix_candidates(shingles, threshold)
    pair_sh = shingles
    if candidates is not None:
        # candidate-restricted: shrink the shingle stream to candidate
        # docs BEFORE the pair join — this is what makes LSH verify
        # cheaper than the all-pairs baseline at scale
        candidates = candidates.persist()
        cand_docs = (
            candidates.select(F.col("d1").alias("doc_id"))
            .unionByName(candidates.select(F.col("d2").alias("doc_id")))
            .distinct()
        )
        # no forced broadcast on candidate-derived frames: LSH-band
        # candidates are usually dimension-sized, but PPJoin-generated
        # ones scale with the corpus in exactly the blowup regime that
        # auto-selects them — a broadcast hint there is a driver OOM.
        # AQE sees the real post-agg sizes and promotes small sides to
        # broadcast joins at runtime.
        pair_sh = shingles.join(cand_docs, on="doc_id", how="left_semi").persist()
    # shingle-set sizes only matter for docs that appear in a verified
    # pair, and pair_sh keeps candidate docs' FULL shingle sets — so in
    # the candidate path the agg runs over the restricted stream, not
    # the corpus (the full-stream agg was the dominant verify cost:
    # corpus-sized shuffle for a handful of candidate docs)
    sizes = pair_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    join_sh = pair_sh
    if hot is not None and candidates is None:
        # plain path with the statistic in hand: restrict the pair
        # self-join to repeated shingles (df>=2). Exact — a df==1
        # shingle contributes to no intersection — and it shrinks both
        # join inputs to the hot slice while `sizes` above still
        # counts full shingle sets. AQE broadcasts `hot` when small.
        join_sh = pair_sh.join(hot.select("shingle"), "shingle", "left_semi")
    a = join_sh.alias("a")
    b = join_sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    )
    if candidates is not None:
        inter = inter.join(candidates, on=["d1", "d2"], how="left_semi")
    inter = inter.groupBy("d1", "d2").agg(F.count(F.lit(1)).alias("i"))
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .withColumn("jac", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .filter(F.col("jac") >= threshold)
        .select("d1", "d2", "jac")
    )


def jaccard_oracle_sql(
    table: str = "documents",
    text: str = "text",
    id_: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> str:
    return f"""
    WITH sh AS ({_shingle_sql(table, text, id_, n)}),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT d1, d2, i / (sa.n + sb.n - i) AS jac
    FROM inter JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
    WHERE i / (sa.n + sb.n - i) >= {threshold}
    """


# --------------------------------------------------------- MinHash LSH


def minhash_signatures(shingles: DataFrame, num_hashes: int = 12) -> DataFrame:
    """k minhash values per doc: min over shingles of md5('i:'+shingle).

    md5 hex strings order uniformly, so the min-string is a valid
    minhash permutation — and is engine-portable (identical text in
    Spark and DuckDB).
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def band_buckets(
    signatures: DataFrame, bands: int = 4, rows: int = 3
) -> DataFrame:
    """(doc_id, band, bucket) rows: bucket id = md5 of the band's
    concatenated minhashes — the LSH index layout shared by the
    self-join (:func:`lsh_candidate_pairs`) and the persisted
    incremental index (:func:`neardup_index_write`)."""
    band_cols = []
    for b in range(bands):
        sig_slice = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *sig_slice)).alias("bucket"))
        )
    return signatures.select(
        F.col("doc_id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4, rows: int = 3) -> DataFrame:
    """Band the signature (bands x rows), bucket-join within bands.

    Bucket id = md5 of the band's concatenated minhashes. The
    self-join key is (band_idx, bucket) — distinct candidate pairs out.
    """
    buckets = band_buckets(signatures, bands, rows).persist()
    # both sides of the self-join read the persisted bucket rows
    a = buckets.alias("a")
    b2 = buckets.alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def neardup_index_write(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
) -> None:
    """Materialize the corpus side of near-dup detection as a
    persisted LSH index: ``{path}/buckets`` ((doc_id, band, bucket)
    rows) + ``{path}/shingles`` (the shingle postings Jaccard verify
    needs). At 100 TB this is THE serving shape — the corpus is
    shingled and minhashed ONCE; every incoming batch probes the
    index instead of re-hashing 100 TB per batch
    (:func:`neardup_index_probe`). Appending a verified-clean batch
    to the index is an append of its bucket/shingle rows."""
    sh = shingle_rows(docs, text_col, id_col, n).persist()
    sigs = minhash_signatures(sh, num_hashes)
    band_buckets(sigs, bands, rows).write.mode("overwrite").parquet(
        f"{path}/buckets"
    )
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    sh.unpersist()


def neardup_index_probe(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup probe of a new batch against the persisted
    index: shingle + minhash the BATCH ONLY, bucket-join its band
    rows against the index's (cost ~ batch size, never corpus size),
    then exact-Jaccard verify each candidate against the index's
    shingle postings. Returns (new_id, corpus_id, jac) for matches
    with jac >= ``threshold``.

    Scale shape: the probe side is the batch (small); the index
    bucket join is an equi-join the batch side of which broadcasts
    when the batch is small enough; verify joins only candidate
    docs' postings (semi-join pushdown on corpus_id before the
    shingle equi-join)."""
    spark = new_docs.sparkSession
    idx_buckets = spark.read.parquet(f"{path}/buckets")
    idx_sh = spark.read.parquet(f"{path}/shingles")
    sh_new = shingle_rows(new_docs, text_col, id_col, n).persist()
    b_new = band_buckets(minhash_signatures(sh_new, num_hashes), bands, rows)
    cands = (
        b_new.select(F.col("doc_id").alias("new_id"), "band", "bucket")
        .join(
            idx_buckets.select(
                F.col("doc_id").alias("corpus_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    sizes_new = sh_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    sizes_c = idx_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_c"))
    inter = (
        cands.join(
            sh_new.select(F.col("doc_id").alias("new_id"), "shingle"),
            "new_id",
        )
        .join(
            idx_sh.select(F.col("doc_id").alias("corpus_id"), "shingle"),
            ["corpus_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("n_new") + F.col("n_c") - F.col("i"))
    return (
        inter.join(sizes_new, F.col("new_id") == F.col("doc_id"))
        .drop("doc_id")
        .join(sizes_c, F.col("corpus_id") == F.col("doc_id"))
        .select("new_id", "corpus_id", jac.alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


def incremental_neardup_oracle_sql(
    split_case: str,
    table: str = "documents",
    text: str = "text",
    id_: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    threshold: float = 0.8,
    corpus_split: str = "train",
    batch_split: str = "test",
) -> str:
    """DuckDB mirror of index-write + probe (the parquet round-trip
    is lossless, so the oracle computes both sides directly):
    corpus/batch from ``split_case`` over ``table``, asymmetric LSH
    candidates, exact-Jaccard verify."""
    mh_cols = ", ".join(
        f"MIN(md5('{i}:' || shingle)) AS mh{i}" for i in range(num_hashes)
    )

    def _bands(src: str) -> str:
        return " UNION ALL ".join(
            "SELECT doc_id, {b} AS band, md5({concat}) AS bucket FROM {src}".format(
                b=b,
                concat=" || '|' || ".join(
                    f"mh{b * rows + r}" for r in range(rows)
                ),
                src=src,
            )
            for b in range(bands)
        )

    return f"""
    WITH s AS (SELECT {id_} AS doc_id, {text} AS text,
                      {split_case} AS split FROM {table}),
    corpus AS (SELECT doc_id, text FROM s WHERE split = '{corpus_split}'),
    batch AS (SELECT doc_id, text FROM s WHERE split = '{batch_split}'),
    sh_c AS ({_shingle_sql('corpus', 'text', 'doc_id', n)}),
    sh_b AS ({_shingle_sql('batch', 'text', 'doc_id', n)}),
    sigs_c AS (SELECT doc_id, {mh_cols} FROM sh_c GROUP BY doc_id),
    sigs_b AS (SELECT doc_id, {mh_cols} FROM sh_b GROUP BY doc_id),
    bk_c AS ({_bands('sigs_c')}),
    bk_b AS ({_bands('sigs_b')}),
    cands AS (
        SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
        FROM bk_b b JOIN bk_c c
          ON b.band = c.band AND b.bucket = c.bucket),
    sz_b AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh_b GROUP BY 1),
    sz_c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh_c GROUP BY 1),
    inter AS (
        SELECT cd.new_id, cd.corpus_id, CAST(COUNT(*) AS BIGINT) AS i
        FROM cands cd
        JOIN sh_b ON sh_b.doc_id = cd.new_id
        JOIN sh_c ON sh_c.doc_id = cd.corpus_id
                 AND sh_c.shingle = sh_b.shingle
        GROUP BY 1, 2)
    SELECT new_id, corpus_id, i / (sb.n + sc.n - i) AS jac
    FROM inter
    JOIN sz_b sb ON new_id = sb.doc_id
    JOIN sz_c sc ON corpus_id = sc.doc_id
    WHERE i / (sb.n + sc.n - i) >= {threshold}
    """


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH candidates ->
    exact-Jaccard verify. Returns (d1, d2, jac) confirmed pairs."""
    sh = shingle_rows(df, text_col, id_col, n).persist()
    sigs = minhash_signatures(sh, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, rows)
    out = jaccard_pairs(sh, threshold, candidates=cands)
    return out


def minhash_oracle_sql(
    table: str = "documents",
    text: str = "text",
    id_: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    rows: int = 3,
    threshold: float = 0.8,
) -> str:
    mh_cols = ", ".join(
        f"MIN(md5('{i}:' || shingle)) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bucket FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
    WITH sh AS ({_shingle_sql(table, text, id_, n)}),
    sigs AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
    buckets AS ({band_selects}),
    cands AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE EXISTS (SELECT 1 FROM cands c
                      WHERE c.d1 = a.doc_id AND c.d2 = b.doc_id)
        GROUP BY 1, 2)
    SELECT d1, d2, i / (sa.n + sb.n - i) AS jac
    FROM inter JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
    WHERE i / (sa.n + sb.n - i) >= {threshold}
    """


# ------------------------------------------------------------- SimHash


def simhash32(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """32-bit SimHash per document from distinct-token md5 hashes.

    For each bit position: sum +1/-1 over token hashes; bit set when
    the sum is positive. One Arrow-batched numpy pass per input
    partition — NO shuffle (the previous expression form exploded
    tokens and aggregated 32 conditional sums back per doc: a
    token-cardinality shuffle plus 32 `when`s per token row; the
    vectorized pass measured ~4x faster at sf0.1 with bit-identical
    output, same tradeoff as text.py's repetition signals). Docs with
    NULL text are dropped, matching the explode form's semantics.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    shifts = np.arange(32, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            ids, sims = [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf[text_col]):
                # null ids drop with their row: a nullable int64 id
                # column reaches pandas as float64+NaN, and NaN can't
                # convert back to the declared integral output field
                if doc_id is None or (
                    isinstance(doc_id, float) and pd.isna(doc_id)
                ):
                    continue
                if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                    continue
                toks = set(txt.split(" "))  # split keeps '' — same as
                # Spark split+array_distinct
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> shifts) & 1
                sums = (2 * bits - 1).sum(axis=0)
                ids.append(doc_id)
                sims.append(int(((sums > 0).astype(np.int64) << shifts).sum()))
            # id dtype follows the input batch (int, string, ...) —
            # the id_col contract preserves whatever type the caller's
            # id column has, matching the declared Arrow schema below
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                 "simhash": pd.Series(sims, dtype="int64")}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    from ..util import spread

    # the pass is CPU-bound Python: when the scan yields fewer splits
    # than cores (small files; locally a single-file dimension table),
    # spread it — measured 3x at sf0.1. At corpus scale the input
    # already has >= cores partitions and this is a no-op.
    narrow = spread(df.select(F.col(id_col).alias("doc_id"), text_col))
    return narrow.mapInPandas(gen, f"doc_id {id_type}, simhash long")


def simhash_pairs(sigs: DataFrame, max_hamming: int = 4, chunks: int = 4) -> DataFrame:
    """Hamming-close pairs by chunk banding: hamming<=d implies some
    chunk of (d+1)+ chunks matches exactly (pigeonhole), so candidates
    come from equality joins on 8-bit chunks, then exact popcount."""
    width = 32 // chunks
    mask = (1 << width) - 1
    chunk_cols = [
        F.struct(
            F.lit(c).alias("ci"),
            F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask)).alias("cv"),
        )
        for c in range(chunks)
    ]
    ch = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_cols)).alias("ch")
    ).select(
        "doc_id", "simhash", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv")
    ).persist()  # both sides of the self-join read this (signature agg is the
    # expensive upstream: 32 bit-sums over exploded tokens)
    a, b = ch.alias("a"), ch.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


# ---------------------------------------- 60-bit simhash, Manku banding


def simhash60(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """60-bit SimHash per document from distinct-token md5 hashes (the
    first 15 hex chars — 60 uniform bits that fit a signed int64 in
    both engines). Same Arrow-batched shuffle-free pass as
    :func:`simhash32`; the wider fingerprint exists for
    :func:`simhash_band_pairs`, whose combination banding needs more
    key bits than a 32-bit hash can spare.

    ``carry_cols`` pass extra columns of ``df`` through the Arrow
    batch unchanged (e.g. a segment key for scoped banding) — cheaper
    than a join-back on ``id_col`` afterwards, which would cost a
    shuffle of the corpus just to reattach a column the scan already
    had in hand.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    shifts = np.arange(60, dtype=np.int64)
    carry = list(carry_cols)

    def gen(batches):
        for pdf in batches:
            keep, sims = [], []
            for i, (doc_id, txt) in enumerate(
                zip(pdf["doc_id"], pdf[text_col])
            ):
                if doc_id is None or (
                    isinstance(doc_id, float) and pd.isna(doc_id)
                ):
                    continue
                if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                    continue
                toks = set(txt.split(" "))
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> shifts) & 1
                sums = (2 * bits - 1).sum(axis=0)
                keep.append(i)
                sims.append(int(((sums > 0).astype(np.int64) << shifts).sum()))
            out = pdf.iloc[keep][["doc_id", *carry]].reset_index(drop=True)
            out["simhash"] = pd.Series(sims, dtype="int64")
            yield out[["doc_id", "simhash", *carry]]

    id_type = df.schema[id_col].dataType.simpleString()
    carry_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in carry
    )
    from ..util import spread

    narrow = spread(
        df.select(F.col(id_col).alias("doc_id"), text_col, *carry)
    )
    return narrow.mapInPandas(
        gen, f"doc_id {id_type}, simhash long{carry_schema}"
    )


def _band_combos(blocks: int, max_hamming: int) -> list[tuple[int, ...]]:
    """All (blocks - max_hamming)-subsets of block indices: by
    pigeonhole, hamming <= k flips bits in at most k blocks, so at
    least blocks-k blocks of the two fingerprints are EXACTLY equal —
    some subset key must collide. 100% recall, unlike single-chunk
    banding with chunks <= max_hamming."""
    import itertools

    s = blocks - max_hamming
    if s < 1:
        raise ValueError(
            f"need blocks > max_hamming (got {blocks} <= {max_hamming})"
        )
    return list(itertools.combinations(range(blocks), s))


def simhash_band_pairs(
    sigs: DataFrame,
    max_hamming: int = 4,
    bits: int = 60,
    blocks: int = 6,
    segment_col: str | None = None,
    collapse_identical: bool = False,
) -> DataFrame:
    """Hamming-close pairs by Manku-style combination banding (Manku,
    Jain & Das Sarma WWW'07): the fingerprint splits into ``blocks``
    equal blocks; candidates are pairs that agree exactly on at least
    one (blocks - max_hamming)-subset of blocks, then exact popcount
    verifies. Guaranteed-complete by pigeonhole (every hamming <=
    ``max_hamming`` pair collides on some subset key), unlike
    single-chunk banding whose chunks must each be narrow.

    Scale shape: each doc emits C(blocks, blocks-max_hamming)
    combo-key rows (15 at the 60/6/4 defaults); the equality key
    carries (blocks-max_hamming)*width bits — 20 bits here, a 1M-slot
    space per combo vs 256 for 8-bit chunks — so bucket occupancy
    (and with it the quadratic in-bucket pair stream) stays ~n/2^20
    per combo. For corpora approaching 2^20 * occupancy-budget docs,
    widen the fingerprint (md5 has 128 bits to spend) and re-split;
    the combo construction is parameter-generic.

    With ``segment_col`` the banding join additionally requires
    segment equality, restricting pairs to documents in the same
    segment (per-source / per-language dedup scope); the column is
    carried on the output under its own name. Folding the segment
    into the join key keeps bucket occupancy per segment ~n_seg/2^20
    — candidates never cross segments, so a hot global signature
    cannot create cross-segment bucket blowup.

    ``collapse_identical=True`` is the GROUPS-FORM (connectivity)
    variant: documents sharing an identical (segment, sketch) first
    collapse to their min-id representative; banding runs over
    REPRESENTATIVES only, and each identical group contributes star
    edges (rep, member, hamming 0) instead of its full clique. The
    connected components of the output are EXACTLY those of the full
    pair set — hamming depends only on the sketch, so identical-sketch
    members are interchangeable: every cross-group pair (x, y) implies
    the rep pair (rx, ry) at the same hamming, and the stars span each
    group. The PAIR LIST itself is a strict subset (cliques become
    stars), so leave this False for pair-form consumers (q23/q206);
    for union-find consumers it converts the quadratic blowup on
    saturated sketch spaces (low-entropy corpora where thousands of
    docs share one sketch) into ~n star edges — q215's perceptual-hash
    run measured 27.5x at 10x data without this, sketch-space
    saturation being the cause.
    """
    seg = [segment_col] if segment_col else []
    if collapse_identical:
        reps = sigs.groupBy(*seg, "simhash").agg(
            F.min("doc_id").alias("rep")
        )
        rep_keys = [*seg, "simhash"]
        stars = (
            sigs.join(reps, rep_keys)
            .filter(F.col("doc_id") != F.col("rep"))
            .select(
                F.col("rep").alias("d1"),
                F.col("doc_id").alias("d2"),
                F.lit(0).cast("int").alias("hamming"),
                *seg,
            )
        )
        rep_sigs = reps.select(
            F.col("rep").alias("doc_id"), "simhash", *seg
        )
        rep_pairs = simhash_band_pairs(
            rep_sigs,
            max_hamming=max_hamming,
            bits=bits,
            blocks=blocks,
            segment_col=segment_col,
            collapse_identical=False,
        )
        return rep_pairs.unionByName(stars)
    width = bits // blocks
    mask = (1 << width) - 1
    combos = _band_combos(blocks, max_hamming)
    combo_cols = [
        F.struct(
            F.lit(ci).alias("ci"),
            sum(
                (
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                    * F.lit(1 << (j * width))
                    for j, b in enumerate(combo)
                ),
                start=F.lit(0),
            ).alias("cv"),
        )
        for ci, combo in enumerate(combos)
    ]
    ch = sigs.select(
        "doc_id", "simhash", *seg, F.explode(F.array(*combo_cols)).alias("ch")
    ).select(
        "doc_id", "simhash", *seg,
        F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"),
    ).persist()  # both sides of the self-join read this
    a, b = ch.alias("a"), ch.alias("b")
    join_cond = (
        (F.col("a.ci") == F.col("b.ci"))
        & (F.col("a.cv") == F.col("b.cv"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if segment_col:
        join_cond = join_cond & (
            F.col(f"a.{segment_col}") == F.col(f"b.{segment_col}")
        )
    cands = (
        a.join(b, join_cond)
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
            *(F.col(f"a.{segment_col}") for _ in seg),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming", *seg)
    )


def _band_pairs_sql(
    max_hamming: int, bits: int, blocks: int, segment: bool = False
) -> str:
    """SQL tail mirroring :func:`simhash_band_pairs` over a ``sigs``
    CTE with columns (doc_id, simhash): combination-banded candidates
    + exact popcount verify. Shared by the text SimHash oracle and
    the perceptual-hash oracle. With ``segment`` the ``sigs`` CTE
    must also carry a ``seg`` column; pairs then require segment
    equality and emit ``seg``."""
    width = bits // blocks
    mask = (1 << width) - 1
    combos = _band_combos(blocks, max_hamming)
    seg_sel = ", seg" if segment else ""
    seg_on = " AND a.seg = b.seg" if segment else ""
    seg_out = ", a.seg AS seg" if segment else ""
    seg_tail = ", seg" if segment else ""
    combo_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash{seg_sel}, {ci} AS ci, "
        + " + ".join(
            f"((simhash >> {b * width}) & {mask}) * {1 << (j * width)}"
            for j, b in enumerate(combo)
        )
        + " AS cv FROM sigs"
        for ci, combo in enumerate(combos)
    )
    return f"""
    chunked AS ({combo_rows}),
    cands AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
               a.simhash AS h1, b.simhash AS h2{seg_out}
        FROM chunked a JOIN chunked b
          ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id{seg_on})
    SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming{seg_tail}
    FROM cands WHERE bit_count(xor(h1, h2)) <= {max_hamming}
    """


def simhash60_oracle_sql(
    table: str = "documents",
    text: str = "text",
    id_: str = "doc_id",
    max_hamming: int = 4,
    bits: int = 60,
    blocks: int = 6,
    segment: str | None = None,
) -> str:
    """DuckDB mirror of :func:`simhash60` + :func:`simhash_band_pairs`
    (15-hex-char md5 parse, 60 bit-sums, identical combo keys).
    ``segment`` is a SQL expression over ``table`` (e.g.
    ``concat_ws('|', lang, source)``) mirroring ``segment_col``."""
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    sim_expr = " + ".join(
        f"CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    hex_to_int = (
        "("
        + " + ".join(
            f"CAST((strpos('0123456789abcdef', substr(m, {p + 1}, 1)) - 1) AS BIGINT) * {16 ** (14 - p)}"
            for p in range(15)
        )
        + ")"
    )
    if segment is None:
        sigs_cte = f"sigs AS (SELECT doc_id, {sim_expr} AS simhash FROM sums)"
    else:
        sigs_cte = f"""segs AS (
        SELECT {id_} AS doc_id, {segment} AS seg FROM {table}),
    sigs AS (
        SELECT s.doc_id, {sim_expr} AS simhash, g.seg
        FROM sums s JOIN segs g USING (doc_id))"""
    return f"""
    WITH toks AS (
        SELECT DISTINCT {id_} AS doc_id, unnest(string_split({text}, ' ')) AS tok
        FROM {table}),
    hashed AS (
        SELECT doc_id, {hex_to_int} AS h
        FROM (SELECT doc_id, md5(tok) AS m FROM toks)),
    sums AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id),
    {sigs_cte},
    {_band_pairs_sql(max_hamming, bits, blocks, segment=segment is not None)}
    """


# ------------------------------------------------- edit-distance pairs


def edit_distance_pairs(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    str_col: str = "text",
    block_col: str | None = None,
    short_allpairs_limit: int | None = 100_000,
) -> DataFrame:
    """All (d1, d2, dist) pairs with levenshtein <= ``k`` (and equal
    ``block_col``, if given), WITHOUT the O(block^2) all-pairs sweep —
    a simplified PassJoin (Li, Deng, Feng & Wang, PVLDB'11).

    Filter theorem (lossless): partition each string into k+1 even
    segments; k edits can touch at most k of them, so for any pair
    within distance k, the probing string CONTAINS at least one of the
    indexed string's segments verbatim, shifted by at most k
    positions. Candidates therefore come from an equi-join of indexed
    segments (k+1 rows per string) against probe substrings (one per
    plausible source length in [len-k, len+k], segment index, and
    shift in [-k, k] — <= (2k+1)^2*(k+1) narrow rows per string, all
    whole-stage-codegen substring arithmetic), and exact levenshtein
    runs ONLY on the deduplicated candidates. Both stages are linear
    in corpus size; candidate volume tracks true near-match density
    plus segment-collision noise, never block population (the
    blocked all-pairs form it replaces measured 32x for 10x data at
    sf1 — pair volume was sum(|block|^2)).

    Segment convention (index and probe must agree): with base =
    len div (k+1) and rem = len mod (k+1), the first k+1-rem segments
    have length base, the last rem have base+1; start_i = i*base +
    max(0, i - (k+1-rem)). Strings shorter than k+1 chars cannot be
    partitioned and so are not indexed, but they still PROBE the
    index (a short string can contain a segment of a longer
    neighbor — that covers short<->long pairs); short<->short pairs
    come from an all-pairs pass over the stragglers, which is SAFE
    ONLY while the stragglers are near-empty. HAZARD: with
    ``block_col=None`` and a short-string-heavy corpus (k=4 over
    codes/names), that pass silently reverts to the O(n^2) sweep this
    operator exists to avoid — so it is guarded: if more than
    ``short_allpairs_limit`` strings are shorter than k+1 chars
    (unblocked), or more than that many land in a SINGLE block when
    ``block_col`` is set (per-block self-joins are only quadratic in
    their own block), the call raises with a pointer to
    :func:`deletion_neighborhood_pairs` (the FastSS form built for
    short strings; route them there when k <= 2, or block finer).
    Pass ``short_allpairs_limit=None`` to accept the quadratic
    straggler pass knowingly.

    NOTE — the guard is EAGER: enabling it (the default) runs one
    bounded Spark action at call time (a ``limit(N+1).count()``
    unblocked; a per-block count-max when blocked), which executes
    the input's upstream lineage once before the returned DataFrame
    is ever evaluated. Callers composing expensive inputs should
    ``cache()`` the input first or pass ``short_allpairs_limit=None``
    to keep the call fully lazy.

    Returns (d1, d2, dist) with d1 < d2, plus the block column when
    ``block_col`` is set.
    """
    nseg = k + 1
    blocks = [block_col] if block_col else []
    s = df.select(
        *blocks,
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(str_col).alias("__ls"),
    ).filter(F.col("__s").isNotNull())
    long_s = s.filter(F.col("__ls") >= nseg)

    i_col = F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i")
    # integer division (lengths are non-negative, cast truncation ==
    # floor); Column has no // operator
    base = (F.col("__ls") / nseg).cast("int")
    rem = F.col("__ls") % nseg
    seg_len = F.when(F.col("__i") < nseg - rem, base).otherwise(base + 1)
    seg_start = F.col("__i") * base + F.greatest(
        F.lit(0), F.col("__i") - (F.lit(nseg) - rem)
    )
    index = long_s.select(
        *blocks, "__id", "__s", "__ls", i_col
    ).select(
        *blocks,
        "__id",
        F.col("__ls").alias("__seg_ls"),
        "__i",
        F.col("__s").substr(seg_start + 1, seg_len).alias("__seg"),
    )

    # probe side: for every plausible indexed length, recompute that
    # length's segment geometry and slide it +-k within this string.
    # ALL strings probe — a short (unpartitionable) string can still
    # CONTAIN a segment of a partitioned neighbor, so restricting the
    # probe side to long strings would silently drop short<->long
    # pairs. The guard keeps the sequence ascending (sequence(a, b)
    # with a > b counts DOWN in Spark, fabricating bogus lengths).
    probe = (
        s.filter(F.col("__ls") + k >= nseg)
        .select(
            *blocks,
            "__id",
            "__s",
            F.col("__ls").alias("__lr"),
            F.explode(
                F.sequence(
                    F.greatest(F.lit(nseg), F.col("__ls") - k),
                    F.col("__ls") + k,
                )
            ).alias("__ls"),
        )
        .select(*blocks, "__id", "__s", "__lr", "__ls", i_col)
        .select(
            *blocks,
            "__id",
            "__s",
            "__lr",
            F.col("__ls").alias("__seg_ls"),
            "__i",
            F.explode(F.sequence(F.lit(-k), F.lit(k))).alias("__delta"),
            seg_len.alias("__seg_len"),
            seg_start.alias("__seg_start"),
        )
        .withColumn("__pos", F.col("__seg_start") + F.col("__delta"))
        .filter(
            (F.col("__pos") >= 0)
            & (F.col("__pos") + F.col("__seg_len") <= F.col("__lr"))
        )
        .select(
            *blocks,
            F.col("__id").alias("__rid"),
            "__seg_ls",
            "__i",
            F.col("__s").substr(
                F.col("__pos") + 1, F.col("__seg_len")
            ).alias("__seg"),
        )
    )
    on = [*blocks, "__seg_ls", "__i", "__seg"]
    long_cands = (
        index.join(probe, on)
        .filter(F.col("__id") != F.col("__rid"))
        .select(
            *blocks,
            F.least("__id", "__rid").alias("d1"),
            F.greatest("__id", "__rid").alias("d2"),
        )
        .distinct()
    )

    short_s = s.filter(F.col("__ls") < nseg)
    if short_allpairs_limit is not None:
        # The straggler all-pairs join is quadratic in the number of
        # short strings PER JOIN KEY: unblocked, that key is the whole
        # corpus; with block_col, each block is its own bounded
        # self-join, so the hazard is the LARGEST block, not the
        # total. Guard the quantity that is actually quadratic.
        if block_col is None:
            # limit() stops the scan early — cheap even on huge inputs
            hazard_n = short_s.limit(short_allpairs_limit + 1).count()
            what = "are shorter"
            fix = ("Use deletion_neighborhood_pairs (k<=2), set "
                   "block_col, or pass short_allpairs_limit=None to "
                   "accept the quadratic pass.")
        else:
            row = (
                short_s.groupBy(block_col)
                .count()
                .agg(F.max("count"))
                .first()
            )
            hazard_n = int(row[0]) if row and row[0] is not None else 0
            what = f"in one {block_col} block are shorter"
            fix = ("Use deletion_neighborhood_pairs (k<=2), block "
                   "finer, or pass short_allpairs_limit=None to "
                   "accept the quadratic per-block pass.")
        if hazard_n > short_allpairs_limit:
            raise ValueError(
                f"edit_distance_pairs: >{short_allpairs_limit} strings "
                f"{what} than k+1={nseg} chars; the short-string "
                "fallback would be a quadratic all-pairs self-join "
                f"over them. {fix}"
            )
    a, b = short_s.alias("a"), short_s.alias("b")
    block_eq = (
        (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        if block_col
        else F.lit(True)
    )
    short_cands = (
        a.join(b, block_eq & (F.col("a.__id") < F.col("b.__id")))
        .select(
            *[F.col(f"a.{c}").alias(c) for c in blocks],
            F.col("a.__id").alias("d1"),
            F.col("b.__id").alias("d2"),
        )
    )

    ids = s.select(*blocks, "__id", "__s")
    verified = (
        long_cands.unionByName(short_cands)
        .join(
            ids.select(F.col("__id").alias("d1"), F.col("__s").alias("__sa")),
            "d1",
        )
        .join(
            ids.select(F.col("__id").alias("d2"), F.col("__s").alias("__sb")),
            "d2",
        )
        .withColumn("dist", F.levenshtein("__sa", "__sb").cast("int"))
        .filter(F.col("dist") <= k)
        .select(*blocks, "d1", "d2", "dist")
    )
    return verified


def deletion_neighborhood_pairs(
    df: DataFrame,
    k: int = 2,
    id_col: str = "doc_id",
    str_col: str = "text",
    block_col: str | None = None,
) -> DataFrame:
    """All (d1, d2, dist) pairs with levenshtein <= ``k`` (k = 1 or 2)
    for SHORT strings, via FastSS deletion neighborhoods (Bocek et al.
    2007; the SymSpell family): each string emits every variant
    reachable by deleting up to ``k`` characters; if ed(a, b) <= k,
    deleting the edited positions from each side yields a COMMON
    variant (take an optimal alignment: drop a's substituted/deleted
    positions and b's substituted/inserted ones — at most k each), so
    an equi-join on (block, variant) has 100% recall and exact
    levenshtein verifies the deduplicated candidates.

    Regime split vs :func:`edit_distance_pairs` (PassJoin): segment
    filtering needs segments long enough to discriminate — on ~10-char
    low-entropy strings its 3-char segments collapse to a few thousand
    keys and the candidate stream goes quadratic (measured: 122M
    sum(df^2) on 200k part names). Deletion variants keep ~L-char
    selectivity at sum-of-C(L, <=k) ~ L^2/2 signatures per string —
    linear total work for bounded-length keys (names, titles, codes,
    URLs). For long strings the variant count is the quadratic side,
    so use PassJoin there; the crossover is around L ~ 50.

    Returns (d1, d2, dist) with d1 < d2 (+ block column if given).
    """
    if k not in (1, 2):
        raise ValueError(f"deletion neighborhoods support k in (1, 2), got {k}")
    blocks = [block_col] if block_col else []
    s = df.select(
        *blocks,
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
    ).filter(F.col("__s").isNotNull())
    # delete-one: s with position i removed (0-based i; SQL substring
    # is 1-based). delete-two composes delete-one on the shorter
    # string via j > i.
    d1 = (
        "transform(sequence(0, length(__s) - 1), "
        "i -> concat(substring(__s, 1, i), substring(__s, i + 2)))"
    )
    # Spark's sequence(0, -1) counts DOWN — guard zero/one-char
    # strings out of the delete generators explicitly
    variants = (
        "array_distinct(concat(array(__s), "
        f"CASE WHEN length(__s) >= 1 THEN {d1} ELSE array() END"
    )
    if k == 2:
        d2 = (
            "flatten(transform(sequence(0, length(__s) - 2), "
            "i -> transform(sequence(i + 1, length(__s) - 1), "
            "j -> concat(substring(__s, 1, i), "
            "substring(__s, i + 2, j - i - 1), substring(__s, j + 2)))))"
        )
        variants += f", CASE WHEN length(__s) >= 2 THEN {d2} ELSE array() END"
    variants += "))"
    sig = s.select(
        *blocks, "__id", F.explode(F.expr(variants)).alias("__v")
    )
    a, b = sig.alias("a"), sig.alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in blocks]
    cands = (
        a.join(
            b,
            on + [F.col("a.__v") == F.col("b.__v"),
                  F.col("a.__id") < F.col("b.__id")],
        )
        .select(
            *[F.col(f"a.{c}").alias(c) for c in blocks],
            F.col("a.__id").alias("d1"),
            F.col("b.__id").alias("d2"),
        )
        .distinct()
    )
    ids = s
    return (
        cands.join(
            ids.select(F.col("__id").alias("d1"), F.col("__s").alias("__sa")),
            "d1",
        )
        .join(
            ids.select(F.col("__id").alias("d2"), F.col("__s").alias("__sb")),
            "d2",
        )
        .withColumn("dist", F.levenshtein("__sa", "__sb").cast("int"))
        .filter(F.col("dist") <= k)
        .select(*blocks, "d1", "d2", "dist")
    )


# ------------------------------------------- train/test decontamination


def decontaminate_pairs(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_df: int | None = None,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-decontamination sweep: (train_doc, test_doc) pairs
    sharing >= ``min_shared`` distinct word ``n``-gram shingles.

    ``max_df`` drops shingles occurring in more than that many
    documents (across both corpora) before pairs are emitted. That is
    both the standard semantics (boilerplate n-grams are not
    contamination evidence) and the skew defense: it bounds each
    shingle's posting lists, so no common phrase can quadratically
    explode the pair output. At 100 TB the plan is a narrow shingle
    pass per side, then exactly two shuffles: the per-shingle
    posting-list agg (state capped by ``max_df``) and the pair-count
    agg.

    (Net-new vs the reference — no dedup surface at all; sibling of
    jaccard_pairs/minhash_dedup above.)

    When train and test are splits OF THE SAME frame, use
    :func:`decontaminate_pairs_sided` — it shingles the corpus once
    instead of once per side (the shingle pass is the dominant
    narrow-stage cost).
    """
    tr = shingle_rows(train, text_col, id_col, n).select(
        "shingle", F.lit("tr").alias("side"), F.col("doc_id")
    )
    te = shingle_rows(test, text_col, id_col, n).select(
        "shingle", F.lit("te").alias("side"), F.col("doc_id")
    )
    return _decontaminate_from_sides(tr.unionAll(te), max_df, min_shared)


def decontaminate_pairs_sided(
    corpus: DataFrame,
    side_col: str,
    train_side: str,
    test_side: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_df: int | None = None,
    min_shared: int = 1,
) -> DataFrame:
    """:func:`decontaminate_pairs` for the common case where the two
    corpora are value-splits of ONE frame (hash splits, a split
    column, a date cut): one shingle pass over the combined corpus
    with the side riding along, instead of one Arrow pass per side —
    same two-shuffle plan after that, identical results."""
    sided = corpus.filter(
        F.col(side_col).isin([train_side, test_side])
    ).select(
        F.col(id_col).alias(id_col),
        F.col(text_col).alias(text_col),
        F.when(F.col(side_col) == train_side, F.lit("tr"))
        .otherwise(F.lit("te"))
        .alias("__side"),
    )
    sh = shingle_rows(sided, text_col, id_col, n, extra_cols=["__side"])
    return _decontaminate_from_sides(
        sh.select("shingle", F.col("__side").alias("side"), "doc_id"),
        max_df,
        min_shared,
    )


def _decontaminate_from_sides(
    sides: DataFrame, max_df: int | None, min_shared: int
) -> DataFrame:
    # one agg groups each shingle's posting lists for both sides at
    # once (collect_list skips the other side's nulls); the df cap is
    # applied to the same grouped row, so the whole sweep is two
    # shuffles: this agg and the final pair agg. With max_df set the
    # per-shingle state is bounded by construction.
    grouped = (
        sides.groupBy("shingle")
        .agg(
            F.collect_list(
                F.when(F.col("side") == "tr", F.col("doc_id"))
            ).alias("tr_docs"),
            F.collect_list(
                F.when(F.col("side") == "te", F.col("doc_id"))
            ).alias("te_docs"),
            F.count(F.lit(1)).alias("df"),
        )
        .filter((F.size("tr_docs") > 0) & (F.size("te_docs") > 0))
    )
    if max_df is not None:
        grouped = grouped.filter(F.col("df") <= max_df)
    # per-doc shingles are distinct by construction, so count(*) is
    # the count of distinct shared shingles
    return (
        grouped.select(
            F.explode("tr_docs").alias("train_doc"), "te_docs"
        )
        .select("train_doc", F.explode("te_docs").alias("test_doc"))
        .groupBy("train_doc", "test_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate_oracle_sql(
    table: str,
    split_case: str,
    text: str = "text",
    id_: str = "doc_id",
    n: int = 5,
    max_df: int | None = None,
    min_shared: int = 1,
) -> str:
    """DuckDB mirror of :func:`decontaminate_pairs` over a single
    table whose train/test membership comes from ``split_case`` (a
    CASE expression, e.g. :func:`sampling.hash_split_case_sql`)."""
    tr_src = f"(SELECT {id_}, {text} FROM s WHERE split = 'train')"
    te_src = f"(SELECT {id_}, {text} FROM s WHERE split = 'test')"
    df_filter = (
        f"AND shingle IN (SELECT shingle FROM "
        f"(SELECT shingle FROM tr0 UNION ALL SELECT shingle FROM te0) "
        f"GROUP BY shingle HAVING COUNT(*) <= {max_df})"
        if max_df is not None
        else ""
    )
    return f"""
    WITH s AS (SELECT {id_}, {text}, {split_case} AS split FROM {table}),
    tr0 AS ({_shingle_sql(tr_src, text, id_, n)}),
    te0 AS ({_shingle_sql(te_src, text, id_, n)})
    SELECT tr0.doc_id AS train_doc, te0.doc_id AS test_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tr0 JOIN te0 USING (shingle)
    WHERE 1=1 {df_filter}
    GROUP BY 1, 2
    HAVING COUNT(*) >= {min_shared}
    """


# ------------------------------------------- substring containment dedup


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    max_df: int | None = None,
) -> DataFrame:
    """Exact substring-containment dedup: documents whose full
    (whitespace-normalized) text occurs inside a longer document —
    the quote/boilerplate/mirror case exact dedup misses and Jaccard
    under-scores (a short doc inside a long one has tiny set overlap).

    Scale shape: NO text-by-text scan, and NO full fingerprint
    self-join either. Winnowing (:func:`..text.winnow_fingerprints`)
    is self-synchronizing: when norm(s) occurs inside norm(b), every
    full window of s's gram-hash sequence is literally a window of
    b's, so the whole selected set nests — ``fps(s) SUBSET fps(b)``.
    Containment candidates therefore need only ONE probe per
    document: s collides with every container on ANY single
    fingerprint of s, and probing with s's globally RAREST
    fingerprint (min document frequency) keeps the inverted-index
    join off the hot boilerplate postings entirely — the same
    rarest-first idea as PPJoin prefixes, with prefix length 1
    because subset containment is required, not overlap. The exact
    ``instr`` verify then runs only on colliding (shorter, longer)
    pairs. Measured at sf0.1 this turns a hot-posting blowup
    (~60s+) into a ~linear pipeline. Docs shorter than
    window + k - 1 normalized chars are out of scope (below the
    winnowing detection guarantee).

    ``max_df`` optionally drops fingerprints shared by more than
    that many docs from the CONTAINER posting side — a skew bound
    that is usually unnecessary here because probes already target
    minimum-df fingerprints; OFF by default since a contained doc
    whose every fingerprint is capped would be missed.

    Ties: equal normalized texts are mutual containments; the pair is
    emitted once with the smaller doc id as the contained side.
    Columns: (contained_id, container_id, n_contained).
    """
    from .text import winnow_fingerprints

    fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window)
    norm = df.select(
        F.col(id_col).alias("doc_id"),
        normalize_text(text_col).alias("nt"),
    ).withColumn("len", F.length("nt"))
    # persist ONLY the integer metadata slice (id, len): it feeds the
    # posting stream and the candidate predicate. The normalized TEXT
    # stays lazy — caching it would pin a full copy of the corpus in
    # storage for the life of the app; the verify join below re-derives
    # it with two narrow scans restricted by the candidate semi-joins
    meta = norm.select("doc_id", "len").persist()
    min_len = window + k - 1
    ex = fps.select("doc_id", F.explode("fps").alias("fp")).join(
        meta, "doc_id"
    )
    # the exploded posting stream feeds the df statistic, the probe
    # reduction, and the posting side of the candidate join
    ex = ex.persist()
    freq = ex.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    # one probe per potential contained doc: its rarest fingerprint
    # (ties on fp value for determinism — any choice is correct,
    # min-df just avoids hot postings)
    probe = (
        ex.filter(F.col("len") >= min_len)
        .join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.expr("min_by(fp, struct(df, fp))").alias("fp"),
            F.first("len").alias("len"),
        )
    )
    post = ex
    if max_df is not None:
        hot = freq.filter(F.col("df") > max_df).select("fp")
        post = post.join(hot, "fp", "left_anti")
    a = probe.alias("a")
    b = post.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (
                (F.col("a.len") < F.col("b.len"))
                | (
                    (F.col("a.len") == F.col("b.len"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            ),
        )
        .select(
            F.col("a.doc_id").alias("contained_id"),
            F.col("b.doc_id").alias("container_id"),
        )
        .distinct()
    )
    return (
        cand.join(
            norm.select(
                F.col("doc_id").alias("contained_id"),
                F.col("nt").alias("nt_s"),
                F.col("len").alias("n_contained"),
            ),
            "contained_id",
        )
        .join(
            norm.select(
                F.col("doc_id").alias("container_id"),
                F.col("nt").alias("nt_b"),
            ),
            "container_id",
        )
        .filter(F.instr(F.col("nt_b"), F.col("nt_s")) > 0)
        .select(
            "contained_id",
            "container_id",
            F.col("n_contained").cast("bigint").alias("n_contained"),
        )
    )


def containment_oracle_sql(
    table: str = "documents",
    text: str = "text",
    id_: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> str:
    """DuckDB mirror of :func:`containment_pairs`: the all-pairs
    normalized-substring test (fine at oracle scale; the engine's
    fingerprint blocking is exact, so the results agree)."""
    min_len = window + k - 1
    return f"""
    WITH norm AS (
        SELECT {id_} AS doc_id,
               trim(regexp_replace(lower({text}), '\\s+', ' ', 'g')) AS nt
        FROM {table})
    SELECT a.doc_id AS contained_id,
           b.doc_id AS container_id,
           CAST(len(a.nt) AS BIGINT) AS n_contained
    FROM norm a JOIN norm b
      ON a.doc_id <> b.doc_id
     AND len(a.nt) >= {min_len}
     AND (len(a.nt) < len(b.nt)
          OR (len(a.nt) = len(b.nt) AND a.doc_id < b.doc_id))
     AND position(a.nt IN b.nt) > 0
    """


# ------------------------------------------- sorted-neighborhood blocking


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_col: str,
    id_col: str = "doc_id",
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernandez & Stolfo
    SIGMOD'95): rank all records by a blocking key and pair each
    record with its ``window - 1`` successors — the classic
    entity-resolution blocking that catches near-matches a hard
    equality block (e.g. q108's brand block) splits apart.

    Scale shape: the global rank comes from
    :func:`...util.global_row_index` (range partition + offset pass —
    one shuffle, NO single-partition window), and neighbor pairing is
    an equi-join on ``idx DIV window`` buckets (each row joins its
    own and the next bucket, so every pair within the window distance
    meets exactly once) — join volume is O(N x window), never N^2.
    Ranks tie-break on the id, so results are deterministic and the
    oracle (a row_number self-join) matches exactly.

    Returns (id_a, id_b, key_a, key_b) for 0 < rank_b - rank_a <
    window; similarity verification (levenshtein etc.) is the
    caller's.
    """
    from ..util import global_row_index

    idx = global_row_index(
        # NULL keys out: Spark ranks them first, SQL row_number last —
        # and a null blocking key has no meaningful neighborhood anyway
        df.select(F.col(id_col).alias("rid"), F.col(sort_col).alias("key"))
        .filter(F.col(sort_col).isNotNull()),
        ["key", "rid"],
    ).withColumn("bucket", F.expr(f"idx DIV {window}"))
    a = idx.alias("a")
    right = idx.select(
        "rid", "key", "idx",
        F.explode(
            F.array(F.col("bucket"), F.col("bucket") - 1)
        ).alias("bucket"),
    ).alias("b")
    return (
        a.join(
            right,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("b.idx") > F.col("a.idx"))
            & (F.col("b.idx") - F.col("a.idx") < window),
        )
        .select(
            F.col("a.rid").alias("id_a"),
            F.col("b.rid").alias("id_b"),
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
        )
    )


def sorted_neighborhood_oracle_sql(
    table: str,
    sort_col: str,
    id_col: str,
    window: int = 5,
    extra_where: str = "1=1",
) -> str:
    """DuckDB mirror of :func:`sorted_neighborhood_pairs` (dense
    row_number self-join at oracle scale)."""
    return f"""
    WITH r AS (
        SELECT {id_col} AS rid, {sort_col} AS key,
               row_number() OVER (ORDER BY {sort_col}, {id_col}) - 1 AS idx
        FROM {table} WHERE {sort_col} IS NOT NULL)
    SELECT a.rid AS id_a, b.rid AS id_b, a.key AS key_a, b.key AS key_b
    FROM r a JOIN r b
      ON b.idx > a.idx AND b.idx - a.idx < {window}
    WHERE {extra_where}
    """


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find,
    per document, the maximal token spans whose every k-token window
    also occurs elsewhere in the corpus (or again in the same
    document) at least ``min_count`` times total. The
    suffix-array-free distributed form: the paper's ExactSubstr
    dedup marks any >= k-token substring that repeats verbatim;
    grouping k-token window hashes gives exactly those windows, and
    merging overlapping flagged windows per document reconstructs the
    paper's maximal repeated spans.

    Shape (all linear, no corpus^2 anywhere): one narrow
    (id, pos, md5) row per token window — whole-stage-codegen
    transform+explode, no Python; one hash aggregate on the window
    hash (map-side partial combine; the hash space scales with the
    corpus, per the fixed-granularity rule); one shuffle join back to
    flag positions; one per-document window function for the
    gaps-and-islands merge. At 100 TB every stage partitions by hash
    or document — nothing collects, nothing is quadratic.

    Embedding-era counterpart of the reference Uniquer's whole-record
    dedup (jobs/convertors/job-uniquer.js:15-26) at sub-document
    granularity. Tokenization is the engine's portable baseline
    (single-space split, functions/text.py tokens()), identical in
    the DuckDB mirror :func:`duplicate_spans_sql`.

    Returns (doc_id, span_start, span_end, span_tokens): 1-based
    token positions, inclusive; span_tokens = span_end - span_start
    + 1 >= k.
    """
    toks = F.split(F.col(text_col), " ")
    base = (
        df.select(F.col(id_col).alias("__id"), toks.alias("__t"))
        .filter(F.col(text_col).isNotNull() & (F.size(toks) >= k))
    )
    wins = base.select(
        "__id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(__t) - {k - 1}), "
                f"p -> struct(p AS pos, "
                f"md5(array_join(slice(__t, p, {k}), ' ')) AS h))"
            )
        ).alias("w"),
    ).select("__id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    dup_h = (
        wins.groupBy("h")
        .count()
        .filter(F.col("count") >= min_count)
        .select("h")
    )
    marked = wins.join(dup_h, "h").select("__id", "pos")
    w = Window.partitionBy("__id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > k, F.lit(1)
    ).otherwise(F.lit(0))
    spans = (
        marked.withColumn("__brk", brk)
        .withColumn(
            "__span",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("__id", "__span")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("bigint").alias("span_end"),
        )
        .select(
            F.col("__id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_tokens"),
        )
    )
    return spans


def duplicate_spans_sql(
    table: str = "documents",
    id_: str = "doc_id",
    text: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> str:
    """DuckDB mirror of :func:`duplicate_spans` (same single-space
    tokens, same md5 window hash, same gaps-and-islands merge)."""
    return f"""
    WITH t AS (
        SELECT {id_} AS doc_id, string_split({text}, ' ') AS toks
        FROM {table}
        WHERE {text} IS NOT NULL
          AND len(string_split({text}, ' ')) >= {k}),
    w AS (
        SELECT doc_id, p,
               md5(array_to_string(toks[p:p + {k - 1}], ' ')) AS h
        FROM t, unnest(generate_series(1, len(toks) - {k - 1})) AS u(p)),
    d AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= {min_count}),
    m AS (SELECT w.doc_id, w.p FROM w JOIN d USING (h)),
    g AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
                        ORDER BY p) > {k}
                    THEN 1 ELSE 0 END AS brk
        FROM m),
    s AS (
        SELECT doc_id, p,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM g)
    SELECT doc_id,
           CAST(MIN(p) AS BIGINT) AS span_start,
           CAST(MAX(p) + {k - 1} AS BIGINT) AS span_end,
           CAST(MAX(p) + {k} - MIN(p) AS BIGINT) AS span_tokens
    FROM s GROUP BY doc_id, span_id
    """


def novelty_audit(
    df: DataFrame,
    split_col: str,
    train_val: str,
    test_val: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Memorization-risk / novelty audit: for every TEST document,
    the share of its distinct n-grams that never occur in any TRAIN
    document (the eval-set novelty check run before trusting a
    benchmark number — low novelty means the metric measures recall
    of training text, not generalization; q86 finds the offending
    PAIRS, this scores each eval doc). Returns (doc_id, n_grams,
    n_seen, novelty_ratio); docs with < n tokens have no n-grams and
    are absent.

    Scale shape: one shingle pass over each side, a distinct on the
    train shingle set (the only train-sized shuffle), and a
    shingle-keyed left join — test-set-sized, and the train distinct
    frame is exactly the posting list an inverted index would hold.
    Ratios are exact integer divisions; no float crosses engines.
    """
    sh = shingle_rows(
        df, text_col=text_col, id_col=id_col, n=n,
        extra_cols=[split_col],
    )
    tr = (
        sh.filter(F.col(split_col) == train_val)
        .select("shingle")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    te = sh.filter(F.col(split_col) == test_val)
    return (
        te.join(tr, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0)))
            .cast("bigint")
            .alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen",
            (
                (F.col("n_grams") - F.col("n_seen")).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty_ratio"),
        )
    )


def novelty_audit_oracle_sql(
    table: str,
    split_case: str,
    train_val: str = "train",
    test_val: str = "test",
    n: int = 8,
    text: str = "text",
    id_: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`novelty_audit`."""
    tr_src = f"(SELECT {id_}, {text} FROM s WHERE split = '{train_val}')"
    te_src = f"(SELECT {id_}, {text} FROM s WHERE split = '{test_val}')"
    return f"""
    WITH s AS (SELECT {id_}, {text}, {split_case} AS split
               FROM {table}),
    tr0 AS ({_shingle_sql(tr_src, text, id_, n)}),
    te0 AS ({_shingle_sql(te_src, text, id_, n)}),
    trd AS (SELECT DISTINCT shingle FROM tr0)
    SELECT te0.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN trd.shingle IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_seen,
           CAST(COUNT(*) - SUM(CASE WHEN trd.shingle IS NOT NULL
                               THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
    FROM te0 LEFT JOIN trd USING (shingle)
    GROUP BY 1
    """


# --------------------------------------------------------------------
# Content-defined chunking (CDC) dedup: the STORAGE-level granularity
# this module was missing — exact dedup catches identical documents,
# line-dedup catches identical lines, CDC catches identical RUNS that
# survive insertions/deletions, because chunk boundaries depend on
# local content (a rolling window predicate), not on byte offsets
# (Muthitacharoen, Chen & Mazieres, "A low-bandwidth network file
# system", SOSP'01). Shifting a document by one character re-aligns
# every fixed-size block but leaves almost all content-defined chunks
# intact, so an incremental corpus store only pays for genuinely new
# chunks.
#
# The boundary predicate here is STATELESS on purpose: position i
# ends a chunk iff the polynomial hash of the W-char window ending at
# i satisfies the mask — no min/max chunk clamps, so the boundary set
# of a document is a pure per-position function and the WHOLE operator
# sits on the exact cross-engine oracle (the SQL twin replays the same
# 16-term weighted codepoint sum per position). The window hash is a
# Rabin-Karp polynomial (codepoints weighted by B^k mod M) rather than
# per-position md5: one numpy sliding-window matmul per document
# instead of ~n hashlib calls (the md5 predicate cost 154s at the
# 500k-doc leg; the polynomial cuts the boundary scan to vector
# speed). Production CDC (gear hash, min/max clamps) changes the
# constant factors, not the plan shape.
# --------------------------------------------------------------------

_CDC_B = 131
_CDC_M = (1 << 31) - 1  # Mersenne 2^31-1: sums of 16 weighted
# codepoint terms stay far inside int64 (< 2^56), so numpy int64 and
# SQL BIGINT compute the identical value with one final mod
_CDC_POWS = [pow(_CDC_B, k, _CDC_M) for k in range(64)]


def _cdc_cuts(t: str, window: int, mask: int) -> list:
    """Boundary END positions (1-based, in [window, n-1]) where the
    window's polynomial hash % mask == 0. One vectorized pass."""
    import numpy as np

    n = len(t)
    if n <= window:
        return []
    cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    from numpy.lib.stride_tricks import sliding_window_view

    wins = sliding_window_view(cp, window)
    weights = np.array(
        [_CDC_POWS[window - 1 - k] for k in range(window)], dtype=np.int64
    )
    hs = (wins * weights).sum(axis=1) % _CDC_M
    # wins[j] covers chars j..j+window-1 -> end position i = j + window;
    # valid ends exclude n itself (the final cut is always n)
    hits = np.nonzero((hs % mask) == 0)[0]
    return [int(j) + window for j in hits if j + window <= n - 1]


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    mask: int = 32,
) -> DataFrame:
    """Explode documents into content-defined chunks: one row per
    chunk, (id, chunk_idx, chunk_md5, chunk_len). Partition-local
    (one mapInPandas, zero Exchange); expected chunk length is
    ``mask`` characters plus the window tail."""

    def gen(it):
        import hashlib as _hl

        import pandas as _pd

        for pdf in it:
            ids, idxs, hs, lens = [], [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                t = t or ""
                n = len(t)
                if n == 0:
                    continue
                cuts = _cdc_cuts(t, window, mask)
                cuts.append(n)
                prev = 0
                for k, e in enumerate(cuts):
                    chunk = t[prev:e]
                    ids.append(did)
                    idxs.append(k + 1)
                    hs.append(
                        _hl.md5(chunk.encode("utf-8")).hexdigest()
                    )
                    lens.append(len(chunk))
                    prev = e
            yield _pd.DataFrame(
                {
                    "id": _pd.Series(ids, dtype="int64"),
                    "chunk_idx": _pd.Series(idxs, dtype="int32"),
                    "chunk_md5": hs,
                    "chunk_len": _pd.Series(lens, dtype="int64"),
                }
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(
        gen,
        schema="id bigint, chunk_idx int, chunk_md5 string, chunk_len bigint",
    )


def cdc_store_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    mask: int = 32,
) -> DataFrame:
    """Per-document incremental-store cost under corpus-wide chunk
    dedup: (id, n_chunks, n_new_chunks, stored_chars). A chunk is
    NEW iff this (id, chunk_idx) is the corpus-wide first occurrence
    of its hash (min over a deterministic id*1e6+idx key — the
    skew-safe min-struct winner rule the exact-dedup ops use);
    duplicate chunks cost nothing. Two shuffles, both inherent: one
    to group occurrences by chunk hash, one to re-aggregate per
    document."""
    chunks = cdc_chunks(df, id_col, text_col, window, mask)
    key = F.col("id") * F.lit(1_000_000) + F.col("chunk_idx")
    w = Window.partitionBy("chunk_md5")
    owned = (key == F.min(key).over(w)).alias("owned")
    return (
        chunks.select("id", "chunk_len", owned)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("owned").cast("bigint")).alias("n_new_chunks"),
            F.sum(
                F.when(F.col("owned"), F.col("chunk_len")).otherwise(0)
            ).alias("stored_chars"),
        )
        .withColumnRenamed("id", id_col)
    )


def cdc_store_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    mask: int = 32,
) -> str:
    """DuckDB mirror of :func:`cdc_store_stats`: replays the stateless
    boundary predicate per position with generate_series — the same
    weighted-codepoint polynomial, term by term."""
    poly = " + ".join(
        f"CAST(unicode(substring(p.t, p.i - {window - 1} + {k}, 1)) "
        f"AS BIGINT) * {_CDC_POWS[window - 1 - k]}"
        for k in range(window)
    )
    return f"""
    WITH docs AS (
      SELECT {id_col} AS id, {text_col} AS t,
             length({text_col}) AS n
      FROM {table} WHERE length({text_col}) >= 1
    ),
    pos AS (
      SELECT d.id, d.t,
             unnest(generate_series({window}, d.n - 1)) AS i
      FROM docs d
    ),
    cuts AS (
      SELECT p.id, p.i AS e
      FROM pos p
      WHERE (({poly}) % {_CDC_M}) % {mask} = 0
      UNION ALL
      SELECT id, n FROM docs
    ),
    segs AS (
      SELECT c.id,
             row_number() OVER (PARTITION BY c.id ORDER BY c.e)
                 AS chunk_idx,
             coalesce(lag(c.e) OVER (PARTITION BY c.id ORDER BY c.e), 0)
                 AS s,
             c.e
      FROM cuts c
    ),
    hashed AS (
      SELECT g.id, g.chunk_idx, g.e - g.s AS chunk_len,
             md5(substring(d.t, g.s + 1, g.e - g.s)) AS h
      FROM segs g JOIN docs d USING (id)
    ),
    owned AS (
      SELECT id, chunk_len,
             (id * 1000000 + chunk_idx) =
               min(id * 1000000 + chunk_idx) OVER (PARTITION BY h)
                 AS is_new
      FROM hashed
    )
    SELECT id AS {id_col},
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new_chunks,
           CAST(sum(CASE WHEN is_new THEN chunk_len ELSE 0 END) AS BIGINT)
               AS stored_chars
    FROM owned GROUP BY id
    """
