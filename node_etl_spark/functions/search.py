"""Full-text corpus search: inverted index + BM25 ranked retrieval.

Net-new vs the reference (adn-tm/node-etl has no search surface at
all — the closest thing is a user-coded `Filter` predicate over rows,
jobs/convertors/job-filter.js:10-16). For an LLM training-data
pipeline this is the retrieval half of corpus curation: find the
documents most relevant to a probe query (contamination audits,
targeted inspection, boosted sampling).

Scale design (100 TB):

* The **posting-list build** is one explode + two-phase groupBy —
  identical cost class to the token-frequency rollup. Postings are
  written once and reused by every query.
* **Query scoring never scans the corpus.** Query terms filter the
  token stream *before* the first shuffle (predicate pushdown to the
  scan when postings are stored term-partitioned), so only matching
  postings move. Document-frequency and corpus stats are
  dimension-sized and broadcast.
* All floating-point reductions follow the catalog determinism rules:
  per-term BM25 contributions are computed in identical double
  expression shapes on both engines, then summed order-independently
  via round -> DECIMAL -> exact sum -> double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "tokens",
    "inverted_index",
    "bm25_topk",
    "bm25_oracle_sql",
    "write_inverted_index",
    "load_postings",
    "sql_string_list",
    "bm25_multi",
    "retrieval_metrics",
    "retrieval_eval_oracle_sql",
]


def sql_string_list(terms: list[str]) -> str:
    """Render a SQL IN-list of string literals with single quotes
    doubled, so a term containing ``'`` can't break or inject into the
    generated oracle SQL."""
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


def tokens(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Explode whitespace-delimited text into (id, term) postings."""
    return (
        docs.select(id_col, F.explode(F.split(text_col, " ")).alias("term"))
        .filter("term <> ''")
    )


def inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Posting lists: one row per term with df and sorted (doc, tf)
    postings. At scale, write this partitioned/bucketed by term so a
    query's term lookup prunes to its buckets."""
    tf = (
        tokens(docs, id_col, text_col)
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list(F.struct(id_col, "tf"))).alias("postings"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25 for a bag of query terms.

    One corpus scan: doc lengths and query-term tfs come from the same
    token stream; the term filter runs *before* the tf shuffle so only
    matching postings are exchanged. df/idf and corpus stats (N,
    avgdl) are tiny and broadcast into the probe side.
    """
    toks = tokens(docs, id_col, text_col)
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("tot_dl"),
    )
    tf = (
        toks.filter(F.col("term").isin(query_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dl, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.expr(
                "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)"
                " + 1.0)"
                f" * (CAST(tf AS DOUBLE) * ({k1} + 1.0))"
                f" / (CAST(tf AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
                " * CAST(dl AS DOUBLE) / (CAST(tot_dl AS DOUBLE) / n_docs)))"
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum(F.round("s", 12).cast("decimal(24,12)"))
            .cast("double")
            .alias("bm25"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def bm25_oracle_sql(
    table: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of :func:`bm25_topk` — same expression shapes so
    every double agrees bit-for-bit."""
    in_list = sql_string_list(query_terms)
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}),
    toks2 AS (SELECT * FROM toks WHERE term <> ''),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks2 GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks2 WHERE term IN ({in_list}) GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               ln((CAST(n_docs AS DOUBLE) - df + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * ({k1} + 1.0))
               / (CAST(tf AS DOUBLE) + {k1} * (1.0 - {b} + {b}
                  * CAST(dl AS DOUBLE)
                  / (CAST(tot_dl AS DOUBLE) / n_docs))) AS s
        FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), stats)
    SELECT doc_id,
           CAST(SUM(CAST(round(s, 12) AS DECIMAL(24,12))) AS DOUBLE) AS bm25,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT {k}
    """


def write_inverted_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the posting lists term-bucketed on disk: the
    one-time corpus-cost build behind repeated cheap probes.

    Postings are partitioned by ``bucket = pmod(xxhash64(term), n)``
    so a probe for any term set prunes to |terms| partitions at the
    file listing — the 100 TB probe reads kilobytes of postings, not
    the index. (xxhash64 is fine here: the bucket never leaves Spark,
    so no cross-engine portability constraint.)"""
    idx = inverted_index(docs, id_col, text_col).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )
    idx.write.partitionBy("bucket").mode("overwrite").parquet(path)


def load_postings(
    spark, path: str, query_terms: list[str], n_buckets: int = 64
) -> DataFrame:
    """Read only the query terms' posting lists: the bucket IN-list
    prunes partition directories, the term IN-list prunes rows."""
    buckets = sorted(
        {
            # mirror pmod(xxhash64(term), n) driver-side
            row.b
            for row in spark.createDataFrame(
                [(t,) for t in query_terms], "term string"
            )
            .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("b"))
            .collect()
        }
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(query_terms))
    )


# ------------------------------------------------- retrieval evaluation


def _dcg_weights(k: int) -> list[float]:
    """Position weights w[p] = 1/log2(p+1), p = 1..k — computed ONCE
    in Python and embedded as literals in both engines, so no runtime
    log2 ever crosses the engine boundary (DuckDB's libm need not
    agree with the JVM's at the last bit)."""
    import math

    return [1.0 / math.log2(p + 1) for p in range(1, k + 1)]


def _cum_weights(k: int) -> list[float]:
    """W[i] = sum of the first i position weights (W[0] = 0) — the
    prefix sums that turn a grade histogram into IDCG without sorting:
    a run of equal-grade ideal positions [s+1 .. e] contributes
    gain * (W[e] - W[s]). Prefix sums are accumulated in Python, so
    both engines read the identical double literal."""
    ws = _dcg_weights(k)
    out = [0.0]
    for w in ws:
        out.append(out[-1] + w)
    return out


def bm25_multi(
    docs: DataFrame,
    queries: dict[str, list[str]],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Batch BM25: every query in ``queries`` scored in ONE corpus
    scan. Returns ALL matching (query_id, doc_id, bm25, grade) rows —
    grade = number of distinct query terms the document contains (the
    graded-relevance signal :func:`retrieval_metrics` consumes);
    no top-k here, so the caller decides the cut.

    Scale shape: the union term set filters the token stream before
    the tf shuffle (exactly :func:`bm25_topk`); the (query_id, term)
    map is dimension-sized and broadcast, so fanning a posting out to
    the queries that want it is a map-side multiply, not a second
    scan per query.
    """
    all_terms = sorted({t for ts in queries.values() for t in ts})
    spark = docs.sparkSession
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "query_id string, term string",
    )
    toks = tokens(docs, id_col, text_col)
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("tot_dl"),
    )
    tf = (
        toks.filter(F.col("term").isin(all_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dl, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.expr(
                "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)"
                " + 1.0)"
                f" * (CAST(tf AS DOUBLE) * ({k1} + 1.0))"
                f" / (CAST(tf AS DOUBLE) + {k1} * (1.0 - {b} + {b}"
                " * CAST(dl AS DOUBLE) / (CAST(tot_dl AS DOUBLE) / n_docs)))"
            ),
        )
        .join(F.broadcast(qt), "term")
    )
    return scored.groupBy("query_id", id_col).agg(
        F.sum(F.round("s", 12).cast("decimal(24,12)"))
        .cast("double")
        .alias("bm25"),
        F.count(F.lit(1)).cast("int").alias("grade"),
    )


def retrieval_metrics(
    matches: DataFrame,
    k: int = 10,
    rel_min: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-query ranking quality over a scored match set: nDCG@k
    (Järvelin & Kekäläinen TOIS'02, gains 2^grade - 1), MRR@k,
    precision@k and recall@k with "relevant" = grade >= ``rel_min``.
    Input is :func:`bm25_multi`'s (query_id, doc_id, score-as-bm25,
    grade) frame — or any ranker's, which is the point: the evaluator
    is ranker-agnostic.

    Scale shape: the ONLY per-query sort is the bounded top-k window
    (rank by score). IDCG does NOT re-sort the full match set — the
    ideal ranking of a grade multiset depends only on the per-grade
    COUNTS, so it comes from a map-side-combinable (query, grade)
    histogram plus Python-literal prefix-sum weights: a run of
    ideal positions [s+1..e] at gain g contributes g * (W[e] - W[s]).
    Every log2 is a Python literal; ratios divide identical doubles.

    Returns (query_id, ndcg, mrr, precision, recall, n_relevant).
    """
    from pyspark.sql import Window

    w_arr = F.array(*[F.lit(w) for w in _dcg_weights(k)])
    cw = _cum_weights(k)
    cw_arr = F.array(*[F.lit(x) for x in cw])

    rank_w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc(id_col)
    )
    ranked = (
        matches.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
    )
    gain = F.expr("shiftleft(1, grade) - 1")
    top = ranked.groupBy("query_id").agg(
        F.sum(
            F.round(
                gain.cast("double") * F.element_at(w_arr, F.col("rank")), 12
            ).cast("decimal(24,12)")
        )
        .cast("double")
        .alias("dcg"),
        F.sum(
            F.when(F.col("grade") >= rel_min, 1).otherwise(0)
        ).alias("hits"),
        F.min(
            F.when(F.col("grade") >= rel_min, F.col("rank"))
        ).alias("first_rel"),
    )
    hist = matches.groupBy("query_id", "grade").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # ideal positions for grade g start after all higher-grade docs
    higher_w = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("grade"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("cnt").over(higher_w), F.lit(0))
    ideal = (
        hist.withColumn("s", F.least(start, F.lit(k)))
        .withColumn("e", F.least(start + F.col("cnt"), F.lit(k)))
        .withColumn(
            "contrib",
            F.round(
                gain.cast("double")
                * (
                    F.element_at(cw_arr, F.col("e").cast("int") + 1)
                    - F.element_at(cw_arr, F.col("s").cast("int") + 1)
                ),
                12,
            ),
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.col("contrib").cast("decimal(24,12)"))
            .cast("double")
            .alias("idcg"),
            F.sum(
                F.when(F.col("grade") >= rel_min, F.col("cnt")).otherwise(0)
            ).cast("bigint").alias("n_relevant"),
        )
    )
    return (
        top.join(ideal, "query_id")
        .select(
            "query_id",
            F.when(F.col("idcg") > 0.0,
                   F.round(F.col("dcg") / F.col("idcg"), 6))
            .otherwise(F.lit(0.0)).alias("ndcg"),
            F.coalesce(
                F.round(F.lit(1.0) / F.col("first_rel"), 6), F.lit(0.0)
            ).alias("mrr"),
            F.round(F.col("hits") / F.lit(float(k)), 6).alias("precision"),
            F.when(F.col("n_relevant") > 0,
                   F.round(F.col("hits") / F.col("n_relevant"), 6))
            .otherwise(F.lit(0.0)).alias("recall"),
            "n_relevant",
        )
    )


def retrieval_eval_oracle_sql(
    table: str,
    queries: dict[str, list[str]],
    k: int = 10,
    rel_min: int = 2,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of ``bm25_multi`` |> ``retrieval_metrics`` —
    identical expression shapes, identical Python-literal log2
    weights, identical decimal-sum reductions."""
    w_list = ", ".join(repr(w) for w in _dcg_weights(k))
    cw_list = ", ".join(repr(x) for x in _cum_weights(k))
    return f"""
    WITH {_bm25_matches_cte(table, queries, k1, b)},
    wts AS (SELECT [{w_list}] AS w, [{cw_list}] AS cw),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY bm25 DESC, doc_id) AS rank
        FROM matches QUALIFY rank <= {k}),
    top AS (
        SELECT query_id,
               CAST(SUM(CAST(round(
                   CAST((1 << grade) - 1 AS DOUBLE) * w[rank], 12)
                   AS DECIMAL(24,12))) AS DOUBLE) AS dcg,
               SUM(CASE WHEN grade >= {rel_min} THEN 1 ELSE 0 END) AS hits,
               MIN(CASE WHEN grade >= {rel_min} THEN rank END) AS first_rel
        FROM ranked, wts GROUP BY query_id),
    hist AS (
        SELECT query_id, grade, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM matches GROUP BY 1, 2),
    ideal AS (
        SELECT query_id,
               CAST(SUM(CAST(round(
                   CAST((1 << grade) - 1 AS DOUBLE)
                   * (cw[CAST(e AS INTEGER) + 1]
                      - cw[CAST(s AS INTEGER) + 1]), 12)
                   AS DECIMAL(24,12))) AS DOUBLE) AS idcg,
               CAST(SUM(CASE WHEN grade >= {rel_min} THEN cnt ELSE 0 END)
                   AS BIGINT) AS n_relevant
        FROM (
            SELECT query_id, grade, cnt,
                   least(COALESCE(SUM(cnt) OVER (PARTITION BY query_id
                       ORDER BY grade DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0), {k}) AS s,
                   least(COALESCE(SUM(cnt) OVER (PARTITION BY query_id
                       ORDER BY grade DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + cnt, {k}) AS e
            FROM hist), wts
        GROUP BY query_id)
    SELECT t.query_id,
           CASE WHEN idcg > 0.0 THEN round(dcg / idcg, 6)
                ELSE 0.0 END AS ndcg,
           COALESCE(round(CAST(1.0 AS DOUBLE) / first_rel, 6), 0.0) AS mrr,
           round(CAST(hits AS DOUBLE) / {float(k)}, 6) AS precision,
           CASE WHEN n_relevant > 0
                THEN round(CAST(hits AS DOUBLE) / n_relevant, 6)
                ELSE 0.0 END AS recall,
           n_relevant
    FROM top t JOIN ideal i ON t.query_id = i.query_id
    """

def _bm25_matches_cte(
    table: str, queries: dict[str, list[str]], k1: float, b: float
) -> str:
    """Shared oracle CTE chain for the multi-query BM25 scorers:
    qt (query terms) through ``matches(query_id, doc_id, bm25,
    grade)`` — the SQL twin of :func:`bm25_multi`. Callers append
    their own ranking/metric CTEs."""
    all_terms = sorted({t for ts in queries.values() for t in ts})
    in_list = sql_string_list(all_terms)
    qt_rows = ", ".join(
        f"('{qid}', '{t}')"
        for qid, ts in sorted(queries.items())
        for t in ts
    )
    return f"""qt(query_id, term) AS (VALUES {qt_rows}),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}),
    toks2 AS (SELECT * FROM toks WHERE term <> ''),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks2 GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks2 WHERE term IN ({in_list}) GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY term),
    scored AS (
        SELECT qt.query_id, tf.doc_id,
               ln((CAST(n_docs AS DOUBLE) - df + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf AS DOUBLE) * ({k1} + 1.0))
               / (CAST(tf AS DOUBLE) + {k1} * (1.0 - {b} + {b}
                  * CAST(dl AS DOUBLE)
                  / (CAST(tot_dl AS DOUBLE) / n_docs))) AS s
        FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term)
             JOIN qt USING (term), stats),
    matches AS (
        SELECT query_id, doc_id,
               CAST(SUM(CAST(round(s, 12) AS DECIMAL(24,12))) AS DOUBLE)
                   AS bm25,
               CAST(COUNT(*) AS INTEGER) AS grade
        FROM scored GROUP BY 1, 2)"""


def hard_negatives(
    docs: DataFrame,
    queries: dict[str, list[str]],
    k: int = 5,
    rel_min: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training (the
    DPR/ANCE recipe, Karpukhin EMNLP'20 §3.2): for each training
    query, the top-scoring documents the ranker LIKES that are NOT
    relevant (grade < ``rel_min`` distinct query terms) — the
    negatives that actually move a contrastive model, unlike random
    negatives which are trivially separable. Returns (query_id,
    doc_id, bm25, grade, rank) — rank 1..k by (bm25 desc, doc_id)
    among non-relevant matches only.

    Scale shape: :func:`bm25_multi` scores every query in one corpus
    scan; the rank is a per-query window over term-matched docs only
    (vocabulary-filtered — never corpus-wide), cut at k by
    row_number. BM25 values ride the same round-12 decimal sums as
    q212, so the cut is deterministic cross-engine.
    """
    m = bm25_multi(docs, queries, id_col=id_col, text_col=text_col)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    return (
        m.filter(F.col("grade") < rel_min)
        .select(
            "query_id",
            "doc_id",
            "bm25",
            "grade",
            F.row_number().over(w).cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def hard_negatives_oracle_sql(
    table: str,
    queries: dict[str, list[str]],
    k: int = 5,
    rel_min: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of :func:`hard_negatives`."""
    return f"""
    WITH {_bm25_matches_cte(table, queries, k1, b)}
    SELECT query_id, doc_id, bm25, grade,
           CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY bm25 DESC, doc_id) AS rank
        FROM matches WHERE grade < {rel_min})
    WHERE rank <= {k}"""


# --------------------------------------------------------------------
# Percolation — reverse search (stored queries match the stream)
# --------------------------------------------------------------------

def percolate(
    docs: DataFrame,
    queries: list[tuple[str, list[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reverse search / percolation (the Elasticsearch percolator,
    Kafka-topic routing rule, or alerting-subscription primitive):
    a REGISTRY of stored conjunctive keyword queries is matched
    against every incoming document — a document matches a query iff
    it contains ALL of the query's terms.

    This inverts :func:`bm25_topk`'s access path: there, one ad-hoc
    query probes a prebuilt corpus index; here, the corpus streams
    past a dimension-sized rule registry. The registry is broadcast,
    the document token stream is filtered to registry terms BEFORE
    the first shuffle (so non-matching tokens never move), and the
    only aggregation is (doc, query) -> distinct matched terms
    compared against the query's term count. At 100 TB the cost is
    one corpus scan regardless of rule count — the shape alerting
    pipelines need.

    Returns (query_id, n_terms, n_docs): per stored query, its size
    and how many documents match it; queries matching nothing are
    kept with ``n_docs = 0`` (an alerting registry must distinguish
    "rule dead" from "rule dropped").
    """
    spark = docs.sparkSession
    reg = spark.createDataFrame(
        [
            (qid, t, len(set(terms)))
            for qid, terms in queries
            for t in dict.fromkeys(terms)
        ],
        "query_id string, term string, n_terms int",
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("term"),
    )
    hits = toks.join(F.broadcast(reg), "term").groupBy(
        "doc_id", "query_id", "n_terms"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    matched = (
        hits.filter(F.col("n_hit") == F.col("n_terms"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    all_q = spark.createDataFrame(
        [(qid, len(set(terms))) for qid, terms in queries],
        "query_id string, n_terms int",
    )
    return all_q.join(matched, "query_id", "left").select(
        "query_id",
        F.col("n_terms").cast("bigint").alias("n_terms"),
        F.coalesce(F.col("n_docs"), F.lit(0).cast("bigint")).alias(
            "n_docs"
        ),
    )


def percolate_oracle_sql(
    table_sql: str,
    queries: list[tuple[str, list[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror of :func:`percolate` (registry as VALUES, same
    distinct-token conjunction count)."""
    # dict.fromkeys: distinct terms in input order, so the SQL text
    # does not depend on the process's string-hash seed
    reg_rows = ", ".join(
        f"('{qid}', '{t}', {len(set(terms))})"
        for qid, terms in queries
        for t in dict.fromkeys(terms)
    )
    all_rows = ", ".join(
        f"('{qid}', {len(set(terms))})" for qid, terms in queries
    )
    return f"""
    WITH pc_reg(query_id, term, n_terms) AS (VALUES {reg_rows}),
    pc_all(query_id, n_terms) AS (VALUES {all_rows}),
    pc_tok AS (
        SELECT DISTINCT {id_col} AS doc_id, t.term
        FROM {table_sql},
             unnest(string_split({text_col}, ' ')) AS t(term)),
    pc_hit AS (
        SELECT k.doc_id, r.query_id, r.n_terms,
               COUNT(*) AS n_hit
        FROM pc_tok k JOIN pc_reg r USING (term)
        GROUP BY 1, 2, 3),
    pc_m AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pc_hit WHERE n_hit = n_terms GROUP BY 1)
    SELECT a.query_id, CAST(a.n_terms AS BIGINT) AS n_terms,
           COALESCE(m.n_docs, 0) AS n_docs
    FROM pc_all a LEFT JOIN pc_m m USING (query_id)"""
