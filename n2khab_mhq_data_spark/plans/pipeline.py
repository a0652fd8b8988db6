"""Training-data pipeline queries: deterministic splits, sequence
packing, TF-IDF (SURVEY.md §2 training-data extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n2khab_mhq_data_spark.catalog import load, parquet_fingerprint
from n2khab_mhq_data_spark.llmdata.pipeline import (
    hash_split,
    pack_sequences,
    tfidf_topk,
)
from n2khab_mhq_data_spark.plans import query


@query(
    "pipeline_temporal_split",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'train'
                WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
           END AS split
    FROM events
    """,
)
def pipeline_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged temporal split over the event stream: train strictly
    before the cutoff, test from cutoff + 7-day embargo, the embargo
    week EXCLUDED (null split) so boundary-adjacent feature windows
    cannot leak label information across the split
    (llmdata/pipeline.py::temporal_split). A pure projection — the
    interval arithmetic folds to literals against the scan."""
    from n2khab_mhq_data_spark.llmdata.pipeline import temporal_split

    e = load(spark, sf_dir, "events")
    return temporal_split(
        e, "ts", "2024-01-15 00:00:00", embargo="7 days"
    ).select("event_id", "user_id", "split")


@query(
    "pipeline_hash_split",
    oracle="""
    SELECT doc_id,
           CAST(((((doc_id * 131071 + 524287) % 1000003) + 1000003) % 1000003) % 100 AS BIGINT)
             AS pct,
           CASE WHEN ((((doc_id * 131071 + 524287) % 1000003) + 1000003) % 1000003) % 100 < 80
                THEN 'train'
                WHEN ((((doc_id * 131071 + 524287) % 1000003) + 1000003) % 1000003) % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def pipeline_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by integer hash — stable
    under corpus growth, no RNG, no shuffle (a pure projection)."""
    return hash_split(load(spark, sf_dir, "documents"), "doc_id")


@query(
    "pipeline_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT source AS shard, doc_id AS doc,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tok
      FROM documents
    ), binned AS (
      SELECT shard, doc, n_tok,
             CAST(floor(coalesce(sum(n_tok) OVER (
                    PARTITION BY shard ORDER BY doc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), 0) / 2048.0) AS BIGINT) AS bin
      FROM toks
    )
    SELECT shard, bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS token_sum,
           min(doc) AS first_doc,
           max(doc) AS last_doc
    FROM binned GROUP BY 1, 2
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-quantized context-window packing manifest, parallel per
    source shard (one window pass; integer-only)."""
    return pack_sequences(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source", 2048
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id AS doc, t.tok
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents), unnest(w) AS t(tok)
    ), tf AS (
      SELECT doc, tok, count(*) AS tf FROM tok GROUP BY 1, 2
    ), dfq AS (
      SELECT *, count(*) OVER (PARTITION BY tok) AS df FROM tf
    ), n AS (
      SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents
    ), scored AS (
      SELECT doc, tok,
             tf * (ln((n.n_docs + 1) / (df + 1)) + 1.0) AS score
      FROM dfq, n
    )
    SELECT doc, tok, rank,
           round(score + sign(score) * 1e-9, 6) AS tfidf
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc
                                            ORDER BY score DESC, tok)
                         AS INTEGER) AS rank
          FROM scored)
    WHERE rank <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, token tie-break) —
    the classic term-weighting op over the corpus's own statistics."""
    return tfidf_topk(load(spark, sf_dir, "documents"), "text", "doc_id", 3)


# BM25 postings/doc-length memo — the materialized search index both
# retrieval consumers (text_bm25_topk, sim_rrf_fusion's lexical leg)
# share; same lifecycle as the near-dup pair memo (fingerprint-keyed,
# dead-session entries evicted; bench declares the build step).
_BM25_IDX: dict[tuple, tuple] = {}


def _bm25_index(spark: SparkSession, sf_dir: str) -> tuple:
    from n2khab_mhq_data_spark.llmdata.pipeline import bm25_index
    from n2khab_mhq_data_spark.plans.llm import _docs_fingerprint

    for k in [
        k
        for k, v in _BM25_IDX.items()
        if v[0].sparkSession is not spark
    ]:
        del _BM25_IDX[k]
    key = (sf_dir, _docs_fingerprint(sf_dir))
    idx = _BM25_IDX.get(key)
    if idx is None:
        tf, doclen = bm25_index(
            load(spark, sf_dir, "documents"), "text", "doc_id"
        )
        idx = (tf.localCheckpoint(), doclen.localCheckpoint())
        _BM25_IDX[key] = idx
    return idx


# The retrieval benchmark's fixed query set (terms from the corpus
# vocabulary); duplicated terms are deduped by bm25_topk.
_BM25_QUERIES: list[tuple[str, str]] = [
    ("q1", "hash"), ("q1", "join"),
    ("q2", "scan"), ("q2", "filter"), ("q2", "fast"),
    ("q3", "window"), ("q3", "merge"), ("q3", "batch"), ("q3", "slow"),
]


# Shared oracle fragment: CTE chain ending in `scored` (query_id, doc,
# score, n_terms_hit) — the BM25 run both text_bm25_topk and
# sim_rrf_fusion rank from.
_BM25_CTES = """
    tok AS (
      SELECT doc_id AS doc, t.tok AS term
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents), unnest(w) AS t(tok)
    ), tf AS (
      SELECT doc, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), dl AS (
      SELECT doc, sum(tf) AS dl FROM tf GROUP BY 1
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
    ), q(query_id, term) AS (
      VALUES ('q1','hash'),('q1','join'),
             ('q2','scan'),('q2','filter'),('q2','fast'),
             ('q3','window'),('q3','merge'),('q3','batch'),('q3','slow')
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf
      WHERE term IN (SELECT term FROM q) GROUP BY 1
    ), contrib AS (
      SELECT q.query_id, tf.doc,
             ln(1.0 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
               AS c
      FROM tf
      JOIN dfreq USING (term)
      JOIN q USING (term)
      JOIN dl ON dl.doc = tf.doc,
      stats s
    ), scored AS (
      SELECT query_id, doc, sum(c) AS score,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM contrib GROUP BY 1, 2
    )
"""


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT query_id, doc, rank, n_terms_hit,
           round(score + 1e-9, 6) AS bm25
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                            ORDER BY score DESC, doc)
                         AS INTEGER) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-5 documents for each of 3 fixed term
    queries (Lucene-style positive idf, k1=1.2 b=0.75). The RAG /
    eval-retrieval primitive over the documents table: postings pruned
    to query terms by a broadcast semi-filter, so corpus cost is the
    one (doc, term) tf shuffle regardless of query count
    (llmdata/pipeline.py::bm25_topk)."""
    from n2khab_mhq_data_spark.catalog import local_dim
    from n2khab_mhq_data_spark.llmdata.pipeline import bm25_topk

    qdim = local_dim(
        spark, _BM25_QUERIES, "query_id string, term string"
    )
    return bm25_topk(
        load(spark, sf_dir, "documents"), qdim, "text", "doc_id", k=5,
        index=_bm25_index(spark, sf_dir),
    )


_RRF_SQL = f"""
    WITH {_BM25_CTES},
    lex AS (
      SELECT query_id, doc,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc)
                  AS INTEGER) AS rank
      FROM scored
      QUALIFY rank <= 10
    ), qmap(query_id, qvec) AS (
      VALUES ('q1', 1), ('q2', 2), ('q3', 3)
    ), qv AS (
      SELECT m.query_id, m.qvec, e.embedding AS qvec_e
      FROM qmap m JOIN embeddings e ON e.vec_id = m.qvec
    ), dense_scored AS (
      SELECT qv.query_id, c.vec_id AS doc,
        list_sum(list_transform(range(1, 65),
          i -> CAST(qv.qvec_e[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, 65),
             i -> CAST(qv.qvec_e[i] AS DOUBLE) * CAST(qv.qvec_e[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, 65),
             i -> CAST(c.embedding[i] AS DOUBLE)
                  * CAST(c.embedding[i] AS DOUBLE))))) AS cos
      FROM qv, embeddings c WHERE c.vec_id != qv.qvec
    ), den AS (
      SELECT query_id, doc,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, doc)
                  AS INTEGER) AS rank
      FROM dense_scored
      QUALIFY rank <= 10
    ), legs AS (
      SELECT * FROM lex UNION ALL SELECT * FROM den
    ), fused AS (
      SELECT query_id, doc,
             sum(1.0 / (60.0 + rank)) AS score,
             CAST(count(*) AS BIGINT) AS n_legs,
             min(rank) AS best_rank
      FROM legs GROUP BY 1, 2
    )
    SELECT query_id, doc, rrf_rank, n_legs, best_rank,
           round(score + 1e-9, 6) AS rrf
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                            ORDER BY score DESC, doc)
                         AS INTEGER) AS rrf_rank
          FROM fused)
    WHERE rrf_rank <= 5
    """


@query("sim_rrf_fusion", oracle=_RRF_SQL)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (c=60) of a lexical
    BM25 top-10 run and a dense cosine top-10 run over the same corpus
    (documents row i <-> embeddings row i), top-5 fused per query — the
    standard two-tower RAG retrieval combiner
    (llmdata/pipeline.py::rrf_fuse). Each leg is already bounded per
    query, so fusion shuffles only ~20 rows/query; the corpus is touched
    once per leg (BM25's tf shuffle, cosine's broadcast-query scan)."""
    from n2khab_mhq_data_spark.catalog import local_dim
    from n2khab_mhq_data_spark.llmdata.pipeline import bm25_topk, rrf_fuse
    from n2khab_mhq_data_spark.llmdata.similarity import cosine_topk

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    qdim = local_dim(spark, _BM25_QUERIES, "query_id string, term string")
    qmap = local_dim(
        spark, [("q1", 1), ("q2", 2), ("q3", 3)], "query_id string, qvec long"
    )
    lex = bm25_topk(
        docs, qdim, "text", "doc_id", k=10,
        index=_bm25_index(spark, sf_dir),
    ).select("query_id", "doc", "rank")
    dense_raw = cosine_topk(
        emb,
        emb.join(F.broadcast(qmap), F.col("vec_id") == F.col("qvec")).select(
            "vec_id", "embedding"
        ),
        "vec_id",
        "embedding",
        k=10,
        dim=64,
    ).withColumnRenamed("query_id", "qv_id")
    den = dense_raw.join(
        F.broadcast(qmap), F.col("qv_id") == F.col("qvec")
    ).select(
        "query_id",
        F.col("neighbour_id").alias("doc"),
        "rank",
    )
    return rrf_fuse({"lex": lex, "dense": den}, k=5, c=60)


@query(
    "pipeline_corpus_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY (((doc_id * 131071 + 42 * 524287) % 1000003)
                       + 1000003) % 1000003,
                      doc_id) AS BIGINT) AS shuffle_pos
    FROM documents
    """,
)
def pipeline_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic corpus shuffle: every document gets a
    reproducible training-order position — rerunning data prep yields
    byte-identical loader order (the reproducibility contract of a
    training run), with no RNG state to carry. Order key is the repo's
    portable integer hash (seed folded in), position assignment is the
    distributed two-pass ranker (operators/rank.py::global_rank) — the
    oracle's global row_number window is exactly the single-task shape
    the Spark side avoids."""
    from n2khab_mhq_data_spark.llmdata.pipeline import HASH_PRIME
    from n2khab_mhq_data_spark.operators.rank import global_rank

    seed = 42
    docs = load(spark, sf_dir, "documents").select("doc_id")
    key = F.pmod(
        F.pmod(
            F.col("doc_id") * 131071 + seed * 524287, F.lit(HASH_PRIME)
        ),
        F.lit(HASH_PRIME),
    )
    ranked = global_rank(
        docs.withColumn("__key", key),
        [F.col("__key").asc(), F.col("doc_id").asc()],
        rank_col="shuffle_pos",
    )
    return ranked.select("doc_id", "shuffle_pos")


def _table_fingerprint(sf_dir: str, table: str) -> str:
    """md5 prefix of the table's parquet_fingerprint — the name suffix of
    every fingerprinted scratch store (regenerated source data
    invalidates)."""
    import hashlib

    fp = repr(parquet_fingerprint(sf_dir, table))
    return hashlib.md5(fp.encode()).hexdigest()[:16]


def _scratch_build(path: str, build, require: str | None = None) -> str:
    """Crash-safe completion semantics for fingerprinted scratch stores:
    ``build(tmp)`` writes into a sibling tmp dir which is RENAMED into
    place only when the build function returns — the final directory's
    existence IS the completion marker. Building directly into ``path``
    let a mid-build crash (between a snapshot store's two publishes, or
    mid-Spark-write) cache a half-built store forever under an unchanged
    fingerprint.

    ``require`` names a relative path that must exist inside a COMPLETE
    store (snapshot stores pass ``"_manifests"``): a torn directory left
    by the pre-rename era of this helper — dir exists, no manifest —
    is detected and rebuilt instead of being treated as complete
    forever under an unchanged fingerprint.

    Concurrency: the tmp dir carries the builder's pid, so two
    concurrent builders never rmtree each other's half-built tree, and
    a lost rename race (``path`` appeared between our check and our
    rename) is tolerated — the loser discards its tmp and returns the
    winner's store, which is equivalent by construction (same
    fingerprint => same deterministic build).
    """
    import os
    import shutil

    def complete(p: str) -> bool:
        return os.path.isdir(p) and (
            require is None or os.path.exists(os.path.join(p, require))
        )

    if complete(path):
        return path
    if os.path.isdir(path):
        shutil.rmtree(path)  # torn legacy dir (pre-rename builds): redo
    tmp = f"{path}.__building__.{os.getpid()}"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # our own leftover (pid reuse): rebuild
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        build(tmp)
        os.rename(tmp, path)
    except OSError:
        if not complete(path):  # not a lost race: surface the failure
            raise
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _jsonl_store(spark: SparkSession, sf_dir: str) -> str:
    """Fingerprinted scratch JSONL export of the documents table —
    rebuilt only when the source parquet changes."""
    fp = _table_fingerprint(sf_dir, "documents")

    def build(tmp: str) -> None:
        from n2khab_mhq_data_spark.sources.jsonl import write_jsonl

        write_jsonl(
            load(spark, sf_dir, "documents"),
            tmp,
            order_by=["doc_id"],
            n_shards=8,
        )

    return _scratch_build(f"/root/repo/.scale/jsonl/documents_{fp}", build)


@query(
    "s11_jsonl_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def s11_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus export/import round-trip (sources/jsonl.py — the
    LLM-corpus interchange analog of the reference's CSV/TSV extract
    surface, SURVEY.md §2.1 S5/S8): the documents table is written as
    hash-sharded, within-shard-sorted JSONL and read back with an
    explicit schema in PERMISSIVE corrupt-capture mode. The hash match
    against the source table proves lossless round-trip (longs exact,
    text escaping reversible); the in-plan guard proves zero corrupt
    lines. Read side is line-splittable (no multiLine), so a 100 TB
    corpus scans block-parallel; write side is shard-parallel with no
    driver funnel."""
    from n2khab_mhq_data_spark.sources.jsonl import read_jsonl, split_corrupt

    path = _jsonl_store(spark, sf_dir)
    raw = read_jsonl(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    good, _bad = split_corrupt(raw)
    # loud in-plan corruption guard: a malformed line can only surface
    # in `good` as a null doc_id (the source never has one), so any null
    # key fails the query instead of silently shrinking the result
    return good.select(
        F.coalesce(
            F.col("doc_id"),
            F.raise_error(
                F.lit("jsonl roundtrip produced a null doc_id row")
            ).cast("long"),
        ).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )


@query(
    "pipeline_quality_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(w) AS n_tokens,
             (length(text) - length(regexp_replace(text, '[.!?,;:]', '',
               'g'))) * 1.0 / nullif(length(text), 0) AS punct_ratio,
             len(list_filter(w, x -> x IN ('the','a','and','of','is')))
               * 1.0 / len(w) AS stopword_ratio
      FROM t
    )
    SELECT doc_id,
           concat_ws(',',
             CASE WHEN n_tokens < 20 THEN 'too_short' END,
             CASE WHEN n_tokens > 1000 THEN 'too_long' END,
             CASE WHEN punct_ratio > 0.10 THEN 'puncty' END,
             CASE WHEN stopword_ratio < 0.02 THEN 'low_stopword' END
           ) AS reasons,
           concat_ws(',',
             CASE WHEN n_tokens < 20 THEN 'too_short' END,
             CASE WHEN n_tokens > 1000 THEN 'too_long' END,
             CASE WHEN punct_ratio > 0.10 THEN 'puncty' END,
             CASE WHEN stopword_ratio < 0.02 THEN 'low_stopword' END
           ) = '' AS keep
    FROM m
    """,
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality keep/drop verdict with ordered reason codes —
    the auditable final gate of the filtering pipeline."""
    from n2khab_mhq_data_spark.llmdata.pipeline import quality_filter

    return quality_filter(load(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "pipeline_hash_sample",
    oracle="""
    SELECT doc_id,
           (((doc_id * 131071 + 524287) % 1000003) + 1000003) % 1000003 AS h
    FROM documents
    ORDER BY h, doc_id
    LIMIT 100
    """,
)
def pipeline_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 100-doc sample by smallest portable id hash — the
    RNG-free reservoir-sampling analog (stable across runs/engines)."""
    from n2khab_mhq_data_spark.llmdata.pipeline import hash_sample

    return hash_sample(load(spark, sf_dir, "documents"), "doc_id", 100)


@query(
    "pipeline_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
               '<EMAIL>', 'g'),
             '[0-9][0-9 ()+-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
    FROM documents
    """,
)
def pipeline_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrub (emails, digit runs) as a pure projection; the
    RE2-safe patterns make Java and DuckDB regex agree byte-for-byte."""
    from n2khab_mhq_data_spark.llmdata.pipeline import redact_text

    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", redact_text(F.col("text")).alias("redacted"))


@query(
    "pipeline_pack_greedy",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT source AS shard, doc_id AS doc,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tok,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), rec AS (
      SELECT shard, doc, n_tok, rn, CAST(0 AS BIGINT) AS bin, n_tok AS fill
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.doc, t.n_tok, t.rn,
             CASE WHEN r.fill + t.n_tok > 2048 THEN r.bin + 1
                  ELSE r.bin END,
             CASE WHEN r.fill + t.n_tok > 2048 THEN t.n_tok
                  ELSE r.fill + t.n_tok END
      FROM rec r JOIN toks t ON t.shard = r.shard AND t.rn = r.rn + 1
    )
    SELECT shard, doc, n_tok, bin FROM rec
    """,
)
def pipeline_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact first-fit greedy packing per shard — sequential semantics the
    window algebra cannot express, pinned by a recursive-CTE oracle."""
    from n2khab_mhq_data_spark.llmdata.pipeline import pack_greedy

    return pack_greedy(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source", 2048
    )


@query(
    "pipeline_stratified_sample",
    oracle="""
    SELECT stratum, doc_id, h
    FROM (
      SELECT lang AS stratum, doc_id,
             (((doc_id * 131071 + 524287) % 1000003) + 1000003) % 1000003
               AS h,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (((doc_id * 131071 + 524287) % 1000003) + 1000003)
                        % 1000003,
                        doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 25
    """,
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25-per-language stratified sample by smallest
    portable id hash — equal-size strata under any group skew."""
    from n2khab_mhq_data_spark.llmdata.pipeline import stratified_hash_sample

    return stratified_hash_sample(
        load(spark, sf_dir, "documents"), "doc_id", "lang", 25
    )


@query(
    "pipeline_weighted_sample",
    oracle="""
    SELECT doc_id,
           round(pow((((((doc_id * 131071 + 524287) % 1000003) + 1000003)
                       % 1000003) + 1.0)
                     / 1000004.0, 1.0 / n_chars) + 1e-9, 6) AS sample_key
    FROM documents
    ORDER BY pow((((((doc_id * 131071 + 524287) % 1000003) + 1000003)
                   % 1000003) + 1.0)
                 / 1000004.0, 1.0 / n_chars) DESC, doc_id
    LIMIT 50
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (Efraimidis-Spirakis A-Res keyed on
    the portable id hash): longer documents are proportionally more
    likely to be drawn, and reruns are bit-stable."""
    from n2khab_mhq_data_spark.llmdata.pipeline import weighted_hash_sample

    return weighted_hash_sample(
        load(spark, sf_dir, "documents"), "doc_id", "n_chars", 50
    )


@query(
    "pipeline_end_to_end",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ), m AS (
      SELECT doc_id, text, len(w) AS n_tokens,
             (length(text) - length(regexp_replace(text, '[.!?,;:]', '',
               'g'))) * 1.0 / nullif(length(text), 0) AS punct_ratio,
             len(list_filter(w, x -> x IN ('the','a','and','of','is')))
               * 1.0 / len(w) AS stopword_ratio
      FROM t
    ), kept AS (
      SELECT doc_id, text, n_tokens FROM m
      WHERE NOT (n_tokens < 20 OR n_tokens > 1000
                 OR punct_ratio > 0.10 OR stopword_ratio < 0.02)
    ), canon AS (
      SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
    ), final AS (
      SELECT k.doc_id, k.n_tokens,
             CASE WHEN ((((k.doc_id * 131071 + 524287) % 1000003) + 1000003)
                        % 1000003) % 100 < 80
                  THEN 'train'
                  WHEN ((((k.doc_id * 131071 + 524287) % 1000003) + 1000003)
                        % 1000003) % 100 < 90
                  THEN 'val' ELSE 'test' END AS split
      FROM kept k JOIN canon c ON k.doc_id = c.doc_id
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS token_sum
    FROM final GROUP BY 1
    """,
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-preparation flow as ONE Catalyst plan: quality
    gate -> exact dedup (canonical = lowest id per content hash) ->
    deterministic split assignment -> per-split manifest. Composing the
    operators keeps every stage optimizable together — the quality
    filter pushes below the dedup shuffle, and the split label is a
    projection on the surviving rows."""
    from pyspark.sql.window import Window as W

    from n2khab_mhq_data_spark.llmdata.pipeline import split_hash
    from n2khab_mhq_data_spark.llmdata.text import quality_metrics, tokens

    docs = load(spark, sf_dir, "documents")
    # every stage INLINE on one subtree: the factored operators
    # (quality_filter -> semi join, groupBy canon -> semi join,
    # hash_split -> join) each re-evaluate their input subtree; composed
    # as filter + window + projection the whole flow is one scan and one
    # shuffle (the md5 window), with the quality filter pushed to it
    m = quality_metrics(F.col("text"))
    kept = docs.filter(
        ~(
            (m["n_tokens"] < 20)
            | (m["n_tokens"] > 1000)
            | (m["punct_ratio"] > 0.10)
            | (m["stopword_ratio"] < 0.02)
        )
    ).select(
        "doc_id",
        "text",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    # canonical = lowest id per content hash, as a window (W2 idiom): one
    # shuffle, no join, no double evaluation
    final = kept.withColumn(
        "__canon", F.min("doc_id").over(W.partitionBy(F.md5("text")))
    ).filter(F.col("doc_id") == F.col("__canon"))
    pct = split_hash(F.col("doc_id"))
    lab = F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
    return (
        final.withColumn("split", lab)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("token_sum"),
        )
    )


@query(
    "pipeline_pack_offsets",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT source AS shard, doc_id AS doc,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tok,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), rec AS (
      SELECT shard, doc, n_tok, rn, CAST(0 AS BIGINT) AS bin, n_tok AS fill
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.doc, t.n_tok, t.rn,
             CASE WHEN r.fill + t.n_tok > 2048 THEN r.bin + 1
                  ELSE r.bin END,
             CASE WHEN r.fill + t.n_tok > 2048 THEN t.n_tok
                  ELSE r.fill + t.n_tok END
      FROM rec r JOIN toks t ON t.shard = r.shard AND t.rn = r.rn + 1
    )
    SELECT shard, bin, doc, n_tok,
           CAST(coalesce(sum(n_tok) OVER (
             PARTITION BY shard, bin ORDER BY doc
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS offset
    FROM rec
    """,
)
def pipeline_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer write plan: each doc's token offset inside its
    greedy-packed bin — pack_greedy's assignment composed with one more
    window on the same (shard, bin) partitioning, so no extra shuffle
    beyond the bin keys."""
    from pyspark.sql.window import Window as W

    from n2khab_mhq_data_spark.llmdata.pipeline import pack_greedy

    packed = pack_greedy(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source", 2048
    )
    w = (
        W.partitionBy("shard", "bin")
        .orderBy("doc")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return packed.select(
        "shard",
        "bin",
        "doc",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long")).alias(
            "offset"
        ),
    )


@query(
    "pipeline_domain_mix",
    oracle="""
    WITH rates AS (
      SELECT * FROM (VALUES ('src0', 100), ('src1', 75), ('src2', 50),
                            ('src3', 25)) AS r(source, keep_pct)
    ), hashed AS (
      SELECT doc_id, d.source,
             coalesce(r.keep_pct, 10) AS keep_pct,
             ((((doc_id * 131071 + 524287) % 1000003) + 1000003) % 1000003)
               % 100 AS pct
      FROM documents d LEFT JOIN rates r ON d.source = r.source
    )
    SELECT doc_id, source FROM hashed WHERE pct < keep_pct
    """,
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing (data-mixture weights): per-domain keep
    rates from a broadcast dimension, membership decided by the same
    portable integer hash as the train/val/test split — deterministic
    under corpus growth and retries, pure projection + broadcast join (no
    shuffle, no RNG state). Unlisted domains fall back to a 10% floor."""
    from n2khab_mhq_data_spark.catalog import local_dim
    from n2khab_mhq_data_spark.llmdata.pipeline import split_hash

    docs = load(spark, sf_dir, "documents")
    rates = local_dim(
        spark,
        [("src0", 100), ("src1", 75), ("src2", 50), ("src3", 25)],
        "source string, keep_pct int",
    )
    j = docs.join(F.broadcast(rates), "source", "left")
    keep = split_hash(F.col("doc_id")) < F.coalesce(
        F.col("keep_pct"), F.lit(10)
    )
    return j.filter(keep).select("doc_id", "source")


@query(
    "pipeline_dsir_weights",
    oracle="""
    WITH docs_ws AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id,
             source = (SELECT min(source) FROM documents) AS is_target,
             CAST(('0x' || substr(md5(t.g), 1, 15)) AS BIGINT) % 1024
               AS bucket
      FROM docs_ws,
           unnest(list_concat(
             ws,
             list_transform(range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i + 1])
           )) AS t(g)
    ), counts AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_raw,
             CAST(count(CASE WHEN is_target THEN 1 END) AS BIGINT) AS n_tgt
      FROM grams GROUP BY 1
    ), totals AS (
      SELECT CAST(sum(n_raw) AS BIGINT) AS t_raw,
             CAST(sum(n_tgt) AS BIGINT) AS t_tgt
      FROM counts
    ), model AS (
      SELECT bucket,
             ln((n_tgt + 1) / CAST(t_tgt + 1024 AS DOUBLE))
             - ln((n_raw + 1) / CAST(t_raw + 1024 AS DOUBLE)) AS logratio
      FROM counts, totals
    ), per_doc AS (
      SELECT g.doc_id, sum(m.logratio) AS logw
      FROM grams g JOIN model m USING (bucket)
      GROUP BY 1
    )
    SELECT d.doc_id,
           round(coalesce(p.logw, 0.0)
                 + sign(coalesce(p.logw, 0.0)) * 1e-9, 6) AS dsir_logweight
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): log p_target/p_raw under
    bag-of-hashed-ngrams models, target = the lexicographically first
    source shard. Model fit is one groupBy over 1024 hashed buckets (the
    model broadcasts by construction); scoring re-joins the broadcast
    model — the whole op is two corpus scans and one doc-key aggregate."""
    from n2khab_mhq_data_spark.llmdata.pipeline import dsir_logweights

    docs = load(spark, sf_dir, "documents")
    first = docs.agg(F.min("source").alias("__ms"))
    docs_t = docs.crossJoin(F.broadcast(first)).withColumn(
        "__is_t", F.col("source") == F.col("__ms")
    )
    return dsir_logweights(docs_t, "text", "doc_id", F.col("__is_t"), 1024)


@query(
    "pipeline_mix_report",
    oracle="""
    SELECT source,
           CASE WHEN ((((doc_id * 131071 + 524287) % 1000003) + 1000003)
                      % 1000003) % 100 < 80 THEN 'train'
                WHEN ((((doc_id * 131071 + 524287) % 1000003) + 1000003)
                      % 1000003) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1, 2
    """,
)
def pipeline_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-run mixture manifest: docs and tokens per source x split —
    what a training-run config reads to set sampling weights and verify
    the deterministic split didn't skew a small domain. One projection +
    one groupBy."""
    from n2khab_mhq_data_spark.llmdata.pipeline import split_hash
    from n2khab_mhq_data_spark.llmdata.text import tokens

    docs = load(spark, sf_dir, "documents")
    pct = split_hash(F.col("doc_id"))
    lab = F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
    return (
        docs.select(
            "source",
            lab.alias("split"),
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


@query(
    "pipeline_split_balance_audit",
    oracle="""
    WITH s AS (
      SELECT source,
             CASE WHEN ((((doc_id * 131071 + 524287) % 1000003) + 1000003)
                        % 1000003) % 100 < 80 THEN 'train'
                  WHEN ((((doc_id * 131071 + 524287) % 1000003) + 1000003)
                        % 1000003) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             count(*) AS n
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT source, sum(n) AS n_src FROM s GROUP BY 1
    )
    SELECT s.source, s.split,
           CAST(s.n AS BIGINT) AS n_docs,
           round(s.n * 1.0 / t.n_src + 1e-9, 6) AS observed_frac,
           CAST(CASE s.split WHEN 'train' THEN 0.8
                             WHEN 'val' THEN 0.1 ELSE 0.1 END
                AS DOUBLE) AS expected_frac,
           round(abs(s.n * 1.0 / t.n_src
                     - CASE s.split WHEN 'train' THEN 0.8
                                    WHEN 'val' THEN 0.1
                                    ELSE 0.1 END) + 1e-9, 6) AS abs_dev
    FROM s JOIN tot t USING (source)
    """,
)
def pipeline_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-fairness audit: observed vs expected 80/10/10 fraction per
    source with the absolute deviation — the check that the
    deterministic hash split didn't skew a small domain (hash splits are
    only fair in expectation; tiny sources can drift badly). Composes
    with the mixture manifest before a run."""
    from n2khab_mhq_data_spark.llmdata.pipeline import split_hash

    docs = load(spark, sf_dir, "documents")
    pct = split_hash(F.col("doc_id"))
    lab = F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test")
    s = docs.select("source", lab.alias("split")).groupBy(
        "source", "split"
    ).agg(F.count("*").alias("n"))
    from pyspark.sql.window import Window as W

    n_src = F.sum("n").over(W.partitionBy("source"))
    exp_frac = (
        F.when(F.col("split") == "train", 0.8)
        .when(F.col("split") == "val", 0.1)
        .otherwise(0.1)
    )
    obs = F.col("n") / F.col("n_src")
    return (
        s.withColumn("n_src", n_src)
        .select(
            "source",
            "split",
            F.col("n").alias("n_docs"),
            F.round(obs + F.lit(1e-9), 6).alias("observed_frac"),
            exp_frac.alias("expected_frac"),
            F.round(F.abs(obs - exp_frac) + F.lit(1e-9), 6).alias(
                "abs_dev"
            ),
        )
    )


@query(
    "pipeline_budget_waterfill",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n
      FROM documents
    ), g AS (
      SELECT source AS grp, CAST(sum(n) AS DOUBLE) AS n FROM t GROUP BY 1
    ), o AS (
      SELECT grp, n,
             row_number() OVER (ORDER BY n, grp) AS rk,
             sum(n) OVER (ORDER BY n, grp) - n AS p_before,
             count(*) OVER () AS s,
             0.5 * sum(n) OVER () AS b
      FROM g
    ), c AS (
      SELECT *, (b - p_before) / (s - rk + 1) AS lk FROM o
    ), lvl AS (SELECT max(lk) AS level FROM c WHERE lk <= n)
    SELECT grp AS source, CAST(n AS BIGINT) AS n_tokens,
           round(least(n, level) + 1e-9, 6) AS allocation,
           round(least(n, level) / n + 1e-9, 6) AS keep_rate
    FROM c, lvl
    """,
)
def pipeline_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources at half the
    corpus token count: over-represented domains are capped at a common
    level, small domains keep everything (llmdata/pipeline.py::
    budget_waterfill — closed-form window pass, no iteration; all
    planning-table work happens after the corpus-sized aggregation)."""
    from pyspark.sql.window import Window as W

    from n2khab_mhq_data_spark.llmdata.pipeline import budget_waterfill
    from n2khab_mhq_data_spark.llmdata.text import tokens

    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        "source", F.size(tokens(F.col("text"))).cast("bigint").alias("n")
    ).groupBy("source").agg(F.sum("n").alias("n_tokens"))
    full = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    budget = F.lit(0.5) * F.sum("n").over(full)
    return budget_waterfill(per, budget, "source", "n_tokens")


@query(
    "pipeline_stratified_exact_n",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 131071 + 524287) % 1000003, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def pipeline_stratified_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling: exactly min(5, |group|) docs per
    source, selected by deterministic hash order (not rate-based like
    pipeline_stratified_sample — eval sets need exact per-class counts).
    One window per source partition; the hash order makes retries and
    re-runs pick identical rows."""
    from pyspark.sql.window import Window as W

    from n2khab_mhq_data_spark.llmdata.pipeline import _id_hash

    docs = load(spark, sf_dir, "documents")
    h = _id_hash(F.col("doc_id"))
    w = W.partitionBy("source").orderBy(h, "doc_id")
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "source")
    )


@query(
    "pipeline_temperature_mix",
    oracle=r"""
    WITH per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), z AS (
      SELECT sum(power(CAST(n_tokens AS DOUBLE), 0.7)) AS z FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           round(power(CAST(n_tokens AS DOUBLE), 0.7) / (SELECT z FROM z)
                 + 1e-9, 6) AS weight,
           CAST(floor(power(CAST(n_tokens AS DOUBLE), 0.7)
                      / (SELECT z FROM z) * 10000) AS BIGINT) AS alloc_docs
    FROM per_src
    """,
)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual-sampling
    standard, tau=0.7): per-source sampling weight w_s = c_s^tau / sum
    c^tau over token counts, plus the implied doc allocation for a 10k
    budget. Upstream of pipeline_domain_mix (which APPLIES given rates)
    and the waterfill allocator (which CAPS by per-source supply): this
    op DERIVES the rates. One map-side-combinable shuffle for the
    per-source counts; the partition-function scalar is a 1-row
    broadcast; both engines evaluate pow via libm on identical doubles
    (the text_tfidf_topk ln precedent)."""
    from n2khab_mhq_data_spark.llmdata.text import tokens

    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("n_tokens"),
    )
    wpow = F.pow(F.col("n_tokens").cast("double"), F.lit(0.7))
    z = per_src.agg(
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(0.7))).alias("z")
    )
    return per_src.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(wpow / F.col("z") + F.lit(1e-9), 6).alias("weight"),
        F.floor(wpow / F.col("z") * 10000).cast("bigint").alias("alloc_docs"),
    )


def _snapshot_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per customer-parquet fingerprint) a two-version
    snapshot store so the AS-OF query has deterministic history:
    v1 = customers with c_custkey % 3 = 0; v2 = c_custkey % 3 <= 1 —
    both derivable arithmetically by the oracle."""
    from n2khab_mhq_data_spark.sources.snapshots import write_snapshot

    fp = _table_fingerprint(sf_dir, "customer")

    def build(tmp: str) -> None:
        base = load(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        write_snapshot(base.filter(F.col("c_custkey") % 3 == 0), tmp)
        write_snapshot(base.filter(F.col("c_custkey") % 3 <= 1), tmp)

    return _scratch_build(
        f"/root/repo/.scale/snapshots/customers_{fp}", build,
        require="_manifests",
    )


@query(
    "s8_snapshot_asof",
    oracle="""
    SELECT 1 AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS sum_key,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
    FROM customer WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT 2,
           CAST(count(*) AS BIGINT),
           CAST(sum(c_custkey) AS BIGINT),
           CAST(count(DISTINCT c_nationkey) AS BIGINT)
    FROM customer WHERE c_custkey % 3 <= 1
    """,
)
def s8_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel end-to-end (sources/snapshots.py — the
    100 TB analog of the reference's publish-then-commit versioning,
    README.md:1-6): two snapshot versions are published append-only
    with atomic manifests, then EACH version is read back AS OF its
    number and aggregated. A hash match proves version isolation (v1's
    read is untouched by v2's publish) and the manifest-gated read
    path; the per-version content hashes are additionally re-verified
    against their manifests inside the query (verify_snapshot raises
    on drift). Old-version data is never rewritten — publishes create
    new directories and retention is whole-directory deletes."""
    from n2khab_mhq_data_spark.sources.snapshots import (
        read_snapshot,
        verify_snapshot,
    )

    path = _snapshot_store(spark, sf_dir)
    outs = []
    for v in (1, 2):
        verify_snapshot(spark, path, v)
        outs.append(
            read_snapshot(spark, path, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count("*").alias("n_rows"),
                F.sum("c_custkey").cast("bigint").alias("sum_key"),
                F.countDistinct("c_nationkey").alias("n_nations"),
            )
        )
    return outs[0].unionByName(outs[1])


def _merge_store(spark: SparkSession, sf_dir: str) -> str:
    """Two-version store built with MERGE-publish: v1 = customers with
    c_custkey % 3 = 0 (rev 1); v2 = v1 upserted with a delta that
    UPDATES the % 6 = 0 keys (c_nationkey + 100, rev 2) and INSERTS the
    % 3 = 1 keys — all arithmetic, so the oracle replays the merge."""
    from n2khab_mhq_data_spark.sources.snapshots import (
        merge_snapshot,
        write_snapshot,
    )

    fp = _table_fingerprint(sf_dir, "customer")

    def build(tmp: str) -> None:
        base = load(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        v1 = base.filter(F.col("c_custkey") % 3 == 0).withColumn(
            "rev", F.lit(1)
        )
        write_snapshot(v1, tmp)
        updates = base.filter(F.col("c_custkey") % 6 == 0).select(
            "c_custkey",
            (F.col("c_nationkey") + 100).alias("c_nationkey"),
            F.lit(2).alias("rev"),
        )
        inserts = base.filter(F.col("c_custkey") % 3 == 1).withColumn(
            "rev", F.lit(2)
        )
        merge_snapshot(
            tmp,
            updates.unionByName(inserts),
            ["c_custkey"],
            [F.col("rev").desc()],
        )

    return _scratch_build(
        f"/root/repo/.scale/snapshots/customers_merge_{fp}", build,
        require="_manifests",
    )


@query(
    "s8_snapshot_merge",
    oracle="""
    SELECT 1 AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS sum_key,
           CAST(sum(c_nationkey) AS BIGINT) AS sum_val
    FROM customer WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(c_custkey) AS BIGINT),
           CAST(sum(CASE WHEN c_custkey % 6 = 0 THEN c_nationkey + 100
                         ELSE c_nationkey END) AS BIGINT)
    FROM customer WHERE c_custkey % 3 <= 1
    """,
)
def s8_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-publish on the snapshot store (sources/snapshots.py::
    merge_snapshot — the K10 latest-wins upsert composed with the
    append-only version log): the delta both updates and inserts; the
    result lands as a NEW version while the parent stays readable AS OF
    its number. The query reads BOTH versions back and hash-checks
    their aggregates against an oracle that replays the upsert
    arithmetically — update-wins, insert-union, and parent isolation
    all verified in one result."""
    from n2khab_mhq_data_spark.sources.snapshots import read_snapshot

    path = _merge_store(spark, sf_dir)
    outs = []
    for v in (1, 2):
        outs.append(
            read_snapshot(spark, path, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count("*").alias("n_rows"),
                F.sum("c_custkey").cast("bigint").alias("sum_key"),
                F.sum("c_nationkey").cast("bigint").alias("sum_val"),
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "s8_snapshot_diff",
    oracle="""
    SELECT c_custkey, 'update' AS op FROM customer
    WHERE c_custkey % 6 = 0
    UNION ALL
    SELECT c_custkey, 'insert' FROM customer
    WHERE c_custkey % 3 = 1
    """,
)
def s8_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data feed between snapshot versions (sources/
    snapshots.py::snapshot_diff): the v1 -> v2 diff of the MERGE store
    must surface exactly the upsert's updates (% 6 = 0 keys, whose
    value hash changed) and inserts (% 3 = 1 keys) and nothing else —
    the oracle replays the delta's key arithmetic. One key shuffle
    (full outer join of the two immutable versions' key+hash
    projections); no row-level history is stored anywhere."""
    from n2khab_mhq_data_spark.sources.snapshots import snapshot_diff

    path = _merge_store(spark, sf_dir)
    return snapshot_diff(spark, path, 1, 2, ["c_custkey"])


def _optimize_store(spark: SparkSession, sf_dir: str) -> str:
    """One-version store (customers with c_custkey % 4 = 0 over many
    small files) plus its OPTIMIZE/ZORDER-compacted child — built once
    per customer fingerprint so the version log stays deterministic."""
    from n2khab_mhq_data_spark.sources.snapshots import (
        optimize_snapshot,
        write_snapshot,
    )

    fp = _table_fingerprint(sf_dir, "customer")

    def build(tmp: str) -> None:
        base = (
            load(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") % 4 == 0)
            .select("c_custkey", "c_nationkey", "c_acctbal")
            .repartition(16)  # deliberately fragmented pre-compaction
        )
        write_snapshot(base, tmp)
        optimize_snapshot(
            spark, tmp, n_files=2, zorder_cols=["c_nationkey", "c_custkey"]
        )

    return _scratch_build(
        f"/root/repo/.scale/snapshots/customers_opt_{fp}", build,
        require="_manifests",
    )


@query(
    "s8_snapshot_optimize",
    oracle="""
    SELECT CAST(v.version AS INTEGER) AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS sum_key,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
    FROM customer, (SELECT unnest(range(1, 3)) AS version) v
    WHERE c_custkey % 4 = 0
    GROUP BY v.version
    """,
)
def s8_snapshot_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE/ZORDER compaction, driver-visible: v2 is v1 rewritten
    from 16 fragments into 2 Morton-clustered files; the query reads
    BOTH versions back and aggregates them — identical rows per version
    (the oracle emits the same aggregate for version 1 and 2) prove the
    re-layout preserved content, and optimize_snapshot itself has
    already asserted manifest-hash equality (a drifting rewrite rolls
    back before becoming readable). verify_snapshot re-checks both
    stored versions against their manifests inside the query."""
    from n2khab_mhq_data_spark.sources.snapshots import (
        read_snapshot,
        verify_snapshot,
    )

    path = _optimize_store(spark, sf_dir)
    outs = []
    for v in (1, 2):
        verify_snapshot(spark, path, v)
        outs.append(
            read_snapshot(spark, path, v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count("*").alias("n_rows"),
                F.sum("c_custkey").cast("bigint").alias("sum_key"),
                F.countDistinct("c_nationkey").alias("n_nations"),
            )
        )
    return outs[0].unionByName(outs[1])


def _orc_store(spark: SparkSession, sf_dir: str) -> str:
    """Fingerprinted scratch ORC export of the documents table —
    rebuilt only when the source parquet changes (same contract as
    ``_jsonl_store``)."""
    fp = _table_fingerprint(sf_dir, "documents")

    def build(tmp: str) -> None:
        (
            load(spark, sf_dir, "documents")
            .repartition(8, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .orc(tmp)
        )

    return _scratch_build(f"/root/repo/.scale/orc/documents_{fp}", build)


@query(
    "s12_orc_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents "
           "WHERE n_chars >= 200",
)
def s12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar export/import round-trip — the second columnar
    interchange format next to parquet (JSONL covers the text side,
    S11). The documents table is written as zstd ORC (8 hash shards,
    sorted within shard so stripe min/max stats are tight) and read
    back through Spark's vectorized ORC reader with a pushed
    ``n_chars >= 200`` predicate — stripe-level skipping exercises the
    same pruning contract the parquet scans rely on. The hash match
    against the parquet-sourced oracle proves the round-trip is
    lossless for longs and full UTF-8 text."""
    path = _orc_store(spark, sf_dir)
    return (
        spark.read.orc(path)
        .filter(F.col("n_chars") >= 200)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


@query(
    "s8_snapshot_ivm",
    oracle="""
    SELECT CASE WHEN c_custkey % 6 = 0 THEN c_nationkey + 100
                ELSE c_nationkey END AS nation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS sum_key
    FROM customer WHERE c_custkey % 3 <= 1
    GROUP BY 1
    """,
)
def s8_snapshot_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance from the snapshot change feed: a
    per-nation (count, sum) view materialized at v1 is advanced to v2
    by DELTA ALGEBRA over ``snapshot_changes`` — retract each changed
    row's old contribution, add its new one — WITHOUT rescanning v2.
    The merge delta's updates shift c_nationkey by +100, so maintained
    rows MOVE BETWEEN groups: the retraction leg and the insertion leg
    both carry weight, and groups emptied by the move must vanish
    (count > 0 filter). The oracle recomputes the v2 view from scratch
    arithmetically, so IVM == full recompute is hash-checked. At
    100 TB this is the point of a change feed: maintenance cost scales
    with |delta| (one key shuffle + one group shuffle over changed rows
    only), not with the table."""
    from n2khab_mhq_data_spark.sources.snapshots import snapshot_changes

    from n2khab_mhq_data_spark.sources.snapshots import read_snapshot

    path = _merge_store(spark, sf_dir)
    # the materialized view as of v1, computed from the STORE (not from
    # the source table) — maintenance must start from what was published
    base = (
        read_snapshot(spark, path, 1)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("c_custkey").cast("long").alias("s"),
        )
    )
    ch = snapshot_changes(spark, path, 1, 2, ["c_custkey"])
    minus = ch.filter(F.col("op").isin("update", "delete")).select(
        F.col("old_c_nationkey").alias("nation"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("c_custkey")).cast("long").alias("ds"),
    )
    plus = ch.filter(F.col("op").isin("update", "insert")).select(
        F.col("new_c_nationkey").alias("nation"),
        F.lit(1).cast("long").alias("dn"),
        F.col("c_custkey").cast("long").alias("ds"),
    )
    delta = (
        minus.unionByName(plus)
        .groupBy("nation")
        .agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds"))
    )
    out = (
        base.join(delta, "nation", "full_outer")
        .select(
            "nation",
            (
                F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))
            ).alias("s_key"),
        )
        .filter(F.col("n_rows") > 0)
    )
    return out.select(
        F.col("nation").cast("long").alias("nation"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("s_key").cast("long").alias("sum_key"),
    )


def _hive_partitioned_store(spark: SparkSession, sf_dir: str) -> str:
    """Fingerprinted scratch copy of orders hive-partitioned by order
    month — rebuilt only when the source parquet changes (the
    _jsonl_store lifecycle)."""
    fp = _table_fingerprint(sf_dir, "orders")

    def build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        (
            o.repartition("o_month")
            .write.partitionBy("o_month")
            .mode("overwrite")
            .parquet(tmp)
        )

    return _scratch_build(f"/root/repo/.scale/hive/orders_{fp}", build)


@query(
    "s13_hive_partition_prune",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) / 100.0 + 1e-9, 2) AS month_revenue
    FROM orders
    WHERE o_orderdate >= DATE '1996-03-01'
      AND o_orderdate < DATE '1996-06-01'
    GROUP BY 1
    """,
)
def s13_hive_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned store write + partition-PRUNED read: orders are
    laid out by o_month (one directory per month — the storage layout a
    100 TB fact table ships with), and the 3-month query filters ON THE
    PARTITION COLUMN so the scan opens only 3 directories
    (PartitionFilters, asserted with inputFiles in pytest). A loud
    in-plan guard raises if any row outside the window survives, so a
    mislaid partition can never pass silently. The oracle recomputes
    from the unpartitioned source — layout must not change results."""
    path = _hive_partitioned_store(spark, sf_dir)
    df = spark.read.parquet(path).filter(
        (F.col("o_month") >= "1996-03") & (F.col("o_month") < "1996-06")
    )
    guard = F.when(
        (F.col("o_month") < "1996-03") | (F.col("o_month") >= "1996-06"),
        F.raise_error(F.lit("partition outside the pruned window"))
    ).otherwise(F.col("o_month"))
    return df.groupBy(guard.alias("o_month")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long") / 100.0 + F.lit(1e-9), 2,
        ).alias("month_revenue"),
    )


@query(
    "s15_parquet_footer_stats",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS total_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey
    FROM lineitem
    """,
)
def s15_parquet_footer_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARQUET FOOTER scan as a queryable surface — row counts and
    l_orderkey zone maps read from the file METADATA ONLY (pyarrow
    thrift decode; zero data pages touched), reduced to the table
    totals. The differential oracle recomputes the same totals FROM
    THE DATA, so the check is a real zone-map INTEGRITY audit: a
    writer that mis-stamps min/max or drops rows between footer and
    pages fails the hash compare. This is the lake-ops primitive
    behind compaction planning and pruning audits: at 100 TB footers
    are gigabytes while data is not re-readable, and this plan's only
    input is the path list (parallelized over executors via
    mapInPandas; at real scale the list comes from the catalog
    manifest the planner already holds — same contract). Per-row-group
    detail stays available from the same kernel; the registered
    reduction keeps every output column data-verifiable."""
    import glob as _glob
    import os

    root = os.path.join(sf_dir, "lineitem.parquet")
    paths = sorted(_glob.glob(os.path.join(root, "*.parquet"))) or [root]
    pathdf = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(min(len(paths), 32))

    def op(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                idx = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }["l_orderkey"]
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    st = rg.column(idx).statistics
                    out.append(
                        (
                            os.path.basename(p),
                            g,
                            rg.num_rows,
                            int(st.min),
                            int(st.max),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "file", "row_group", "n_rows", "min_orderkey",
                    "max_orderkey",
                ],
            )

    footer = pathdf.mapInPandas(
        op,
        "file string, row_group int, n_rows bigint, "
        "min_orderkey bigint, max_orderkey bigint",
    )
    return footer.agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.min("min_orderkey").cast("long").alias("min_orderkey"),
        F.max("max_orderkey").cast("long").alias("max_orderkey"),
    )


def _drift_csv_store(spark: SparkSession, sf_dir: str) -> str:
    """Fingerprinted scratch store simulating SCHEMA DRIFT across CSV
    ingestion batches: batch_a (legacy) carries (o_orderkey,
    o_totalprice) for pre-1995 orders; batch_b adds the
    o_orderpriority column for 1995+ orders — the additive-column
    drift every long-lived feed accumulates. Deterministic content
    (sorted by key, fixed 2-decimal prices), one file per batch."""
    import csv as _csv
    import os

    fp = _table_fingerprint(sf_dir, "orders")

    def build(tmp: str) -> None:
        rows = (
            load(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                F.year("o_orderdate").alias("y"),
                F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
                "o_orderpriority",
            )
            .orderBy("o_orderkey")
            .collect()
        )
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "batch_a.csv"), "w", newline="") as fa:
            wa = _csv.writer(fa)
            wa.writerow(["o_orderkey", "o_totalprice"])
            with open(
                os.path.join(tmp, "batch_b.csv"), "w", newline=""
            ) as fb:
                wb = _csv.writer(fb)
                wb.writerow(
                    ["o_orderkey", "o_totalprice", "o_orderpriority"]
                )
                for r in rows:
                    if r["y"] < 1995:
                        wa.writerow([r["o_orderkey"], r["p"]])
                    else:
                        wb.writerow(
                            [r["o_orderkey"], r["p"], r["o_orderpriority"]]
                        )

    return _scratch_build(
        f"/root/repo/.scale/csv_drift/orders_{fp}", build
    )


@query(
    "s16_csv_schema_drift",
    oracle="""
    SELECT CASE WHEN year(o_orderdate) >= 1995 THEN o_orderpriority END
             AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) / 100.0 + 1e-9, 2) AS revenue
    FROM orders GROUP BY 1
    """,
)
def s16_csv_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-DRIFT CSV ingestion: two feed batches with different
    column sets (the later batch added a column) are read with
    explicit per-batch schemas, conformed by name with missing-column
    tolerance, and aggregated — the unionByName(allowMissingColumns)
    + try_cast recipe the reference's versioned-TSV reader family
    (SURVEY S5/S6) needs the day the upstream adds a field. Legacy
    rows surface with a NULL in the new column, never a silent
    positional shift. The oracle recomputes the same result from the
    base orders table, so a mis-aligned read fails the hash compare.
    Plan: two parallel CSV scans + union + ONE bounded-domain groupBy
    (priority has 5 values + NULL)."""
    store = _drift_csv_store(spark, sf_dir)
    a = spark.read.csv(
        f"{store}/batch_a.csv",
        header=True,
        schema="o_orderkey bigint, o_totalprice decimal(18,2)",
    )
    b = spark.read.csv(
        f"{store}/batch_b.csv",
        header=True,
        schema=(
            "o_orderkey bigint, o_totalprice decimal(18,2), "
            "o_orderpriority string"
        ),
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).cast("long")
            / 100.0
            + F.lit(1e-9),
            2,
        ).alias("revenue"),
    )


@query(
    "s17_partition_skew_report",
    oracle="""
    WITH parts AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_rows) AS DOUBLE) AS t,
             CAST(count(*) AS BIGINT) AS np
      FROM parts
    )
    SELECT CAST(max(np) AS BIGINT) AS n_partitions,
           CAST(min(n_rows) AS BIGINT) AS min_rows,
           CAST(max(n_rows) AS BIGINT) AS max_rows,
           round(max(n_rows) / (max(t) / max(np)) + 1e-9, 4)
             AS max_skew_ratio,
           round(max(n_rows) * 1.0 / min(n_rows) + 1e-9, 4)
             AS max_min_ratio
    FROM parts, tot
    """,
)
def s17_partition_skew_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-SKEW report over the hive-partitioned store (the s13
    layout): per-partition row counts reduced to the skew ratios a
    compaction/repartition planner acts on — max partition vs the
    uniform share, and max/min spread. This is the lake-ops
    observability pass that decides WHEN to rewrite a layout (the
    spatial_zorder_layout decision input), reading the PARTITIONED
    STORE itself so partition pruning and directory layout are what's
    being measured; the oracle recomputes the same census from the
    base table, so a store that dropped or duplicated a partition
    fails the hash compare. Plan: one store scan -> month groupBy
    (calendar-bounded) -> 1-row reduce."""
    store = _hive_partitioned_store(spark, sf_dir)
    parts = (
        spark.read.parquet(store)
        .groupBy("o_month")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )
    tot = parts.agg(
        F.sum("n_rows").cast("double").alias("t"),
        F.count("*").cast("long").alias("np"),
    )
    return parts.crossJoin(F.broadcast(tot)).agg(
        F.max("np").cast("long").alias("n_partitions"),
        F.min("n_rows").cast("long").alias("min_rows"),
        F.max("n_rows").cast("long").alias("max_rows"),
        F.round(
            F.max("n_rows") / (F.max("t") / F.max("np")) + F.lit(1e-9),
            4,
        ).alias("max_skew_ratio"),
        F.round(
            F.max("n_rows") * 1.0 / F.min("n_rows") + F.lit(1e-9), 4
        ).alias("max_min_ratio"),
    )


def _quarantine_csv_store(spark: SparkSession, sf_dir: str) -> str:
    """Fingerprinted scratch CSV feed with DETERMINISTIC corruption:
    every order whose key is divisible by 97 is written with garbage
    in the price field (unparseable under the declared schema) — the
    malformed-row population a quarantine pipeline must isolate
    without failing the load."""
    import csv as _csv
    import os

    fp = _table_fingerprint(sf_dir, "orders")

    def build(tmp: str) -> None:
        rows = (
            load(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
            )
            .orderBy("o_orderkey")
            .collect()
        )
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "feed.csv"), "w", newline="") as f:
            w = _csv.writer(f)
            w.writerow(["o_orderkey", "o_totalprice"])
            for r in rows:
                if r["o_orderkey"] % 97 == 0:
                    w.writerow([r["o_orderkey"], "#ERR#"])
                else:
                    w.writerow([r["o_orderkey"], r["p"]])

    return _scratch_build(
        f"/root/repo/.scale/csv_quarantine/orders_{fp}", build
    )


@query(
    "s18_csv_malformed_quarantine",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN o_orderkey % 97 = 0 THEN 1 END)
                AS BIGINT) AS n_quarantined,
           round(CAST(sum(CASE WHEN o_orderkey % 97 != 0
                          THEN CAST(round(o_totalprice * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT) / 100.0 + 1e-9, 2)
             AS clean_revenue,
           CAST(min(CASE WHEN o_orderkey % 97 = 0 THEN o_orderkey END)
                AS BIGINT) AS first_quarantined_key
    FROM orders
    """,
)
def s18_csv_malformed_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MALFORMED-ROW QUARANTINE on CSV ingestion: the feed carries
    deterministically corrupted rows (garbage in a typed column);
    the read runs PERMISSIVE with a corrupt-record column, so the
    load NEVER fails — bad rows are counted and keyed for the
    quarantine table while clean rows aggregate normally (the
    poison-pill isolation every production feed needs; FAILFAST is
    the outage, silent DROPMALFORMED is the worse outage). The
    oracle recomputes the expected quarantine census from the base
    table, so a read that silently dropped or mis-parsed a row fails
    the hash compare. Plan: one CSV scan, one 1-row reduce."""
    store = _quarantine_csv_store(spark, sf_dir)
    df = spark.read.csv(
        f"{store}/feed.csv",
        header=True,
        schema=(
            "o_orderkey bigint, o_totalprice decimal(18,2), "
            "_corrupt string"
        ),
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
        enforceSchema=True,
    )
    bad = F.col("_corrupt").isNotNull()
    clean_cents = F.when(
        ~bad, F.round(F.col("o_totalprice") * 100).cast("long")
    ).otherwise(0)
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count(F.when(bad, 1)).cast("long").alias("n_quarantined"),
        F.round(
            F.sum(clean_cents).cast("long") / 100.0 + F.lit(1e-9), 2
        ).alias("clean_revenue"),
        F.min(F.when(bad, F.col("o_orderkey"))).cast("long").alias(
            "first_quarantined_key"
        ),
    )
