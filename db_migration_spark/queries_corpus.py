"""Declared queries for the corpus-preparation operators
(operators/corpus.py): self-trained bigram-LM perplexity scoring,
frequent-span boilerplate scrubbing, sequence packing, deterministic
stratified splits, canonical-URL dedup — the remaining standard passes of
a pre-training data pipeline, each with an exact DuckDB oracle.

URL inputs are planted deterministically from ``doc_id`` (the documents
table carries no URLs), the same pattern the PII query uses: both engines
plant identical strings, so canonicalization semantics are inside the
correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import corpus as C


def _dsir_top50(w: DataFrame) -> DataFrame:
    """The ONE definition of the DSIR selection tail (top-50 by weight,
    doc_id tie-break, rank window applied to the 50 survivors only) so
    the batch and streamed-MV queries cannot drift from ORACLE_DSIR."""
    from pyspark.sql import Window

    top = w.orderBy(F.desc("w_micro"), "doc_id").limit(50)
    rw = Window.orderBy(F.desc("w_micro"), "doc_id")
    return top.select(
        F.row_number().over(rw).cast("int").alias("rank"),
        "doc_id",
        "lang",
        "n_bigrams",
        "w_micro",
    )


def q_corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/corpus.py ``dsir_weights``): rank
    every document by its hashed-bigram importance weight toward the
    English slice as target, and keep the deterministic top-50 — the
    importance-resampling pass a pre-training mix runs to pull
    target-like data out of a raw crawl.  Weights are associative
    BIGINT sums of per-bucket micro-nat log-ratios under the portable
    md5 bucket hash, so set AND order reproduce exactly; the top-k is
    orderBy+limit (TakeOrderedAndProject — no global sort shuffle at
    scale) with the rank window applied to the 50 survivors only."""
    docs = load_table(spark, sf_dir, "documents")
    return _dsir_top50(C.dsir_weights(docs, F.col("lang") == "en"))


_DSIR_CTES = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
), occ AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(bg), 1, 8))::UBIGINT % 256 AS BIGINT) AS b
  FROM (SELECT doc_id, lang,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM toks WHERE len(toks) >= 2)
), stats AS (
  SELECT b, count(*) AS rc,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc
  FROM occ GROUP BY 1
), tot AS (
  SELECT CAST(sum(rc) AS BIGINT) AS r_tot,
         CAST(sum(tc) AS BIGINT) AS t_tot
  FROM stats
), lr AS (
  SELECT b,
         CAST(floor(1000000.0 * ln(
             ((tc + 1)::DOUBLE * (r_tot + 256)::DOUBLE)
             / ((rc + 1)::DOUBLE * (t_tot + 256)::DOUBLE)) + 0.5)
           AS BIGINT) AS lr_micro
  FROM stats CROSS JOIN tot
), w AS (
  SELECT doc_id, lang, count(*) AS n_bigrams,
         CAST(sum(lr_micro) AS BIGINT) AS w_micro
  FROM occ JOIN lr USING (b)
  GROUP BY 1, 2
)"""

ORACLE_DSIR = (
    _DSIR_CTES
    + """
SELECT rank, doc_id, lang, n_bigrams, w_micro FROM (
  SELECT CAST(row_number() OVER (ORDER BY w_micro DESC, doc_id) AS INTEGER)
           AS rank, *
  FROM w) WHERE rank <= 50
"""
)

ORACLE_DSIR_RESAMPLE = (
    _DSIR_CTES
    + """
, keyed AS (
  SELECT doc_id, lang, w_micro,
         w_micro + CAST(floor(1000000.0 * (
             -ln(-ln((('0x' || substr(md5('g' || CAST(doc_id AS VARCHAR)),
                       1, 13))::UBIGINT + 1)
                     / 4503599627370498.0))
           ) + 0.5) AS BIGINT) AS key_micro
  FROM w
)
SELECT rank, doc_id, lang, w_micro, key_micro FROM (
  SELECT CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id)
              AS INTEGER) AS rank, *
  FROM keyed) WHERE rank <= 50
"""
)


def q_corpus_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's ACTUAL selection rule — Gumbel-top-k importance
    resampling (sampling without replacement with probability ∝ the
    importance weight; Vieira's Gumbel-max trick, the step
    corpus_dsir_select takes at zero temperature): key = log ŵ + G
    with G ~ Gumbel(0,1), take the top-50 keys.  The "noise" is
    deterministic — G is derived from the md5 of the doc_id through
    the inverse-CDF −ln(−ln(u)) with u the 52-bit hash mapped into
    (0,1) — so the sample is reproducible across engines AND runs
    (the seeded-sampling discipline sample_deterministic established),
    and both sides quantize log-weight and noise to the SAME micro-nat
    scale before the integer addition that forms the key.  Plan: the
    weight pass is dsir_weights unchanged; the key is one hash
    expression per doc and the top-k is orderBy+limit."""
    docs = load_table(spark, sf_dir, "documents")
    w = C.dsir_weights(docs, F.col("lang") == "en")
    keyed = C.dsir_gumbel_key(w).select(
        "doc_id", "lang", "w_micro", "key_micro"
    )
    from pyspark.sql import Window

    top = keyed.orderBy(F.desc("key_micro"), "doc_id").limit(50)
    rw = Window.orderBy(F.desc("key_micro"), "doc_id")
    return top.select(
        F.row_number().over(rw).cast("int").alias("rank"),
        "doc_id",
        "lang",
        "w_micro",
        "key_micro",
    )


def _ensure_stream_dsir_mv(spark: SparkSession, sf_dir: str):
    """Streaming DSIR distribution fit: each micro-batch of documents
    folds its (b, rc, tc) bucket counts into a txlog MV through the
    serializable ``merge`` primitive with a per-batch txn identity —
    counts are associative integers, so the MV after the drain equals
    the direct one-pass fit bucket-for-bucket.  Batch 0 is
    adversarially replayed after the drain (must be a txn no-op).  At
    100 TB the per-batch work is one conditional-sum aggregate over
    the batch plus a rewrite of a ≤256-row table; scored corpora never
    re-fit the distribution."""
    from .operators.corpus import dsir_bucket_stats, dsir_occurrences
    from .queries_dedupstore import _docs_stream
    from .queries_e2e import _fx
    from .queries_shared import fold_mv

    return fold_mv(
        spark, _fx(sf_dir, "txlog_stream_dsir_mv"),
        lambda: _docs_stream(spark, sf_dir).select("doc_id", "lang", "text"),
        lambda df: dsir_bucket_stats(dsir_occurrences(df), F.col("lang") == "en"),
        lambda df: df.groupBy("b").agg(
            F.sum("rc").alias("rc"), F.sum("tc").alias("tc")
        ),
        "dsir_mv",
        lambda: load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 50
        ),
    )


def q_stream_dsir_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR top-50 selection served from the STREAMED bucket-stats MV
    (_ensure_stream_dsir_mv) — the log-ratio dim comes from the MV,
    never from a direct fit.  The oracle is ORACLE_DSIR verbatim
    (direct one-pass fit), so the hash gate proves the incremental
    folds converged to exactly the batch distribution AND the sink was
    exactly-once — any dropped, doubled, or replay-leaked batch shifts
    some bucket's counts and with them the micro-nat weights."""
    from .operators.corpus import dsir_occurrences, dsir_weights_from_stats

    t = _ensure_stream_dsir_mv(spark, sf_dir)
    stats = t.read(spark).select("b", "rc", "tc")
    occ = dsir_occurrences(load_table(spark, sf_dir, "documents"))
    return _dsir_top50(dsir_weights_from_stats(occ, stats))


def q_text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity filter over ``documents`` (operators/corpus.py
    ``lm_score``): the CCNet-style quality knob, self-trained on the corpus
    so it ships no external model artifact."""
    return C.lm_score(load_table(spark, sf_dir, "documents"))


ORACLE_LM_PPL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
  FROM toks
), pairs AS (
  SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg
), c2 AS (
  SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1
), v AS (
  SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM toks)
), scored AS (
  SELECT p.doc_id, ln(c1.c1 + v.v) - ln(c2.c2 + 1) AS nll
  FROM pairs p JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(avg(nll), 6) AS avg_nll,
       round(exp(avg(nll)), 6) AS ppl
FROM scored GROUP BY doc_id
"""


def q_text_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-3-gram span removal over ``documents`` (operators/corpus.py
    ``scrub_frequent_ngrams``, df ≥ 5) — the C4 repeated-line / duplicate-
    substring boilerplate pass at n-gram granularity."""
    return C.scrub_frequent_ngrams(
        load_table(spark, sf_dir, "documents"), k=3, min_df=5
    )


ORACLE_SCRUB = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT * FROM toks WHERE len(toks) > 0
), pos AS (
  SELECT doc_id, p.s AS s, p.g AS g FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 3 + 2),
                  i -> struct_pack(s := i, g := array_to_string(list_slice(toks, i, i + 2), ' ')))) AS p
    FROM base WHERE len(toks) >= 3
  )
), freq AS (
  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM pos GROUP BY g)
  WHERE df >= 5
), starts AS (
  SELECT doc_id, list(DISTINCT s) AS starts FROM pos JOIN freq USING (g) GROUP BY doc_id
), joined AS (
  SELECT b.doc_id, b.toks, coalesce(s.starts, CAST([] AS BIGINT[])) AS st
  FROM base b LEFT JOIN starts s USING (doc_id)
), rebuilt AS (
  SELECT doc_id, toks,
         list_filter(range(1, len(toks) + 1),
                     t -> len(list_filter(st, x -> x <= t AND t < x + 3)) = 0) AS kept
  FROM joined
)
SELECT doc_id,
       CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       array_to_string(list_transform(kept, i -> toks[i]), ' ') AS clean_text
FROM rebuilt
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing manifest over ``documents``
    (operators/corpus.py ``pack_manifest``, seq_len=512): which piece of
    which document lands where in each fixed-length training sequence.
    The prefix sum is a two-level scan — no corpus-sized single-task
    stage (the oracle, single-node, uses a plain global window)."""
    return C.pack_manifest(
        load_table(spark, sf_dir, "documents"), seq_len=512, bucket_size=64
    )


ORACLE_PACK = r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS s
  FROM d WHERE n_tok > 0
), spans AS (
  SELECT doc_id, s, s + n_tok AS e FROM c
), pieces AS (
  SELECT doc_id, s, e, unnest(range(s // 512, (e - 1) // 512 + 1)) AS seq_id FROM spans
)
SELECT seq_id, doc_id,
       greatest(s, seq_id * 512) - s AS doc_offset,
       greatest(s, seq_id * 512) - seq_id * 512 AS seq_offset,
       least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS seg_len
FROM pieces
"""


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash train/val/test split over ``documents``
    (operators/corpus.py ``split_assign``) — map-only, stable under
    repartition and corpus growth."""
    return C.split_assign(load_table(spark, sf_dir, "documents"))


ORACLE_SPLIT = """
SELECT doc_id, lang,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'val'
            ELSE 'train' END AS split
FROM documents
"""


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup: deterministic messy URLs (mixed-case host,
    default port, www, fragment, utm/ref tracking params) planted from
    ``doc_id``, canonicalized with portable expressions
    (operators/corpus.py ``canonical_url``), grouped to survivors."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.format_string(
        "HTTPS://WWW.Example%d.COM:443/cat%d/item?utm_source=feed&ref=%d&id=%d#s%d",
        F.col("doc_id") % 7,
        F.col("doc_id") % 40,
        F.col("doc_id") % 3,
        F.col("doc_id") % 20,
        F.col("doc_id"),
    )
    return C.url_dedup(docs.select("doc_id", url.alias("url")))


ORACLE_URL_DEDUP = r"""
WITH planted AS (
  SELECT doc_id,
         'HTTPS://WWW.Example' || (doc_id % 7) || '.COM:443/cat' || (doc_id % 40)
         || '/item?utm_source=feed&ref=' || (doc_id % 3) || '&id=' || (doc_id % 20)
         || '#s' || doc_id AS url
  FROM documents
), stripped AS (
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM planted
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_replace(regexp_replace(
           lower(regexp_extract(u, '^[A-Za-z]+://([^/]+)', 1)), '^www\.', ''), ':443$', '') AS host,
         regexp_extract(u, '^[A-Za-z]+://[^/]+(.*)$', 1) AS pq
  FROM stripped
), canon AS (
  SELECT doc_id,
         scheme || '://' || host || regexp_extract(pq, '^([^?]*)', 1) ||
         CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END AS canon_url
  FROM (
    SELECT doc_id, scheme, host, pq,
           list_sort(list_filter(string_split(regexp_extract(pq, '\?(.*)$', 1), '&'),
                     p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|ref)='))) AS params
    FROM parts
  )
)
SELECT canon_url, min(doc_id) AS keeper_doc_id, CAST(count(*) AS BIGINT) AS n_docs
FROM canon GROUP BY canon_url
"""


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level keep-first dedup over ``documents``
    (operators/corpus.py ``chunk_dedup``, 32-word chunks): ExactSubstr-style
    — the first occurrence of a chunk survives, later re-occurrences are
    cut and each document is reassembled from its surviving chunks."""
    return C.chunk_dedup(load_table(spark, sf_dir, "documents"), chunk_words=32)


ORACLE_CHUNK_DEDUP = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
), chunked AS (
  SELECT doc_id, CAST(i AS INT) AS idx,
         array_to_string(t[i*32+1 : i*32+32], ' ') AS chunk
  FROM toks, unnest(range(0, greatest(CAST(ceil(len(t)/32.0) AS BIGINT), 1))) AS u(i)
), ranked AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS occ
  FROM chunked WHERE chunk <> ''
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN occ = 1 THEN chunk END, ' ' ORDER BY idx), '') AS text_dedup
FROM ranked
GROUP BY doc_id
"""


def q_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order mixture interleave over ``documents``
    (operators/corpus.py ``mixture_interleave``): a deterministic
    per-source shuffled rank; ordering by (rr_rank, source) round-robins
    the sources through the training stream."""
    return C.mixture_interleave(load_table(spark, sf_dir, "documents"), seed="epoch0")


ORACLE_INTERLEAVE = """
SELECT doc_id, source,
       CAST(row_number() OVER (
              PARTITION BY source
              ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id
            ) AS BIGINT) AS rr_rank
FROM documents
"""


def q_passage_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG passage chunking (corpus.passage_chunks): 64-token windows
    every 48 tokens — overlap 16.  The declared result carries an md5 of
    each passage instead of its text (compact artifact, still
    content-exact); the oracle rebuilds the identical windows with
    list_slice/array_to_string.  Map-only plan: no shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    ch = C.passage_chunks(docs, window=64, stride=48)
    return ch.select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        F.md5(F.col("passage")).alias("passage_md5"),
    )


ORACLE_PASSAGES = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
c AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE 1 + CAST(ceil((len(t) - 64) / 48.0) AS BIGINT) END AS nc
  FROM toks WHERE len(t) > 0
),
ch AS (
  SELECT doc_id, unnest(range(nc)) AS chunk_idx, t FROM c
)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(len(list_slice(t, chunk_idx * 48 + 1, chunk_idx * 48 + 64))
            AS INTEGER) AS n_tokens,
       md5(array_to_string(
           list_slice(t, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' '))
           AS passage_md5
FROM ch
"""


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL iterative BPE training (corpus.train_bpe): 12 merge rounds
    over the document corpus, each an adjacent-pair count on the
    vocabulary-sized word-type table + a 1-row argmax + a JVM fold
    applying the greedy merge.  The merge SEQUENCE is deterministic
    (count desc, lexicographic tiebreak); pytest pins it against an
    independent pure-Python BPE on arbitrary corpora
    (test_corpus_ops.py), and the declared oracle pins the exact merge
    table for the driver's sf0.01 gate corpus as VALUES — generated by
    that same independent implementation, NOT by this code, so the gate
    stays non-circular."""
    merges = C.train_bpe(
        load_table(spark, sf_dir, "documents"), n_merges=12
    )
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count long",
    )


# Exact expected merge table for the DRIVER'S GATE CORPUS (sf0.01
# documents) — valid ONLY at sf0.01 (the scale the driver compares at;
# other sf dirs have different synthetic text).  Generated by the
# independent pure-Python Sennrich BPE in tests/test_corpus_ops.py
# (_ref_bpe), not by operators/corpus.train_bpe, so the oracle is
# non-circular: both implementations must independently produce this
# table for the gate to go green.
ORACLE_BPE_TRAIN = """
SELECT CAST(rank AS INTEGER) AS rank,
       l AS "left", r AS "right",
       CAST(pair_count AS BIGINT) AS pair_count
FROM (VALUES
  (0, 'e', 'r', 4568),
  (1, 'e', '</w>', 4473),
  (2, 'n', '</w>', 2834),
  (3, 'er', '</w>', 2779),
  (4, 'o', 'w', 2747),
  (5, 'ow', '</w>', 2747),
  (6, 'o', 'r', 2696),
  (7, 's', 't', 2676),
  (8, 'h', '</w>', 1884),
  (9, 'a', 't', 1845),
  (10, 'l', 'u', 1831),
  (11, 'i', 'n', 1796)
) AS t(rank, l, r, pair_count)
"""


def register(queries: dict, oracles: dict) -> None:
    queries.update(
        {
            "corpus_dsir_select": q_corpus_dsir_select,
            "corpus_dsir_resample": q_corpus_dsir_resample,
            "stream_dsir_mv": q_stream_dsir_mv,
            "bpe_train_merges": q_bpe_train_merges,
            "passage_chunks": q_passage_chunks,
            "text_lm_perplexity": q_text_lm_perplexity,
            "text_boilerplate_scrub": q_text_boilerplate_scrub,
            "pack_sequences": q_pack_sequences,
            "sample_split": q_sample_split,
            "url_canonical_dedup": q_url_canonical_dedup,
            "chunk_dedup": q_chunk_dedup,
            "mixture_interleave": q_mixture_interleave,
            "dense_ids": q_dense_ids,
            "dedup_best_survivor": q_dedup_best_survivor,
            "length_batching": q_length_batching,
        }
    )
    oracles.update(
        {
            "corpus_dsir_select": ORACLE_DSIR,
            "corpus_dsir_resample": ORACLE_DSIR_RESAMPLE,
            "stream_dsir_mv": ORACLE_DSIR,
            "passage_chunks": ORACLE_PASSAGES,
            "text_lm_perplexity": ORACLE_LM_PPL,
            "text_boilerplate_scrub": ORACLE_SCRUB,
            "pack_sequences": ORACLE_PACK,
            "sample_split": ORACLE_SPLIT,
            "url_canonical_dedup": ORACLE_URL_DEDUP,
            "chunk_dedup": ORACLE_CHUNK_DEDUP,
            "mixture_interleave": ORACLE_INTERLEAVE,
            "dense_ids": ORACLE_DENSE_IDS,
            "dedup_best_survivor": ORACLE_BEST_SURVIVOR,
            "length_batching": ORACLE_LENGTH_BATCHING,
            "bpe_train_merges": ORACLE_BPE_TRAIN,
        }
    )


def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 1..N id assignment in doc_id order (operators/corpus.py
    dense_ids): two-level construction — range partitions, local ranks,
    tiny offset prefix-sum — no corpus-sized single-task sort; the
    oracle is the semantic spec (a global row_number)."""
    return C.dense_ids(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang"),
        key="doc_id",
    ).select("doc_id", "lang", "dense_id")


ORACLE_DENSE_IDS = """
SELECT doc_id, lang,
       CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS dense_id
FROM documents
"""


def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-policy survivorship (operators/corpus.py best_survivor):
    within each exact-dup family keep the LONGEST copy (n_chars score,
    lowest-id tiebreak) — the keep-the-best-copy policy real pipelines
    use instead of first-crawled-wins.  md5 fingerprint here so the
    oracle computes identical family keys."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    )
    return C.best_survivor(
        docs, score=F.col("n_chars"), fingerprint_col=fp
    )


ORACLE_BEST_SURVIVOR = r"""
WITH fam AS (
  SELECT doc_id, n_chars,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), ranked AS (
  SELECT fp, doc_id,
         row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY fp) AS family_size
  FROM fam
)
SELECT fp, CAST(doc_id AS BIGINT) AS keeper_doc_id, family_size
FROM ranked WHERE rn = 1
"""


def q_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-minimizing sorted batching (operators/corpus.py
    length_batches over the distributed dense_ids rank): batches of 32
    similar-length docs with their padding overhead — the oracle ranks
    with a plain global window (single-node semantics spec)."""
    return C.length_batches(
        load_table(spark, sf_dir, "documents"), batch_size=32
    )


ORACLE_LENGTH_BATCHING = r"""
WITH base AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
), ranked AS (
  SELECT n_tok, row_number() OVER (ORDER BY n_tok, doc_id) AS rank FROM base
  WHERE n_tok > 0
)
SELECT (rank - 1) // 32 AS batch_id,
       count(*) AS n_docs,
       min(n_tok) AS min_tok,
       max(n_tok) AS max_tok,
       CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS padding_tokens
FROM ranked
GROUP BY 1
"""
