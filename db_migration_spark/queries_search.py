"""Full-text retrieval / hybrid-search declared queries.

The retrieval tier of an LLM training-data pipeline: BM25 lexical
scoring, an inverted-index (postings) build, reciprocal-rank-fusion of
lexical and embedding rankers, and Dirichlet query-likelihood language
-model scoring — all query-by-example over ``documents`` (+
``embeddings`` for the semantic side), all pure DataFrame plans, all
with EXACT DuckDB oracles.

Cross-engine float determinism: every per-term score contribution is
``round(x, 9)`` then cast to DECIMAL before the SUM, so the aggregate
is associative and bit-identical regardless of partial-aggregation
order (the module-level rule in queries.py — "sums go through
DECIMAL").  ``ln`` appears only inside the rounded leaf, never after a
float sum.  Ranks tie-break on doc_id, so row_number is total.

Scale notes (the 100 TB shape, not just the sf0.01 one):
- candidate generation is term-driven (docs sharing >= 1 query term),
  the same boolean-OR pruning Lucene applies before scoring — never a
  docs x queries cartesian;
- corpus constants (N, avgdl, |C|) ride the plan as 1-row broadcasts,
  no eager ``count()`` driver round-trips;
- the tf <-> df join is left to AQE: at web-corpus vocabulary the term
  side does NOT fit a broadcast (forcing one OOMs the driver), while
  the per-QUERY term list (10s of terms) always does and is broadcast
  explicitly.

No counterpart in the reference (azanium orchestrates Datomic full
scans; no ranked retrieval — core.clj:1-80); extends SURVEY §2.12's
training-data families (tf-idf in queries.py:2901 is the seed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions import text as TXT
from .functions import vectors as V
from .queries_shared import build_once, drain

K1 = 1.2
B = 0.75
MU = 2000.0
RRF_K = 60
N_PROBES = 3  # query-by-example probes: doc_id < 3

# planner diagnostics of the last maxscore_topk run (per query_id:
# n_terms / n_essential / theta; plus the union of essential terms) —
# read by tests and the SCALE tool to assert pruning actually fires;
# never part of results
MAXSCORE_LAST_STATS: dict[int, dict] = {}
MAXSCORE_LAST_ESSENTIAL: set[str] = set()
# block-level planner diagnostics of the last blockmax_topk run:
# group/(term,group) allow counts vs totals — the group-skip fraction
# the SCALE tool reports; never part of results
BLOCKMAX_LAST_STATS: dict[str, int] = {}

# ---------------------------------------------------------------------------
# shared shapes
# ---------------------------------------------------------------------------


def _term_stats(spark: SparkSession, sf_dir: str):
    """(tf, dl, df, corpus 1-row constants) over ``documents``.

    tf: (doc_id, term, tf); dl: (doc_id, dl); df: (term, df, cf).
    Tokenization matches ORACLE: lower + whitespace split, empties out.

    dl and df are both DERIVED from tf (dl = sum(tf) per doc — a doc's
    length IS the sum of its term frequencies), which removes the r6
    shape's SECOND tokenize+explode pass for dl (measured sf0.1 warm:
    3.2s → 2.2s).  The plan still expands the tf subtree per join arm
    (exchange reuse does not fire across the differently-pruned arms) —
    an explicit localCheckpoint(tf) was tried and measured SLOWER at
    this scale (2.8-4.3s: the sync materialization costs more than the
    re-expanded map-side explodes); the real fix for a large corpus is
    the PERSISTED postings store, which is exactly what
    search_bm25_indexed serves from.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(TXT.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    consts = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").cast("double").alias("coll_len"),
    )
    return tf, dl, df_, consts


def _probe_terms(tf: DataFrame) -> DataFrame:
    """Query terms per probe: DISTINCT tokens of docs 0..N_PROBES-1."""
    return (
        tf.filter(F.col("doc_id") < N_PROBES)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )


def _dec9(c) -> F.Column:
    """round-9 + DECIMAL(28,9): the associative-sum leaf."""
    return F.round(c, 9).cast("decimal(28,9)")


def bm25_contrib(n_docs, avgdl) -> F.Column:
    """The single definition of the per-posting BM25 contribution
    idf(df) · tf_norm(tf, dl) over a postings relation carrying
    (tf, dl, df) columns.  ``n_docs``/``avgdl`` are literals or
    Columns.  EVERY site — from-scratch scoring, the indexed path, the
    max-impact sidecar build, MaxScore seed/final scoring, and the
    scale tools — must use this helper: the MaxScore pruning proof
    requires the sidecar's upper bound and the scoring formula to stay
    bit-identical, so a drift in one inline copy would silently break
    exactness rather than fail loudly."""
    n_docs = n_docs if isinstance(n_docs, F.Column) else F.lit(n_docs)
    avgdl = avgdl if isinstance(avgdl, F.Column) else F.lit(avgdl)
    idf = F.log(
        F.lit(1.0) + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / avgdl)
    )
    return idf * tf_norm


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score DECIMAL) for all candidate docs sharing
    >= 1 query term with the probe (self-match excluded)."""
    tf, dl, df_, consts = _term_stats(spark, sf_dir)
    q = _probe_terms(tf)
    # per-query term lists are tiny -> broadcast; df_/tf join left to AQE
    matched = (
        tf.join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(df_.select("term", "df"), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(consts))
    )
    return matched.groupBy("query_id", "doc_id").agg(
        F.sum(
            _dec9(bm25_contrib(F.col("n_docs"), F.col("avgdl")))
        ).alias("score")
    )


# shared oracle CTEs mirroring _term_stats/_probe_terms exactly
_ORACLE_TERMS = r"""
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
df_ AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY 1),
consts AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         avg(dl) AS avgdl,
         CAST(sum(dl) AS DOUBLE) AS coll_len
  FROM dl
),
q AS (
  SELECT DISTINCT doc_id AS query_id, term FROM tf WHERE doc_id < 3
)
"""

_ORACLE_BM25_SCORED = """
scored AS (
  SELECT query_id, tf.doc_id,
         SUM(CAST(round(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)),
           9) AS DECIMAL(28,9))) AS score
  FROM tf
  JOIN q USING (term)
  JOIN df_ USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN consts
  WHERE tf.doc_id <> query_id
  GROUP BY 1, 2
)
"""


# ---------------------------------------------------------------------------
# search_bm25_topk
# ---------------------------------------------------------------------------


def q_search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-example BM25 (k1=1.2, b=0.75, Lucene +1 idf): top-10
    docs per probe.  Candidates = docs sharing >= 1 query term (the
    boolean-OR pruning every lexical engine applies); contributions
    decimal-summed for exact cross-engine equality."""
    scored = _bm25_scores(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.col("score").cast("double").alias("score"),
            "rank",
        )
    )


ORACLE_BM25 = (
    "WITH "
    + _ORACLE_TERMS
    + ", "
    + _ORACLE_BM25_SCORED
    + """
SELECT query_id, doc_id, CAST(score AS DOUBLE) AS score, rank FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 10
"""
)


# ---------------------------------------------------------------------------
# search_bm25_indexed — serve BM25 from a materialized index store
# ---------------------------------------------------------------------------


def _ensure_search_index(spark: SparkSession, sf_dir: str):
    """The 100 TB serving shape the from-scratch query's plan audit
    promises: materialize the corpus statistics ONCE — postings
    (doc_id, term, tf, dl, df) denormalized into a TERM-CLUSTERED
    txlog table (OPTIMIZE sort_key=term: each file group owns a
    disjoint term range, so zone maps + the pushed In-filter skip
    groups at planning time) and the 1-row corpus constants beside it.
    Queries then touch only the probe terms' groups — never the raw
    corpus.  Returns (postings TxTable, consts path)."""
    import json as _json
    import os

    from .plans.txlog import TxTable
    from .queries_e2e import _fx

    root = _fx(sf_dir, "search_index")
    post_root = os.path.join(root, "postings")
    consts_path = os.path.join(root, "consts.json")

    def build() -> None:
        tf, dl, df_, consts = _term_stats(spark, sf_dir)
        post = (
            tf.join(dl, "doc_id")
            .join(df_.select("term", "df"), "term")
            .select("term", "doc_id", "tf", "dl", "df")
        )
        t = TxTable(post_root)
        t.commit_append(post)
        t.optimize(spark, sort_key=["term"], target_groups=8)
        c = consts.collect()[0]
        with open(consts_path, "w") as fh:
            _json.dump(
                {
                    "n_docs": c["n_docs"],
                    "avgdl": c["avgdl"],
                    "coll_len": c["coll_len"],
                },
                fh,
            )

    build_once(root, build)
    return TxTable(post_root), consts_path


def q_search_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the materialized index (_ensure_search_index)
    instead of re-deriving tf/df/dl from the corpus: the probe-term
    In-filter pushes into the term-clustered postings scan (row-group
    stats skip everything outside the probe terms' ranges), the corpus
    constants ride as literals, and the scoring math is the SAME
    decimal-leaf sum — so the oracle is literally ORACLE_BM25: index
    serving must equal from-scratch scoring bit-for-bit.  At 100 TB
    this is the difference between a retrieval query costing the
    corpus and costing the matched postings."""
    import json as _json

    t, consts_path = _ensure_search_index(spark, sf_dir)
    with open(consts_path) as fh:
        c = _json.load(fh)
    post = t.read(spark)
    # probe terms from a 3-doc pushdown scan of documents (tiny)
    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.filter(F.col("doc_id") < N_PROBES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(TXT.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .distinct()
    )
    # the query's term list is driver-side in ANY serving engine (it IS
    # the query); materializing it (bounded by the probes' vocabulary,
    # ~40 terms here) lets the In-filter reach the parquet scan, where
    # the term-clustered layout's row-group stats skip every group and
    # row group outside the probe terms' ranges — the indexed read path
    terms = sorted(r.term for r in q.select("term").distinct().collect())
    matched = (
        post.filter(F.col("term").isin(terms))
        .join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    scored = matched.groupBy("query_id", "doc_id").agg(
        F.sum(_dec9(bm25_contrib(c["n_docs"], c["avgdl"]))).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.col("score").cast("double").alias("score"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# search_eval_ndcg — retrieval-quality evaluation over the BM25 run
# ---------------------------------------------------------------------------


def q_search_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking evaluation (NDCG@10 / MRR / P@10) of the BM25 run against
    deterministic graded relevance — the measurement harness every
    retrieval stack needs beside its serving path.  Relevance is
    derived from document metadata (same source AND lang as the probe
    → relevance 2, same source only → relevance 1), mapped to the
    exponential gains 2^rel − 1 = {3, 1} — so both engines hold the
    identical qrels without any external judgment file.

    Exactness: every DCG term quantizes ONCE to integer micro-units —
    floor(1e6·gain/log2(rank+1) + 0.5) of exact-integer gain and rank
    — so per-query DCG/IDCG are associative BIGINT sums; NDCG is
    emitted as the (dcg_micro, idcg_micro) integer fraction (the
    assoc_rules numer/denom pattern), MRR as the first-relevant rank,
    P@10 as a hit count.  IDCG ranks the relevant set by (grade desc,
    doc_id) — a deterministic ideal ordering.  Scale: the run side is
    10 rows per query; the ideal side joins the broadcast probe dim to
    docs filtered to rel > 0 (metadata-pruned before any window) and
    windows within query — both bounded by the relevant set, never the
    corpus."""
    ranked = q_search_bm25_topk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    probes = docs.filter(F.col("doc_id") < N_PROBES).select(
        F.col("doc_id").alias("query_id"),
        F.col("source").alias("q_source"),
        F.col("lang").alias("q_lang"),
    )
    gain = (
        F.when(
            (F.col("source") == F.col("q_source"))
            & (F.col("lang") == F.col("q_lang")),
            3,
        )
        .when(F.col("source") == F.col("q_source"), 1)
        .otherwise(0)
    )
    term = F.when(
        F.col("gain") > 0,
        F.floor(
            F.lit(1e6)
            * F.col("gain").cast("double")
            / F.log2(F.col("r").cast("double") + F.lit(1.0))
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))

    run = (
        ranked.join(docs, "doc_id")
        .join(F.broadcast(probes), "query_id")
        .select(
            "query_id",
            F.col("rank").alias("r"),
            gain.alias("gain"),
        )
    )
    run_agg = run.select("query_id", "r", "gain", term.alias("t")).groupBy(
        "query_id"
    ).agg(
        F.sum("t").alias("dcg_micro"),
        F.sum(F.when(F.col("gain") > 0, 1).otherwise(0)).alias("p10_hits"),
        F.min(F.when(F.col("gain") > 0, F.col("r"))).alias("first_rel"),
    )

    ideal_cand = (
        docs.join(F.broadcast(probes))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", gain.alias("gain"))
        .filter(F.col("gain") > 0)
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.desc("gain"), F.col("doc_id")
    )
    ideal = (
        ideal_cand.withColumn("r", F.row_number().over(wi))
        .filter(F.col("r") <= 10)
        .select("query_id", "r", "gain", term.alias("t"))
        .groupBy("query_id")
        .agg(F.sum("t").alias("idcg_micro"))
    )
    return (
        run_agg.join(ideal, "query_id")
        .select(
            "query_id",
            "dcg_micro",
            "idcg_micro",
            F.coalesce(F.col("first_rel"), F.lit(0)).alias("first_rel"),
            "p10_hits",
        )
        .orderBy("query_id")
    )


_NDCG_GAIN = """
CASE WHEN d.source = p.q_source AND d.lang = p.q_lang THEN 3
     WHEN d.source = p.q_source THEN 1 ELSE 0 END
"""

ORACLE_NDCG = (
    "WITH "
    + _ORACLE_TERMS
    + ", "
    + _ORACLE_BM25_SCORED
    + f"""
, ranked AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER)
      AS rank
    FROM scored
  ) WHERE rank <= 10
),
probes AS (
  SELECT doc_id AS query_id, source AS q_source, lang AS q_lang
  FROM documents WHERE doc_id < 3
),
run AS (
  SELECT r.query_id, r.rank AS rnk, {_NDCG_GAIN} AS gain
  FROM ranked r
  JOIN documents d ON d.doc_id = r.doc_id
  JOIN probes p ON p.query_id = r.query_id
),
run_agg AS (
  SELECT query_id,
         CAST(sum(CASE WHEN gain > 0 THEN
             CAST(floor(1e6 * CAST(gain AS DOUBLE)
                  / log2(CAST(rnk AS DOUBLE) + 1.0) + 0.5) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS dcg_micro,
         CAST(sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS p10_hits,
         min(CASE WHEN gain > 0 THEN rnk END) AS first_rel
  FROM run GROUP BY 1
),
ideal AS (
  SELECT query_id,
         CAST(sum(CAST(floor(1e6 * CAST(gain AS DOUBLE)
              / log2(CAST(rnk AS DOUBLE) + 1.0) + 0.5) AS BIGINT))
           AS BIGINT) AS idcg_micro
  FROM (
    SELECT query_id, gain,
           row_number() OVER (PARTITION BY query_id
               ORDER BY gain DESC, doc_id) AS rnk
    FROM (
      SELECT p.query_id, d.doc_id, {_NDCG_GAIN} AS gain
      FROM documents d CROSS JOIN probes p
      WHERE d.doc_id <> p.query_id
    ) WHERE gain > 0
  ) WHERE rnk <= 10
  GROUP BY 1
)
SELECT a.query_id, a.dcg_micro, i.idcg_micro,
       CAST(coalesce(a.first_rel, 0) AS INTEGER) AS first_rel,
       a.p10_hits
FROM run_agg a JOIN ideal i ON i.query_id = a.query_id
ORDER BY 1
"""
)


# ---------------------------------------------------------------------------
# stream_postings_mv — the search index maintained INCREMENTALLY
# ---------------------------------------------------------------------------


def _ensure_stream_postings_mv(spark: SparkSession, sf_dir: str):
    """The index-freshness tier of the serving story: a documents
    stream maintains the THREE relations BM25 serving needs — postings
    (term, doc_id, tf, dl: doc-local, append-only), term stats
    (term, df, cf: associative sums, merged), and corpus constants
    (n_docs, coll_len: associative 1-row sums, merged) — each under a
    per-batch txn identity, each adversarially replayed after the
    drain (all three must be version no-ops).  df/consts live in their
    own tiny tables exactly because they are corpus-global: folding
    them separately is what lets postings stay append-only instead of
    rewriting every denormalized row when one more document mentions a
    term.  At 100 TB the per-batch cost is the batch's own tokenize +
    one ≤|vocab|-row and one 1-row fold."""
    import os

    from .plans.txlog import TxTable
    from .queries_dedupstore import _docs_stream
    from .queries_e2e import _fx

    root = _fx(sf_dir, "txlog_stream_postings_mv")
    paths = {
        k: os.path.join(root, k) for k in ("postings", "stats", "consts")
    }

    def refresh(bdf: DataFrame, batch_id: int) -> None:
        terms = bdf.select(
            "doc_id",
            F.explode(TXT.tokens(F.lower(F.col("text")))).alias("term"),
        )
        tf_b = terms.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )
        dl_b = tf_b.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        post_b = tf_b.join(dl_b, "doc_id").select(
            "term", "doc_id", "tf", "dl"
        )
        TxTable(paths["postings"]).commit_append(
            post_b, txn=("postings_mv", batch_id)
        )
        stats_b = tf_b.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
        )

        def fold_stats(cur: DataFrame | None) -> DataFrame:
            if cur is None:
                return stats_b
            return (
                cur.unionByName(stats_b)
                .groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            )

        TxTable(paths["stats"]).merge(
            bdf.sparkSession, fold_stats, txn=("stats_mv", batch_id)
        )
        consts_b = dl_b.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("coll_len"),
        )

        def fold_consts(cur: DataFrame | None) -> DataFrame:
            if cur is None:
                return consts_b
            return cur.unionByName(consts_b).agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("coll_len").alias("coll_len"),
            )

        TxTable(paths["consts"]).merge(
            bdf.sparkSession, fold_consts, txn=("consts_mv", batch_id)
        )

    def build() -> None:
        drain(
            _docs_stream(spark, sf_dir)
            .select("doc_id", "text")
            .writeStream.foreachBatch(refresh)
            .option("checkpointLocation", os.path.join(root, "_chk")),
            300,
        )
        before = {k: TxTable(p).latest_version() for k, p in paths.items()}
        # replay a DETERMINISTIC slice (limit() is an arbitrary subset):
        # txn dedup must skip it, and if dedup ever regresses the damage
        # is at least reproducible
        refresh(
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select("doc_id", "text"),
            0,
        )
        after = {k: TxTable(p).latest_version() for k, p in paths.items()}
        if before != after:
            raise RuntimeError(
                f"replayed batch 0 must no-op all three tables: {before} {after}"
            )

    build_once(root, build)
    return paths


def q_stream_postings_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 served from the STREAM-maintained index
    (_ensure_stream_postings_mv) — postings, term stats, and corpus
    constants all read from the MVs, never from the corpus.  The
    oracle is ORACLE_BM25 verbatim (from-scratch scoring over the full
    documents table), so the hash gate proves incremental index
    maintenance converged to the batch index exactly — a dropped or
    doubled batch shifts df/n_docs and with them every idf in the
    ranking.  avgdl is recomputed as coll_len/n_docs from the exact
    integer constants, the identical IEEE division the batch path's
    avg() performs."""
    from .plans.txlog import TxTable

    paths = _ensure_stream_postings_mv(spark, sf_dir)
    post = TxTable(paths["postings"]).read(spark)
    stats = TxTable(paths["stats"]).read(spark)
    consts = TxTable(paths["consts"]).read(spark)
    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.filter(F.col("doc_id") < N_PROBES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(TXT.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .distinct()
    )
    matched = (
        post.join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(stats.select("term", "df"), "term")
        .crossJoin(F.broadcast(consts))
    )
    n_docs = F.col("n_docs").cast("double")
    avgdl = F.col("coll_len").cast("double") / F.col("n_docs").cast(
        "double"
    )
    scored = matched.groupBy("query_id", "doc_id").agg(
        F.sum(_dec9(bm25_contrib(n_docs, avgdl))).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.col("score").cast("double").alias("score"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# search_bm25_maxscore — exact top-k with term-level upper-bound pruning
# ---------------------------------------------------------------------------


def _ensure_maximpact(spark: SparkSession, sf_dir: str) -> str:
    """Per-term scoring upper bound ("max impact") sidecar for the
    postings store: (term, df, ub) where ub = max over the term's
    postings of its BM25 contribution idf(df) * tf_norm(tf, dl).

    This is the metadata a WAND/MaxScore engine keeps beside each
    postings list (Lucene stores it per block as "impacts").  It is
    vocabulary-sized — independent of corpus row count — and derived
    from the store in one aggregate pass at build time, so queries can
    plan term pruning WITHOUT touching any postings."""
    import json as _json
    import os

    from .queries_e2e import _fx

    root = _fx(sf_dir, "search_maximpact")
    path = os.path.join(root, "term_ub")

    def build() -> None:
        t, consts_path = _ensure_search_index(spark, sf_dir)
        with open(consts_path) as fh:
            c = _json.load(fh)
        post = t.read(spark)
        ub = post.groupBy("term").agg(
            F.max("df").alias("df"),
            F.max(bm25_contrib(c["n_docs"], c["avgdl"])).alias("ub"),
        )
        ub.coalesce(1).write.mode("overwrite").parquet(path)

    build_once(root, build)
    return path


def q_search_bm25_maxscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 BM25 with MaxScore term pruning (Turtle & Flood 1995;
    the term-level tier of the Block-Max WAND family) over the postings
    store — same answer as ORACLE_BM25, provably, while reading only the
    selective postings lists for candidate generation.

    The 100 TB problem this solves: the plain indexed path's candidate
    set is "docs sharing >= 1 query term", and for queries containing
    common words that is effectively the corpus (the ×10 SCALE row
    measured 96% of postings matched).  Every lexical engine prunes this
    with per-term score caps; the distributed adaptation here is
    three bounded phases, all metadata/selective-postings-sized:

    1. **Seed** — exactly score candidates from the highest-impact third
       of each probe's terms (rare terms ⇒ short lists).  The 10th-best
       seed score θ is a LOWER bound of the true 10th-best full score
       (partial sums over non-negative contributions under-count, and
       the seed docs all exist in the final ranking).
    2. **Prune** — per query, sort terms by ub ascending and mark the
       longest prefix with cumulative Σub < θ − ε non-essential.  A doc
       containing ONLY non-essential terms scores ≤ Σub < θ, so it can
       never enter the top 10 (ε also kills θ-ties, which rank's
       doc_id tie-break would otherwise let in).  This is where common
       words — exactly the longest postings lists — drop out.
    3. **Score** — candidates = docs in ≥1 ESSENTIAL term's postings
       (In-filter on essential terms only ⇒ zone-map group skipping on
       the term-clustered store); their full scores use all query terms
       but the big lists are now read through a candidate semi-join,
       not materialized per-candidate-generation.

    Per-query planner state (term list, ub rows, θ) is driver-side and
    bounded by the query's own vocabulary — the same state any WAND
    engine keeps in memory per query.  Scoring math is the identical
    decimal-leaf sum, so the oracle is literally ORACLE_BM25: pruning
    must be invisible in the result, bit-for-bit.  Degenerate seeds
    (< 10 docs) fall back to θ = −∞ ⇒ all terms essential ⇒ the plain
    indexed plan.  No counterpart in the reference (azanium has no
    retrieval; core.clj:1-80)."""
    import json as _json

    t, consts_path = _ensure_search_index(spark, sf_dir)
    ub_path = _ensure_maximpact(spark, sf_dir)
    with open(consts_path) as fh:
        c = _json.load(fh)
    post = t.read(spark)

    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.filter(F.col("doc_id") < N_PROBES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(TXT.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .distinct()
    )
    return maxscore_topk(spark, post, c, q, spark.read.parquet(ub_path))


def _wand_planner(
    spark: SparkSession,
    post: DataFrame,
    c: dict,
    q: DataFrame,
    ub: DataFrame,
    k: int = 10,
) -> dict:
    """Phases 1 (seed thresholds) and 2 (essential terms) of the
    MaxScore/Block-Max family — ONE definition shared by the term-level
    (maxscore_topk) and block-level (blockmax_topk) tiers, so the two
    plans can never disagree about theta or essentiality.  Returns the
    driver-side planner state: per-query term lists, the global ub map,
    theta lower bounds, essential (query_id, term) pairs, and the
    scoring expression.  Also refreshes MAXSCORE_LAST_STATS /
    MAXSCORE_LAST_ESSENTIAL (planner observability for tests and the
    SCALE tool)."""
    # per-term ub for the probe vocabulary (~40 terms x 3 probes).
    # Driver-side in any serving engine.
    q_terms: dict[int, list[str]] = {}
    for r in q.collect():
        q_terms.setdefault(r.query_id, []).append(r.term)
    all_terms = sorted({t_ for ts in q_terms.values() for t_ in ts})
    ub_rows = ub.filter(F.col("term").isin(all_terms)).collect()
    ub_map = {r.term: r.ub for r in ub_rows}

    contrib = bm25_contrib(c["n_docs"], c["avgdl"])

    # --- phase 1: seed thresholds from the highest-impact terms ---------
    seed_pairs = []
    for qid, ts in q_terms.items():
        ranked = sorted(ts, key=lambda t_: (-ub_map.get(t_, 0.0), t_))
        # the highest-impact third seeds θ; floor 2 so short keyword
        # queries seed from their rare terms only (a common term's huge
        # list would cost more than the θ it buys; ANY seed set is exact)
        n_seed = max(2, len(ranked) // 3)
        seed_pairs += [(qid, t_) for t_ in ranked[:n_seed]]
    q_seed = spark.createDataFrame(seed_pairs, ["query_id", "term"])
    seed_terms = sorted({t_ for _, t_ in seed_pairs})
    seed_scores = (
        post.filter(F.col("term").isin(seed_terms))
        .join(F.broadcast(q_seed), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(contrib).alias("partial"))
    )
    w_seed = Window.partitionBy("query_id").orderBy(F.desc("partial"))
    theta_rows = (
        seed_scores.withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") == k)
        .select("query_id", "partial")
        .collect()
    )
    # θ − ε: ε absorbs the double-vs-decimal leaf rounding (≤ 5e-10/term)
    # and guarantees strictness at ties
    theta = {r.query_id: r.partial - 1e-6 for r in theta_rows}

    # --- phase 2: essential terms per query (driver-side, |T| rows) -----
    # A term MISSING from the ub sidecar (stale sidecar after an append,
    # or a caller-supplied partial ub) gets ub = +inf: always essential.
    # Defaulting to 0 would under-count the non-essential prefix sum and
    # silently prune docs that belong in the exact top-k — the one
    # direction the proof cannot tolerate.  (+inf also guarantees the
    # break fires, so a query never ends up with zero essential terms.)
    _INF = float("inf")
    ess_pairs = []
    for qid, ts in q_terms.items():
        th = theta.get(qid, float("-inf"))
        ranked = sorted(ts, key=lambda t_: (ub_map.get(t_, _INF), t_))
        cum = 0.0
        for i, t_ in enumerate(ranked):
            cum += ub_map.get(t_, _INF)
            if cum >= th:
                ess_pairs += [(qid, t2) for t2 in ranked[i:]]
                break
    q_ess = spark.createDataFrame(ess_pairs, ["query_id", "term"])
    ess_terms = sorted({t_ for _, t_ in ess_pairs})
    # observability for tests / the SCALE tool: how hard did phase 2
    # prune?  (module-level, overwritten per call — planner diagnostics,
    # not part of the query result)
    MAXSCORE_LAST_STATS.clear()
    for qid, ts in q_terms.items():
        n_ess = sum(1 for p in ess_pairs if p[0] == qid)
        MAXSCORE_LAST_STATS[qid] = {
            "n_terms": len(ts),
            "n_essential": n_ess,
            "theta": theta.get(qid),
        }
    MAXSCORE_LAST_ESSENTIAL.clear()
    MAXSCORE_LAST_ESSENTIAL.update(ess_terms)

    return {
        "q_terms": q_terms,
        "ub_map": ub_map,
        "theta": theta,
        "ess_pairs": ess_pairs,
        "q_ess": q_ess,
        "ess_terms": ess_terms,
        "all_terms": all_terms,
        "contrib": contrib,
    }


def maxscore_topk(
    spark: SparkSession,
    post: DataFrame,
    c: dict,
    q: DataFrame,
    ub: DataFrame,
    k: int = 10,
) -> DataFrame:
    """The three MaxScore phases of :func:`q_search_bm25_maxscore`,
    reusable against any postings relation (term, doc_id, tf, dl, df)
    + constants dict {n_docs, avgdl} + query (query_id, term) + per-term
    upper bounds (term, ub).  Kept separate so the SCALE tool can drive
    it against the ×10 store and assert pruning."""
    st = _wand_planner(spark, post, c, q, ub, k)
    q_ess, ess_terms = st["q_ess"], st["ess_terms"]
    all_terms, contrib = st["all_terms"], st["contrib"]

    # --- phase 3: candidates from essential postings, full exact score --
    cands = (
        post.filter(F.col("term").isin(ess_terms))
        .select("term", "doc_id")
        .join(F.broadcast(q_ess), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
        .distinct()
    )
    scored = (
        post.filter(F.col("term").isin(all_terms))
        .join(F.broadcast(q), "term")
        .join(cands, ["query_id", "doc_id"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum(_dec9(contrib)).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("score").cast("double").alias("score"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# search_inverted_postings
# ---------------------------------------------------------------------------


def q_search_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term with df >= 5, the document
    frequency, collection frequency, and the head of the postings list
    (first 8 doc_ids ascending, comma-joined).  The groupBy is a single
    map-side-combinable shuffle on term; postings order is pinned by
    sort_array so collect_list's arrival order can't leak."""
    tf, _, _, _ = _term_stats(spark, sf_dir)
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 8),
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 5)
    )


ORACLE_POSTINGS = (
    "WITH "
    + _ORACLE_TERMS
    + """
SELECT term, df, CAST(cf AS BIGINT) AS cf,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, 8), ',')
         AS postings_head
FROM tf JOIN df_ USING (term)
GROUP BY term, df, cf
HAVING df >= 5
"""
)


# ---------------------------------------------------------------------------
# search_hybrid_rrf
# ---------------------------------------------------------------------------


def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: BM25 lexical ranks
    (top-50) fused with exact embedding-cosine ranks (top-50, probe's
    own vector as the query) by rrf = sum 1/(60 + rank); a doc missing
    from one ranker contributes 0 on that side (full-outer join).  The
    1/(60+r) leaves are exact IEEE divisions of small ints, rounded to
    9 and decimal-summed, so fusion is bit-stable across engines."""
    lex = _bm25_scores(spark, sf_dir)
    wl = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    lex_r = (
        lex.withColumn("r_lex", F.row_number().over(wl))
        .filter(F.col("r_lex") <= 50)
        .select("query_id", "doc_id", "r_lex")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    sem = (
        cand.join(F.broadcast(probes))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(V.cosine("qv", "embedding"), 6).alias("cos"),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    sem_r = (
        sem.withColumn("r_sem", F.row_number().over(ws))
        .filter(F.col("r_sem") <= 50)
        .select("query_id", "doc_id", "r_sem")
    )

    fused = lex_r.join(sem_r, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(
                _dec9(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex"))),
                F.lit(0).cast("decimal(28,9)"),
            )
            + F.coalesce(
                _dec9(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_sem"))),
                F.lit(0).cast("decimal(28,9)"),
            )
        ).alias("rrf_score"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.col("rrf_score").cast("double").alias("rrf_score"),
            "rank",
        )
    )


ORACLE_RRF = (
    "WITH "
    + _ORACLE_TERMS
    + ", "
    + _ORACLE_BM25_SCORED
    + """
, lex_r AS (
  SELECT query_id, doc_id, r_lex FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS r_lex
    FROM scored
  ) WHERE r_lex <= 50
),
qv AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings
       WHERE vec_id < 3),
sem AS (
  SELECT query_id, vec_id AS doc_id,
         round(
           list_sum(list_transform(range(1, len(qv.v) + 1),
                    i -> CAST(qv.v[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(1, len(qv.v) + 1),
                    i -> CAST(qv.v[i] AS DOUBLE) * CAST(qv.v[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))),
           6) AS cos
  FROM embeddings e CROSS JOIN qv
  WHERE vec_id <> query_id
),
sem_r AS (
  SELECT query_id, doc_id, r_sem FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, doc_id) AS r_sem
    FROM sem
  ) WHERE r_sem <= 50
),
fused AS (
  SELECT COALESCE(lex_r.query_id, sem_r.query_id) AS query_id,
         COALESCE(lex_r.doc_id, sem_r.doc_id) AS doc_id,
         COALESCE(CAST(round(1.0 / (60 + r_lex), 9) AS DECIMAL(28,9)),
                  CAST(0 AS DECIMAL(28,9)))
         + COALESCE(CAST(round(1.0 / (60 + r_sem), 9) AS DECIMAL(28,9)),
                    CAST(0 AS DECIMAL(28,9))) AS rrf_score
  FROM lex_r FULL OUTER JOIN sem_r
    ON lex_r.query_id = sem_r.query_id AND lex_r.doc_id = sem_r.doc_id
)
SELECT query_id, doc_id, CAST(rrf_score AS DOUBLE) AS rrf_score, rank FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
  FROM fused
) WHERE rank <= 10
"""
)


# ---------------------------------------------------------------------------
# search_dirichlet_lm
# ---------------------------------------------------------------------------


def q_search_dirichlet_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood LM ranking (mu=2000), in the
    sparse decomposition that never touches absent (doc, term) pairs:

      score(d) = sum_t ln(mu * p_c(t))          [query constant]
               - |q| * ln(dl_d + mu)            [per-doc length part]
               + sum_{t in q AND d} ln(1 + tf / (mu * p_c(t)))

    Candidates = docs matching >= 1 query term (boolean-OR pruning);
    all three pieces are rounded-to-9 decimal leaves, summed as
    DECIMAL.  p_c(t) = cf(t)/|C| is an exact int/int IEEE division."""
    tf, dl, df_, consts = _term_stats(spark, sf_dir)
    q = _probe_terms(tf)

    # query constant + term count per probe
    p_c = F.col("cf") / F.col("coll_len")
    qstats = (
        F.broadcast(q)
        .join(df_.select("term", "cf"), "term")
        .join(F.broadcast(consts))
        .groupBy("query_id")
        .agg(
            F.sum(_dec9(F.log(F.lit(MU) * p_c))).alias("q_const"),
            F.count(F.lit(1)).alias("n_q"),
        )
    )

    # matched-term boosts per (query, doc)
    boosts = (
        tf.join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(df_.select("term", "cf"), "term")
        .join(F.broadcast(consts))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(_dec9(F.log(F.lit(1.0) + F.col("tf") / (MU * p_c)))).alias("boost"))
    )

    # n_q folds into the rounded DOUBLE leaf (an int x double product is
    # correctly-rounded IEEE in both engines); the decimal sums downcast
    # to (28,9) before combining so Spark's and DuckDB's widening rules
    # for +/- can never diverge (|score| << 10^19, no overflow possible)
    scored = (
        boosts.join(F.broadcast(qstats), "query_id")
        .join(dl, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (
                F.col("q_const").cast("decimal(28,9)")
                + F.col("boost").cast("decimal(28,9)")
                - _dec9(F.col("n_q") * F.log(F.col("dl") + MU))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.col("score").cast("double").alias("score"),
            "rank",
        )
    )


ORACLE_DIRICHLET = (
    "WITH "
    + _ORACLE_TERMS
    + """
, qstats AS (
  SELECT query_id,
         SUM(CAST(round(ln(2000.0 * (cf / coll_len)), 9)
                  AS DECIMAL(28,9))) AS q_const,
         count(*) AS n_q
  FROM q JOIN df_ USING (term) CROSS JOIN consts
  GROUP BY 1
),
boosts AS (
  SELECT query_id, tf.doc_id,
         SUM(CAST(round(ln(1.0 + tf / (2000.0 * (cf / coll_len))), 9)
                  AS DECIMAL(28,9))) AS boost
  FROM tf JOIN q USING (term) JOIN df_ USING (term) CROSS JOIN consts
  WHERE tf.doc_id <> query_id
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, doc_id,
         CAST(q_const AS DECIMAL(28,9)) + CAST(boost AS DECIMAL(28,9))
           - CAST(round(n_q * ln(dl + 2000.0), 9) AS DECIMAL(28,9)) AS score
  FROM boosts JOIN qstats USING (query_id) JOIN dl USING (doc_id)
)
SELECT query_id, doc_id, CAST(score AS DOUBLE) AS score, rank FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 10
"""
)


# ---------------------------------------------------------------------------
# search_phrase_match — positional postings, rarest-term-anchored phrases
# ---------------------------------------------------------------------------


def q_search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search over positional postings — the retrieval
    capability doc-level postings cannot express (BM25 treats "fast
    slow" and "slow fast" identically; a phrase query must not).

    Query-by-example: the phrase for probe q is the first three tokens
    of document q (q < 3).  Spark side: positional postings
    (doc_id, term, pos) via one posexplode, then the Lucene/Tantivy
    phrase shape — anchor on the RAREST phrase term (min (df, term,
    slot), df from the postings themselves), so candidate generation
    costs the rarest term's postings list, never the corpus; the
    remaining slots verify by equi-join on the DERIVED key
    (doc_id, anchor_pos − anchor_slot + slot, term) — point lookups
    into the postings, shuffle-partitioned by (doc_id, pos).  A start
    position is a match iff BOTH other slots hit (count == 2).

    The oracle takes a deliberately INDEPENDENT path — a brute-force
    scan of every document's token array counting adjacent triples —
    so agreement verifies the postings intersection end-to-end rather
    than replaying it.  Top-10 per probe by (n_matches desc, doc_id);
    every count is an exact integer.  At 100 TB the postings frame is
    the persisted term-clustered store of search_bm25_indexed with
    `pos` as one more column; anchoring bounds the probe cost by the
    rarest term exactly as MaxScore bounds scoring.  No counterpart in
    the reference (no ranked or positional retrieval — azanium
    core.clj:1-80); extends the §2.12 retrieval family."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", TXT.tokens(F.lower(F.col("text"))).alias("a")
    )
    post = toks.select(
        "doc_id", F.posexplode("a").alias("pos", "term")
    )
    ph = toks.filter((F.col("doc_id") < 3) & (F.size("a") >= 3)).select(
        F.col("doc_id").alias("query_id"),
        F.col("a").getItem(0).alias("t0"),
        F.col("a").getItem(1).alias("t1"),
        F.col("a").getItem(2).alias("t2"),
    )
    slots = ph.select(
        "query_id",
        F.posexplode(F.array("t0", "t1", "t2")).alias("slot", "term"),
    )
    df_ = post.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    sdf = slots.join(df_, "term", "left").na.fill({"df": 0})
    w = Window.partitionBy("query_id").orderBy("df", "term", "slot")
    anchor = (
        sdf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("term").alias("a_term"),
            F.col("slot").alias("a_slot"),
        )
    )
    others = (
        sdf.join(anchor, "query_id")
        .filter(F.col("slot") != F.col("a_slot"))
        .select("query_id", "a_slot", "slot", "term")
    )
    cand = post.join(
        F.broadcast(anchor), post["term"] == anchor["a_term"]
    ).select("query_id", "doc_id", F.col("pos").alias("apos"), "a_slot")
    chk = cand.join(F.broadcast(others), ["query_id", "a_slot"])
    hits = chk.join(
        post.select(
            F.col("doc_id").alias("h_doc"),
            F.col("pos").alias("h_pos"),
            F.col("term").alias("h_term"),
        ),
        (F.col("h_doc") == F.col("doc_id"))
        & (
            F.col("h_pos")
            == F.col("apos") - F.col("a_slot") + F.col("slot")
        )
        & (F.col("h_term") == F.col("term")),
    )
    starts = (
        hits.groupBy("query_id", "doc_id", "apos")
        .agg(F.count(F.lit(1)).alias("n_slots"))
        .filter(F.col("n_slots") == 2)
    )
    matched = starts.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_matches")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("n_matches"), "doc_id"
    )
    return (
        matched.join(F.broadcast(ph), "query_id")
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            F.concat_ws(" ", "t0", "t1", "t2").alias("phrase"),
            "doc_id",
            "n_matches",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


ORACLE_PHRASE_MATCH = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS a
  FROM documents
),
ph AS (
  SELECT doc_id AS query_id, a[1] AS t0, a[2] AS t1, a[3] AS t2
  FROM toks WHERE doc_id < 3 AND len(a) >= 3
),
m AS (
  SELECT p.query_id, t.doc_id,
         len(list_filter(range(1, greatest(len(t.a) - 1, 1)),
             i -> t.a[i] = p.t0 AND t.a[i+1] = p.t1 AND t.a[i+2] = p.t2))
           AS n_matches
  FROM toks t CROSS JOIN ph p
)
SELECT query_id, t0 || ' ' || t1 || ' ' || t2 AS phrase, doc_id,
       n_matches, rank
FROM (
  SELECT m.query_id, ph.t0, ph.t1, ph.t2, m.doc_id, m.n_matches,
         CAST(row_number() OVER (
             PARTITION BY m.query_id
             ORDER BY m.n_matches DESC, m.doc_id) AS INTEGER) AS rank
  FROM m JOIN ph USING (query_id)
  WHERE m.n_matches > 0
) WHERE rank <= 10
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# search_bm25_blockmax — exact top-k with BLOCK-level upper-bound pruning
# ---------------------------------------------------------------------------


def _grp_col() -> F.Column:
    """File-group name of the current row: parent directory of the
    scanned part file (txlog groups are uuid-named directories)."""
    return F.element_at(F.split(F.input_file_name(), "/"), -2)


def _ensure_blockmax(spark: SparkSession, sf_dir: str) -> str:
    """Per-(file-group, term) scoring upper bound sidecar for the
    postings store: (grp, term, bub) where bub = max over the term's
    postings IN THAT GROUP of its BM25 contribution.

    This is the block-level tier of the impact metadata
    (_ensure_maximpact is the term-level tier): Lucene stores these as
    per-block "impacts" beside each postings list; here a "block" is a
    txlog file group of the term-clustered store, so skipping a block
    is skipping a FILE — the same planning currency as the zone maps.
    Size is ≤ vocabulary × groups rows (each term lives in few groups
    of a term-sorted layout), derived from the store in one aggregate
    pass at build time.  A store append invalidates it (same staleness
    contract as the term-level sidecar; a stale row is handled
    conservatively by the planner)."""
    import json as _json
    import os

    from .queries_e2e import _fx

    root = _fx(sf_dir, "search_blockmax")
    path = os.path.join(root, "block_ub")

    def build() -> None:
        t, consts_path = _ensure_search_index(spark, sf_dir)
        with open(consts_path) as fh:
            c = _json.load(fh)
        bub = (
            t.read(spark)
            .withColumn("grp", _grp_col())
            .groupBy("grp", "term")
            .agg(F.max(bm25_contrib(c["n_docs"], c["avgdl"])).alias("bub"))
        )
        bub.coalesce(1).write.mode("overwrite").parquet(path)

    build_once(root, build)
    return path


def q_search_bm25_blockmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 BM25 with Block-Max pruning (Ding & Suel 2011's
    BMW, adapted to file-group blocks) over the postings store — same
    answer as ORACLE_BM25, provably, while candidate generation reads
    only the file groups whose block-level score ceiling can still
    reach the threshold.

    MaxScore (the term-level tier) prunes whole TERMS: a common word
    drops out only if the sum of ITS ceiling and the other
    non-essential ceilings is below θ.  But an essential common term
    still drags its entire postings list into candidate generation.
    Block-max prunes WITHIN the essential terms: group g of essential
    term t is skipped when

        bub(g, t) + Σ_{t' ≠ t in query} ub(t')  <  θ

    — any doc whose only essential-term rows live in skipped groups
    has score ≤ that bound < θ ≤ the true 10th-best score, so it can
    never enter the top 10 (and every seed doc keeps ≥ 1 allowed
    group, so the candidate set is never starved).  Missing metadata
    degrades conservatively: an unknown global ub makes the slack −∞
    (never skip), an unknown block bound keeps the group.

    Per-query planner state is the block sidecar restricted to the
    query's terms (≤ |terms| × groups rows, collected) — exactly the
    impacts a BMW engine walks per query.  Scoring math is the
    identical decimal-leaf sum, so the oracle is literally
    ORACLE_BM25: pruning must be invisible in the result, bit for
    bit.  No counterpart in the reference (azanium has no retrieval;
    core.clj:1-80)."""
    import json as _json

    t, consts_path = _ensure_search_index(spark, sf_dir)
    ub_path = _ensure_maximpact(spark, sf_dir)
    bub_path = _ensure_blockmax(spark, sf_dir)
    with open(consts_path) as fh:
        c = _json.load(fh)
    post = t.read(spark)
    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.filter(F.col("doc_id") < N_PROBES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(TXT.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .distinct()
    )
    return blockmax_topk(
        spark,
        t,
        post,
        c,
        q,
        spark.read.parquet(ub_path),
        spark.read.parquet(bub_path),
    )


def blockmax_topk(
    spark: SparkSession,
    t,
    post: DataFrame,
    c: dict,
    q: DataFrame,
    ub: DataFrame,
    bub: DataFrame,
    k: int = 10,
    exec_planner_threshold: int = 256,
) -> DataFrame:
    """The Block-Max phases of :func:`q_search_bm25_blockmax`: the
    shared MaxScore planner (θ + essential terms), then BLOCK planning
    — allow (query, term, group) triples whose block ceiling can still
    reach θ — then candidate generation over ONLY the allowed groups
    (``read_groups`` on their union), then the identical full exact
    scoring.  Kept separate so the SCALE tool can drive it against the
    ×10 store and assert group skipping.

    Staleness contract (conservative by construction): a group ABSENT
    from the block sidecar entirely — i.e. appended to the store after
    the sidecar build; every store group has postings rows, so build
    covers it for all its terms — is allowed for EVERY essential
    (query, term) pair, bound +inf, never skipped.  A (term, group)
    pair absent while the group IS covered genuinely means the term
    has no postings in that group, so skipping it is exact.

    Block planning runs in one of two places. Below
    ``exec_planner_threshold`` active groups, the sidecar slice for the
    query vocabulary is collected and planned driver-side (≤ |terms| ×
    groups rows — what a BMW engine walks per query).  Above it, the
    slice would be millions of rows (a common term's postings span
    ~10⁴–10⁶ groups at 100 TB), so the allow-list is computed as a
    DataFrame join — sidecar ⋈ broadcast(per-(query,term) slack) —
    executor-side, and only the DISTINCT allowed group ids (bounded by
    |groups|, not |terms|×|groups|) ever reach the driver, as the
    ``read_groups`` path list."""
    _INF = float("inf")
    st = _wand_planner(spark, post, c, q, ub, k)
    q_terms, ub_map, theta = st["q_terms"], st["ub_map"], st["theta"]
    ess_pairs, all_terms, contrib = (
        st["ess_pairs"],
        st["all_terms"],
        st["contrib"],
    )

    active = t.active_groups()
    total_grps = len(active)
    # per-(query, essential term) slack rows: other = Σ ub(t'≠t), plus
    # the query's θ.  |ess_pairs| rows — driver-scale in either planner.
    ess_rows = []
    for qid, ts in q_terms.items():
        th = theta.get(qid, float("-inf"))
        ess_ts = [t_ for q2, t_ in ess_pairs if q2 == qid]
        for t_ in ess_ts:
            other = sum(ub_map.get(x, _INF) for x in ts if x != t_)
            ess_rows.append((qid, t_, float(other), float(th)))

    if total_grps > exec_planner_threshold:
        # --- executor-side block planning ---------------------------
        ess_df = spark.createDataFrame(
            ess_rows or [(-1, "", 0.0, _INF)],
            "query_id long, term string, other double, theta double",
        )
        joined = bub.join(F.broadcast(ess_df), "term")
        # keep on ties / NaN / inf — same predicate as the driver path
        keep = ~(F.col("bub") + F.col("other") < F.col("theta"))
        covered = joined.filter(keep).select("query_id", "term", "grp")
        # stale groups: in the store but never seen by the sidecar
        sidecar_grps = {r.grp for r in bub.select("grp").distinct().collect()}
        stale = sorted(set(active) - sidecar_grps)
        allow_df = covered
        # no essential terms → nothing can reach θ through a stale
        # group either; crossing the placeholder row with stale groups
        # would allow (and scan) every stale group for a query set the
        # driver path allows nothing for (r9 ADVICE #2)
        if stale and ess_rows:
            stale_df = spark.createDataFrame(
                [(g,) for g in stale], "grp string"
            )
            allow_df = covered.unionByName(
                ess_df.select("query_id", "term").crossJoin(stale_df)
            )
        stats_row = joined.agg(
            F.count(F.lit(1)).alias("pt"),
            F.sum(keep.cast("long")).alias("pa"),
        ).collect()[0]
        pairs_total = int(stats_row.pt or 0)
        pairs_allowed = int(stats_row.pa or 0) + len(stale) * len(ess_rows)
        # only the distinct group ids come back to the driver — bounded
        # by |groups|, never |terms| × |groups|
        allowed_grps = sorted(
            r.grp for r in allow_df.select("grp").distinct().collect()
        )
        planner = "executor"
    else:
        # --- driver-side block planning (small stores) --------------
        bub_rows = bub.filter(F.col("term").isin(all_terms)).collect()
        blocks: dict[str, dict[str, float]] = {}
        sidecar_grps = set()
        for r in bub_rows:
            blocks.setdefault(r.term, {})[r.grp] = r.bub
            sidecar_grps.add(r.grp)
        # groups the sidecar has never seen (store append after build):
        # the query-vocabulary slice can't prove coverage, so fall back
        # to the sidecar's full group set (one tiny distinct) only when
        # the slice alone doesn't already cover the store.
        if not (set(active) <= sidecar_grps):
            sidecar_grps |= {
                r.grp for r in bub.select("grp").distinct().collect()
            }
        stale = sorted(set(active) - sidecar_grps)
        allow: list[tuple[int, str, str]] = []
        pairs_total = 0
        for qid, t_, other, th in ess_rows:
            for grp, b in blocks.get(t_, {}).items():
                pairs_total += 1
                if not (b + other < th):  # NaN/inf-safe: keep on ties
                    allow.append((qid, t_, grp))
            for grp in stale:  # unknown block bound keeps the group
                allow.append((qid, t_, grp))
        pairs_allowed = len(allow)
        allowed_grps = sorted({g for _, _, g in allow})
        allow_df = spark.createDataFrame(
            allow or [(-1, "", "")], ["query_id", "term", "grp"]
        )
        planner = "driver"

    BLOCKMAX_LAST_STATS.clear()
    BLOCKMAX_LAST_STATS.update(
        {
            "groups_allowed": len(allowed_grps),
            "groups_total": total_grps,
            "pairs_allowed": pairs_allowed,
            "pairs_total": pairs_total,
            "stale_groups": len(stale),
            "planner": planner,
        }
    )

    # candidate generation over ONLY the allowed groups: one planned
    # multi-group scan, the (term, grp) allow-list joined broadcast
    # (small-store path) or AQE-planned (executor path, where the
    # allow-list can be |terms| × allowed-groups rows)
    if planner == "driver":
        allow_df = F.broadcast(allow_df)
    cands = (
        t.read_groups(spark, allowed_grps)
        .withColumn("grp", _grp_col())
        .select("term", "grp", "doc_id")
        .join(allow_df, ["term", "grp"])
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
        .distinct()
    )
    scored = (
        post.filter(F.col("term").isin(all_terms))
        .join(F.broadcast(q), "term")
        .join(cands, ["query_id", "doc_id"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum(_dec9(contrib)).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("score").cast("double").alias("score"),
            "rank",
        )
    )


def register(queries: dict, oracles: dict) -> None:
    queries["search_bm25_topk"] = q_search_bm25_topk
    oracles["search_bm25_topk"] = ORACLE_BM25
    queries["search_bm25_indexed"] = q_search_bm25_indexed
    oracles["search_bm25_indexed"] = ORACLE_BM25
    queries["search_bm25_maxscore"] = q_search_bm25_maxscore
    oracles["search_bm25_maxscore"] = ORACLE_BM25
    queries["search_bm25_blockmax"] = q_search_bm25_blockmax
    oracles["search_bm25_blockmax"] = ORACLE_BM25
    queries["stream_postings_mv"] = q_stream_postings_mv
    oracles["stream_postings_mv"] = ORACLE_BM25
    queries["search_eval_ndcg"] = q_search_eval_ndcg
    oracles["search_eval_ndcg"] = ORACLE_NDCG
    queries["search_inverted_postings"] = q_search_inverted_postings
    oracles["search_inverted_postings"] = ORACLE_POSTINGS
    queries["search_hybrid_rrf"] = q_search_hybrid_rrf
    oracles["search_hybrid_rrf"] = ORACLE_RRF
    queries["search_dirichlet_lm"] = q_search_dirichlet_lm
    oracles["search_dirichlet_lm"] = ORACLE_DIRICHLET
    queries["search_phrase_match"] = q_search_phrase_match
    oracles["search_phrase_match"] = ORACLE_PHRASE_MATCH
