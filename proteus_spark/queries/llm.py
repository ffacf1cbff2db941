"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing — each with a DuckDB oracle that executes the SAME
algorithm (hash constants and formula text generated from one place,
functions/texthash.py + the constants in llmops/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from proteus_spark.functions.texthash import (
    hex_slice_to_long_sql,
    hex_to_long_sql,
    md5_seeded_sql,
)
from proteus_spark.llmops import dedup as D
from proteus_spark.llmops import multimodal as M
from proteus_spark.llmops import similarity as S
from proteus_spark.llmops import text as TXT
from proteus_spark.plans.ckpt import release as release_checkpoint
from proteus_spark.registry import load, register

# ---------------------------------------------------------------------------
# Shared DuckDB CTE fragments (mirror llmops.dedup.shingles / tokens)
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   FOR i IN generate_series(1, greatest(len(t)-2, 0))]) AS s
    FROM toks))
"""

_JACCARD_TAIL = """
cnt AS (SELECT doc_id, count(*) AS n FROM {rel} GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ni
  FROM {rel} a JOIN {rel} b ON a.s = b.s AND a.doc_id < b.doc_id
  {cand_filter}
  GROUP BY 1, 2)
SELECT ida, idb, CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) AS jaccard
FROM inter JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb
WHERE CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) >= {thr}
"""


def _dot_sql(a: str, b: str) -> str:
    """Sequential double fold — mirrors llmops.similarity.dot bit-for-bit
    (DuckDB list_reduce folds left-to-right; +0.0 seed is a no-op)."""
    return (
        f"list_reduce([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"FOR i IN generate_series(1, len({a}))], (x, y) -> x + y)"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "llm_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
           CAST(len(regexp_extract_all(text, '{TXT.BPE_REGEX}')) AS BIGINT) AS n_bpe
    FROM documents
    """,
    tags=("llm", "text"),
)
def llm_token_stats(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex (SURVEY build plan §7.1
    llmops; pure codegen expressions, one parquet column read)."""
    return TXT.token_stats(load(spark, sf_dir, "documents"))


def _quality_oracle() -> str:
    all_stop = sorted({w for ws in TXT.STOPWORDS.values() for w in ws})
    stop_list = ", ".join(f"'{w}'" for w in all_stop)
    return f"""
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
           round(n_punct / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
           round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
                 * (1.0 - n_punct / CAST(n_chars AS DOUBLE))
                 * (0.5 + n_stop / CAST(n_tokens AS DOUBLE)), 6) AS quality
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '), x -> x IN ({stop_list}))) AS n_stop,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\\w ]', '', 'g')) AS n_punct
      FROM documents)
    """


@register("llm_quality_score", oracle=_quality_oracle, tags=("llm", "text"))
def llm_quality_score(spark, sf_dir):
    """Quality scoring: length/punctuation/stopword ratios + composite."""
    return TXT.quality_score(load(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    hits = ",\n             ".join(
        f"len(list_filter(string_split(text, ' '), x -> x IN "
        f"({', '.join(repr(w) for w in TXT.STOPWORDS[lang])}))) AS hits_{lang}"
        for lang in TXT.LANG_PRIORITY
    )
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in TXT.LANG_PRIORITY) + ")"
    cases = "\n           ".join(
        f"WHEN hits_{lang} = {best} AND {best} > 0 THEN '{lang}'"
        for lang in TXT.LANG_PRIORITY
    )
    hit_cols = ", ".join(
        f"CAST(hits_{lang} AS BIGINT) AS hits_{lang}" for lang in TXT.LANG_PRIORITY
    )
    return f"""
    SELECT doc_id, lang, {hit_cols},
           CASE {cases} ELSE 'und' END AS lang_guess,
           CAST(CASE {cases} ELSE 'und' END = lang AS INTEGER) AS agrees
    FROM (
      SELECT doc_id, lang,
             {hits}
      FROM documents)
    """


@register("llm_lang_id", oracle=_langid_oracle, tags=("llm", "text"))
def llm_lang_id(spark, sf_dir):
    """n-gram/stopword-profile language ID (deterministic heuristic; the
    synthetic corpus shares one vocabulary across lang labels, so this
    validates plumbing + determinism, not model accuracy)."""
    return TXT.lang_id(load(spark, sf_dir, "documents"))


def _fingerprint_oracle() -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    xf AS (SELECT doc_id, {md5_seeded_sql('text', 'fp')} AS xf FROM documents),
    fp AS (SELECT doc_id, {hex_to_long_sql('xf')} AS fp_full FROM xf),
    hs AS (SELECT doc_id, {md5_seeded_sql('s', 'fpmin')} AS xs FROM sh),
    hl AS (SELECT doc_id, {hex_to_long_sql('xs')} AS hs FROM hs),
    mins AS (SELECT doc_id, min(hs) AS fp_min FROM hl GROUP BY doc_id)
    SELECT f.doc_id AS doc_id, fp_full, fp_min
    FROM fp f LEFT JOIN mins m ON f.doc_id = m.doc_id
    """


@register("llm_fingerprint", oracle=_fingerprint_oracle, tags=("llm", "text"))
def llm_fingerprint(spark, sf_dir):
    """Document fingerprinting: whole-text digest + min-shingle-hash."""
    return TXT.fingerprints(load(spark, sf_dir, "documents"))


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in TXT.BM25_QUERY_TERMS)
    k1, b = TXT.BM25_K1, TXT.BM25_B
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
           WHERE w IN ({terms}) GROUP BY doc_id, w),
    dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    stats AS (SELECT (SELECT avg(dl) FROM dl) AS avgdl,
                     (SELECT count(*) FROM documents) AS n)
    SELECT tf.doc_id AS doc_id, CAST(dl.dl AS BIGINT) AS dl,
           round(sum(
             ln(1.0 + (n - df + 0.5) / (df + 0.5))
             * (tf * ({k1} + 1)) / (tf + {k1} * (1 - {b} + {b} * dl.dl / avgdl))
           ), 6) AS score
    FROM tf JOIN dfreq USING (w) JOIN dl ON dl.doc_id = tf.doc_id, stats
    GROUP BY tf.doc_id, dl.dl
    ORDER BY score DESC, doc_id
    LIMIT 20
    """


def _train_split_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT doc_id,
             {hex_to_long_sql('xs')} % {TXT.SPLIT_BUCKETS} AS bucket
      FROM (SELECT doc_id, {md5_seeded_sql('text', 'split')} AS xs FROM documents))
    SELECT doc_id, bucket,
           CASE WHEN bucket < {TXT.SPLIT_VALID_PCT} THEN 'valid'
                ELSE 'train' END AS split
    FROM b
    """


@register("llm_train_split", oracle=_train_split_oracle, tags=("llm", "text"))
def llm_train_split(spark, sf_dir):
    """Deterministic content-hash train/validation split: same text -> same
    split across re-ingests and duplicate copies (no leakage); pure codegen,
    oracle-reproduced bucket arithmetic."""
    return TXT.train_split(load(spark, sf_dir, "documents"))


def _weighted_sample_oracle() -> str:
    cases = " ".join(
        f"WHEN '{g}' THEN {r}" for g, r in sorted(TXT.SAMPLE_RATES.items())
    )
    return f"""
    SELECT doc_id, lang AS grp, bucket
    FROM (
      SELECT doc_id, lang,
             {hex_to_long_sql('xs')} % 10000 AS bucket,
             CASE lang {cases} ELSE {TXT.SAMPLE_DEFAULT_RATE} END AS rate
      FROM (SELECT doc_id, lang, {md5_seeded_sql('text', 'mix')} AS xs
            FROM documents))
    WHERE bucket < rate * 10000
    """


@register("llm_weighted_sample", oracle=_weighted_sample_oracle, tags=("llm", "text"))
def llm_weighted_sample(spark, sf_dir):
    """Language-weighted corpus sampling: content-hash buckets under a
    per-group rate table — deterministic, duplicate-consistent, no RNG
    state (the mixing step of a training-data pipeline)."""
    return TXT.weighted_sample(load(spark, sf_dir, "documents"))


def _repetition_oracle() -> str:
    return (
        "WITH "
        + _SHINGLE_CTE.replace("SELECT DISTINCT doc_id, s", "SELECT doc_id, s")
        + """,
    per AS (SELECT doc_id, s, count(*) AS c FROM sh GROUP BY doc_id, s),
    agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
                   CAST(count(*) AS BIGINT) AS n_distinct
            FROM per GROUP BY doc_id)
    SELECT doc_id, n_shingles, n_distinct,
           round(1.0 - n_distinct / CAST(n_shingles AS DOUBLE), 6) AS rep_ratio
    FROM agg
    """
    )


@register("llm_doc_repetition", oracle=_repetition_oracle, tags=("llm", "text"))
def llm_doc_repetition(spark, sf_dir):
    """Intra-document repetition ratio (boilerplate / degenerate-text
    signal): 1 - distinct/total word-3-grams, two-level group so the wide
    explode combines map-side."""
    return TXT.repetition_score(load(spark, sf_dir, "documents"))


@register("llm_bm25_search", oracle=_bm25_oracle, tags=("llm", "text"))
def llm_bm25_search(spark, sf_dir):
    """BM25 top-20 relevance search for a fixed query-term set: tf filtered
    before its shuffle, df/corpus stats broadcast, exact-in-double integer
    accumulation, rounded-score ranking with id tie-break (see
    llmops.text.bm25_search for the scale notes)."""
    return TXT.bm25_search(load(spark, sf_dir, "documents"))


_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored)
SELECT doc_id, term, tf, tfidf FROM ranked WHERE rk <= {TXT.TFIDF_TOPN}
"""


@register("llm_tfidf_topterms", oracle=_TFIDF_ORACLE, tags=("llm", "text"))
def llm_tfidf_topterms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms: two-aggregation factorization (tf
    by (doc, term), df by term), vocabulary join NOT broadcast, smoothed
    idf, per-doc bounded ranking window (see llmops.text.tfidf_top_terms
    for the scale notes)."""
    return TXT.tfidf_top_terms(load(spark, sf_dir, "documents"))


_INVIDX_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
ranked AS (
  SELECT term, doc_id,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
  FROM toks),
posts AS (
  SELECT term,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM ranked WHERE rk <= {TXT.INDEX_POSTING_CAP} GROUP BY term)
SELECT term, CAST(df AS BIGINT) AS df, postings
FROM dfreq JOIN posts USING (term)
"""


def _sample_kpg_oracle() -> str:
    return f"""
    WITH hx AS (
      SELECT doc_id, lang AS grp, {md5_seeded_sql('text', 'kpg')} AS _x
      FROM documents),
    h AS (SELECT doc_id, grp, {hex_to_long_sql('_x')} AS h FROM hx),
    r AS (
      SELECT doc_id, grp,
             row_number() OVER (PARTITION BY grp ORDER BY h, doc_id) AS rk
      FROM h)
    SELECT doc_id, grp, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {TXT.SAMPLE_K_PER_GROUP}
    """


@register(
    "llm_sample_k_per_group", oracle=_sample_kpg_oracle, tags=("llm", "text")
)
def llm_sample_k_per_group(spark, sf_dir):
    """Exactly-k deterministic per-language sample (content-hash ranked,
    WindowGroupLimit-bounded — see llmops.text.sample_k_per_group): the
    fixed-size counterpart of rate-based llm_weighted_sample."""
    return TXT.sample_k_per_group(load(spark, sf_dir, "documents"))


@register("llm_inverted_index", oracle=_INVIDX_ORACLE, tags=("llm", "text", "index"))
def llm_inverted_index(spark, sf_dir):
    """Term -> capped posting-list index materialization — the text-search
    member of the reference's index family, with its 20-record lookup
    truncation (inMemIndex.go:245-247) as the posting cap; cap enforced
    via WindowGroupLimit BEFORE any list aggregation (see
    llmops.text.inverted_index for the scale notes)."""
    return TXT.inverted_index(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "llm_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM documents GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content digest (one shuffle, map-side
    partial agg — the 100 TB shape)."""
    return D.exact_dedup(load(spark, sf_dir, "documents"))


def _ngram_oracle() -> str:
    return (
        "WITH "
        + _SHINGLE_CTE
        + ","
        + _JACCARD_TAIL.format(rel="sh", cand_filter="", thr="0.8")
    )


@register("llm_dedup_ngram_jaccard", oracle=_ngram_oracle, tags=("llm", "dedup"))
def llm_dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (>= 0.8): shingle equi-join,
    never a cross product. At corpus scale the LSH variant prunes
    candidates first; this exact form is the baseline/oracle anchor."""
    sh = D.shingles(load(spark, sf_dir, "documents"))
    return D.jaccard_pairs(sh, 0.8)


def _ngram_capped_oracle() -> str:
    # max_doc_freq=50 applied identically: shingles in more than 50 docs
    # are dropped before pairing (the hot-key guard changes results, so it
    # gets its own oracle rather than riding the exact baseline's)
    return (
        "WITH "
        + _SHINGLE_CTE
        + """,
    rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
    shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
"""
        + _JACCARD_TAIL.format(rel="shc", cand_filter="", thr="0.8")
    )


@register(
    "llm_dedup_ngram_capped", oracle=_ngram_capped_oracle, tags=("llm", "dedup")
)
def llm_dedup_ngram_capped(spark, sf_dir):
    """Exact Jaccard with the hot-shingle cap (max_doc_freq=50): the
    standard skew guard for shingle-dense corpora — a shingle appearing in
    >50 docs contributes quadratic join fan-out but near-zero similarity
    signal, so it is dropped before pairing. Oracle applies the identical
    cap, so the guard's effect on results is itself hash-checked."""
    sh = D.shingles(load(spark, sf_dir, "documents"))
    return D.jaccard_pairs(sh, 0.8, max_doc_freq=50)


def _components_oracle() -> str:
    # same shingle/Jaccard pipeline as _ngram_oracle, then transitive
    # closure via a recursive CTE: reach(v, r) = r reaches v; component =
    # min reachable id (edges are symmetric, so that's the cluster min).
    return (
        "WITH RECURSIVE "
        + _SHINGLE_CTE
        + """,
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT ida, idb
  FROM inter JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb
  WHERE CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) >= 0.8),
edges AS (SELECT ida AS a, idb AS b FROM pairs
          UNION SELECT idb, ida FROM pairs),
reach AS (
  SELECT a AS v, a AS r FROM edges
  UNION
  SELECT e.b AS v, r.r AS r FROM reach r JOIN edges e ON e.a = r.v
)
SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY v
"""
    )


# llm_dedup_components_lsh RETIRED round 8 (registry hygiene — the banked
# retirement owed for round 7's post-freeze llm_cluster_audit; ROTATION.md
# named this candidate and the audit confirms the subsumption): it was the
# pure composition D.dup_components(D.minhash_lsh_dedup(docs, 0.8)), both
# axes of which stay independently HASH-verified — the MinHash-LSH verified
# pair graph in full by llm_dedup_minhash_lsh (identical Spark path and
# identical _minhash_oracle CTE, r7-green), and the connected-components
# algorithm by llm_dedup_components (same D.dup_components over the exact
# pair graph, r6-green). dup_components is input-agnostic (operates on any
# (ida, idb) edge frame), so the composition adds no unique logic; cluster
# consumers stay covered by llm_dedup_cluster_stats and llm_dedup_apply,
# and the banding-quality axis by llm_lsh_recall_report.


@register("llm_dedup_components", oracle=_components_oracle, tags=("llm", "dedup"))
def llm_dedup_components(spark, sf_dir):
    """Duplicate clusters: exact connected components over the verified
    near-dup pair graph (transitive closure — catches A~B~C chains the
    greedy survivor rule in ``llm_dedup_apply`` treats pairwise).
    Iterative min-label propagation: one equi-join + one map-side-combined
    min per round, rounds = cluster diameter (~2-4 for dedup graphs),
    lineage checkpoint-truncated per round. See llmops.dedup.dup_components
    for the 100 TB scale notes."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(D.shingles(docs), 0.8)
    return D.dup_components(pairs)


def _minhash_band_ctes() -> str:
    """The ``hx -> hl -> hh -> sig -> bands`` CTE fragment — minhash
    signatures + LSH banding over the ``sh`` shingle CTE. SHARED by the
    batch near-dup oracle and the streaming on-ingest gate's oracle
    (stream_lsh_dedup_ingest) so the banding algebra cannot drift."""
    k, bands, rows = D.MINHASH_K, D.LSH_BANDS, D.LSH_ROWS
    # mirror minhash_signatures: one md5 per shingle, two 48-bit slices,
    # linear family h_i = (y0 + i*y1) mod P
    hx_cols = f"{md5_seeded_sql('s', 0)} AS x"
    hl_cols = (
        f"{hex_slice_to_long_sql('x', 1)} AS y0,\n       "
        f"{hex_slice_to_long_sql('x', 13)} AS y1"
    )
    hh_cols = ",\n       ".join(
        f"(y0 + {i} * y1) % {D.MINHASH_PRIME} AS h{i}" for i in range(k)
    )
    sig_cols = ", ".join(f"min(h{i}) AS m{i}" for i in range(k))
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + " AS bv FROM sig"
        for b in range(bands)
    )
    return f"""
    hx AS (SELECT doc_id, {hx_cols} FROM sh),
    hl AS (SELECT doc_id, {hl_cols} FROM hx),
    hh AS (SELECT doc_id, {hh_cols} FROM hl),
    sig AS (SELECT doc_id, {sig_cols} FROM hh GROUP BY doc_id),
    bands AS (
      {band_rows})"""


def _minhash_oracle() -> str:
    return (
        "WITH "
        + _SHINGLE_CTE
        + ","
        + _minhash_band_ctes()
        + f""",
    cand AS (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
    hsid AS (SELECT doc_id, {md5_seeded_sql("s", "sid")} AS xs FROM sh),
    sh_ids AS (SELECT DISTINCT doc_id,
                      {hex_to_long_sql("xs", D.SID_HEX)} AS s FROM hsid),
    """
        + _JACCARD_TAIL.format(
            rel="sh_ids",
            cand_filter="JOIN cand c ON c.ida = a.doc_id AND c.idb = b.doc_id",
            thr="0.8",
        )
    )


@register("llm_dedup_minhash_lsh", oracle=_minhash_oracle, tags=("llm", "dedup", "bench"))
def llm_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: shingle -> 12 portable min-hashes -> 4x3 band
    buckets -> candidate equi-join -> exact-Jaccard verify (>= 0.8). The
    oracle runs the identical algorithm, so LSH false negatives match too."""
    return D.minhash_lsh_dedup(load(spark, sf_dir, "documents"), 0.8)


def _simhash_core() -> str:
    bits = D.SIMHASH_BITS
    sum_cols = ",\n       ".join(
        f"sum(CASE WHEN {D._bit_sql('h', b)} = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
    tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    hx AS (SELECT doc_id, {md5_seeded_sql('w', 'sim')} AS xh FROM tok),
    hl AS (SELECT doc_id, {hex_to_long_sql('xh')} AS h FROM hx),
    sums AS (SELECT doc_id, {sum_cols} FROM hl GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM sums)
    """


# llm_dedup_simhash RETIRED round 6 (registry hygiene, VERDICT r5 #8):
# the signature computation (_simhash_core / D.simhash_signatures) is a
# strict prefix of llm_dedup_simhash_pairs, which oracles the SAME
# signatures and then the pigeonhole candidate join on top of them.


def _simhash_pairs_oracle() -> str:
    chunks, width = D.SIMHASH_CHUNKS, D.SIMHASH_BITS // D.SIMHASH_CHUNKS
    block_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, simhash, {c} AS blk, "
        f"CAST(floor(simhash / {2 ** (c * width)}) AS BIGINT) % {2 ** width} AS bval FROM sig"
        for c in range(chunks)
    )
    return (
        "WITH "
        + _simhash_core()
        + f""",
    blocks AS (
      {block_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
             a.simhash AS sa, b.simhash AS sb
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT ida, idb, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {D.HAMMING_MAX}
    """
    )


@register("llm_dedup_simhash_pairs", oracle=_simhash_pairs_oracle, tags=("llm", "dedup"))
def llm_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via the pigeonhole multi-index (hamming <= 3
    over 4 blocks — candidates from an equi-join, never a cross join)."""
    return D.simhash_pairs(load(spark, sf_dir, "documents"))


def _srp_banded_sql(
    bits: int,
    bands: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB mirror of llmops.similarity.srp_banded: one UNION ALL branch
    per band, sign bits packed little-endian per band — shared by the
    near-dup, radius, and banded-MIPS oracles so the banding algebra
    cannot drift. ``table`` may be a CTE name (the MIPS oracle bands a
    magnitude-weighted derived relation)."""
    r = bits // bands
    selects = []
    for j in range(bands):
        bval = " + ".join(
            f"(CASE WHEN {vec_col}[{j * r + m + 1}] >= 0 THEN 1 ELSE 0 END)"
            f" * {1 << m}"
            for m in range(r)
        )
        selects.append(
            f"SELECT {id_col} AS vid, {vec_col} AS vec, {j} AS band,"
            f" {bval} AS bval FROM {table}"
        )
    return " UNION ALL ".join(selects)


def _embed_neardup_oracle() -> str:
    bits, bands, thr = S.SRP_BITS, S.SRP_BANDS, S.SRP_THRESHOLD
    banded = _srp_banded_sql(bits, bands)
    return f"""
    WITH banded AS ({banded}),
    cand AS (
      SELECT DISTINCT a.vid AS a_id, b.vid AS b_id, a.vec AS avec, b.vec AS bvec
      FROM banded a JOIN banded b ON a.band = b.band AND a.bval = b.bval
      WHERE a.vid < b.vid)
    SELECT a_id, b_id, round({_cos_sql('avec', 'bvec')}, 6) AS sim
    FROM cand WHERE round({_cos_sql('avec', 'bvec')}, 6) >= {thr}
    """


@register("llm_dedup_embedding", oracle=_embed_neardup_oracle, tags=("llm", "dedup"))
def llm_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs via sign-projection LSH banding:
    candidates from a (band, band_value) equi-join — never all-pairs —
    then exact cosine verification on candidates only (SURVEY §7.1's
    embedding-cosine near-dup; recall < 1 by design, reproduced by the
    oracle)."""
    return S.embedding_near_dup_pairs(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _bruteforce_oracle() -> str:
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT qid, v.vec_id AS nid,
             round({_cos_sql('qvec', 'embedding')}, 6) AS sim
      FROM embeddings v JOIN q ON v.vec_id != qid)
    SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM scored)
    WHERE rn <= 5
    """


@register("llm_sim_bruteforce", oracle=_bruteforce_oracle, tags=("llm", "similarity", "bench"))
def llm_sim_bruteforce(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id < 10): broadcast
    queries x corpus scan, JVM-side array folds, per-query window top-k."""
    emb = load(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# llm_sim_mips RETIRED round 7 (registry hygiene, VERDICT r6 #7 — the
# subsumption audit the verdict named): the exact brute-force MIPS top-5
# it computed is RECOMPUTED VERBATIM inside llm_sim_mips_recall (the
# `exact` oracle CTE / S.brute_force_topk(corpus, queries, k=5,
# metric="dot") Spark path — same weighted corpus, same ranking, same
# tie-breaks), and llm_sim_mips_banded keeps the shipped scale path's
# full (qid, nid, sim, rank) output hash-checked. The _mips_oracle text
# lives on only through the recall report's exact CTE.


_MIPS_WEIGHTED_CORPUS_SQL = """
    v AS (SELECT vec_id,
                 list_transform(embedding,
                                x -> x * (1 + (vec_id % 7) / 10.0)) AS embedding
          FROM embeddings),
    qsrc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10)
"""


def _mips_banded_oracle() -> str:
    bits, bands = S.SRP_BITS, S.SRP_BANDS
    nb = _srp_banded_sql(bits, bands, table="v")
    qb = _srp_banded_sql(bits, bands, table="qsrc")
    return f"""
    WITH {_MIPS_WEIGHTED_CORPUS_SQL},
    nb AS ({nb}),
    qb AS ({qb}),
    cand AS (
      SELECT DISTINCT qb.vid AS qid, nb.vid AS nid,
             qb.vec AS qvec, nb.vec AS nvec
      FROM nb JOIN qb ON nb.band = qb.band AND nb.bval = qb.bval
      WHERE nb.vid != qb.vid),
    scored AS (
      SELECT qid, nid, round({_dot_sql('qvec', 'nvec')}, 6) AS sim FROM cand)
    SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY sim DESC, nid) AS rn
          FROM scored)
    WHERE rn <= 5
    """


@register(
    "llm_sim_mips_banded",
    oracle=_mips_banded_oracle,
    tags=("llm", "similarity", "bench"),
)
def llm_sim_mips_banded(spark, sf_dir):
    """Banded MIPS retrieval — the exact MIPS baseline's SCALE path
    (VERDICT r4 #5; the exact top-5 itself is recomputed and checked
    inside llm_sim_mips_recall since the round-7 retirement):
    candidates from a (band, band-value) equi-join of the SRP-banded
    magnitude-weighted corpus against the broadcast query bands, exact
    inner-product verification on candidates only. Never all-pairs: at
    100 TB the corpus is banded once (codegen projection, no shuffle) and
    candidate volume tracks true-neighbor volume, not corpus^2. The
    norm-augmentation reduction collapses under axis-aligned SRP (positive
    scaling preserves signs; the augmented dim has constant sign), so the
    banding IS the augmented banding — see similarity.mips_banded_topk."""
    emb = load(spark, sf_dir, "embeddings")
    w = F.lit(1.0) + (F.col("vec_id") % 7) / F.lit(10.0)
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x * w).alias("embedding"),
    )
    return S.mips_banded_topk(corpus, emb.filter(F.col("vec_id") < 10), k=5)


def _mips_recall_oracle() -> str:
    bits, bands = S.SRP_BITS, S.SRP_BANDS
    nb = _srp_banded_sql(bits, bands, table="v")
    qb = _srp_banded_sql(bits, bands, table="qsrc")
    return f"""
    WITH {_MIPS_WEIGHTED_CORPUS_SQL},
    exact AS (
      SELECT qid, nid FROM (
        SELECT q.vec_id AS qid, v.vec_id AS nid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_dot_sql('q.embedding', 'v.embedding')}, 6)
                   DESC, v.vec_id) AS rn
        FROM v JOIN qsrc q ON v.vec_id != q.vec_id)
      WHERE rn <= 5),
    nb AS ({nb}),
    qb AS ({qb}),
    cand AS (
      SELECT DISTINCT qb.vid AS qid, nb.vid AS nid,
             qb.vec AS qvec, nb.vec AS nvec
      FROM nb JOIN qb ON nb.band = qb.band AND nb.bval = qb.bval
      WHERE nb.vid != qb.vid),
    banded AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round({_dot_sql('qvec', 'nvec')}, 6) DESC, nid) AS rn
        FROM cand)
      WHERE rn <= 5),
    hits AS (
      SELECT e.qid, CAST(count(b.nid) AS BIGINT) AS hits
      FROM exact e LEFT JOIN banded b ON e.qid = b.qid AND e.nid = b.nid
      GROUP BY e.qid)
    SELECT qid, hits, round(CAST(hits AS DOUBLE) / 5.0, 6) AS recall5
    FROM hits
    """


@register(
    "llm_sim_mips_recall", oracle=_mips_recall_oracle, tags=("llm", "similarity")
)
def llm_sim_mips_recall(spark, sf_dir):
    """Recall@5 of the banded MIPS retrieval against the exact brute-force
    MIPS baseline, per query — the measurement that justifies shipping the
    approximate path (the same exact-vs-banded report pattern as
    llm_lsh_recall_report). Output: (qid, hits, recall5)."""
    emb = load(spark, sf_dir, "embeddings")
    w = F.lit(1.0) + (F.col("vec_id") % 7) / F.lit(10.0)
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x * w).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(corpus, queries, k=5, metric="dot").select(
        "qid", "nid"
    )
    banded = S.mips_banded_topk(corpus, queries, k=5).select("qid", "nid")
    hits = (
        exact.join(banded, ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        exact.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)).cast("double") / F.lit(5.0), 6
            ).alias("recall5"),
        )
    )


def _knn_classify_oracle() -> str:
    return f"""
    WITH lab AS (SELECT vec_id, embedding, label FROM embeddings
                 WHERE vec_id % 17 != 0),
    q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
          WHERE vec_id % 17 = 0),
    nn AS (
      SELECT qid, lbl FROM (
        SELECT qid, v.label AS lbl,
               row_number() OVER (PARTITION BY qid
                 ORDER BY round({_cos_sql('qvec', 'v.embedding')}, 6) DESC,
                          v.vec_id) AS rn
        FROM lab v JOIN q ON v.vec_id != qid)
      WHERE rn <= 5),
    votes AS (SELECT qid, lbl, count(*) AS nv FROM nn GROUP BY qid, lbl)
    SELECT qid, CAST(lbl AS BIGINT) AS pred_label, CAST(nv AS BIGINT) AS votes
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY nv DESC, lbl) AS rn
          FROM votes)
    WHERE rn = 1
    """


@register(
    "llm_knn_classify", oracle=_knn_classify_oracle, tags=("llm", "similarity")
)
def llm_knn_classify(spark, sf_dir):
    """k-NN majority-vote classification: vectors with vec_id % 17 == 0
    play the unlabeled queries, the rest are the labeled corpus; each
    query's 5 cosine-nearest neighbors vote, ties to the smaller label —
    the label-propagation / semantic-filter shape of a curation pipeline
    (label a few exemplars, classify the corpus by similarity). The
    labeled corpus never shuffles (queries broadcast); at retrieval scale
    the same vote runs over mips_banded/ivf candidates."""
    emb = load(spark, sf_dir, "embeddings")
    return S.knn_classify(
        emb.filter(F.col("vec_id") % 17 != 0),
        emb.filter(F.col("vec_id") % 17 == 0),
        k=5,
    )


def _class_margins_oracle() -> str:
    cos = _cos_sql("v.embedding", "c.cvec")
    return f"""
    WITH dim AS (
      SELECT CAST(len(embedding) AS INTEGER) AS d FROM embeddings LIMIT 1),
    pos AS (
      -- dimension derived from the data, not hardcoded (ADVICE r5):
      -- a testdata re-generation at a different dim stays in parity
      SELECT v.label, g.pos, CAST(v.embedding[g.pos] AS DOUBLE) AS x
      FROM embeddings v,
           (SELECT unnest(generate_series(1, (SELECT d FROM dim))) AS pos) g),
    cent AS (
      SELECT label AS clabel, list(m ORDER BY pos) AS cvec
      FROM (SELECT label, pos, round(avg(x), 6) AS m
            FROM pos GROUP BY label, pos)
      GROUP BY clabel),
    scored AS (
      SELECT v.vec_id AS vid, v.label AS vlabel, c.clabel,
             round({cos}, 6) AS sim
      FROM embeddings v CROSS JOIN cent c),
    margins AS (
      SELECT vid, vlabel,
             round(max(CASE WHEN vlabel = clabel THEN sim END)
                   - max(CASE WHEN vlabel != clabel THEN sim END), 6)
               AS margin
      FROM scored GROUP BY vid, vlabel)
    SELECT CAST(vlabel AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(margin), 6) AS mean_margin,
           round(avg(CASE WHEN margin > 0 THEN 1.0 ELSE 0.0 END), 6)
             AS frac_separable
    FROM margins GROUP BY vlabel
    """


@register(
    "llm_embed_class_margins",
    oracle=_class_margins_oracle,
    tags=("llm", "similarity", "audit"),
)
def llm_embed_class_margins(spark, sf_dir):
    """Embedding-space quality audit: per-label nearest-centroid margins
    (cosine to own-label centroid minus best other-centroid cosine) —
    the linear-probe-style sanity report a pipeline runs before trusting
    an embedding column for dedup/retrieval/classification. Centroids
    from one posexplode + (label, pos) partial-avg aggregation, broadcast
    back across the corpus scan; components rounded before the cosine so
    partial-aggregation order cannot diverge from the oracle."""
    emb = load(spark, sf_dir, "embeddings")
    return S.class_margins(emb)


# llm_sim_ivf RETIRED round 10 (the banked retirement owed for round 9's
# post-freeze llm_dsir_select; ROTATION.md's pre-analysis named it and the
# audit confirms the subsumption): its engine path was the single call
# S.ivf_topk(emb, centroids, queries, k=3) at nprobe=1 over the trivial
# vec_id<10 centroid frame. That exact invocation — same code, same k,
# same nprobe — is value-hashed end-to-end by llm_sim_ivf_kmeans over the
# LEARNED centroids (the strictly harder input: training + search in one
# oracle), and llm_sim_ivf_nprobe2 recomputes the nprobe=1 result on
# every run for its in-query recall-monotonicity assert (hits2 >= hits1
# vs exact brute force). The trivial-centroid variant's hash therefore
# added no code or value coverage the learned-centroid hash does not.


def _ivf_nprobe2_oracle() -> str:
    cos_vc = _cos_sql("vec", "cvec")
    cos_qc = _cos_sql("qvec", "cvec")
    cos_qn = _cos_sql("qvec", "nvec")
    return f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 10),
    v AS (SELECT vec_id, embedding AS vec FROM embeddings),
    assigned AS (
      SELECT vec_id, vec AS embedding, cid AS bucket FROM (
        SELECT v.vec_id, v.vec, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.cid) AS rn
        FROM v CROSS JOIN c)
      WHERE rn = 1),
    q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
          WHERE vec_id >= 10 AND vec_id < 20),
    probes AS (
      SELECT qid, qvec, cid AS qbucket FROM (
        SELECT q.qid, q.qvec, c.cid,
               row_number() OVER (PARTITION BY q.qid
                                  ORDER BY round({cos_qc}, 6) DESC, c.cid) AS pr
        FROM q CROSS JOIN c)
      WHERE pr <= 2),
    scored AS (
      SELECT p.qid, n.vec_id AS nid,
             round({cos_qn}, 6) AS sim
      FROM (SELECT vec_id, embedding AS nvec, bucket FROM assigned) n
      JOIN probes p ON n.bucket = p.qbucket AND n.vec_id != p.qid)
    SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
          FROM scored)
    WHERE rn <= 3
    """


@register(
    "llm_sim_ivf_nprobe2", oracle=_ivf_nprobe2_oracle, tags=("llm", "similarity")
)
def llm_sim_ivf_nprobe2(spark, sf_dir):
    """IVF ANN probing the 2 nearest centroid buckets (the standard
    recall/latency knob): the candidate superset of nprobe=1 makes recall
    monotonically non-decreasing, which the query asserts in-line against
    the exact brute-force neighbors before returning."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 10)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    probe2 = S.ivf_topk(emb, centroids, queries, k=3, nprobe=2)
    probe1 = S.ivf_topk(emb, centroids, queries, k=3, nprobe=1)
    exact = S.brute_force_topk(emb, queries, k=3).select("qid", "nid")
    hits2 = probe2.join(exact, ["qid", "nid"], "left_semi").count()
    hits1 = probe1.join(exact, ["qid", "nid"], "left_semi").count()
    assert hits2 >= hits1, f"nprobe=2 recall regressed: {hits2} < {hits1}"
    return probe2


_KMEANS_K = 8
_KMEANS_ROUNDS = 3


def _kmeans_unroll_ctes() -> str:
    """Static unroll of deterministic Lloyd's training (every CTE
    MATERIALIZED): hash-ranked init, then per round assign (rounded-6
    cosine, ties -> lowest cid) + rounded-6 per-bucket component means —
    the recluster/PageRank quantized-iteration parity pattern (VERDICT
    r6 #4: no KMeans|| in the loop, so SQL can replay training exactly)."""
    cos_vc = _cos_sql("v.vec", "c.cvec")
    parts = [
        f"""cent_0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (
               ORDER BY md5('ivfq|' || CAST(vec_id AS VARCHAR)), vec_id) - 1
             AS BIGINT) AS cid,
             CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings
      ORDER BY md5('ivfq|' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_KMEANS_K})"""
    ]
    for r in range(_KMEANS_ROUNDS):
        parts.append(f"""asg_{r} AS MATERIALIZED (
      SELECT vec_id, vec, cid AS bucket FROM (
        SELECT v.vec_id, v.vec, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.cid)
                 AS rn
        FROM (SELECT vec_id, embedding AS vec FROM embeddings) v
        CROSS JOIN cent_{r} c)
      WHERE rn = 1)""")
        parts.append(f"""cent_{r + 1} AS MATERIALIZED (
      SELECT bucket AS cid, list(m ORDER BY pos) AS cvec FROM (
        SELECT a.bucket, g.pos,
               round(avg(CAST(a.vec[g.pos] AS DOUBLE)), 6) AS m
        FROM asg_{r} a,
             (SELECT unnest(generate_series(1, (SELECT d FROM dim))) AS pos) g
        GROUP BY a.bucket, g.pos)
      GROUP BY bucket)""")
    return ",\n    ".join(parts)


def _ivf_kmeans_oracle() -> str:
    """Lloyd's unroll + the ivf_topk nprobe=1 search shape over the
    LEARNED centroids (each query searches its own final bucket)."""
    cos_vc = _cos_sql("v.vec", "c.cvec")
    cos_qn = _cos_sql("qvec", "nvec")
    kc = f"cent_{_KMEANS_ROUNDS}"
    return f"""
    WITH dim AS (
      SELECT CAST(len(embedding) AS INTEGER) AS d FROM embeddings LIMIT 1),
    {_kmeans_unroll_ctes()},
    assigned AS MATERIALIZED (
      SELECT vec_id, vec AS embedding, cid AS bucket FROM (
        SELECT v.vec_id, v.vec, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.cid)
                 AS rn
        FROM (SELECT vec_id, embedding AS vec FROM embeddings) v
        CROSS JOIN {kc} c)
      WHERE rn = 1),
    q AS (SELECT vec_id AS qid, embedding AS qvec, bucket AS qbucket
          FROM assigned WHERE vec_id >= 10 AND vec_id < 20),
    scored AS (
      SELECT qid, n.vec_id AS nid,
             round({cos_qn}, 6) AS sim
      FROM (SELECT vec_id, embedding AS nvec, bucket AS nbucket
            FROM assigned) n
      JOIN q ON n.nbucket = qbucket AND n.vec_id != qid)
    SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY sim DESC, nid) AS rn
          FROM scored)
    WHERE rn <= 3
    """


def _cluster_audit_oracle() -> str:
    """The kmeans unroll (shared with llm_sim_ivf_kmeans — the merge/
    assignment determinism is proven once) + per-cluster size, majority-
    label purity, and mean cosine-to-centroid."""
    cos_vc = _cos_sql("v.vec", "c.cvec")
    kc = f"cent_{_KMEANS_ROUNDS}"
    return f"""
    WITH dim AS (
      SELECT CAST(len(embedding) AS INTEGER) AS d FROM embeddings LIMIT 1),
    {_kmeans_unroll_ctes()},
    asgf AS MATERIALIZED (
      SELECT vec_id, cid, sim FROM (
        SELECT v.vec_id, c.cid, round({cos_vc}, 6) AS sim,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.cid)
                 AS rn
        FROM (SELECT vec_id, embedding AS vec FROM embeddings) v
        CROSS JOIN {kc} c)
      WHERE rn = 1),
    lab AS (
      SELECT a.cid, a.sim, e.label
      FROM asgf a JOIN embeddings e ON e.vec_id = a.vec_id),
    lc AS (
      SELECT cid, label, CAST(count(*) AS BIGINT) AS c
      FROM lab GROUP BY cid, label),
    top AS (
      SELECT cid, CAST(label AS BIGINT) AS top_label, c AS top_c FROM (
        SELECT cid, label, c,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY c DESC, label ASC) AS rn
        FROM lc)
      WHERE rn = 1),
    agg AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n,
             round(avg(sim), 6) AS mean_sim
      FROM lab GROUP BY cid)
    SELECT a.cid, a.n, t.top_label,
           round(CAST(t.top_c AS DOUBLE) / a.n, 6) AS purity, a.mean_sim
    FROM agg a JOIN top t ON t.cid = a.cid
    """


def _semdedup_oracle(cap: int | None = None) -> str:
    """The kmeans unroll + the SemDeDup exists-earlier-partner test:
    rank cluster members by (rounded-6 centroid cosine ASC, id), pair
    every member with its earlier-ranked cluster-mates, prune on
    rounded-6 pairwise cosine >= tau. Shares the training/assignment
    CTEs with llm_sim_ivf_kmeans / llm_cluster_audit so quantizer
    determinism is proven once. ``cap`` replays the engine's
    cluster-size mitigation bit-for-bit: restrict the earlier-partner
    side to the C lowest keep-ranks (AND a.rk <= C). The pair sim uses
    the engine's NORMALIZE-ONCE formula (uvec = e / ||v|| computed once
    per vector, pair sim = round(dot(ua, ub), 6)) with the identical
    IEEE op order, so rounded-6 sims stay hash-identical."""
    cos_vc = _cos_sql("v.vec", "c.cvec")
    dot_ab = _dot_sql("a.uvec", "b.uvec")
    kc = f"cent_{_KMEANS_ROUNDS}"
    cap_pred = "" if cap is None else f" AND a.rk <= {cap}"
    return f"""
    WITH dim AS (
      SELECT CAST(len(embedding) AS INTEGER) AS d FROM embeddings LIMIT 1),
    {_kmeans_unroll_ctes()},
    cm AS MATERIALIZED (
      SELECT vec_id, vec, cid, csim FROM (
        SELECT v.vec_id, v.vec, c.cid, round({cos_vc}, 6) AS csim,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.cid)
                 AS rn
        FROM (SELECT vec_id, embedding AS vec FROM embeddings) v
        CROSS JOIN {kc} c)
      WHERE rn = 1),
    rk AS MATERIALIZED (
      SELECT vec_id, cid, rk,
             list_transform(vec, e -> CAST(e AS DOUBLE) / nrm) AS uvec
      FROM (
        SELECT vec_id, vec, cid,
               sqrt({_dot_sql('vec', 'vec')}) AS nrm,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY csim ASC, vec_id) AS rk
        FROM cm)),
    pr AS (
      SELECT b.vec_id, b.cid, round({dot_ab}, 6) AS sim
      FROM rk a JOIN rk b ON a.cid = b.cid AND a.rk < b.rk{cap_pred}
      WHERE round({dot_ab}, 6) >= {S.SEMDEDUP_TAU})
    SELECT vec_id, CAST(cid AS BIGINT) AS cid, max(sim) AS max_sim,
           CAST(count(*) AS BIGINT) AS n_earlier
    FROM pr GROUP BY vec_id, cid
    """


_HIER_K, _HIER_KC, _HIER_ROUNDS = 16, 4, 2


def _semdedup_hier_oracle() -> str:
    """Static unroll of the TWO-LEVEL quantizer (coarse Lloyd's with the
    'ivfq|coarse' seed, md5-'ivfq|fine'-ranked per-bucket fine init,
    fine Lloyd's rounds joined WITHIN coarse buckets) + the same
    SemDeDup tail as _semdedup_oracle — so the n^1.5 scale path's
    training, assignment, and pruning are all hash-checked, not just
    unit-tested. Every determinism rule matches llmops.similarity
    (rounded-6 cosines and means, ties -> lowest id)."""
    per = _HIER_K // _HIER_KC
    cos_vc = _cos_sql("v.vec", "c.cvec")
    cos_fc = _cos_sql("f.vec", "c.cvec")
    pos_g = (
        "(SELECT unnest(generate_series(1, (SELECT d FROM dim))) AS pos) g"
    )
    parts = [
        f"""ccent_0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (
               ORDER BY md5('ivfq|coarse|' || CAST(vec_id AS VARCHAR)),
                        vec_id) - 1 AS BIGINT) AS cid,
             CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings
      ORDER BY md5('ivfq|coarse|' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_HIER_KC})"""
    ]
    for r in range(_HIER_ROUNDS):
        parts.append(f"""casg_{r} AS MATERIALIZED (
      SELECT vec_id, vec, cid AS bucket FROM (
        SELECT v.vec_id, v.vec, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.cid)
                 AS rn
        FROM (SELECT vec_id, embedding AS vec FROM embeddings) v
        CROSS JOIN ccent_{r} c)
      WHERE rn = 1)""")
        parts.append(f"""ccent_{r + 1} AS MATERIALIZED (
      SELECT bucket AS cid, list(m ORDER BY pos) AS cvec FROM (
        SELECT a.bucket, g.pos,
               round(avg(CAST(a.vec[g.pos] AS DOUBLE)), 6) AS m
        FROM casg_{r} a, {pos_g}
        GROUP BY a.bucket, g.pos)
      GROUP BY bucket)""")
    parts.append(f"""cassign AS MATERIALIZED (
      SELECT vec_id, vec, cid AS cb FROM (
        SELECT v.vec_id, v.vec, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.cid)
                 AS rn
        FROM (SELECT vec_id, embedding AS vec FROM embeddings) v
        CROSS JOIN ccent_{_HIER_ROUNDS} c)
      WHERE rn = 1)""")
    parts.append(f"""fcent_0 AS MATERIALIZED (
      SELECT CAST(cb * {per} + rk - 1 AS BIGINT) AS fcid,
             CAST(vec AS DOUBLE[]) AS cvec, cb
      FROM (
        SELECT vec_id, vec, cb,
               row_number() OVER (
                 PARTITION BY cb
                 ORDER BY md5('ivfq|fine|' || CAST(vec_id AS VARCHAR)),
                          vec_id) AS rk
        FROM cassign)
      WHERE rk <= {per})""")
    for r in range(_HIER_ROUNDS + 1):
        # rounds 0..R-1 retrain the fine centroids; round R's assignment
        # (against the FINAL centroids) is the served index
        parts.append(f"""fasg_{r} AS MATERIALIZED (
      SELECT vec_id, vec, cb, fcid AS bucket FROM (
        SELECT v.vec_id, v.vec, v.cb, c.fcid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.fcid)
                 AS rn
        FROM cassign v JOIN fcent_{r} c ON c.cb = v.cb)
      WHERE rn = 1)""")
        if r < _HIER_ROUNDS:
            parts.append(f"""fcent_{r + 1} AS MATERIALIZED (
      SELECT bucket AS fcid, list(m ORDER BY pos) AS cvec,
             CAST(bucket // {per} AS BIGINT) AS cb FROM (
        SELECT a.bucket, g.pos,
               round(avg(CAST(a.vec[g.pos] AS DOUBLE)), 6) AS m
        FROM fasg_{r} a, {pos_g}
        GROUP BY a.bucket, g.pos)
      GROUP BY bucket)""")
    body = ",\n    ".join(parts)
    return f"""
    WITH dim AS (
      SELECT CAST(len(embedding) AS INTEGER) AS d FROM embeddings LIMIT 1),
    {body},
    cm AS MATERIALIZED (
      SELECT f.vec_id, f.vec, f.bucket AS cid,
             round({cos_fc}, 6) AS csim
      FROM fasg_{_HIER_ROUNDS} f
      JOIN fcent_{_HIER_ROUNDS} c ON c.fcid = f.bucket),
    rk AS MATERIALIZED (
      SELECT vec_id, cid, rk,
             list_transform(vec, e -> CAST(e AS DOUBLE) / nrm) AS uvec
      FROM (
        SELECT vec_id, vec, cid,
               sqrt({_dot_sql('vec', 'vec')}) AS nrm,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY csim ASC, vec_id) AS rk
        FROM cm)),
    pr AS (
      SELECT b.vec_id, b.cid, round({_dot_sql('a.uvec', 'b.uvec')}, 6) AS sim
      FROM rk a JOIN rk b ON a.cid = b.cid AND a.rk < b.rk
      WHERE round({_dot_sql('a.uvec', 'b.uvec')}, 6) >= {S.SEMDEDUP_TAU})
    SELECT vec_id, CAST(cid AS BIGINT) AS cid, max(sim) AS max_sim,
           CAST(count(*) AS BIGINT) AS n_earlier
    FROM pr GROUP BY vec_id, cid
    """


@register(
    "llm_semdedup_hier",
    oracle=_semdedup_hier_oracle,
    tags=("llm", "dedup", "similarity", "iterative"),
)
def llm_semdedup_hier(spark, sf_dir):
    """SemDeDup over the TWO-LEVEL quantizer — the k ∝ corpus scale
    path driver-verified end-to-end: ``kmeans_train_hierarchical``
    (kc coarse Lloyd's + per-bucket fine Lloyd's, |corpus| x (kc + k/kc)
    cosines per round instead of flat |corpus| x k — n^1.5 vs n^2,
    measured 4.1x at a 100x replica) trains centroids AND returns the
    final within-bucket assignment, then ``semdedup_prune_assigned``
    prunes on the index directly (the deployment marginal path — never
    a fresh corpus x centroids assignment). Same pruning semantics and
    output schema as llm_semdedup_prune; different clusters (the
    two-level geometry), so both paths carry their own oracle."""
    emb = load(spark, sf_dir, "embeddings")
    cents, idx = S.kmeans_train_hierarchical(
        emb, k=_HIER_K, kc=_HIER_KC, rounds=_HIER_ROUNDS
    )
    return S.semdedup_prune_assigned(idx, cents)


@register(
    "llm_semdedup_prune",
    oracle=_semdedup_oracle,
    tags=("llm", "dedup", "similarity", "iterative"),
)
def llm_semdedup_prune(spark, sf_dir):
    """SemDeDup semantic deduplication (Abbas et al. 2023) over the
    embedding corpus: deterministic k-means clusters (the SAME
    ``similarity.kmeans_train`` quantizer the IVF index and the cluster
    audit use — one model, three consumers), then within each cluster
    prune every vector epsilon-similar (rounded-6 cosine >= tau) to an
    earlier-ranked cluster-mate, keep-order = ascending
    centroid-similarity (the paper's low-typicality-first survivor
    rule). Returns the pruned set with per-vector evidence (worst
    offending similarity + how many earlier members matched).

    Scale: the pair space is per-cluster (equi-join on the cluster id) —
    sum(|cluster|^2), the quantity the clustering step exists to bound;
    k grows with the corpus so cluster sizes stay bounded. No
    all-pairs, no cartesian (plan-audited); the rank window and the
    pair join shuffle on the same cluster key."""
    emb = load(spark, sf_dir, "embeddings")
    cents = S.kmeans_train(emb, k=_KMEANS_K, rounds=_KMEANS_ROUNDS)
    return S.semdedup_prune(emb, cents, tau=S.SEMDEDUP_TAU)


_SEMDEDUP_CAP = 8


@register(
    "llm_semdedup_capped",
    oracle=lambda: _semdedup_oracle(cap=_SEMDEDUP_CAP),
    tags=("llm", "dedup", "similarity", "iterative"),
)
def llm_semdedup_capped(spark, sf_dir):
    """SemDeDup with the CLUSTER-SIZE CAP — the paper's own skew
    mitigation, made deterministic (VERDICT r8 "What's missing #2"):
    the uncapped prune generates sum(|cluster|^2)/2 pairs, so one hot
    cluster at 100 TB makes a single task quadratic. With cap=C each
    member pairs only against the C LOWEST keep-ranks of its cluster
    (the keep-order rank the prune computes anyway: centroid-cosine
    ASC, id ASC — the members the uncapped rule is most likely to
    keep), bounding the pair space to |cluster| x C, linear in cluster
    size. Deterministic (rank ties break on id), so the oracle replays
    the identical cap (AND a.rk <= C) and the CAP'S EFFECT on the
    prune set is itself hash-checked — at sf0.01 cluster sizes (~60)
    far exceed C=8, so capped and uncapped results genuinely differ.
    Same quantizer, tau, and output schema as llm_semdedup_prune."""
    emb = load(spark, sf_dir, "embeddings")
    cents = S.kmeans_train(emb, k=_KMEANS_K, rounds=_KMEANS_ROUNDS)
    return S.semdedup_prune(emb, cents, tau=S.SEMDEDUP_TAU, cap=_SEMDEDUP_CAP)


@register(
    "llm_cluster_audit",
    oracle=_cluster_audit_oracle,
    tags=("llm", "similarity", "audit", "iterative"),
)
def llm_cluster_audit(spark, sf_dir):
    """Semantic cluster audit of the embedding corpus — the
    SemDeDup-adjacent curation report a training pipeline runs before
    cluster-balanced sampling: deterministic k-means clusters (the
    ``similarity.kmeans_train`` quantizer, same hyperparameters as the
    IVF index so ONE model serves both), then per cluster its SIZE
    (balance — an over-dominant cluster means over-represented content),
    majority-LABEL purity (does the learned geometry recover the known
    classes), and the mean cosine-to-centroid (tightness — diffuse
    clusters need a larger k). Every stage is a broadcast-join codegen
    pass + node/cluster-sized aggregations; the oracle reuses the
    kmeans unroll llm_sim_ivf_kmeans already proves, so training cannot
    drift between the index and the audit."""
    emb = load(spark, sf_dir, "embeddings")
    cents = S.kmeans_train(emb, k=_KMEANS_K, rounds=_KMEANS_ROUNDS)
    assigned = S.ivf_assign(
        emb.select("vec_id", "embedding"),
        cents.select(
            F.col("cid").alias("vec_id"), F.col("cvec").alias("embedding")
        ),
    )
    c = cents.select(
        F.col("cid").alias("bucket"),
        F.col("cvec").alias("cvec"),
        S.norm(F.col("cvec")).alias("cnorm"),
    )
    lab = (
        assigned.join(F.broadcast(c), "bucket")
        .withColumn(
            "sim",
            F.round(
                S.dot(F.col("embedding"), F.col("cvec"))
                / (S.norm(F.col("embedding")) * F.col("cnorm")),
                6,
            ),
        )
        .join(
            emb.select("vec_id", "label"), "vec_id"
        )
        .select(F.col("bucket").alias("cid"), "sim", "label")
    )
    lc = lab.groupBy("cid", "label").agg(F.count("*").cast("long").alias("c"))
    wl = W.partitionBy("cid").orderBy(F.desc("c"), F.asc("label"))
    top = (
        lc.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select(
            "cid",
            F.col("label").cast("long").alias("top_label"),
            F.col("c").alias("top_c"),
        )
    )
    agg = lab.groupBy("cid").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("sim"), 6).alias("mean_sim"),
    )
    return agg.join(top, "cid").select(
        "cid",
        "n",
        "top_label",
        F.round(F.col("top_c").cast("double") / F.col("n"), 6).alias("purity"),
        "mean_sim",
    )


@register(
    "llm_sim_ivf_kmeans",
    oracle=_ivf_kmeans_oracle,
    tags=("llm", "similarity", "approx", "iterative"),
)
def llm_sim_ivf_kmeans(spark, sf_dir):
    """IVF with a LEARNED coarse quantizer: deterministic distributed
    Lloyd's (k=8, 3 rounds — hash-ranked init, rounded-6 cosine
    assignment, rounded-6 per-bucket means; ``similarity.kmeans_train``)
    fits the centroids, then the bucket-equi-join ANN search
    (``similarity.ivf_topk``, nprobe=1 — since round 10 this query is
    the sole value-level hash of that arm; the retired trivial-centroid
    llm_sim_ivf duplicated it). Previously rows-only (MLlib KMeans|| init samples by
    partition — irreproducible outside Spark); the quantized Lloyd's
    loop is a pure data function, so the oracle replays TRAINING AND
    SEARCH end-to-end (VERDICT r6 #4). The in-query recall bound vs
    exact brute force stays as a semantic floor: a hash-mismatch says
    'diverged', the assertion says 'and the index would be BAD, not just
    different'."""
    emb = load(spark, sf_dir, "embeddings")
    if emb.isEmpty():
        raise ValueError(
            "llm_sim_ivf_kmeans: cannot train a quantizer on an empty corpus"
        )
    cents = S.kmeans_train(emb, k=_KMEANS_K, rounds=_KMEANS_ROUNDS)
    centroids = cents.select(
        F.col("cid").alias("vec_id"), F.col("cvec").alias("embedding")
    )
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    approx = S.ivf_topk(emb, centroids, queries, k=3)
    exact = S.brute_force_topk(emb, queries, k=3)
    hits = approx.join(
        exact.select("qid", "nid"), ["qid", "nid"], "left_semi"
    ).count()
    total = exact.count()
    assert total > 0 and hits / total >= 0.30, f"IVF recall {hits}/{total}"
    return approx


@register(
    "llm_embed_norms",
    oracle=f"""
    SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt({_dot_sql('embedding', 'embedding')}), 6) AS l2_norm
    FROM embeddings
    """,
    tags=("llm", "similarity"),
)
def llm_embed_norms(spark, sf_dir):
    """Vector column basics: dimension + L2 norm via sequential double fold."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(S.norm(F.col("embedding")), 6).alias("l2_norm"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "llm_multimodal_frames",
    oracle="""
    WITH frames AS (
      SELECT doc_id, text, octet_length(encode(text)) AS total,
             unnest([4 * (i - 1) FOR i IN generate_series(
               1, 1 + CAST(floor((octet_length(encode(text)) - 1) / 256.0) AS BIGINT))]) AS frame_idx
      FROM documents)
    SELECT doc_id, frame_idx,
           CAST(least(64, total - frame_idx * 64) AS BIGINT) AS n_bytes,
           substr(text, CAST(frame_idx * 64 + 1 AS INTEGER), 4) AS head
    FROM frames
    WHERE frame_idx * 64 < total
    """,
    tags=("llm", "multimodal"),
)
def llm_multimodal_frames(spark, sf_dir):
    """Frame-sampling plumbing: each binary asset fans out to every 4th
    64-byte frame via one-to-many mapInPandas (the video keyframe shape).
    Frames are literal byte slices of the payload, so DuckDB reproduces
    them with substring arithmetic (documents text is ASCII: byte offsets
    == char offsets)."""
    assets = M.to_binary_assets(load(spark, sf_dir, "documents"))
    return M.sample_frames(assets, frame_size=64, every_n=4)


def _dedup_apply_oracle() -> str:
    pairs = _minhash_oracle()
    return f"""
    WITH pairs AS ({pairs})
    SELECT d.doc_id, md5(d.text) AS text_hash
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT DISTINCT idb FROM pairs)
    """


@register("llm_dedup_apply", oracle=_dedup_apply_oracle, tags=("llm", "dedup"))
def llm_dedup_apply(spark, sf_dir):
    """Dedup APPLIED: the surviving corpus after near-dup removal
    (min-id-survivor rule — drop any doc that is the larger id of a
    verified pair). The shape a training-data pipeline actually consumes."""
    return D.minhash_dedup_keep(load(spark, sf_dir, "documents"))


@register(
    "llm_corpus_stats",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(min(length(text)) AS BIGINT) AS min_chars,
           CAST(max(length(text)) AS BIGINT) AS max_chars,
           round(avg(length(text)), 6) AS avg_chars
    FROM documents GROUP BY lang
    """,
    tags=("llm", "text"),
)
def llm_corpus_stats(spark, sf_dir):
    """Corpus-level rollup by language: doc counts, token totals, length
    distribution — the summary pass every training-data pipeline runs
    before and after filtering (one shuffle, partial-agg collapsed)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
        F.min(F.length("text")).cast("long").alias("min_chars"),
        F.max(F.length("text")).cast("long").alias("max_chars"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Round 3: decontamination, chunking, PII scrub, sequence packing
# ---------------------------------------------------------------------------


def _decon_oracle() -> str:
    g = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(D.DECON_N))
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh5 AS (SELECT DISTINCT doc_id, s FROM (
      SELECT doc_id,
             unnest([{g}
                     FOR i IN generate_series(1, greatest(len(t)-{D.DECON_N - 1}, 0))]) AS s
      FROM toks)),
    hs AS (SELECT doc_id, {md5_seeded_sql('s', 'sid')} AS xs FROM sh5),
    sid AS (SELECT DISTINCT doc_id, {hex_to_long_sql('xs', D.SID_HEX)} AS s FROM hs),
    ev AS (SELECT DISTINCT s FROM sid WHERE doc_id % 50 = 0),
    tr AS (SELECT doc_id, s FROM sid WHERE doc_id % 50 <> 0)
    SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM tr JOIN ev USING (s) GROUP BY tr.doc_id
    """


@register("llm_decontaminate", oracle=_decon_oracle, tags=("llm", "dedup", "bench"))
def llm_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every 50th doc plays the eval set; train
    docs sharing any word-5-gram with it are flagged with their distinct-
    overlap count. Candidates come from a 60-bit shingle-id equi-join
    (eval side is a tiny distinct set — broadcast at scale); linear in
    |train shingles|, never a cross product."""
    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    return D.decontaminate(tr, ev)


@register(
    "llm_chunk_documents",
    oracle=f"""
    SELECT doc_id, i AS chunk_id,
           CAST(length(substr(text, CAST(i*{TXT.CHUNK_STRIDE}+1 AS BIGINT),
                              {TXT.CHUNK_SIZE})) AS BIGINT) AS chunk_len,
           md5(substr(text, CAST(i*{TXT.CHUNK_STRIDE}+1 AS BIGINT),
                      {TXT.CHUNK_SIZE})) AS chunk_hash
    FROM (SELECT doc_id, text,
                 unnest(generate_series(0,
                     greatest(CAST(floor((length(text)-1)/{TXT.CHUNK_STRIDE})
                              AS BIGINT), 0))) AS i
          FROM documents)
    """,
    tags=("llm", "text"),
)
def llm_chunk_documents(spark, sf_dir):
    """Context-window chunking: 200-char chunks at 150-char stride (50
    overlap), chunks shipped as md5 digests. Per-row sequence + explode —
    no shuffle, pure codegen."""
    return TXT.chunk_documents(load(spark, sf_dir, "documents"))


@register(
    "llm_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{TXT.PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{TXT.PII_LONGNUM}')) AS BIGINT)
             AS n_longnums,
           md5(regexp_replace(regexp_replace(text, '{TXT.PII_EMAIL}', '[EMAIL]',
                                             'g'),
                              '{TXT.PII_LONGNUM}', '[NUM]', 'g')) AS scrubbed_hash
    FROM documents
    """,
    tags=("llm", "text"),
)
def llm_pii_scrub(spark, sf_dir):
    """PII redaction: emails -> [EMAIL], 7+-digit runs -> [NUM]; counts and
    the scrubbed-content digest, detector and redactor sharing one regex
    (RE2/Java-portable, identical in the oracle)."""
    return TXT.pii_scrub(load(spark, sf_dir, "documents"))


@register(
    "llm_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens AS BIGINT) AS tok_offset,
           CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) / {TXT.PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM toks
    """,
    tags=("llm", "text", "bench"),
)
def llm_pack_sequences(spark, sf_dir):
    """Sequence packing for training: concatenate docs in id order into a
    token stream cut at 512-token boundaries; a doc's bin is where it
    starts. The global prefix-sum runs as a DISTRIBUTED two-phase sum
    (per-range-bucket totals prefix-folded on the driver, within-bucket
    windows) — the oracle states the same math as the naive single-task
    global window, which the implementation deliberately avoids."""
    return TXT.pack_sequences(load(spark, sf_dir, "documents"))


def _pq_oracle() -> str:
    """Static unroll of deterministic PQ: normalize -> subspace slices ->
    hash-ranked codebook init -> PQ_ROUNDS of per-subspace Lloyd's
    (rounded-6 identity-fold d2, ties -> lowest code; rounded-6 means) ->
    encode -> integer-micro ADC -> exact rerank of the top rerank*k."""
    from proteus_spark.llmops.similarity import PQ_K, PQ_M, PQ_ROUNDS

    def d2(s, c):
        return (
            f"round({_dot_sql(s, s)} - 2*{_dot_sql(s, c)}"
            f" + {_dot_sql(c, c)}, 6)"
        )

    parts = [
        "sdim AS (SELECT CAST(len(embedding) AS INTEGER)"
        f" // {PQ_M} AS s FROM embeddings LIMIT 1)",
        f"kk AS (SELECT GREATEST(4, LEAST({PQ_K}, count(*) // 8)) AS k"
        f" FROM embeddings)",
        f"""nrm AS MATERIALIZED (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / sqrt({_dot_sql('embedding', 'embedding')}))
               AS nv
      FROM embeddings)""",
        f"""sv AS MATERIALIZED (
      SELECT vec_id, g.mi,
             list_slice(nv, g.mi * (SELECT s FROM sdim) + 1,
                        (g.mi + 1) * (SELECT s FROM sdim)) AS svec
      FROM nrm, (SELECT unnest(generate_series(0, {PQ_M - 1})) AS mi) g)""",
        f"""cb_0 AS MATERIALIZED (
      SELECT mi, CAST(rn - 1 AS INTEGER) AS code, svec AS cvec FROM (
        SELECT mi, vec_id, svec,
               row_number() OVER (PARTITION BY mi
                 ORDER BY md5('pq|' || CAST(mi AS VARCHAR) || '|'
                              || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM sv)
      WHERE rn <= (SELECT k FROM kk))""",
    ]
    for r in range(PQ_ROUNDS):
        parts.append(f"""pasg_{r} AS MATERIALIZED (
      SELECT vec_id, mi, svec, code FROM (
        SELECT s.vec_id, s.mi, s.svec, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.mi
                                  ORDER BY {d2('s.svec', 'c.cvec')} ASC,
                                           c.code ASC) AS rn
        FROM sv s JOIN cb_{r} c ON c.mi = s.mi)
      WHERE rn = 1)""")
        parts.append(f"""cb_{r + 1} AS MATERIALIZED (
      SELECT mi, code, list(cm ORDER BY pos) AS cvec FROM (
        SELECT a.mi, a.code, g.pos, round(avg(a.svec[g.pos]), 6) AS cm
        FROM pasg_{r} a,
             (SELECT unnest(generate_series(1, (SELECT s FROM sdim)))
                AS pos) g
        GROUP BY a.mi, a.code, g.pos)
      GROUP BY mi, code)""")
    kc = f"cb_{PQ_ROUNDS}"
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined},
    enc AS MATERIALIZED (
      SELECT vec_id, mi, code FROM (
        SELECT s.vec_id, s.mi, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.mi
                                  ORDER BY {d2('s.svec', 'c.cvec')} ASC,
                                           c.code ASC) AS rn
        FROM sv s JOIN {kc} c ON c.mi = s.mi)
      WHERE rn = 1),
    qtab AS MATERIALIZED (
      SELECT q.vec_id AS qid, c.mi, c.code,
             CAST(round({d2('q.svec', 'c.cvec')} * 1000000) AS BIGINT) AS qd
      FROM (SELECT * FROM sv WHERE vec_id >= 10 AND vec_id < 20) q
      JOIN {kc} c ON c.mi = q.mi),
    adc AS MATERIALIZED (
      SELECT t.qid, e.vec_id, sum(t.qd) AS adist
      FROM enc e JOIN qtab t ON t.mi = e.mi AND t.code = e.code
      WHERE e.vec_id != t.qid
      GROUP BY t.qid, e.vec_id),
    cand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adist ASC, vec_id ASC) AS rr
        FROM adc)
      WHERE rr <= 48),
    scored AS (
      SELECT c.qid, c.vec_id AS nid,
             round({_cos_sql('qq.embedding', 'n.embedding')}, 6) AS sim
      FROM cand c
      JOIN embeddings n ON n.vec_id = c.vec_id
      JOIN embeddings qq ON qq.vec_id = c.qid)
    SELECT qid, nid, sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY sim DESC, nid) AS rn
          FROM scored)
    WHERE rn <= 3
    """


@register(
    "llm_sim_pq",
    oracle=_pq_oracle,
    tags=("llm", "similarity", "approx", "iterative"),
)
def llm_sim_pq(spark, sf_dir):
    """Product-quantization ANN: per-subspace codebooks (8 subspaces,
    k capped to corpus/8 on tiny fixtures) compress each vector to 8
    code bytes; search scores the ENCODED corpus via ADC lookup tables
    (broadcast q x m x k), then exact-reranks only the top-48 candidates
    per query. The compressed-domain path for embedding stores too large
    to scan raw: the encoded corpus is ~1-2% of the float payload, and
    full-width vectors are touched only for re-rank candidates.
    Previously rows-only (MLlib KMeans codebooks); now DETERMINISTIC
    Lloyd's per subspace (hash-ranked init, rounded-6 quantized rounds,
    integer-micro ADC sums — shuffle-order-proof), so the oracle replays
    train+encode+search end-to-end (VERDICT r6 #4). The in-line recall@3
    >= 50% assertion vs brute force stays as the semantic floor."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    books = S.pq_train(emb)
    # both result frames are q*k rows (tiny) but sit on expensive chains
    # (full ADC scan / full brute-force scan); materialize each ONCE
    # (optimization r15, guide §5) — previously the recall assertion
    # computed both AND the returned frame recomputed the whole PQ chain
    # on collect (measured 1.5s of the query's 7.0s at sf0.01). The
    # brute-force baseline's checkpoint is released after its two scalar
    # uses; the approx frame is the RETURNED result, so its (30-row)
    # checkpoint must outlive this function.
    approx = S.pq_topk(emb, queries, books, k=3, rerank=16).localCheckpoint(
        eager=True
    )
    exact = (
        S.brute_force_topk(emb, queries, k=3)
        .select("qid", "nid")
        .localCheckpoint(eager=True)
    )
    hits = approx.join(exact, ["qid", "nid"], "left_semi").count()
    total = exact.count()
    release_checkpoint(exact)
    assert total > 0 and hits / total >= 0.50, f"PQ recall {hits}/{total}"
    return approx


@register(
    "llm_text_normalize",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
                                                  ' ', 'g'),
                                   ' +', ' ', 'g'))) AS norm_hash,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT)
             AS n_chars_norm,
           CAST(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
                ' ', 'g'), ' +', ' ', 'g')) <> text AS INTEGER) AS changed
    FROM documents
    """,
    tags=("llm", "text"),
)
def llm_text_normalize(spark, sf_dir):
    """Text canonicalization (lowercase, strip punctuation, collapse
    whitespace) with the normalized digest — the pre-dedup pass; one
    codegen projection, identical regexes in the oracle."""
    return TXT.normalize_text(load(spark, sf_dir, "documents"))


@register(
    "llm_dedup_keep_longest",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_chars) AS BIGINT) AS keep_n_chars,
           CAST(min(doc_id) FILTER (
             WHERE n_chars = (SELECT max(d2.n_chars) FROM documents d2
                              WHERE md5(d2.text) = md5(documents.text))
           ) AS BIGINT) AS keep_doc_id
    FROM documents GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_keep_longest(spark, sf_dir):
    """Exact dedup with the keep-longest survivor policy (the common
    production choice: among byte-identical docs keep the one with the
    richest metadata/longest canonical form; min doc_id breaks ties) —
    one map-side-combined aggregation, max_by on (n_chars, -doc_id)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("n_chars").cast("long").alias("keep_n_chars"),
        F.min_by(
            "doc_id", F.struct((-F.col("n_chars")).alias("a"), F.col("doc_id").alias("b"))
        ).cast("long").alias("keep_doc_id"),
    )


def _editdistance_oracle() -> str:
    pairs = _simhash_pairs_oracle()
    # reuse the simhash candidate CTEs INCLUDING the hamming filter (the
    # final SELECT of the pairs oracle), then verify with edit distance
    head = pairs[: pairs.rindex("SELECT ida")].rstrip()
    return (
        head
        + f""",
    cand2 AS (
      SELECT ida, idb FROM cand
      WHERE bit_count(xor(sa, sb)) <= {D.HAMMING_MAX})
    SELECT ida, idb,
           CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
           round(CASE WHEN greatest(length(ta.text), length(tb.text)) = 0
                      THEN 1.0
                      ELSE 1 - levenshtein(ta.text, tb.text)
                           / CAST(greatest(length(ta.text), length(tb.text)) AS DOUBLE)
                 END, 6) AS edit_sim
    FROM cand2
    JOIN documents ta ON ta.doc_id = ida
    JOIN documents tb ON tb.doc_id = idb
    WHERE (CASE WHEN greatest(length(ta.text), length(tb.text)) = 0
                THEN 1.0
                ELSE 1 - levenshtein(ta.text, tb.text)
                     / CAST(greatest(length(ta.text), length(tb.text)) AS DOUBLE)
           END) >= {D.EDIT_SIM_MIN}
    """
    )


@register(
    "llm_dedup_editdistance", oracle=_editdistance_oracle, tags=("llm", "dedup")
)
def llm_dedup_editdistance(spark, sf_dir):
    """Character-level near-dup verification: Levenshtein similarity over
    SimHash pigeonhole candidates only (the expensive O(n*m) verifier
    runs on |candidates| pairs, never all pairs — see
    llmops.dedup.editdistance_verify)."""
    return D.editdistance_verify(load(spark, sf_dir, "documents"))


def _countmin_oracle() -> str:
    depth, width = TXT.CMS_DEPTH, TXT.CMS_WIDTH
    terms = ", ".join(f"'{t}'" for t in TXT.CMS_PROBE_TERMS)
    hx_cols = ", ".join(
        f"{md5_seeded_sql('w', f'cms{d}')} AS x{d}" for d in range(depth)
    )
    grid_rows = "\n      UNION ALL\n      ".join(
        f"SELECT source, {d} AS d, {hex_to_long_sql(f'x{d}')} % {width} AS bucket FROM hx"
        for d in range(depth)
    )
    phx_cols = ", ".join(
        f"{md5_seeded_sql('term', f'cms{d}')} AS x{d}" for d in range(depth)
    )
    pgrid_rows = "\n      UNION ALL\n      ".join(
        f"SELECT term, {d} AS d, {hex_to_long_sql(f'x{d}')} % {width} AS bucket FROM phx"
        for d in range(depth)
    )
    return f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
    hx AS (SELECT source, w, {hx_cols} FROM toks),
    grid AS (
      {grid_rows}),
    partial AS (
      SELECT source, d, bucket, count(*) AS cnt FROM grid GROUP BY 1, 2, 3),
    sketch AS (
      SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM partial GROUP BY 1, 2),
    probe AS (SELECT unnest([{terms}]) AS term),
    phx AS (SELECT term, {phx_cols} FROM probe),
    pgrid AS (
      {pgrid_rows}),
    est AS (
      SELECT term, CAST(min(COALESCE(s.cnt, 0)) AS BIGINT) AS est
      FROM pgrid p LEFT JOIN sketch s USING (d, bucket) GROUP BY term),
    exact AS (
      SELECT w AS term, count(*) AS exact FROM toks
      WHERE w IN ({terms}) GROUP BY w)
    SELECT term, est, CAST(COALESCE(exact, 0) AS BIGINT) AS exact,
           CAST(est >= COALESCE(exact, 0) AS INTEGER) AS ge_exact
    FROM est LEFT JOIN exact USING (term)
    """


@register(
    "agg_countmin_terms",
    oracle=_countmin_oracle,
    tags=("aggregate", "sketch", "llm"),
)
def agg_countmin_terms(spark, sf_dir):
    """Mergeable count-min sketch frequency estimation over the token
    stream — the frequencies member of the sketch-rollup family
    (HLL=distincts, histogram=quantiles): per-source partial grids merge
    by addition; probes read MIN over depth buckets; est >= exact
    guaranteed and checked row-by-row (see llmops.text.countmin_estimate)."""
    out = TXT.countmin_estimate(load(spark, sf_dir, "documents"))
    assert out.filter(F.col("ge_exact") == 0).count() == 0, "CMS under-estimated"
    return out


def _ppm_oracle() -> str:
    side, pool = M.PPM_SIDE, M.PPM_POOL
    oh = ow = side // pool
    n = side * side * 3
    cols = []
    for k in range(oh * ow * 3):
        i, r = divmod(k, ow * 3)
        j, c = divmod(r, 3)
        terms = [
            f"ascii(substr(p, {(y * side + x) * 3 + c + 1}, 1))"
            for y in range(i * pool, (i + 1) * pool)
            for x in range(j * pool, (j + 1) * pool)
        ]
        cols.append(
            f"CAST(({' + '.join(terms)}) // {pool * pool} AS BIGINT) AS t{k}"
        )
    col_sql = ",\n           ".join(cols)
    return f"""
    WITH padded AS (
      SELECT doc_id,
             substr(rpad(regexp_replace(text, '[^ -~]', '', 'g'), {n}, 'x'),
                    1, {n}) AS p
      FROM documents)
    SELECT doc_id, {ow} AS width, {oh} AS height,
           {col_sql}
    FROM padded
    """


@register("llm_multimodal_ppm", oracle=_ppm_oracle, tags=("llm", "multimodal"))
def llm_multimodal_ppm(spark, sf_dir):
    """WORKING image decode -> average-pool -> re-encode, end to end: PPM
    (P6) needs no codec library, so this pipeline — header parse, numpy
    body reinterpret, exact integer pooling, P6 re-encode — runs for
    real (unlike the stubbed PIL/ffmpeg modalities) and the pooled pixel
    values hash-match a byte-arithmetic SQL oracle."""
    docs = load(spark, sf_dir, "documents")
    out = M.resize_ppm(M.ppm_assets(docs))
    k = (M.PPM_SIDE // M.PPM_POOL) ** 2 * 3
    return out.select(
        "doc_id",
        "width",
        "height",
        *[F.col("tvals")[i].cast("long").alias(f"t{i}") for i in range(k)],
    )


# llm_bpe_top_merges RETIRED round 6 (registry hygiene, VERDICT r5 #8 —
# one retirement banked per round-6 addition): the single-round merge
# ranking is subsumed by llm_bpe_train_rounds (whose round-1 choice IS
# the retired query's rank-1 pair over the same zero-shuffle
# arrays_zip + partial-agg shape) and the encode family (now
# llm_bpe_encode_holdout after the round-10 audit); the top-k-then-
# rank plan shape stays pinned by ref_lobsters_topk / tpch_q18.


_INC_BASE = ("src0", "src1", "src2", "src3", "src4")


@register(
    "llm_dedup_incremental",
    oracle=f"""
    WITH hashed AS (SELECT doc_id, source, md5(text) AS h FROM documents),
    base AS (SELECT DISTINCT h FROM hashed
             WHERE source IN {_INC_BASE!r}),
    batch AS (SELECT doc_id, source, h FROM hashed
              WHERE source NOT IN {_INC_BASE!r})
    SELECT doc_id, source FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.h = b.h)
    """,
    tags=("llm", "dedup", "sketch"),
)
def llm_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup: Bloom prefilter over the base corpus's
    content hashes, exact anti-join verify for the maybes — result
    identical to the plain anti-join (the oracle) by the filter's
    no-false-negative guarantee (llmops.dedup.incremental_dedup)."""
    return D.incremental_dedup(
        load(spark, sf_dir, "documents"), base_sources=_INC_BASE
    )


def _containment_oracle() -> str:
    return (
        "WITH "
        + _SHINGLE_CTE
        + f""",
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ni
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT ida, idb,
           CAST(ni AS DOUBLE) / least(ca.n, cb.n) AS containment
    FROM inter JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb
    WHERE CAST(ni AS DOUBLE) / least(ca.n, cb.n) >= {D.CONTAINMENT_MIN}
    """
    )


@register("llm_dedup_containment", oracle=_containment_oracle, tags=("llm", "dedup"))
def llm_dedup_containment(spark, sf_dir):
    """Shingle-containment near-subset pairs (|A∩B|/min(|A|,|B|) >= 0.85):
    the complement metric to Jaccard — a short doc embedded in a longer one
    (boilerplate wrap, prefix truncation) scores high containment but low
    Jaccard. Same shingle equi-join candidate shape as the Jaccard baseline
    (llmops.dedup.containment_pairs; never a cross product)."""
    sh = D.shingles(load(spark, sf_dir, "documents"))
    return D.containment_pairs(sh, D.CONTAINMENT_MIN)


def _gopher_metric_ctes() -> str:
    """Gopher metric + keep-decision CTE chain ending in ``gm`` (the
    exact output schema of llmops.text.gopher_filter) — shared by
    llm_gopher_filter and llm_quality_classifier so the label function
    is proven identical once."""
    all_stop = sorted({w for ws in TXT.STOPWORDS.values() for w in ws})
    stop_list = ", ".join(f"'{w}'" for w in all_stop)
    return f"""base AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    m AS (
      SELECT doc_id,
             len(t) AS n_words,
             greatest(len(t), 1) AS nw,
             CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
               / greatest(len(t), 1) AS mean_wl,
             (length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) / 3.0)
               / greatest(len(t), 1) AS symbol_ratio,
             CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
                  AS DOUBLE) / greatest(len(t), 1) AS alpha_ratio,
             len(list_intersect(list_distinct(t), [{stop_list}])) AS n_stop
      FROM base),
    gm AS (
      SELECT doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             round(mean_wl, 6) AS mean_word_len,
             round(symbol_ratio, 6) AS symbol_ratio,
             round(alpha_ratio, 6) AS alpha_word_ratio,
             CAST(n_stop AS BIGINT) AS n_stop_distinct,
             CAST(n_words >= {TXT.GOPHER_MIN_WORDS}
                  AND n_words <= {TXT.GOPHER_MAX_WORDS}
                  AND mean_wl >= {TXT.GOPHER_MIN_MEAN_WORD_LEN}
                  AND mean_wl <= {TXT.GOPHER_MAX_MEAN_WORD_LEN}
                  AND symbol_ratio <= {TXT.GOPHER_MAX_SYMBOL_RATIO}
                  AND alpha_ratio >= {TXT.GOPHER_MIN_ALPHA_RATIO}
                  AND n_stop >= {TXT.GOPHER_MIN_STOP_HITS} AS INT) AS keep
      FROM m)"""


def _gopher_oracle() -> str:
    return f"""
    WITH {_gopher_metric_ctes()}
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
           n_stop_distinct, keep
    FROM gm
    """


_QUALITY_FEATS_CTE = """feats AS MATERIALIZED (
      SELECT doc_id,
             1.0 AS f0,
             round((CAST(n_words AS DOUBLE) - 50.0) / 25.0, 6) AS f1,
             round((mean_word_len - 4.5) * 2.0, 6) AS f2,
             round(symbol_ratio * 10.0, 6) AS f3,
             round((alpha_word_ratio - 0.5) * 2.0, 6) AS f4,
             round(CAST(n_stop_distinct AS DOUBLE) - 1.5, 6) AS f5,
             CAST(keep AS DOUBLE) AS y
      FROM gm)"""


def _quality_p_sql(w: str, f: str) -> str:
    """round-6 sigmoid of the LEFT-ASSOCIATED dot(w, f) — the association
    order matches llmops.text._logit (part of the cross-engine
    contract)."""
    z = f"{w}.w0 * {f}.f0"
    for j in range(1, 6):
        z = f"({z} + {w}.w{j} * {f}.f{j})"
    return f"round(1.0 / (1.0 + exp(-({z}))), 6)"


def _quality_train_ctes(train_rel: str) -> str:
    """Static unroll of the logistic-regression training loop over
    ``train_rel``: one gradient CTE + one weight CTE per round (every
    CTE MATERIALIZED — the r5 DuckDB lesson), gradients as exact BIGINT
    micro sums, weight updates rounded to 6 inside the engine. Ends at
    ``w_{QUALITY_LR_ROUNDS}``. Parameterizing the training relation lets
    llm_quality_classifier (trains on ALL feats) and stream_quality_gate
    (trains on the lake slice only) share one unroll, so the training
    SQL is proven identical once and cannot drift between the two."""
    rounds = TXT.QUALITY_LR_ROUNDS
    parts = [
        f"nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM {train_rel})",
        "w_0 AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(6))
        + ")",
    ]
    for r in range(rounds):
        gsums = ", ".join(
            f"sum(CAST(round(({_quality_p_sql('w', 'f')} - f.y) * f.f{j}"
            f" * 1000000.0) AS BIGINT)) AS g{j}"
            for j in range(6)
        )
        parts.append(
            f"g_{r} AS MATERIALIZED (\n"
            f"      SELECT {gsums}\n"
            f"      FROM {train_rel} f CROSS JOIN w_{r} w)"
        )
        wcols = ", ".join(
            f"round(w.w{j} - (CAST(g.g{j} AS DOUBLE) / 1000000.0) / n.n, 6)"
            f" AS w{j}"
            for j in range(6)
        )
        parts.append(
            f"w_{r + 1} AS (SELECT {wcols} "
            f"FROM w_{r} w CROSS JOIN g_{r} g CROSS JOIN nn n)"
        )
    return ",\n    ".join(parts)


def _quality_classifier_oracle() -> str:
    """Gopher metrics -> feature matrix -> static training unroll
    (shared CTE chain, see _quality_train_ctes) -> score every training
    document."""
    rounds = TXT.QUALITY_LR_ROUNDS
    pf = _quality_p_sql("w", "f")
    return f"""
    WITH {_gopher_metric_ctes()},
    {_QUALITY_FEATS_CTE},
    {_quality_train_ctes("feats")}
    SELECT f.doc_id, {pf} AS score,
           CAST({pf} >= 0.5 AS INT) AS pred,
           CAST(f.y AS INT) AS label
    FROM feats f CROSS JOIN w_{rounds} w
    """


@register(
    "llm_quality_classifier",
    oracle=_quality_classifier_oracle,
    tags=("llm", "text", "iterative"),
)
def llm_quality_classifier(spark, sf_dir):
    """Trained document-quality classifier (the fastText / FineWeb-Edu
    pipeline step): distill the hard Gopher keep/drop heuristic into a
    smooth logistic score every document gets, trained IN THE ENGINE by
    full-batch gradient descent — 8 fixed rounds, each one
    whole-stage-codegen scan of the cached feature frame + a 6-value
    exact integer-micro gradient aggregation (order-free by
    construction), 6 scalars pulled per round. The oracle replays
    training as a static SQL unroll, so the learned weights — not just
    the scores — are hash-checked across engines.

    In-query semantic floor: training accuracy vs the heuristic label
    must reach 0.8 (measured 0.95-0.96 at the test SFs) — a hash match
    proves determinism, the floor proves the classifier actually
    learned the rule."""
    feats = TXT.quality_features(load(spark, sf_dir, "documents"))
    _w, scored = TXT.train_quality_classifier(feats)
    acc = scored.agg(
        F.avg((F.col("pred") == F.col("label")).cast("double")).alias("a")
    ).collect()[0]["a"]
    assert acc >= 0.8, f"quality classifier failed to learn: accuracy {acc}"
    return scored


@register("llm_gopher_filter", oracle=_gopher_oracle, tags=("llm", "text"))
def llm_gopher_filter(spark, sf_dir):
    """Gopher/MassiveText heuristic quality rules (word-count band,
    mean-word-length band, symbol ratio, alphabetic-word fraction, stopword
    evidence) + composite keep decision — pure codegen expressions, one
    text-column scan (llmops.text.gopher_filter)."""
    return TXT.gopher_filter(load(spark, sf_dir, "documents"))


def _radius_oracle() -> str:
    bits, bands, thr = S.SRP_BITS, S.SRP_BANDS, S.RADIUS_THRESHOLD
    banded = _srp_banded_sql(bits, bands)
    return f"""
    WITH banded AS ({banded}),
    cand AS (
      SELECT DISTINCT q.vid AS qid, n.vid AS nid, q.vec AS qvec, n.vec AS nvec
      FROM banded n JOIN banded q ON n.band = q.band AND n.bval = q.bval
      WHERE q.vid < 10 AND q.vid != n.vid)
    SELECT qid, nid, round({_cos_sql('qvec', 'nvec')}, 6) AS sim
    FROM cand WHERE round({_cos_sql('qvec', 'nvec')}, 6) >= {thr}
    """


@register("llm_sim_radius", oracle=_radius_oracle, tags=("llm", "similarity"))
def llm_sim_radius(spark, sf_dir):
    """Cosine radius search (threshold retrieval, query vectors vec_id<10):
    corpus SRP-banded in codegen, candidates from an equi-join against the
    BROADCAST query bands — the corpus never shuffles — then exact cosine
    verification on candidates only (llmops.similarity.radius_search)."""
    emb = load(spark, sf_dir, "embeddings")
    return S.radius_search(emb, emb.filter(F.col("vec_id") < 10))


def _cluster_stats_oracle() -> str:
    # component assignment (same recursive closure as _components_oracle),
    # then the run-report rollup: clusters by size, docs removable
    base = _components_oracle()
    needle = (
        "SELECT CAST(v AS BIGINT) AS doc_id,"
        " CAST(min(r) AS BIGINT) AS component\nFROM reach GROUP BY v\n"
    )
    # str.replace silently no-ops if the needle drifts out of sync with
    # _components_oracle's final SELECT — fail loudly instead of shipping
    # the components query under this oracle's name
    if needle not in base:
        raise AssertionError(
            "_components_oracle final SELECT changed; update _cluster_stats_oracle"
        )
    return base.replace(
        needle,
        """, comp AS (
  SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
sizes AS (
  SELECT component, count(*) AS csize FROM comp GROUP BY component)
SELECT CAST(csize AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * csize AS BIGINT) AS n_docs,
       CAST(count(*) * (csize - 1) AS BIGINT) AS n_removable
FROM sizes GROUP BY csize
""",
    )


@register("llm_dedup_cluster_stats", oracle=_cluster_stats_oracle, tags=("llm", "dedup"))
def llm_dedup_cluster_stats(spark, sf_dir):
    """Dedup run report: duplicate-cluster size distribution — for each
    cluster size, how many clusters, how many docs they hold, and how many
    are removable (all but one survivor per cluster). The summary every
    production dedup run logs; two map-side-combined aggregations over the
    component assignment, output rows = distinct cluster sizes (tiny at
    any corpus scale)."""
    docs = load(spark, sf_dir, "documents")
    comp = D.dup_components(D.jaccard_pairs(D.shingles(docs), 0.8))
    sizes = comp.groupBy("component").agg(F.count("*").alias("csize"))
    return sizes.groupBy(F.col("csize").cast("long").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.count("*") * F.first("csize")).cast("long").alias("n_docs"),
        (F.count("*") * (F.first("csize") - 1)).cast("long").alias("n_removable"),
    )


def _mixture_oracle() -> str:
    a = TXT.MIXTURE_ALPHA
    return f"""
    WITH per AS (
      SELECT source AS grp,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                   list_reduce(list(pow(CAST(n_tokens AS DOUBLE), {a})
                                    ORDER BY grp), (x, y) -> x + y) AS tot_pow
            FROM per)
    SELECT grp, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS token_share,
           round(pow(CAST(n_tokens AS DOUBLE), {a}) / tot_pow, 6) AS weight
    FROM per, tot
    """


@register("llm_corpus_mixture", oracle=_mixture_oracle, tags=("llm", "text"))
def llm_corpus_mixture(spark, sf_dir):
    """Temperature-scaled mixing weights per source (alpha=0.5 up-weights
    small sources): one aggregation pass + broadcast totals — the data-mixing
    companion to `llm_weighted_sample` (llmops.text.corpus_mixture)."""
    return TXT.corpus_mixture(load(spark, sf_dir, "documents"))


# per-doc log-prob totals as ORDERED sequential folds (list ORDER BY pos,
# list_reduce left fold) — mirrors the Spark side's position-ordered
# F.aggregate so the doubles are bit-identical (see unigram_perplexity)
_PPL_ORACLE = """
    WITH toks AS (
      SELECT doc_id, s.pos AS pos, s.w AS w FROM (
        SELECT doc_id,
               unnest([{'pos': i, 'w': t[i]}
                       FOR i IN generate_series(1, len(t))]) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
    vocab AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
    per AS (
      SELECT doc_id,
             list(ln(CAST(c AS DOUBLE) / n_total) ORDER BY pos) AS lp
      FROM toks JOIN vocab USING (w), tot GROUP BY doc_id)
    SELECT doc_id, CAST(len(lp) AS BIGINT) AS n_tokens,
           round(list_reduce(lp, (x, y) -> x + y) / len(lp), 6) AS avg_logp,
           round(exp(-list_reduce(lp, (x, y) -> x + y) / len(lp)), 6) AS ppl
    FROM per
    """


@register("llm_perplexity_score", oracle=_PPL_ORACLE, tags=("llm", "text"))
def llm_perplexity_score(spark, sf_dir):
    """Unigram-LM perplexity per doc (CCNet-style quality filter): corpus
    MLE unigram model, per-token log-probs joined broadcast, one map-side
    reduction per doc (llmops.text.unigram_perplexity)."""
    return TXT.unigram_perplexity(load(spark, sf_dir, "documents"))


def _wav_oracle() -> str:
    n, w = M.WAV_N_SAMPLES, M.WAV_WINDOW
    return f"""
    WITH padded AS (
      SELECT doc_id,
             substr(rpad(regexp_replace(text, '[^ -~]', '', 'g'), {n}, 'x'),
                    1, {n}) AS p
      FROM documents),
    samples AS (
      SELECT doc_id, CAST((u.i - 1) // {w} AS BIGINT) AS win_idx,
             ascii(substr(p, u.i, 1)) AS s
      FROM padded, generate_series(1, {n}) AS u(i))
    SELECT doc_id, win_idx,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(s) AS BIGINT) AS sum_amp,
           CAST(sum((s - 128) * (s - 128)) AS BIGINT) AS sum_sq_dev,
           round(sqrt(CAST(sum((s - 128) * (s - 128)) AS DOUBLE) / count(*)), 6)
             AS rms
    FROM samples GROUP BY doc_id, win_idx
    """


@register("llm_multimodal_wav", oracle=_wav_oracle, tags=("llm", "multimodal"))
def llm_multimodal_wav(spark, sf_dir):
    """WORKING audio modality end-to-end: REAL RIFF/WAVE (8-bit mono PCM)
    assets synthesized JVM-side, decoded by walking the RIFF chunk list,
    reduced to windowed amplitude/energy/RMS features in an Arrow-batched
    one-to-many mapInPandas — the audio counterpart of the PPM image
    pipeline (llmops.multimodal.wav_assets / audio_features); every value
    integer-derived and replayed by the oracle with per-character
    codepoint arithmetic."""
    assets = M.wav_assets(load(spark, sf_dir, "documents"))
    return M.audio_features(assets)


def _video_oracle() -> str:
    side, frames, every = M.VID_SIDE, M.VID_FRAMES, M.VID_EVERY
    n = side * side * 3
    px = side * side
    rows = []
    for f in range(0, frames, every):
        chans = []
        for c in range(3):
            terms = " + ".join(
                f"ascii(substr(p, {f * n + k * 3 + c + 1}, 1))"
                for k in range(px)
            )
            chans.append(f"CAST(({terms}) // {px} AS BIGINT)")
        rows.append(
            f"SELECT doc_id, CAST({f} AS BIGINT) AS frame_idx, "
            f"{side} AS width, {side} AS height, "
            f"{chans[0]} AS mean_r, {chans[1]} AS mean_g, {chans[2]} AS mean_b "
            "FROM padded"
        )
    union = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH padded AS (
      SELECT doc_id,
             rpad(regexp_replace(text, '[^ -~]', '', 'g'), {n * frames}, 'x')
               AS p
      FROM documents)
    {union}
    """


@register("llm_multimodal_video", oracle=_video_oracle, tags=("llm", "multimodal"))
def llm_multimodal_video(spark, sf_dir):
    """WORKING video modality: clips synthesized as concatenated P6
    frames (the uncompressed repeated-frame container shape), demuxed
    frame-by-frame (each frame's own header declares its size), every 2nd
    frame kept and reduced to per-channel integer means — one-to-many
    mapInPandas, oracle replays each sampled pixel with codepoint
    arithmetic (llmops.multimodal.video_assets / video_frame_features)."""
    assets = M.video_assets(load(spark, sf_dir, "documents"))
    return M.video_frame_features(assets)


# llm_dedup_containment_capped RETIRED round 9 (the subsumption audit
# ROTATION.md banked for the round-8 post-freeze additions): it was a pure
# composition of two independently hash-verified parts — (a) the
# max_doc_freq hot-shingle prefilter, the IDENTICAL two-line rare-filter
# (`groupBy("s").count() <= cap` semi-join) that llm_dedup_ngram_capped
# hash-checks with the same cap value 50 over the same D.shingles input,
# and (b) the containment scoring downstream of the cap branch, which is
# byte-for-byte the uncapped llm_dedup_containment path (the code after
# `if max_doc_freq is not None` in dedup.containment_pairs is shared).
# Same precedent as the round-8 llm_dedup_components_lsh retirement. The
# capped containment capability remains available via
# D.containment_pairs(sh, thr, max_doc_freq=...) and remains covered by
# the two verified parts. (Audit counterpart llm_sim_bruteforce was
# REPRIEVED: it is the only value-level hash check of
# brute_force_topk(metric="cosine") — llm_sim_mips_recall's exact CTE
# covers only metric="dot" and hashes hit COUNTS, never sims/ranks — and
# it anchors the bench headline set.)


def _lsh_recall_oracle() -> str:
    return f"""
    WITH exact AS ({_ngram_oracle()}),
    lsh AS ({_minhash_oracle()}),
    hit AS (SELECT ida, idb FROM lsh JOIN exact USING (ida, idb))
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / (SELECT count(*) FROM exact), 6) AS recall,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / (SELECT count(*) FROM lsh), 6) AS precision
    """


@register("llm_lsh_recall_report", oracle=_lsh_recall_oracle, tags=("llm", "dedup"))
def llm_lsh_recall_report(spark, sf_dir):
    """Approximation-quality report for the LSH dedup pipeline: pair-level
    recall/precision of MinHash-LSH (banded candidates + exact verify)
    against the exact co-shingle Jaccard baseline — the measurement every
    production near-dup deployment publishes before trusting the banding
    parameters. Both pipelines are deterministic, so the report itself is
    hash-checked (the oracle recomputes both sides). Precision is 1.0 by
    construction (candidates are exact-verified); recall quantifies the
    banding's false-negative rate."""
    docs = load(spark, sf_dir, "documents")
    exact = (
        D.jaccard_pairs(D.shingles(docs), 0.8)
        .select("ida", "idb")
        .withColumn("in_exact", F.lit(1))
    )
    lsh = (
        D.minhash_lsh_dedup(docs, 0.8)
        .select("ida", "idb")
        .withColumn("in_lsh", F.lit(1))
    )
    # ONE full-outer join + one aggregation: each expensive pipeline
    # (shingle self-join / minhash-band-verify) is evaluated exactly once
    # — referencing the uncached frames from separate count branches would
    # run both pipelines twice (Spark does not dedup common subplans)
    both = exact.join(lsh, ["ida", "idb"], "full_outer")
    counts = both.agg(
        F.sum(F.coalesce("in_exact", F.lit(0))).cast("long").alias("n_exact"),
        F.sum(F.coalesce("in_lsh", F.lit(0))).cast("long").alias("n_lsh"),
        F.sum(
            F.coalesce("in_exact", F.lit(0)) * F.coalesce("in_lsh", F.lit(0))
        ).cast("long").alias("n_hit"),
    )
    return counts.select(
        "n_exact",
        "n_lsh",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
        F.round(F.col("n_hit") / F.col("n_lsh"), 6).alias("precision"),
    )


def _langid_confusion_oracle() -> str:
    return f"""
    WITH g AS ({_langid_oracle()})
    SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY lang), 6) AS frac
    FROM g GROUP BY lang, lang_guess
    """


@register("llm_langid_confusion", oracle=_langid_confusion_oracle, tags=("llm", "text"))
def llm_langid_confusion(spark, sf_dir):
    """Classifier evaluation rollup: label x prediction confusion matrix
    for the language-ID heuristic, with per-label row fractions — the
    quality report a pipeline publishes for any tagging stage. Output is
    |labels| x |predictions| rows; one aggregation plus a window over
    those tiny groups."""
    from pyspark.sql import Window as _W

    g = TXT.lang_id(load(spark, sf_dir, "documents"))
    counts = g.groupBy("lang", "lang_guess").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = F.sum("n").over(_W.partitionBy("lang"))
    return counts.select(
        "lang", "lang_guess", "n", F.round(F.col("n") / tot, 6).alias("frac")
    )


ZIPF_TOP = 50


def _zipf_oracle() -> str:
    return f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    vc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w),
    top AS (SELECT * FROM vc ORDER BY n DESC, w LIMIT {ZIPF_TOP})
    SELECT w, n,
           CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rnk,
           round(CAST(n AS DOUBLE) * row_number() OVER (ORDER BY n DESC, w)
                 / (SELECT max(n) FROM top), 6) AS zipf_ratio
    FROM top
    """


@register("llm_token_zipf", oracle=_zipf_oracle, tags=("llm", "text"))
def llm_token_zipf(spark, sf_dir):
    """Zipf rank-frequency check over the vocabulary: top-50 tokens with
    rank and n*rank/max_n (≈1 under a Zipfian corpus; big deviations flag
    template/boilerplate skew). Vocab count is one map-side-combined
    aggregation; the top-50 pick is TakeOrderedAndProject; the ranking
    window runs over 50 rows only."""
    toks = load(spark, sf_dir, "documents").select(
        F.explode(TXT.tokens_col()).alias("w")
    )
    vc = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    top = vc.orderBy(F.desc("n"), F.asc("w")).limit(ZIPF_TOP)
    w_rank = W.orderBy(F.desc("n"), F.asc("w"))
    mx = F.max("n").over(W.partitionBy())
    return top.select(
        "w",
        "n",
        F.row_number().over(w_rank).cast("long").alias("rnk"),
        F.round(
            F.col("n").cast("double") * F.row_number().over(w_rank) / mx, 6
        ).alias("zipf_ratio"),
    )


# -- exact-substring span dedup (Lee et al. 2022 "Deduplicating Training
# Data Makes Language Models Better": repeated >= W-token spans across
# documents are memorization hazards and get excised, not just flagged
# doc-level). W/S fixed so the window set is deterministic on both engines.
SUBSTR_W = 20  # span length in tokens
SUBSTR_S = 10  # stride between window starts (W/2: every repeat >= W tokens
#                is guaranteed to cover at least one sampled window)


def _exact_substring_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), wins AS (
      SELECT doc_id, array_to_string(t[i:i+{SUBSTR_W - 1}], ' ') AS w
      FROM toks, unnest(
        CASE WHEN len(t) >= {SUBSTR_W}
             THEN generate_series(1, len(t) - {SUBSTR_W - 1}, {SUBSTR_S})
             ELSE []::BIGINT[] END) AS g(i)
    ), dup AS (
      SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
    ), per AS (
      SELECT wins.doc_id,
             count(*) AS n_windows,
             sum(CASE WHEN dup.w IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
      FROM wins LEFT JOIN dup ON wins.w = dup.w
      GROUP BY wins.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup_windows,
           round(coalesce(per.n_dup, 0) * 1.0
                 / greatest(coalesce(per.n_windows, 0), 1), 6) AS dup_frac
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    """


@register(
    "llm_dedup_exact_substring",
    oracle=_exact_substring_oracle,
    tags=("llm", "dedup", "bench"),
)
def llm_dedup_exact_substring(spark, sf_dir):
    """Exact-substring dedup: per doc, the fraction of sampled W-token
    windows (W=20, stride 10) whose exact text recurs in ANOTHER document
    — the span-level repeat signal behind Lee et al.'s excision pass
    (doc-level Jaccard misses a verbatim paragraph pasted into an
    otherwise-unique page; this catches it, and the flagged windows ARE
    the spans to cut). The half-overlap stride guarantees every verbatim
    repeat of >= W tokens covers at least one sampled window.

    Scale shape: windows explode to ~n_tokens/S rows per doc, the repeat
    test is ONE hash aggregation on the window key plus a window count
    over the grouped rows — never a pairwise doc comparison, so cost is
    linear in corpus tokens. The window key here is the literal 20-token
    string so the DuckDB oracle groups identically; a production run
    shuffles xxhash64(window) (8 bytes vs ~120) with the same plan.
    r15 reshaping (guide §2.3/§2.4): the old form exploded the window
    table TWICE (once to find duplicated windows via count_distinct,
    once to join the flags back) — one tokenize+explode pass and one
    count-distinct expand more than needed. Now a single explode feeds
    ``groupBy(doc_id, w)`` (grouped rows = one row per distinct doc per
    window, so a plain ``count(*) OVER (PARTITION BY w)`` IS the distinct
    doc count), and the per-doc rollup sums the carried multiplicities —
    identical output (re-gated), measured −27% at sf0.1 (1.20s → 0.87s),
    2 Generates → 1, count-distinct Expand gone. Reference scope: content
    dedup is beyond the reference engine entirely (SURVEY §2 LLM-ops
    extension)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.size(toks) - (SUBSTR_W - 1), F.lit(SUBSTR_S)
    )
    wins = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(toks) >= SUBSTR_W,
                F.transform(
                    starts,
                    lambda i: F.concat_ws(" ", F.slice(toks, i, SUBSTR_W)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("w"),
    )
    # r16 (guide §2.4): hash-partition the exploded windows by w ONCE —
    # hashpartitioning(w) satisfies the (doc_id, w) groupBy's clustering
    # (subset rule) AND the w-window's, so the groupBy→window sequence
    # shares one exchange instead of shuffling the window table twice
    # ((doc_id,w) then (w)). Exchanges 3→2; measured best-of-7
    # same-session at sf0.1: 0.734→0.702s (med 0.791→0.717s); identical
    # rows (value-compared), oracle-green both SFs.
    wg = (
        wins.repartition("w")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    nd = F.count("*").over(W.partitionBy("w"))
    per = (
        wg.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_windows"),
            F.sum(
                F.when(F.col("nd") >= 2, F.col("c")).otherwise(0)
            ).alias("n_dup"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup", F.lit(0))
                / F.greatest(F.coalesce("n_windows", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


# -- token-budget corpus selection: fill each source's training budget with
# its highest-value documents (the curation step between mixture weighting
# and sequence packing: corpus_mixture says HOW MUCH of each source,
# this picks WHICH documents make the cut).
BUDGET_FRAC = 0.5  # per-source token budget as a fraction of source tokens


def _token_budget_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens,
             sum(n_tokens) OVER (PARTITION BY source) AS tot
      FROM t
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {BUDGET_FRAC} * tot
    """


@register(
    "llm_token_budget_sample",
    oracle=_token_budget_oracle,
    tags=("llm", "text"),
)
def llm_token_budget_sample(spark, sf_dir):
    """Per-source token-budget selection: rank each source's documents
    (longest first, doc_id tiebreak — stand-in for a quality score) and
    keep the prefix whose cumulative token count fits the source's budget
    (50% of its tokens). This is the curation step a 100 TB pretraining
    run does between mixture weighting (llm_corpus_mixture decides how
    much of each source) and packing (llm_pack_sequences lays the
    survivors out): deterministic, budget-exact, resumable.

    Scale shape: ONE window pass partitioned by source — parallel across
    sources, and each source's scan is a single ordered sweep. A corpus
    where one source dominates turns that partition into a straggler; the
    fix at that shape is the two-phase distributed prefix sum
    llm_pack_sequences already implements (per-partition subtotals, P-row
    driver fold, broadcast offsets) applied per source."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w_cum = (
        W.partitionBy("source")
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy("source")
    return (
        docs.select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_tokens").over(w_cum).cast("long").alias("cum_tokens"),
            F.sum("n_tokens").over(w_tot).alias("_tot"),
        )
        .filter(F.col("cum_tokens") <= BUDGET_FRAC * F.col("_tot"))
        .drop("_tot")
    )


@register(
    "llm_multimodal_png",
    # closed-form oracle: the synthesized pixel pattern is
    # (doc_id + 2c + 3x + 5y) % 256 over w = 16 + id%9, h = 12 + id%7, so
    # per-channel integer sums are computable WITHOUT touching bytes — an
    # independent end-to-end check of the entire PNG codec path
    # (zlib inflate + all five scanline-filter reversals).
    oracle="""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 9 AS w, 12 + doc_id % 7 AS h
      FROM documents
    ), grid AS (
      SELECT d.doc_id, d.w, d.h, x.i AS x, y.i AS y
      FROM dims d,
           unnest(generate_series(0, d.w - 1)) AS x(i),
           unnest(generate_series(0, d.h - 1)) AS y(i)
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum((doc_id + 0 + 3*x + 5*y) % 256) AS BIGINT) AS r_sum,
           CAST(sum((doc_id + 2 + 3*x + 5*y) % 256) AS BIGINT) AS g_sum,
           CAST(sum((doc_id + 4 + 3*x + 5*y) % 256) AS BIGINT) AS b_sum
    FROM grid GROUP BY 1, 2, 3
    """,
    tags=("llm", "multimodal"),
)
def llm_multimodal_png(spark, sf_dir):
    """REAL compressed-image codec end-to-end, stdlib only: genuine PNGs
    (zlib IDAT, CRCed chunks, rows cycling through ALL FIVE scanline
    filters — None/Sub/Up/Average/Paeth) are synthesized per document and
    decoded back to exact per-channel pixel sums in Arrow-batched
    mapInPandas. Unlike the PPM/WAV raw-byte modalities this exercises an
    entropy-coded format; unlike the stubbed JPEG seams it needs no
    external library. The oracle recomputes the sums from the generating
    formula — it never sees the bytes, so a bug anywhere in the codec
    (compression, chunk framing, filter reversal) hash-fails."""
    from proteus_spark.llmops.multimodal import png_assets, png_stats

    docs = load(spark, sf_dir, "documents")
    return png_stats(png_assets(docs))


def _excise_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), wins AS (
      SELECT doc_id, i, array_to_string(t[i:i+{SUBSTR_W - 1}], ' ') AS w
      FROM toks, unnest(
        CASE WHEN len(t) >= {SUBSTR_W}
             THEN generate_series(1, len(t) - {SUBSTR_W - 1}, {SUBSTR_S})
             ELSE []::BIGINT[] END) AS g(i)
    ), dup AS (
      SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
    ), dstart AS (
      SELECT wins.doc_id, wins.i FROM wins JOIN dup ON wins.w = dup.w
    ), tokpos AS (
      SELECT doc_id, t[g.pos] AS tok, g.pos
      FROM toks, unnest(generate_series(1, len(t))) AS g(pos)
    ), kept AS (
      SELECT tp.doc_id, tp.tok, tp.pos
      FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM dstart d
        WHERE d.doc_id = tp.doc_id
          AND tp.pos BETWEEN d.i AND d.i + {SUBSTR_W - 1})
    )
    SELECT d.doc_id,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.clean_hash, md5('')) AS clean_hash
    FROM documents d LEFT JOIN (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_hash
      FROM kept GROUP BY doc_id) k ON k.doc_id = d.doc_id
    """


@register(
    "llm_dedup_excise",
    oracle=_excise_oracle,
    tags=("llm", "dedup"),
)
def llm_dedup_excise(spark, sf_dir):
    """Exact-substring EXCISION — the apply step after
    ``llm_dedup_exact_substring``'s detection: tokens covered by any
    cross-document duplicated window are CUT from the document (Lee et
    al.'s remedy: remove the repeated span, keep the unique remainder,
    instead of dropping whole documents). Output is (doc_id, n_kept,
    clean_hash) with the cleaned text shipped as a digest.

    Scale shape: the duplicated-window starts per doc collapse to one
    SMALL array column (windows are strided, so |starts| <= n_tokens/10),
    and the cut itself is a codegen array filter — position t survives
    iff no flagged window covers it — with zero extra shuffle beyond the
    detection pass the query shares with exact_substring."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.size(toks) - (SUBSTR_W - 1), F.lit(SUBSTR_S)
    )
    wins = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(toks) >= SUBSTR_W,
                F.transform(
                    starts,
                    lambda i: F.struct(
                        i.alias("i"),
                        F.concat_ws(" ", F.slice(toks, i, SUBSTR_W)).alias("w"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<i:int,w:string>>"))
        ).alias("_s"),
    ).select("doc_id", "_s.i", "_s.w")
    dup = (
        wins.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("w")
    )
    dstarts = (
        wins.join(dup, "w")
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("_cut"))
    )
    joined = docs.join(dstarts, "doc_id", "left").select(
        "doc_id",
        toks.alias("_t"),
        F.coalesce("_cut", F.array().cast("array<int>")).alias("_cut"),
    )
    # position pos (1-based) survives iff NO flagged window [s, s+W-1]
    # covers it — a pure codegen array filter, no shuffle
    kept = F.filter(
        "_t",
        lambda tok, idx: ~F.exists(
            "_cut",
            lambda s: (F.lit(idx) + 1 >= s)
            & (F.lit(idx) + 1 <= s + F.lit(SUBSTR_W - 1)),
        ),
    )
    return joined.select(
        "doc_id",
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.encode(F.concat_ws(" ", kept), "utf-8")).alias("clean_hash"),
    )


_BPE_TRAIN_ROUNDS = 8


def _bpe_tok_cte(name: str, where: str = "") -> str:
    """Token-chain seed CTE: BPE-regex tokens per document, optionally
    restricted to a content-hash split bucket range."""
    src = "documents"
    if where:
        src = (
            f"(SELECT doc_id, text, {hex_to_long_sql('xs')}"
            f" % {TXT.SPLIT_BUCKETS} AS bucket"
            f" FROM (SELECT doc_id, text, {md5_seeded_sql('text', 'split')}"
            f" AS xs FROM documents))"
        )
    return f"""{name} AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(text, '{TXT.BPE_REGEX}') AS t
      FROM {src}{(' WHERE ' + where) if where else ''})"""


def _bpe_count_blocks(r: int, src: str) -> list[str]:
    """pairs_{r} + best_{r}: the round's adjacent-pair counts over the
    TRAINING token chain and the chosen top merge (ties lexicographic)."""
    return [
        f"""pairs_{r} AS MATERIALIZED (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM (SELECT doc_id, unnest(generate_series(1, len(t) - 1)) AS i, t
            FROM {src}))""",
        f"""best_{r} AS MATERIALIZED (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n
      FROM pairs_{r} GROUP BY a, b
      ORDER BY n DESC, a ASC, b ASC LIMIT 1)""",
    ]


def _bpe_apply_blocks(r: int, src: str, m: str, k: str, dst: str) -> list[str]:
    """Greedy-leftmost application of round ``r``'s best merge to one token
    chain: a position matches when (tok, next tok) equals best_{r}; islands
    of CONSECUTIVE matches (possible only when a = b) keep every odd member
    (leftmost-first non-overlap); a kept position emits the merged symbol
    and swallows its right neighbour. Reused verbatim by the training chain
    AND any additional chain encoded under the same rules (the held-out
    split), so the merge semantics cannot drift between train and apply."""
    return [
        f"""{m} AS MATERIALIZED (
      SELECT doc_id, i, tok,
             CASE WHEN tok = (SELECT a FROM best_{r})
                       AND lead(tok) OVER (PARTITION BY doc_id ORDER BY i)
                           = (SELECT b FROM best_{r})
                  THEN 1 ELSE 0 END AS mtch
      FROM (SELECT doc_id, unnest(generate_series(1, len(t))) AS i,
                   t[unnest(generate_series(1, len(t)))] AS tok
            FROM {src}))""",
        f"""{k} AS MATERIALIZED (
      SELECT doc_id, i, tok,
             CASE WHEN mtch = 1 AND
                  (row_number() OVER (PARTITION BY doc_id, mtch, grp
                                      ORDER BY i)) % 2 = 1
                  THEN 1 ELSE 0 END AS keep
      FROM (SELECT *,
                   i - row_number() OVER (PARTITION BY doc_id, mtch
                                          ORDER BY i) AS grp
            FROM {m}))""",
        f"""{dst} AS MATERIALIZED (
      SELECT doc_id, list(newtok ORDER BY i) AS t
      FROM (SELECT doc_id, i,
                   CASE WHEN keep = 1
                        THEN (SELECT a FROM best_{r})
                             || (SELECT b FROM best_{r})
                        ELSE tok END AS newtok,
                   lag(keep) OVER (PARTITION BY doc_id ORDER BY i)
                     AS prevkeep
            FROM {k})
      WHERE coalesce(prevkeep, 0) = 0
      GROUP BY doc_id)""",
    ]


def _bpe_unroll_ctes() -> str:
    """Static unroll of the BPE training loop: one CTE block per merge
    round (pairs -> best -> greedy-leftmost apply), every round
    MATERIALIZED (the r5 DuckDB lesson — inlined iteration CTEs explode
    optimizer time exponentially). Shared by the training-rules oracle and
    the encode oracle (same merge sequence)."""
    parts = [_bpe_tok_cte("toks_0")]
    for r in range(_BPE_TRAIN_ROUNDS):
        parts += _bpe_count_blocks(r, f"toks_{r}")
        parts += _bpe_apply_blocks(
            r, f"toks_{r}", f"m_{r}", f"k_{r}", f"toks_{r + 1}"
        )
    return "WITH " + ",\n    ".join(parts)


def _bpe_train_oracle() -> str:
    rules = "\n      UNION ALL ".join(
        f"SELECT {r + 1} AS rk, a, b, n FROM best_{r}"
        for r in range(_BPE_TRAIN_ROUNDS)
    )
    return (
        _bpe_unroll_ctes()
        + f"""
    SELECT CAST(rk AS BIGINT) AS rk, a, b, n FROM (
      {rules})
    """
    )


@register(
    "llm_bpe_train_rounds",
    oracle=_bpe_train_oracle,
    tags=("llm", "text", "iterative"),
)
def llm_bpe_train_rounds(spark, sf_dir):
    """Multi-round BPE tokenizer TRAINING (not just one ranked round):
    iterate count-adjacent-pairs -> take the top merge (ties
    lexicographic) -> apply it greedy-leftmost corpus-wide -> recount,
    for 8 rounds; returns the learned merge table. Each round is one
    map-side-combined pair aggregation plus a per-row JVM fold
    (F.aggregate higher-order function — no UDF, no shuffle for the
    apply), with localCheckpoint lineage truncation per round; only the
    chosen 1-row merge crosses to the driver per round. Later rounds
    genuinely consume earlier merges (merged symbols re-pair with their
    neighbours), which a single-round ranking cannot express."""
    return TXT.bpe_train(
        load(spark, sf_dir, "documents"), rounds=_BPE_TRAIN_ROUNDS
    )


# llm_bpe_encode RETIRED round 10 (second half of the banked-retirement
# audit; ROTATION.md's pre-analysis named the encode/holdout pair): its
# engine path was bpe_train_encode(full corpus) with per-doc final token
# counts hashed. Every line of that path is still value-verified:
# llm_bpe_train_rounds hashes the full-corpus MERGE TABLE (which depends
# on every intermediate applied array through each round's recount), and
# llm_bpe_encode_holdout hashes per-doc token counts of the SAME shared
# greedy-leftmost fold (bpe_merge_pass — training's apply and the
# standalone encoder use the identical function) while additionally
# covering the standalone bpe_encode(rules-as-literals) path and the
# train→apply split generalization the retired query could not express.
# The full-corpus per-doc hash added no code path and no failure mode
# the (train_rounds, encode_holdout) pair does not already pin.


def _bpe_holdout_ctes() -> str:
    """Training unroll restricted to the TRAIN split, plus a second token
    chain replaying each round's chosen merge over the HELD-OUT split —
    the same `_bpe_apply_blocks` text for both chains, so the apply
    semantics provably match (VERDICT r6 #3)."""
    train_w = f"bucket >= {TXT.SPLIT_VALID_PCT}"
    hold_w = f"bucket < {TXT.SPLIT_VALID_PCT}"
    parts = [_bpe_tok_cte("toks_0", train_w), _bpe_tok_cte("ho_0", hold_w)]
    for r in range(_BPE_TRAIN_ROUNDS):
        parts += _bpe_count_blocks(r, f"toks_{r}")
        parts += _bpe_apply_blocks(
            r, f"toks_{r}", f"m_{r}", f"k_{r}", f"toks_{r + 1}"
        )
        parts += _bpe_apply_blocks(
            r, f"ho_{r}", f"hm_{r}", f"hk_{r}", f"ho_{r + 1}"
        )
    return "WITH " + ",\n    ".join(parts)


def _bpe_encode_holdout_oracle() -> str:
    k = _BPE_TRAIN_ROUNDS
    return (
        _bpe_holdout_ctes()
        + f"""
    SELECT h0.doc_id,
           CAST(len(h0.t) AS BIGINT) AS n_raw,
           CAST(COALESCE(len(hk.t), 0) AS BIGINT) AS n_bpe,
           CASE WHEN len(h0.t) > 0
                THEN round(CAST(COALESCE(len(hk.t), 0) AS DOUBLE)
                           / len(h0.t), 6) END AS compression
    FROM ho_0 h0 LEFT JOIN ho_{k} hk ON hk.doc_id = h0.doc_id
    """
    )


@register(
    "llm_bpe_encode_holdout",
    oracle=_bpe_encode_holdout_oracle,
    tags=("llm", "text", "iterative"),
)
def llm_bpe_encode_holdout(spark, sf_dir):
    """Tokenizer TRAIN→APPLY across disjoint splits — the shape a real
    pipeline runs: learn the merge table on the content-hash TRAIN split
    (buckets [10,100), the `llm_train_split` assignment), then encode the
    HELD-OUT split (buckets [0,10)) under those learned rules. The encode
    is `bpe_encode`: |rules| nested JVM greedy-fold expressions over one
    narrow scan stage — no shuffle per rule, no UDF, no driver round-trip
    beyond training's own 1-row-per-round merge pulls (the learned rules
    are O(rounds) literals baked into the plan). Reports per held-out doc
    raw vs encoded token counts + compression — the generalization check
    (a tokenizer that only compresses its train split is overfit)."""
    docs = load(spark, sf_dir, "documents")
    bucket = TXT.split_bucket_col()
    train = docs.filter(bucket >= TXT.SPLIT_VALID_PCT)
    holdout = docs.filter(bucket < TXT.SPLIT_VALID_PCT)
    rules_df, _enc = TXT.bpe_train_encode(train, rounds=_BPE_TRAIN_ROUNDS)
    rules = [(r["rk"], r["a"], r["b"]) for r in rules_df.collect()]
    enc = TXT.bpe_encode(holdout, rules)
    return enc.select(
        "doc_id",
        F.col("n_raw").cast("long").alias("n_raw"),
        F.size("t").cast("long").alias("n_bpe"),
        F.when(
            F.col("n_raw") > 0, F.round(F.size("t") / F.col("n_raw"), 6)
        ).alias("compression"),
    )


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al. 2023) — deterministic edition
# ---------------------------------------------------------------------------


def _dsir_scored_ctes() -> str:
    """The shared model+scoring CTE chain (WITH toks ... scored):
    per-bucket log-ratio model over the full corpus, then per-doc
    (llr_micros, n_bigrams). Shared by the batch selection oracle
    (_dsir_oracle) and the on-ingest stream oracle
    (queries/streaming.py::stream_dsir_ingest) so the model/scoring
    SQL text cannot drift between them."""
    b = TXT.DSIR_BUCKETS
    lang = TXT.DSIR_TARGET_LANG
    # identical ln / round-to-micros formula text as the Spark side
    # (llmops/text.py::dsir_select); the 48-bit md5 bucket + gumbel
    # hashes are the shared portable family (functions/texthash.py)
    return f"""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                  FROM documents),
    bg AS (
      SELECT doc_id, CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END AS is_t,
             {md5_seeded_sql('s', 'dsir')} AS xs
      FROM (SELECT doc_id, lang,
                   unnest([t[i] || ' ' || t[i+1]
                           FOR i IN generate_series(1, greatest(len(t)-1, 0))]) AS s
            FROM toks)),
    bb AS (SELECT doc_id, is_t, ({hex_to_long_sql('xs')}) % {b} AS b FROM bg),
    counts AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
                      CAST(sum(is_t) AS BIGINT) AS ct
               FROM bb GROUP BY b),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nr,
                   CAST(sum(is_t) AS BIGINT) AS nt
            FROM bb),
    lr AS (SELECT b,
                  CAST(round(ln((CAST(ct + 1 AS DOUBLE) * CAST(nr + {b} AS DOUBLE))
                       / (CAST(cr + 1 AS DOUBLE) * CAST(nt + {b} AS DOUBLE)))
                       * 1e6, 0) AS BIGINT) AS lr_micros
           FROM counts, tot),
    scored AS (SELECT doc_id, CAST(sum(lr_micros) AS BIGINT) AS llr_micros,
                      CAST(count(*) AS BIGINT) AS n_bigrams
               FROM bb JOIN lr USING (b) GROUP BY doc_id)"""


def _dsir_oracle() -> str:
    k = TXT.DSIR_SELECT_K
    denom = TXT._DSIR_U_DENOM
    return _dsir_scored_ctes() + f""",
    uh AS (SELECT doc_id, md5('dsirg|' || CAST(doc_id AS VARCHAR)) AS hx
           FROM documents),
    keys AS (
      SELECT d.doc_id, d.lang,
             coalesce(s.n_bigrams, 0) AS n_bigrams,
             coalesce(s.llr_micros, 0) AS llr_micros,
             round(CAST(coalesce(s.llr_micros, 0) AS DOUBLE)
                     / CAST(1000000 AS DOUBLE)
                   - ln(-ln((CAST({hex_to_long_sql('hx')} AS DOUBLE)
                             + CAST(1 AS DOUBLE))
                            / CAST({denom} AS DOUBLE))), 6) AS gumbel_key
      FROM documents d
      LEFT JOIN scored s USING (doc_id) JOIN uh USING (doc_id))
    SELECT doc_id, lang, n_bigrams, llr_micros, gumbel_key
    FROM keys ORDER BY gumbel_key DESC, doc_id LIMIT {k}
    """


@register("llm_dsir_select", oracle=_dsir_oracle, tags=("llm", "text"))
def llm_dsir_select(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023, "Data Selection via
    Importance Resampling"): hashed-bigram importance log-ratios between
    the lang='en' target slice and the raw corpus, quantized to integer
    micros; Gumbel-top-k over the portable md5 hash makes the resampling
    step itself deterministic, so the oracle replays the SAME k-document
    sample value-for-value (llmops/text.py::dsir_select — scale shape in
    its docstring: two linear passes, <=4096-row broadcast, top-k)."""
    return TXT.dsir_select(load(spark, sf_dir, "documents"))
