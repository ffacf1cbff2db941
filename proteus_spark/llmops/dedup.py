"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

Scale design (the part that matters at 100 TB):

- Exact dedup is a hash-groupBy — one shuffle on the digest, map-side
  partial aggregation.
- Near-dup NEVER compares all pairs. MinHash-LSH generates candidates by
  equi-joining on band buckets (shuffle on band value); only candidates get
  exact Jaccard verification via a shingle equi-join. SimHash uses the
  pigeonhole multi-index (split the signature into ``chunks`` blocks; any
  pair within ``hamming_max <= chunks - 1`` shares at least one intact
  block) so candidates come from an equi-join on (block index, block
  value).
- The raw shingle self-join (``jaccard_pairs`` without candidates) is the
  exact baseline used by small-corpus queries and oracles; ``max_doc_freq``
  caps hot shingles to keep the join linear when used at scale.
- All hashing is the portable md5-derived 48-bit family
  (functions.texthash), evaluated as Catalyst expressions inside codegen —
  no UDFs — and reproducible bit-for-bit by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from proteus_spark.functions.texthash import (
    hex_slice_to_long_spark_sql,
    hex_to_long_spark_sql,
    md5_seeded_sql,
)

SHINGLE_N = 3
# sentinel: explode-stage fanout follows the cluster's defaultParallelism
# (32 on the local test box; scales with executors on a real cluster)
FANOUT_AUTO = -1


def _fanout(df, fanout):
    if fanout == FANOUT_AUTO:
        return df.sparkSession.sparkContext.defaultParallelism
    return fanout


MINHASH_K = 8
LSH_BANDS = 4
LSH_ROWS = 2  # MINHASH_K == LSH_BANDS * LSH_ROWS
# banding math at jaccard s: P[candidate] = 1-(1-s^ROWS)^BANDS;
# r=2,b=4: s=0.8 -> 98.3% recall (vs 94% at r=3), s=0.2 -> 15% FP rate
# handled by exact verification — fewer hashes AND better recall
# 48-bit signatures: 12-bit pigeonhole blocks give 4096 bucket values per
# block, so candidate buckets stay small even on dense shared-vocabulary
# corpora (16-bit signatures measured 454M candidate pairs on a 50k-doc
# corpus — the signature, not the plan, was the bottleneck). 48 bits also
# matches the portable hash family width (exact under double division).
SIMHASH_BITS = 48
SIMHASH_CHUNKS = 4
HAMMING_MAX = 3  # pigeonhole-safe: HAMMING_MAX <= SIMHASH_CHUNKS - 1


def tokens_col(text_col: str = "text"):
    """Whitespace tokens (testdata is single-space normalized; a general
    corpus would lowercase + regex-normalize first)."""
    return F.split(F.col(text_col), " ")


def shingles(
    docs: DataFrame,
    n: int = SHINGLE_N,
    id_col: str = "doc_id",
    distinct: bool = True,
    fanout: int | None = FANOUT_AUTO,
) -> DataFrame:
    """Word n-gram shingles per document: (id, s); ``distinct=True`` dedups
    within-doc repeats (required for Jaccard counting; skip it for
    min-aggregates, where repeats are idempotent and the distinct would
    shuffle the widest intermediate in the pipeline for nothing).

    Built with array ``transform`` over a per-row sequence — embarrassingly
    parallel, zero shuffle, stays in codegen (no posexplode+window pass).
    The token array is materialized in its own projection first: inlining
    ``split(text)`` into the lambda makes Catalyst re-split the text for
    every term of every shingle (~3n× per row — measured ~3× slower).

    ``fanout`` repartitions the doc rows BEFORE the explode: a document
    table often arrives as few (or one) parquet files, and without the
    repartition the md5-heavy shingle stage runs at file parallelism
    instead of cluster parallelism (measured: 1 task on the sf0.1 single
    file — the whole pipeline serialized). The shuffle moves only the
    pre-explode doc rows, the cheapest point in the plan.
    """
    # repartition the RAW doc rows, then split: the exchange ships compact
    # text (not token arrays), and tokenize+explode+hash all run at
    # cluster parallelism (projections don't migrate through exchanges)
    if fanout:
        docs = docs.repartition(_fanout(docs, fanout), id_col)
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens_col().alias("_t"))
    t = F.col("_t")
    size = F.size(t)
    idx = F.sequence(F.lit(0), size - n)  # 0-based start positions
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.get(t, i + j) for j in range(n)])
    )
    arr = F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))
    out = toks.select("doc_id", F.explode(arr).alias("s"))
    return out.distinct() if distinct else out


SID_HEX = 15  # 60-bit shingle id — BIGINT-safe, ~(S^2)/2^61 collision pairs


def shingle_ids(
    docs: DataFrame,
    n: int = SHINGLE_N,
    fanout: int | None = FANOUT_AUTO,
    distinct: bool = True,
) -> DataFrame:
    """Hashed shingles per doc: (doc_id, s BIGINT), per-doc distinct by
    default.

    The join/count currency for Jaccard verification at scale: a 60-bit id
    instead of the raw n-gram string makes the shingle self-join shuffle
    ~4× narrower and compare longs instead of ~30-byte strings (measured
    2.3× on the full LSH pipeline at a 50k-doc corpus). Collisions merge
    two shingles corpus-wide with probability ~S²/2^61 — immaterial next
    to the minhash banding error, and reproduced exactly by the DuckDB
    oracle (same md5-derived id).

    ``distinct=False`` skips the (doc_id, s) dedup shuffle — the WIDEST
    exchange a consumer can pay — for callers that dedup later on a
    smaller set (e.g. decontaminate dedups only the matched shingles
    after its selective broadcast join, guide §2.3)."""
    raw = shingles(docs, n=n, distinct=False, fanout=fanout)
    sid = F.expr(
        f"CAST(conv(substr({md5_seeded_sql('s', 'sid')}, 1, {SID_HEX}), 16, 10)"
        " AS BIGINT)"
    )
    out = raw.select("doc_id", sid.alias("s"))
    return out.distinct() if distinct else out


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content digest: (text_hash, n_docs,
    keep_doc_id) — ``keep_doc_id`` is the canonical survivor (min id)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def jaccard_pairs(
    sh: DataFrame,
    min_jaccard: float,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
    pre_restricted: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs: (ida, idb, jaccard), ida < idb.

    Without ``candidates``: pairs sharing >=1 shingle (equi-join on the
    shingle — the exact baseline). With ``candidates`` (ida, idb): only
    those pairs are verified (the LSH path). ``max_doc_freq`` drops
    shingles present in more than that many docs before pairing (standard
    hot-key guard; changes results, so oracle queries leave it None).

    ``pre_restricted=True`` declares that ``sh`` already contains only
    candidate docs' shingles (the caller pruned before re-shingling, as
    minhash_lsh_dedup does) — the internal union+distinct+semi-join
    restriction is then a semantic no-op and is skipped, saving one
    distinct shuffle and one pass over the shingle relation per run
    (measured ~15% of the minhash-LSH pipeline at sf0.1; results are
    identical by construction).
    """
    if max_doc_freq is not None:
        rare = sh.groupBy("s").count().filter(F.col("count") <= max_doc_freq).select("s")
        sh = sh.join(rare, "s")

    if candidates is not None:
        # candidate-restricted shingles are small (|candidate docs|, not
        # |corpus|) and feed three branches (both join sides + counts):
        # cache so the shingle explode runs once. The unrestricted baseline
        # path below is NOT cached — at corpus scale it must stream.
        if pre_restricted:
            sh_pair = sh.cache()
        else:
            # Verification cost must scale with |candidates|, not with the
            # co-shingle pair count: restrict the self-join to docs that
            # appear in some candidate pair FIRST, then keep candidate
            # pairs only.
            cand_docs = (
                candidates.select(F.col("ida").alias("doc_id"))
                .union(candidates.select(F.col("idb").alias("doc_id")))
                .distinct()
            )
            sh_pair = sh.join(cand_docs, "doc_id", "left_semi").cache()
    else:
        sh_pair = sh

    # per-doc shingle-set sizes: docs outside the pair set never reach the
    # final join, so counting over sh_pair (cached when restricted) is both
    # sufficient and one less pass over the full shingle relation
    counts = sh_pair.groupBy("doc_id").agg(F.count("*").alias("n"))

    if candidates is not None:
        # Intersection restricted to candidate PAIRS from the start —
        # candidates ⋈ shingles(ida), then match on (idb, s). Cost is
        # Σ|shingles(doc)| over candidate pairs: LINEAR in |candidates|.
        # The tempting alternative (full co-shingle self-join, filter
        # pairs afterwards) is quadratic in corpus size on shingle-dense
        # corpora: measured 138M join rows / 113M doc-pair groups on a
        # 50k-doc corpus with a shared vocabulary, where this form
        # touches ~12M rows.
        sh_a = sh_pair.select(F.col("doc_id").alias("ida"), "s")
        sh_b = sh_pair.select(F.col("doc_id").alias("idb"), "s")
        inter = (
            candidates.join(sh_a, "ida")
            .join(sh_b, ["idb", "s"])
            .groupBy("ida", "idb")
            .agg(F.count("*").alias("ni"))
        )
    else:
        a = sh_pair.alias("a")
        b = sh_pair.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
            .agg(F.count("*").alias("ni"))
        )
    ca = counts.select(F.col("doc_id").alias("ida"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb"))
    return (
        inter.join(ca, "ida")
        .join(cb, "idb")
        .select(
            "ida",
            "idb",
            (
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# largest prime < 2^48 — keeps the linear family inside the 48-bit hash
# space (scale-relevant: a 10^9+-shingle vocabulary would saturate a 32-bit
# space and inflate banding false positives; 48-bit does not)
MINHASH_PRIME = 281474976710597


def minhash_signatures(sh: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """MinHash signature per doc: (doc_id, m0..m{k-1}).

    ONE md5 per shingle: the 128-bit digest yields two independent 48-bit
    values (hex slices at 1 and 13), and the k-function family is the
    degree-1 polynomial h_i = (y0 + i*y1) mod P evaluated at i — pairwise
    independent across functions (any (h_i, h_j), i != j, determines
    (y0, y1) uniquely), which is the guarantee banding needs. md5 is ~all
    of the hot-loop cost, so this is ~k/2 x cheaper than one digest per
    two functions. Then k min-aggregates in one groupBy pass (map-side
    partial min); the shuffle carries k longs per doc.
    """
    hx = sh.select("doc_id", F.expr(md5_seeded_sql("s", 0)).alias("x"))
    hl = hx.select(
        "doc_id",
        F.expr(hex_slice_to_long_spark_sql("x", 1)).alias("y0"),
        F.expr(hex_slice_to_long_spark_sql("x", 13)).alias("y1"),
    )
    # one parsed expression per lane, not a chain of Column-operator py4j
    # round-trips per lane (r15; identical analyzed trees and results)
    hh = hl.select(
        "doc_id",
        *[
            F.expr(f"(y0 + {i} * y1) % {MINHASH_PRIME} AS h{i}")
            for i in range(k)
        ],
    )
    return hh.groupBy("doc_id").agg(
        *[F.expr(f"min(h{i}) AS m{i}") for i in range(k)]
    )


def lsh_band_table(
    sig: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band, bv): the banded minhash signature table — ``bands``
    rows per doc, each bv the comma-joined minhash values of that band's
    ``rows`` hash functions. The LSH join currency: docs sharing any
    (band, bv) are near-dup candidates. Factored out of lsh_candidates so
    the streaming on-ingest gate bands ARRIVING batches with the
    identical algebra (no drift between the self-join and the
    lake-match paths)."""
    band_vals = [
        F.expr(
            "concat_ws(','"
            + "".join(f", CAST(m{b * rows + r} AS STRING)" for r in range(rows))
            + ")"
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.posexplode(F.array(*band_vals)).alias("band", "bv")
    )


def lsh_candidates(
    sig: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become (ida, idb)
    candidates. Equi-join on (band, band_value) — never all-pairs.

    The exploded band table is referenced on BOTH sides of the
    self-join, so it must be shared or each side re-evaluates the entire
    signature pipeline (shingle explode + md5) — measured 2× the
    signature cost. The table is bands rows per DOC (not per shingle).

    The band table is eager-localCheckpointed, the self-join runs into an
    eager-checkpointed candidate frame, and the band blocks are RELEASED
    before return (r16, guide §3.3/§5): the returned frame is truncated
    (Scan ExistingRDD), the signature subtree never re-embeds in
    consumers' analyzed plans, and the band blocks live for exactly one
    job. Measured on minhash_lsh_dedup best-of-7 same-session at sf0.1
    against a ``.cache()``d band table: 1.196→1.111s best, 1.609→1.314
    med."""
    from proteus_spark.plans import ckpt

    exploded = lsh_band_table(sig, bands, rows).localCheckpoint(eager=True)
    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ckpt.release(exploded)
    return cand


def minhash_lsh_dedup(docs: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH bands -> candidate
    pairs -> exact-Jaccard verification: (ida, idb, jaccard).

    Deliberately NOT caching the shingle set: it is referenced by several
    branches, but each branch prunes it differently (signatures need
    (doc_id, s); counts need doc_id only) and the explode stays inside
    whole-stage codegen — an InMemory cache materializes all columns and
    scans slower than recomputing the explode (measured 3× slower at
    sf0.1).

    Scale shape: the signature pass reads NON-distinct shingles (min is
    idempotent under repeats — skips a full-corpus shuffle of the widest
    intermediate, and the k-min groupBy combines map-side); the exact
    verification re-shingles ONLY the candidate docs (a semi-join-pruned
    corpus scan — |candidates| docs, not |corpus|).
    """
    # candidates feed two branches of the verification (doc restriction +
    # pair filter). lsh_candidates eager-localCheckpoints — not
    # .cache()s — the small pair set: the minhash subtree runs once
    # either way, but the checkpoint also TRUNCATES it out of the
    # downstream plan (the cache form re-embeds the whole banding
    # pipeline in the analyzed tree 4×, ~0.6s of Catalyst analysis per
    # construction at sf0.1) and gives AQE the candidate set's REAL
    # size, so the corpus semi-join below plans as a broadcast instead
    # of a full-corpus sort-merge (guide §3.3/§7.3; measured best-of-7
    # same-session 1.511→1.343s, med 1.708→1.445s at sf0.1, and the
    # band-table checkpoint+release inside lsh_candidates a further
    # 1.196→1.111s best). The cand blocks ride the returned frame (never
    # releasable here — the verification joins reference them); the
    # ContextCleaner frees them when the caller drops the result,
    # exactly as for .cache().
    cand = lsh_candidates(minhash_signatures(shingles(docs, distinct=False)))
    cand_docs = (
        cand.select(F.col("ida").alias("doc_id"))
        .union(cand.select(F.col("idb").alias("doc_id")))
        .distinct()
    )
    # verification joins/counts hashed shingle ids, not raw strings — on a
    # dup-heavy corpus the co-shingle self-join is the dominant cost and
    # narrows ~4x (see shingle_ids). sh_c is already candidate-restricted,
    # so jaccard_pairs skips its own (redundant) semi-join restriction.
    sh_c = shingle_ids(docs.join(cand_docs, "doc_id", "left_semi"))
    return jaccard_pairs(sh_c, min_jaccard, candidates=cand, pre_restricted=True)


def lsh_match_against(
    batch: DataFrame,
    lake_bands: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Near-dup gate for a live intake: per ARRIVING document, the count
    of DISTINCT lake documents sharing any LSH band bucket —
    (doc_id, n_lake_candidates, is_dup). ``lake_bands`` is the FROZEN
    (lake_id, band, bv) band table of the existing corpus
    (lsh_band_table renamed), computed once before the stream starts.

    Scale shape (100 TB lake): the arriving micro-batch's band table is
    tiny (LSH_BANDS rows per arriving doc), so it BROADCASTS into the
    equi-join — the lake band table never reshuffles per batch. In a
    deployment the lake side is a maintained table bucketed on
    (band, bv) so each batch's probe prunes to matching buckets; the
    cached DataFrame here stands in for that table (the per-batch plan
    is pinned by test_stream_lsh_match_broadcasts_arriving_batch). Docs
    too short to shingle produce no bands and surface with
    n_lake_candidates = 0, like any other non-duplicate."""
    bb = lsh_band_table(
        minhash_signatures(shingles(batch, distinct=False)), bands, rows
    )
    hits = (
        F.broadcast(bb)
        .join(lake_bands, ["band", "bv"])
        .groupBy("doc_id")
        .agg(F.countDistinct("lake_id").alias("n"))
    )
    return _gate_output(batch, hits)


def _gate_output(batch: DataFrame, hits: DataFrame) -> DataFrame:
    """(doc_id, n_lake_candidates, is_dup) for every arriving doc —
    docs with no band hits (incl. too-short-to-shingle) surface with
    n_lake_candidates = 0."""
    return (
        batch.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0))
            .cast("long")
            .alias("n_lake_candidates"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0)
            .cast("long")
            .alias("is_dup"),
        )
    )


# partition count for the persisted lake band table: enough that a
# micro-batch's probe prunes most of the lake, few enough that each
# partition is a healthy parquet file set at 100 TB (a deployment sizes
# this to ~lake_band_rows / target_file_rows)
LSH_LAKE_BUCKETS = 64


def _lake_bucket_col(n_buckets: int):
    # engine-internal routing only (never hash-checked cross-engine, so
    # Spark's Murmur3 hash is fine here): both the writer and the probe
    # derive bk from (band, bv) with the same expression
    return F.pmod(F.hash("band", "bv"), F.lit(n_buckets))


def lsh_lake_write(
    lake_bands: DataFrame, path: str, n_buckets: int = LSH_LAKE_BUCKETS
) -> None:
    """Persist the frozen lake band table AS A MAINTAINED TABLE,
    partitioned on bk = pmod(hash(band, bv), n_buckets) — the deployment
    shape the cached-DataFrame lake in stream_lsh_dedup_ingest stands in
    for. Each (band, bv) bucket lands wholly inside one partition, so an
    arriving batch's probe only has to read the partitions its own band
    values hash to (see lsh_match_against_bucketed)."""
    from proteus_spark.llmops.lake import write_schema_sidecar

    bands_bk = lake_bands.withColumn("bk", _lake_bucket_col(n_buckets))
    bands_bk.write.mode("overwrite").partitionBy("bk").parquet(path)
    # schema sidecar: a zero-row lake (nothing indexable yet) must read
    # back as an empty frame, not an inference failure (review r13 #4)
    write_schema_sidecar(bands_bk, path)


def lsh_match_against_bucketed(
    batch: DataFrame,
    lake: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    n_buckets: int = LSH_LAKE_BUCKETS,
) -> DataFrame:
    """lsh_match_against with the lake side served from the PARTITIONED
    table lsh_lake_write maintains, instead of a cached DataFrame.
    ``lake`` is ``spark.read.parquet(<lsh_lake_write path>)`` resolved
    ONCE before the stream starts (the frozen-lake contract: resolving
    per batch would re-list every partition directory — the file index
    caches with the DataFrame and is reused across micro-batches).

    Per batch: the arriving band table (tiny — LSH_BANDS rows/doc) is
    materialized once (localCheckpoint; it feeds both the filter and
    the join), its DISTINCT bk set — at most min(n_buckets, docs x
    bands) ints, a bounded per-batch scalar pull like the engine's
    other per-round pulls — becomes a STATIC partition filter
    (PartitionFilters: bk INSET ...) on the lake scan, and the
    broadcast equi-join (which also carries bk) lets dynamic partition
    pruning reinforce it. The per-batch lake term is then
    scanned_bytes ~ |batch band keys| x (|lake| / n_buckets); a
    deployment sizes n_buckets WITH the lake (constant partition
    size), making that term CONSTANT in |lake| — the claim
    scripts/sweep_stream_lsh.py --bucketed measures (bytes under
    matched partitions flat on the lake axis while total lake bytes
    grow 100x) and test_bucketed_lake_probe_prunes_partitions pins at
    plan level. Results are identical to lsh_match_against by
    construction (bk is a pure function of join keys already
    present)."""
    bb = (
        lsh_band_table(
            minhash_signatures(shingles(batch, distinct=False)), bands, rows
        )
        .withColumn("bk", _lake_bucket_col(n_buckets))
        .localCheckpoint(eager=True)
    )
    bks = [r["bk"] for r in bb.select("bk").distinct().collect()]
    pruned = (
        lake.where(F.col("bk").isin(bks)) if bks else lake.where(F.lit(False))
    )
    hits = (
        F.broadcast(bb)
        .join(pruned, ["bk", "band", "bv"])
        .groupBy("doc_id")
        .agg(F.countDistinct("lake_id").alias("n"))
    )
    return _gate_output(batch, hits)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _bit_sql(col: str, b: int) -> str:
    """Shared-dialect bit extraction: values are < 2^48 so the double
    division is exact."""
    return f"(CAST(floor({col} / {2 ** b}) AS BIGINT) % 2)"


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash per doc over distinct tokens: (doc_id, simhash).

    bit b of the signature = majority vote of bit b across token hashes.
    Computed as ``bits`` conditional sums in ONE aggregation pass.
    """
    # raw-docs repartition for the same reason as shingles(): single-file
    # sources otherwise tokenize serially
    tok = (
        docs.repartition(_fanout(docs, FANOUT_AUTO), "doc_id")
        .select("doc_id", F.explode(tokens_col()).alias("w"))
        .distinct()
    )
    h = tok.select(
        "doc_id", F.expr(md5_seeded_sql("w", "sim")).alias("xh")
    ).select("doc_id", F.expr(hex_to_long_spark_sql("xh")).alias("h"))
    # each per-bit aggregate parses as ONE expression, and the signature
    # reassembly is ONE parsed sum-of-CASEs — not `bits` chains of Column
    # operators, each a py4j driver round-trip (r15: construction of this
    # frame measured 0.49 s at 48 bits via Column ops, ~0.1 s parsed; the
    # analyzed trees, and therefore the results, are identical)
    sums = h.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN {_bit_sql('h', b)} = 1 THEN 1 ELSE -1 END)"
                f" AS s{b}"
            )
            for b in range(bits)
        ]
    )
    sim = sums.select(
        "doc_id",
        F.expr(
            "CAST("
            + " + ".join(
                f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)"
                for b in range(bits)
            )
            + " AS BIGINT)"
        ).alias("simhash"),
    )
    return sim


def simhash_pairs(
    docs: DataFrame,
    hamming_max: int = HAMMING_MAX,
    bits: int = SIMHASH_BITS,
    chunks: int = SIMHASH_CHUNKS,
) -> DataFrame:
    """Near-dup pairs by SimHash: (ida, idb, hamming <= hamming_max).

    Pigeonhole multi-index: split the signature into ``chunks`` blocks; any
    pair with <= chunks-1 differing bits shares an intact block, so
    candidates come from an equi-join on (block, block_value) — never a
    cross join.
    """
    assert hamming_max <= chunks - 1, "pigeonhole bound violated"
    sig = simhash_signatures(docs, bits)
    width = bits // chunks
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"CAST(floor(simhash / {2 ** (c * width)}) AS BIGINT) % {2 ** width}"
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("blk", "bval"),
    )
    # chunks rows per doc — tiny; cached so the self-join's two branches
    # don't each re-run the token-hash majority vote (see lsh_candidates)
    blocks = blocks.cache()
    a = blocks.alias("a")
    b = blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("ida"),
            F.col("b.doc_id").alias("idb"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("long"))
        .filter(F.col("hamming") <= hamming_max)
        .select("ida", "idb", "hamming")
    )


def minhash_dedup_keep(docs: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """Apply near-dedup: the surviving document set.

    Survivor rule: a doc is dropped iff it is the LARGER id in any
    verified near-dup pair — the single-pass min-id-survivor
    approximation of connected components (exact CC needs iteration;
    at pipeline scale this greedy rule is the standard first pass and
    is order-independent/deterministic). Returns (doc_id, text_hash)
    for the kept docs — an anti-join of the pair losers against the
    corpus, so cost is |pairs| + one corpus pass.
    """
    losers = minhash_lsh_dedup(docs, min_jaccard).select(
        F.col("idb").alias("doc_id")
    ).distinct()
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", F.md5("text").alias("text_hash")
    )


# ---------------------------------------------------------------------------
# Duplicate clusters (connected components)
# ---------------------------------------------------------------------------


def dup_components(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, component) for
    every doc that appears in >= 1 pair, with ``component`` = the minimum
    doc_id reachable through the pair graph (deterministic canonical label).

    ``minhash_dedup_keep`` applies the greedy single-pass survivor rule;
    this is the exact transitive closure a curation pipeline needs when
    near-dup clusters chain (A~B, B~C but not A~C).

    Algorithm: iterative min-label propagation as DataFrame joins —
    label(v) <- min(label(v), min over neighbors' labels) to fixpoint.
    Scale shape:

    - each round is ONE equi-join (edges x labels, shuffle on the edge
      endpoint) + ONE groupBy-min (map-side partial min) — no driver-side
      graph state, no per-vertex loops;
    - rounds needed = graph diameter; near-dup clusters are shallow
      (dozens of docs, diameter ~2-4), so the loop runs 3-5 rounds even at
      corpus scale. (A web-scale general graph would want the
      large-star/small-star contraction [Kiveris et al., "Connected
      Components in MapReduce and Beyond"], which converges in
      O(log^2 n) rounds; for dedup clusters plain propagation is both
      simpler and faster.)
    - ``localCheckpoint`` truncates lineage each round — without it the
      plan doubles per iteration and Catalyst analysis time explodes;
    - convergence probe: labels only ever decrease, so the label-sum is a
      strictly decreasing monotone — one scalar ``agg(sum)`` per round
      (never a full-result collect). The superseded round's blocks are
      released deterministically once the new round is materialized (the
      pq_train release discipline, optimization r15). The checkpoint stays
      EAGER: a single-session A/B of lazy-materialize-via-the-sum-job vs
      eager measured lazy as a slight LOSS here (best-of-3 1.169 vs
      1.122/1.086 with release) — components' rounds are so small that
      the saved job round-trip does not pay for anything, unlike
      bpe_train_encode's document-scale rounds where lazy measured −9%.
    """
    from proteus_spark.plans.ckpt import release as _release

    fwd = pairs.select(F.col("ida").alias("a"), F.col("idb").alias("b"))
    rev = pairs.select(F.col("idb").alias("a"), F.col("ida").alias("b"))
    edges = fwd.union(rev).distinct().localCheckpoint(eager=False)

    labels = (
        edges.select(F.col("a").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"))
    )
    prev_sum = None
    prev = None  # superseded label generation, dead once labels is live
    # try/finally (ADVICE r15): a mid-loop exception must not strand the
    # edge checkpoint, the superseded generation, or the in-flight one;
    # only the SUCCESSFULLY returned labels generation stays pinned.
    ok = False
    try:
        for _ in range(max_iters):
            msgs = edges.join(labels, edges["a"] == labels["v"]).select(
                F.col("b").alias("v"), F.col("label")
            )
            labels = (
                msgs.union(labels)
                .groupBy("v")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
            cur_sum = labels.agg(F.sum("label")).collect()[0][0]
            _release(prev)
            prev = labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        ok = True
    finally:
        if not ok:  # exception path: nothing is returned, free everything
            if prev is not labels:
                _release(prev)
            _release(labels)
        # the final labels generation is eagerly materialized and
        # truncated, so the edge checkpoint's blocks are dead either way
        _release(edges)
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

DECON_N = 5  # word n-gram length for overlap detection


def decontaminate(
    train: DataFrame, eval_docs: DataFrame, n: int = DECON_N
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_hits) — training documents
    sharing at least one word-``n``-gram with the evaluation set, with the
    count of DISTINCT overlapping shingles.

    The standard eval-leak filter of a training pipeline (remove train
    docs that quote benchmark items). Shape at 100 TB: both sides shingle
    to 60-bit hashed ids (codegen md5, no strings on the wire), the eval
    side collapses to its distinct shingle set — tiny relative to the
    corpus, typically broadcast — and candidates come from an equi-join on
    the shingle id; cost is linear in |train shingles| + |matches|, never
    a cross product. ``dedup_apply``-style removal is then an anti-join of
    ``train`` against this frame."""
    # NON-distinct train shingles into the join (optimization r16, guide
    # §2.3/§5): the per-doc distinct rides the fanout's doc_id
    # partitioning (no extra exchange — plan-verified, plans/r16/
    # llm_decontaminate_*), but it builds a per-task dedup HASH TABLE
    # over every train shingle before the selective eval join drops
    # almost all of them — per-task state proportional to the corpus
    # slice, a spill risk at 100 TB. Joining first keeps per-task state
    # O(|eval set|) (the broadcast), and the dedup the distinct-hit count
    # needs runs on the MATCHES only (groupBy(doc_id, s), then the
    # per-doc count — algebraically identical to distinct-then-count;
    # value-identity checked at sf0.1, locally time-neutral 0.75 vs
    # 0.77 s best-of-3 alternating).
    sh_t = shingle_ids(train, n=n, distinct=False)
    # the eval set is a benchmark corpus — small at ANY training-corpus
    # scale, so broadcast explicitly instead of trusting the size
    # estimator (a missed broadcast here would shuffle every train
    # shingle at 100 TB). fanout=None: the explode-stage fanout
    # repartition exists to spread a md5-heavy FULL-CORPUS pass across
    # the cluster; the eval side is tiny by definition, so the extra
    # exchange (+ its AQE round) is pure overhead — measured best-of-7
    # same-session at sf0.1, order-swapped confirm: 0.825→0.564s best
    # (0.943→0.732 med). distinct=False for the same reason the train
    # side does it: the only dedup that matters is the final .distinct()
    # on s (r16, guide §2.4).
    sh_e = F.broadcast(
        shingle_ids(eval_docs, n=n, fanout=None, distinct=False)
        .select("s")
        .distinct()
    )
    return (
        sh_t.join(sh_e, "s")
        .groupBy("doc_id", "s")
        .agg(F.lit(1).alias("_one"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


EDIT_SIM_MIN = 0.3  # report candidates at/above this normalized similarity


def editdistance_verify(
    docs: DataFrame, sim_min: float = EDIT_SIM_MIN
) -> DataFrame:
    """Edit-distance verification of near-dup candidates:
    (ida, idb, lev, edit_sim) with edit_sim = 1 - lev/max(len) >= sim_min.

    The character-level verifier real pipelines run after a cheap
    candidate pass: SimHash's pigeonhole index supplies the candidate
    pairs (equi-join, never a cross join), and Levenshtein — O(n·m) per
    pair, the expensive step — runs JVM-side on ONLY |candidates| pairs.
    Joining the text back onto id-pairs keeps raw text out of the
    candidate-generation shuffles; at 100 TB the two text lookups are
    id-keyed equi-joins against the (bucketed) corpus.

    Ordering caveat: cost is |candidates|-bound, and EXACT duplicates are
    maximal candidate generators (k copies of a doc → k·(k-1)/2 pairs,
    all hamming-0). Run exact_dedup first and verify only survivors —
    the standard pipeline order; a duplicate-heavy corpus fed directly
    to this operator pays a quadratic-in-copy-count verification bill
    for pairs a hash group-by finds for free."""
    pairs = simhash_pairs(docs).select("ida", "idb")
    t = docs.select("doc_id", "text")
    maxlen = F.greatest(F.length("ta"), F.length("tb"))
    # two empty texts are exact duplicates: 0/0 would be NaN (which Spark
    # orders ABOVE every number, silently passing the threshold)
    sim = F.when(maxlen == 0, F.lit(1.0)).otherwise(
        1 - F.levenshtein("ta", "tb") / maxlen
    )
    return (
        pairs.join(t.select(F.col("doc_id").alias("ida"), F.col("text").alias("ta")), "ida")
        .join(t.select(F.col("doc_id").alias("idb"), F.col("text").alias("tb")), "idb")
        .select(
            "ida",
            "idb",
            F.levenshtein("ta", "tb").cast("long").alias("lev"),
            F.round(sim, 6).alias("edit_sim"),
        )
        .filter(F.col("edit_sim") >= sim_min)
    )


def incremental_dedup(
    docs: DataFrame, base_sources: tuple[str, ...]
) -> DataFrame:
    """Incremental ingest dedup: (doc_id, source) of BATCH docs whose
    content does not already exist in the BASE corpus.

    The composition real ingest pipelines run: a Bloom filter built over
    the base corpus's content hashes prefilters the incoming batch —
    definitely-new docs (filter says absent) skip the join entirely —
    and only the maybe-present survivors verify with an exact anti-join.
    The Bloom's no-false-negative guarantee makes the prefilter
    TRANSPARENT: the result equals a plain anti-join (which is the
    oracle), but at 100 TB the KB-sized filter spares the shuffle for
    every novel document, and novel documents dominate a healthy ingest."""
    from proteus_spark.operators.bloom import bloom_build, bloom_probe

    hashed = docs.select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    base = hashed.filter(F.col("source").isin(list(base_sources)))
    batch = hashed.filter(~F.col("source").isin(list(base_sources)))
    filt = bloom_build(base.select("h"), "h")
    probed = bloom_probe(
        batch.select("h").distinct(), filt, "h"
    ).withColumnRenamed("candidate", "h")
    batch_flagged = batch.join(probed, "h", "left")
    definite_new = batch_flagged.filter(F.col("maybe_present") == 0)
    maybes = batch_flagged.filter(F.col("maybe_present") == 1)
    verified_new = maybes.join(
        base.select("h").distinct(), "h", "left_anti"
    )
    return definite_new.unionByName(verified_new).select("doc_id", "source")


CONTAINMENT_MIN = 0.85


def containment_pairs(
    sh: DataFrame,
    min_containment: float = CONTAINMENT_MIN,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Shingle-containment near-subset pairs: (ida, idb, containment),
    ida < idb, containment = |A∩B| / min(|A|,|B|).

    Catches the duplication Jaccard misses: a short document embedded in a
    much longer one (quotes, boilerplate wrapping, prefix truncations) has
    high containment but low Jaccard — the standard complement metric in
    corpus dedup (cf. Broder's resemblance vs containment).

    Same scale shape as ``jaccard_pairs``: candidate generation is the
    shingle equi-join (never a cross product), per-doc set sizes come from
    one group-by, and ``max_doc_freq`` guards hot shingles (drops shingles
    in more than that many docs before pairing; changes results, so the
    oracled query leaves it None)."""
    if max_doc_freq is not None:
        rare = sh.groupBy("s").count().filter(F.col("count") <= max_doc_freq).select("s")
        sh = sh.join(rare, "s")
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .agg(F.count("*").alias("ni"))
    )
    ca = counts.select(F.col("doc_id").alias("ida"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb"))
    return (
        inter.join(ca, "ida")
        .join(cb, "idb")
        .select(
            "ida",
            "idb",
            (F.col("ni").cast("double") / F.least(F.col("na"), F.col("nb"))).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= min_containment)
    )
