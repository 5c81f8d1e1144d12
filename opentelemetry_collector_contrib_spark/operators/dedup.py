"""Deduplication family for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

The collector's own dedup is logdedupprocessor (identical-record collapse,
processor/logdedupprocessor/counter.go:203 — a hash-groupBy); this module is
the corpus-scale generalization a 100 TB training-data pipeline needs.

Scale design:
  - exact dedup       : one hash aggregation (map-side partial combine).
  - Jaccard           : inverted-index self-join on shingles — NEVER a cross
                        join. Optional doc-frequency cap drops stop-shingles
                        (the skew killer: a shingle in f docs joins f^2 pairs).
  - MinHash+LSH       : banded signatures → candidates share a band bucket →
                        exact Jaccard verify on candidates only. The bucket
                        join is an equi-join on (band, bucket) — shuffle-
                        partitioned, skew handled by AQE.
  - SimHash           : 60-bit relational simhash; candidate pairs via
                        4-chunk pigeonhole blocking (hamming<=3 guarantee),
                        verified with bit_count(xor).
  - embedding cosine  : threshold pairs; brute force here, bucketed/IVF path
                        in operators/similarity.py.

Engine-portability: every hash is the 60-bit md5 hash (textstats.h60), so
the DuckDB oracle reproduces signatures, buckets, and verdicts exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import h60, tokens

# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text", normalize: bool = True) -> DataFrame:
    """One row per distinct (normalized) text: representative id = min id,
    n_copies. A single hash aggregation; at 100 TB this is a map-side
    partial-combine + one shuffle on the 60-bit key."""
    t = F.col(text_col)
    key = h60(F.lower(F.concat_ws(" ", tokens(t)))) if normalize else h60(t)
    return (
        df.select(F.col(id_col), key.alias("text_key"))
        .groupBy("text_key")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep only the representative row per duplicate group."""
    keep = exact_dedup(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="inner")


def exact_dedup_incremental(
    batch: DataFrame,
    state_keys: DataFrame | None,
    id_col: str,
    text_col: str = "text",
    normalize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Exact dedup over a growing corpus: the state is just the set of seen
    60-bit text keys (one row per distinct text ever observed — the minimal
    index, far smaller than the corpus). A batch row survives iff its key is
    new to the state AND it is the min-id holder of that key within the
    batch — which makes id-ordered batched processing equal one-shot
    drop_exact_dups exactly. Returns (novel_rows, new_state_keys); the
    anti-joined additions keep a replayed batch from bloating the state."""
    t = F.col(text_col)
    key = h60(F.lower(F.concat_ws(" ", tokens(t)))) if normalize else h60(t)
    keyed = batch.withColumn("_tk", key)
    firsts = keyed.groupBy("_tk").agg(F.min(id_col).alias(id_col))
    novel = keyed.join(firsts, on=[id_col, "_tk"], how="inner")
    if state_keys is not None:
        novel = novel.join(state_keys.withColumnRenamed("text_key", "_tk"), "_tk", "left_anti")
        adds = (
            keyed.select(F.col("_tk").alias("text_key"))
            .distinct()
            .join(state_keys, "text_key", "left_anti")
        )
        new_state = state_keys.unionByName(adds)
    else:
        new_state = keyed.select(F.col("_tk").alias("text_key")).distinct()
    return novel.drop("_tk"), new_state


# ---------------------------------------------------------------------------
# shingle inverted index + exact Jaccard join
# ---------------------------------------------------------------------------


def shingle_table(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) inverted index, distinct shingles per doc. Tokenizes
    into a bound column first (see textstats.shingles_of: inlining the
    tokenizer into the shingle lambda is quadratic per doc)."""
    from .textstats import with_shingles

    return with_shingles(df.select(F.col(id_col).alias("doc"), F.col(text_col)), text_col, n).select(
        "doc", F.explode(F.col("shingles")).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via the inverted index:
    |A∩B| from the shingle self-join, |A∪B| = |A|+|B|-|A∩B|.

    `max_doc_freq` drops shingles appearing in more than that many docs
    before the join (stop-shingle skew cap). With it set, only the
    INTERSECTION is approximated — doc sizes still count every shingle, so
    the reported jaccard is a strict lower bound and the cap can only MISS
    pairs, never promote a below-threshold pair above threshold. Default
    None = exact (used by the oracle gate)."""
    sh_all = shingle_table(df, id_col, text_col, n)
    sh = sh_all
    if max_doc_freq is not None:
        rare = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_")).filter(F.col("df_") <= max_doc_freq)
        sh = sh.join(rare.select("shingle"), "shingle")
    # sizes from the UNFILTERED table: shrinking the denominator along with
    # the intersection would inflate jaccard and create false positives
    sizes = sh_all.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed n-gram CONTAINMENT join: C(A→B) = |A∩B| / |A|, the
    sub-document duplication detector Jaccard structurally misses. A page
    quoted whole inside a 10× larger page has containment ≈ 1.0 from the
    quote's side but Jaccard ≈ 0.1 — below any resemblance threshold —
    yet it is exactly the boilerplate/mirror mass a pretraining corpus
    must down-weight (the "A is inside B" case `duplicated_ngram_spans`
    localizes span-by-span; this is its cheap doc-level verdict).

    Output: one row per DIRECTED pair with containment ≥ ``threshold``:
    (doc_a, doc_b, n_inter, containment) meaning "containment of doc_a's
    shingle set inside doc_b's". Both directions of an overlapping pair
    are scored independently (small-in-big fires, big-over-small
    usually doesn't).

    Scale: identical plan family to `jaccard_pairs` — shingle inverted
    index, equi-join on shingle, ONE intersection aggregate per unordered
    pair, then the two directions materialize as a 2-element explode (no
    second join pass). ``max_doc_freq`` caps stop-shingle skew exactly as
    in jaccard_pairs: intersections only shrink while |A| stays honest,
    so the capped score is a strict lower bound (misses possible, false
    positives impossible). Default None = exact (the oracle gate)."""
    sh_all = shingle_table(df, id_col, text_col, n)
    sh = sh_all
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_doc_freq)
        )
        sh = sh.join(rare.select("shingle"), "shingle")
    sizes = sh_all.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sized = inter.join(
        sizes.withColumnRenamed("doc", "da").withColumnRenamed("n_sh", "n_a"), "da"
    ).join(sizes.withColumnRenamed("doc", "db").withColumnRenamed("n_sh", "n_b"), "db")
    both = sized.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("da").alias("doc_a"),
                    F.col("db").alias("doc_b"),
                    F.col("n_inter"),
                    F.col("n_a").alias("n_src"),
                ),
                F.struct(
                    F.col("db").alias("doc_a"),
                    F.col("da").alias("doc_b"),
                    F.col("n_inter"),
                    F.col("n_b").alias("n_src"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    return (
        both.withColumn("containment", F.round(F.col("n_inter") / F.col("n_src"), 6))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "containment")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3, bands: int = 4, rows: int = 2
) -> DataFrame:
    """bands*rows MinHash values per doc: mh_{b}_{r} = min over shingles of
    h60('{b}:{r}:' || shingle). One explode + one hash aggregation; the
    per-(b,r) mins are computed in a single groupBy pass (bands*rows agg
    expressions), not bands*rows passes."""
    sh = shingle_table(df, id_col, text_col, n)
    aggs = [
        F.min(h60(F.concat(F.lit(f"{b}:{r}:"), F.col("shingle")))).alias(f"mh_{b}_{r}")
        for b in range(bands)
        for r in range(rows)
    ]
    return sh.groupBy("doc").agg(*aggs)


def lsh_buckets(sigs: DataFrame, bands: int = 4, rows: int = 2) -> DataFrame:
    """(doc, band, bucket): bucket = the band's row-signature concatenation.
    Docs sharing any band bucket are candidate near-dups.

    Built as ONE explode of a per-doc (band, bucket) array — a union of
    per-band selects would make Catalyst recompute the whole signature
    aggregation once per band (verified via explain: 4 duplicate
    explode+groupBy subtrees)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("-", *[F.col(f"mh_{b}_{r}").cast("string") for r in range(rows)]).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc", F.explode(entries).alias("bb")).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_candidates(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3, bands: int = 4, rows: int = 2
) -> DataFrame:
    """Distinct candidate pairs from band-bucket collisions. The join is an
    equi-join on (band, bucket) — at 10^12 docs this is the entire point:
    candidates ~ O(true dups), not O(n^2)."""
    bk = lsh_buckets(minhash_signatures(df, id_col, text_col, n, bands, rows), bands, rows)
    a = bk.alias("a")
    b = bk.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def _verify_candidates(
    cands: DataFrame, sh_left: DataFrame, sh_right: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (doc_a, doc_b):
    intersection from an equi-join of the two shingle tables restricted to
    the candidates, sizes from each side's own table. `sh_left` must cover
    every doc_a, `sh_right` every doc_b (they may be the same table)."""
    a = sh_left.withColumnRenamed("doc", "doc_a")
    b = sh_right.withColumnRenamed("doc", "doc_b")
    inter = (
        cands.join(a, "doc_a")
        .join(b, on=["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # sizes only matter for docs that appear in a candidate pair — the
    # semi-join keeps the aggregation O(candidate docs' shingles) instead
    # of a full pass over the (incremental path: whole-corpus) index
    sizes_a = (
        sh_left.join(cands.select(F.col("doc_a").alias("doc")).distinct(), "doc", "left_semi")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    sizes_b = (
        sh_right.join(cands.select(F.col("doc_b").alias("doc")).distinct(), "doc", "left_semi")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return (
        inter.join(sizes_a.withColumnRenamed("doc", "doc_a"), "doc_a")
        .join(sizes_b.withColumnRenamed("doc", "doc_b"), "doc_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates → exact Jaccard verification (the scale pipeline:
    cheap recall stage, exact precision stage)."""
    cands = minhash_lsh_candidates(df, id_col, text_col, n, bands, rows)
    sh = shingle_table(df, id_col, text_col, n)
    return _verify_candidates(cands, sh, sh, threshold)


# ---------------------------------------------------------------------------
# incremental keep-first near-dedup (batched corpus growth)
# ---------------------------------------------------------------------------


def minhash_dedup_state(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 3, bands: int = 4, rows: int = 2
) -> tuple[DataFrame, DataFrame]:
    """The at-rest index an incremental dedup maintains for a batch:
    (buckets, shingles). `buckets` = (doc, band, bucket) LSH rows for the
    candidate equi-join; `shingles` = (doc, shingle) for the exact-Jaccard
    verify. Both are per-doc (MinHash signatures don't depend on the rest
    of the corpus), so state for a new batch never touches old rows —
    append-only, snapshot-committable (plans/snapshots.py)."""
    bk = lsh_buckets(minhash_signatures(df, id_col, text_col, n, bands, rows), bands, rows)
    sh = shingle_table(df, id_col, text_col, n)
    return bk, sh


def pack_dedup_state(bk: DataFrame, sh: DataFrame) -> DataFrame:
    """(buckets, shingles) -> ONE frame (doc, band, bucket) with shingle
    rows carried as band = -1, so the whole dedup index commits as a
    single atomic snapshot (a two-table commit can crash half-done and
    leave an inconsistent index pair)."""
    return bk.select("doc", "band", "bucket").unionByName(
        sh.select("doc", F.lit(-1).alias("band"), F.col("shingle").alias("bucket"))
    )


def unpack_dedup_state(packed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Inverse of pack_dedup_state."""
    bk = packed.filter(F.col("band") >= 0).select("doc", "band", "bucket")
    sh = packed.filter(F.col("band") < 0).select("doc", F.col("bucket").alias("shingle"))
    return bk, sh


def dedup_keep_first(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Keep-first near-dedup: a doc survives iff NO earlier doc (smaller id)
    is an LSH candidate with verified Jaccard >= threshold.

    This is the semantic that stays computable when the corpus grows in
    batches: a later arrival can never revoke an earlier keep decision.
    (The connected-components keep set — dup_clusters — can't do that: a
    late doc bridging two clusters retroactively merges them.) Keep-first
    is what production crawl pipelines run; CC is the offline compaction."""
    pairs = minhash_lsh_dedup_pairs(df, id_col, text_col, n, bands, rows, threshold)
    dropped = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(dropped, on=id_col, how="left_anti")


def dedup_keep_first_incremental(
    batch: DataFrame,
    state: tuple[DataFrame, DataFrame] | None,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
    threshold: float = 0.5,
    return_additions: bool = False,
) -> tuple:
    """One arrival batch of documents deduped against the accumulated corpus
    WITHOUT rescanning it — the operation a 100 TB crawl pipeline runs when
    a new dump lands. Returns (novel_rows, new_state); with
    `return_additions=True`, (novel_rows, new_state, (bk_add, sh_add)) —
    the batch-only index rows already replay-guarded against the state, so
    an append-snapshot committer persists them directly instead of
    rebuilding the batch index and re-deriving the anti-join itself.

    `state` is (buckets, shingles) over ALL previously seen docs — kept AND
    dropped. Dropped docs stay in the index as tombstones: a newcomer that
    matches only a dropped doc still drops, which is exactly what makes
    batched processing equal the one-shot keep-first rule. Given batches
    that arrive in ascending `id_col` order, the union of novel rows across
    batches is IDENTICAL to dedup_keep_first over the whole corpus (oracle
    query `dedup_keep_first_incremental`; agreement + chain-tombstone tests
    in tests/test_datapipe.py).

    Scale: per batch, work is O(batch) index build + equi-joins against the
    state on (band, bucket) and (doc, shingle) — never a rescan of corpus
    text. State grows append-only; both joins are shuffle equi-joins whose
    state side is partitioned once and reused (bucketing/partitionBy on the
    stored parquet at production scale)."""
    bk_new, sh_new = minhash_dedup_state(batch, id_col, text_col, n, bands, rows)

    # within-batch: earlier id drops later id (same rule as the one-shot)
    a, b = bk_new.alias("a"), bk_new.alias("b")
    within = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    dropped = _verify_candidates(within, sh_new, sh_new, threshold).select("doc_b")

    if state is not None:
        bk_hist, sh_hist = state
        # vs history: previously seen docs precede the batch, and the id
        # filter makes that explicit — so a micro-batch REPLAYED against a
        # state that already absorbed it (crash between state commit and
        # checkpoint commit) reaches the identical verdicts instead of every
        # doc matching its own state entry
        cross = (
            bk_hist.alias("h")
            .join(bk_new.alias("n"), on=["band", "bucket"])
            .filter(F.col("h.doc") < F.col("n.doc"))
            .select(F.col("h.doc").alias("doc_a"), F.col("n.doc").alias("doc_b"))
            .distinct()
        )
        dropped = dropped.unionByName(
            _verify_candidates(cross, sh_hist, sh_new, threshold).select("doc_b")
        )
        # state additions are anti-joined against docs already indexed: a
        # REPLAYED batch (crash between state commit and checkpoint commit)
        # must not double-insert its rows — duplicated shingle rows would
        # inflate every later exact-Jaccard intersection and silently
        # corrupt verdicts
        seen = bk_hist.select("doc").distinct()
        bk_add = bk_new.join(seen, "doc", "left_anti")
        sh_add = sh_new.join(seen, "doc", "left_anti")
        new_state = (bk_hist.unionByName(bk_add), sh_hist.unionByName(sh_add))
    else:
        bk_add, sh_add = bk_new, sh_new
        new_state = (bk_new, sh_new)

    novel = batch.join(
        dropped.distinct().withColumnRenamed("doc_b", id_col), on=id_col, how="left_anti"
    )
    if return_additions:
        return novel, new_state, (bk_add, sh_add)
    return novel, new_state


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # fits the portable 60-bit hash


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc, fully relational (no UDF):
    token occurrences → per-bit +1/-1 votes → majority bit → packed long.

    ONE hash aggregation on doc with 60 vote-sum expressions over the
    (doc, h) token rows — zero row explosion (the earlier explode of
    sequence(0,59) multiplied shuffle rows 60×, a scale-killer at 100 TB),
    map-side partial combine, one shuffle on doc. Bit packing is a plain
    projection over the 60 vote columns."""
    tok = df.select(F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("tok"))
    hashed = tok.select("doc", h60(F.col("tok")).alias("h"))
    votes = hashed.groupBy("doc").agg(
        *[
            F.sum(F.when(F.expr(f"(h >> {j}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    packed_bits = [
        F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(SIMHASH_BITS)
    ]
    packed = packed_bits[0]
    for b in packed_bits[1:]:
        packed = packed + b
    return votes.select("doc", packed.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", max_hamming: int = 3, chunks: int = 4
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate generation by pigeonhole chunk blocking: split the 60-bit
    signature into `chunks` equal chunks; any pair within `chunks-1` bit
    flips shares at least one chunk, so an equi-join on (chunk_idx,
    chunk_val) has guaranteed recall for max_hamming <= chunks-1. Verify
    with bit_count(xor). No cross join anywhere."""
    sig = simhash(df, id_col, text_col).withColumnRenamed("simhash", "sig")
    return hamming_blocked_pairs(sig, bits=SIMHASH_BITS, max_hamming=max_hamming, chunks=chunks)


def hamming_blocked_pairs(
    sig: DataFrame, bits: int, max_hamming: int = 3, chunks: int = 4
) -> DataFrame:
    """Near-dup pairs by hamming distance over ANY packed bit signature
    (`sig` = (doc, sig long)): pigeonhole chunk blocking — split the
    `bits`-bit signature into `chunks` equal chunks; any pair within
    `chunks-1` bit flips shares at least one chunk, so an equi-join on
    (chunk_idx, chunk_val) has guaranteed recall for max_hamming <=
    chunks-1. Verify with bit_count(xor). No cross join anywhere. Shared
    by SimHash text near-dup and dHash image near-dup."""
    assert max_hamming <= chunks - 1, "pigeonhole guarantee needs max_hamming <= chunks-1"
    assert bits % chunks == 0, "bits must split evenly into chunks"
    width = bits // chunks
    chunked = sig.select(
        "doc",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.expr(f"(sig >> {i * width}) & {(1 << width) - 1}").alias("cv"),
                )
                for i in range(chunks)
            ])
        ).alias("c"),
    ).select("doc", "sig", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunked.alias("a")
    b = chunked.alias("b")
    cands = (
        a.join(b, on=[F.col("a.ci") == F.col("b.ci"), F.col("a.cv") == F.col("b.cv"), F.col("a.doc") < F.col("b.doc")])
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def dup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over (doc_a, doc_b) near-dup pairs → one row per
    doc with its cluster representative (the component's min id). This is
    the step that turns pairwise similarity into an actionable keep/drop
    set: keep rows where doc == cluster_rep.

    Algorithm: iterative min-label propagation with POINTER-DOUBLING
    shortcutting — each round every node adopts the smallest label among
    itself and its neighbors, then labels chase their own label's label
    (label = label[label]), halving chain depth. Convergence is
    O(log diameter) rounds instead of O(diameter), which is what makes a
    pathological million-doc spam chain terminate in ~20 rounds at 100 TB.
    Each round is a bounded number of shuffles on doc id — the standard
    large-graph CC shape (GraphX/GraphFrames run the same loop); the driver
    only orchestrates, never holds data. Labels are localCheckpoint'ed per
    round so the plan doesn't accrete the whole iteration history."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc")).distinct().withColumn("label", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(neighbor_min, labels["doc"] == neighbor_min["src"], "left").select(
            "doc",
            F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
        )
        # pointer doubling: label <- label[label] (labels are doc ids, so a
        # self-join resolves one hop; chains halve every round)
        lbl_of_lbl = propagated.select(F.col("doc").alias("_l"), F.col("label").alias("_ll"))
        new_labels = (
            propagated.join(lbl_of_lbl, propagated["label"] == lbl_of_lbl["_l"], "left")
            .select(
                "doc",
                F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # a component with diameter > max_iters would otherwise return
        # silently-wrong partial labels (and fail oracle parity with no
        # diagnostic) — fail loudly instead
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds; "
            "a near-dup chain is longer than expected — raise max_iters"
        )
    return labels.select(F.col("doc"), F.col("label").alias("cluster_rep"))


def dup_cluster_sizes(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Duplication-factor histogram — the corpus-audit number behind every
    dedup decision: "what fraction of the corpus exists in N copies?"
    (CCNet/RefinedWeb report exactly this curve; a corpus where 30% of
    mass sits in 100+-member clusters needs cluster-level caps, not just
    keep-first).

    Unpaired documents count as singleton clusters — omitting them (the
    easy bug) silently reports duplication share of the DUPLICATED subset
    instead of the corpus. Output: one row per distinct cluster size:
    (cluster_size, n_clusters, n_docs, frac_docs), frac over the full
    corpus, rounded 6.

    Scale: the CC runs on the pair graph only (O(duplicates)); mapping
    back is one left equi-join on id with coalesce-to-self; then two hash
    aggs, the second over |distinct cluster| rows and the histogram frame
    bounded by distinct sizes (≪ corpus). frac totals ride an
    unpartitioned window over that tiny histogram frame, never raw
    rows."""
    clusters = dup_clusters(pairs).withColumnRenamed("doc", id_col)
    rep = (
        df.select(id_col)
        .join(clusters, on=id_col, how="left")
        .select(F.coalesce(F.col("cluster_rep"), F.col(id_col)).alias("rep"))
    )
    sizes = rep.groupBy("rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))
    tot = Window.partitionBy()  # over the size-histogram frame only
    return (
        hist.withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
        .withColumn(
            "frac_docs", F.round(F.col("n_docs") / F.sum("n_docs").over(tot), 6)
        )
        .select("cluster_size", "n_clusters", "n_docs", "frac_docs")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double — the DuckDB oracle replicates
    the same fold order so values match bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with a zero-norm guard: a zero vector (the common
    failed-embedding sentinel) is similar to NOTHING — similarity 0, not a
    DIVIDE_BY_ZERO abort of the whole job under ANSI mode (round-5
    review; without ANSI it would be worse — 0/0=NaN compares GREATER
    than any threshold in Spark, so every zero-vector pair would emit as
    a spurious near-duplicate). try_divide returns NULL on zero divisor;
    coalesce makes that the explicit 0.0 verdict."""
    return F.coalesce(
        F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))),
        F.lit(0.0),
    )


def embedding_dup_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.95
) -> DataFrame:
    """Cosine >= threshold pairs, brute force O(n^2/2) — correctness
    baseline. The scale path buckets first (similarity.ivf_assign) so the
    pairwise stage runs per-bucket; see operators/similarity.py."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_dup_pairs_bucketed(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 8,
    probes: int = 2,
) -> DataFrame:
    """Cosine >= threshold pairs via IVF-cell blocking — the 100 TB path.

    Every vector is assigned to its top-`probes` centroid cells
    (similarity.ivf_assign_topp, multi-probe for boundary recall); candidate
    pairs are vectors sharing ANY cell — an equi-join on cell, never a cross
    product. Candidates are deduplicated BEFORE vectors are joined back and
    the cosine is scored, so each surviving pair is scored exactly once.
    Cost ~ sum over cells of |cell|^2 instead of n^2; recall vs the brute
    baseline is measured in tests/test_datapipe.py (raise probes/n_cells to
    trade cost for recall)."""
    from .similarity import ivf_assign_topp, ivf_centroids

    cents = ivf_centroids(emb, n_cells, id_col, vec_col)
    cells = ivf_assign_topp(emb, cents, probes, id_col, vec_col).select(id_col, "cell")
    a = cells.select(F.col(id_col).alias("id_a"), "cell")
    b = cells.select(F.col(id_col).alias("id_b"), "cell")
    cands = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_cells: int = 8,
    probes: int = 1,
    centroids: DataFrame | None = None,
    max_iters: int = 20,
) -> DataFrame:
    """SemDeDup (Abbas, Tirumala et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning over an embedding column. Vectors cluster under
    the coarse quantizer; cosine >= threshold pairs are found WITHIN
    shared cells only (equi-join on cell — never all-pairs); pairs connect
    into components; ONE document per component survives. Keep policy is
    the paper's: the member with the LOWEST cosine similarity to its
    cluster centroid (the least prototypical exemplar — prototypical
    members carry the least marginal information), ties broken on id.

    Output one row per vector: (id, cell, centroid_sim, cluster_rep,
    keep). Vectors in no near-dup pair form singleton components and keep
    themselves. Pass `centroids` (e.g. ivf_centroids_kmeans output) for
    the production quantizer; the default first-n quantizer is the
    oracle-parity path.

    Scale: cell scoring is an inlined-centroid codegen projection (no
    join); the pair join is Σ|cell|² like embedding_dup_pairs_bucketed;
    components are pointer-doubling CC (O(log diameter) rounds); keeper
    selection is one min(struct) aggregation per component, map-side
    combinable — no window sort."""
    from .similarity import ivf_assign_topp, ivf_centroids

    cents = centroids if centroids is not None else ivf_centroids(emb, n_cells, id_col, vec_col)
    assign = ivf_assign_topp(emb, cents, probes, id_col, vec_col)
    cells = assign.select(id_col, "cell")
    a = cells.select(F.col(id_col).alias("id_a"), "cell")
    b = cells.select(F.col(id_col).alias("id_b"), "cell")
    cands = a.join(b, "cell").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= threshold)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    comp = dup_clusters(pairs, max_iters)
    # probe 0 of the SAME assignment is the top-1 cell — no second
    # centroid-scoring pass over the table
    one = assign.filter(F.col("probe") == 0).select(
        F.col(id_col).alias("doc"), "cell", F.col("cell_cos").alias("centroid_sim")
    )
    labeled = one.join(comp, "doc", "left").withColumn(
        "cluster_rep", F.coalesce(F.col("cluster_rep"), F.col("doc"))
    )
    keepers = labeled.groupBy("cluster_rep").agg(
        F.min(F.struct(F.col("centroid_sim"), F.col("doc"))).alias("_k")
    )
    return (
        labeled.join(keepers, "cluster_rep")
        .select(
            F.col("doc").alias(id_col),
            F.col("cell").cast("long").alias("cell"),
            "centroid_sim",
            "cluster_rep",
            (F.col("doc") == F.col("_k.doc")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# duplicated n-gram span detection (exact-substring dedup, positional form)
# ---------------------------------------------------------------------------


def _positional_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> tuple[DataFrame, DataFrame]:
    """Shared gram construction for the exact-substring detect + removal
    paths: returns (toks, grams) where toks = (doc, _toks) and grams =
    (doc, start_pos, ngram_hash) with EVERY occurrence kept (no distinct —
    positions matter). Positions explode FIRST and the window slice happens
    above the Generate node, where the token array is a bound attribute —
    slicing inside a transform() lambda would let projection collapse
    inline the tokenizer per element (the O(tokens²) trap
    textstats.shingles_of documents)."""
    toks = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_toks"))
    rows = toks.select(
        "doc",
        "_toks",
        F.explode(
            F.when(F.size("_toks") >= n, F.sequence(F.lit(1), F.size("_toks") - (n - 1))).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("i"),
    )
    grams = rows.select(
        "doc",
        (F.col("i") - 1).alias("start_pos"),
        h60(F.concat_ws(" ", F.slice(F.col("_toks"), F.col("i"), F.lit(n)))).alias("ngram_hash"),
    )
    return toks, grams


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup, REMOVAL step (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": cut every occurrence of a
    cross-document verbatim repeat except one). `duplicated_ngram_spans`
    detects; this rewrites the corpus.

    Semantics: for each n-token window repeated in >= min_docs distinct
    docs, the globally FIRST occurrence (min (doc, start_pos)) survives;
    every other occurrence marks its n token positions for removal. Marked
    windows may overlap — positions union, so a span is cut once. A
    survivor window's positions can still be cut by a *different* flagged
    window that overlaps it and keeps elsewhere — per-window semantics,
    exactly like the suffix-array pipeline's per-repeat decisions. Output
    text is rebuilt from surviving tokens (whitespace-normalized, one
    space between tokens).

    Returns (doc, removed_tokens, kept_tokens, text_clean).

    Plan & scale: tokenize once; explode positional n-grams (linear in
    corpus tokens); ONE groupBy(ngram_hash) computes both the distinct-doc
    count and the keeper (min struct) — no second aggregation; equi-join
    back on the hash; non-keepers explode to n positions each (bounded
    linear blowup, n small); one collect_set agg per doc (deduplicating,
    map-side combinable — no separate distinct shuffle); one final
    equi-join on doc and a pure-projection rebuild. No pair join exists
    anywhere, so unlike jaccard there is no f² skew — a boilerplate
    n-gram shared by millions of docs costs exactly its occurrence count."""
    toks, grams = _positional_grams(df, id_col, text_col, n)
    flagged = (
        grams.groupBy("ngram_hash")
        .agg(
            F.count_distinct("doc").alias("n_docs"),
            F.min(F.struct(F.col("doc"), F.col("start_pos"))).alias("keep"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("ngram_hash", "keep")
    )
    removals = (
        grams.join(flagged, "ngram_hash")
        .filter((F.col("doc") != F.col("keep.doc")) | (F.col("start_pos") != F.col("keep.start_pos")))
        .select("doc", F.explode(F.sequence(F.col("start_pos"), F.col("start_pos") + (n - 1))).alias("pos"))
        # no distinct() here: collect_set deduplicates (map-side too), and
        # a pre-distinct would add a second shuffle of the exploded rows
        .groupBy("doc")
        .agg(F.collect_set("pos").alias("_rm"))
    )
    merged = toks.join(removals, "doc", "left").withColumn(
        "_rm", F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.zip_with(
            F.col("_toks"),
            F.sequence(F.lit(0), F.greatest(F.size("_toks"), F.lit(1)) - 1),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: s["t"].isNotNull() & ~F.array_contains(F.col("_rm"), s["i"]),
    )
    return merged.select(
        "doc",
        F.size("_rm").cast("long").alias("removed_tokens"),
        # coalesce: size(NULL-toks) is NULL (ANSI) — a NULL-text doc keeps 0
        (F.coalesce(F.size("_toks"), F.lit(0)) - F.size("_rm")).cast("long").alias("kept_tokens"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias("text_clean"),
    )


def duplicated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Positional n-gram spans that repeat across >= min_docs documents —
    the relational form of exact-substring training-data dedup (suffix-array
    pipelines flag long verbatim repeats; the positional n-gram inverted
    index finds every such span of length >= n, since any longer repeat is
    covered by its n-token windows).

    Plan: tokenize once, explode (doc, position, ngram) — NOT distinct, so
    every occurrence keeps its position — then one aggregation per ngram
    counting distinct docs, joined back to positions. The join is an
    equi-join on the 60-bit ngram hash; at corpus scale a doc-frequency cap
    on the hot ngrams (boilerplate) bounds the skew exactly like
    jaccard_pairs' max_doc_freq. Output: (doc, start_pos, ngram_hash,
    n_docs) — the spans a curation pass would mask or drop.

    Gram construction is shared with remove_duplicated_spans via
    _positional_grams (one definition of the tokenize/explode/slice shape,
    so detect and removal can never diverge on which spans they flag)."""
    _, grams = _positional_grams(df, id_col, text_col, n)
    df_counts = grams.groupBy("ngram_hash").agg(F.count_distinct("doc").alias("n_docs")).filter(
        F.col("n_docs") >= min_docs
    )
    return grams.join(df_counts, "ngram_hash").select("doc", "start_pos", "ngram_hash", "n_docs")


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup winner selection: given the (doc, cluster_rep)
    table from dup_clusters and a per-row score, keep the HIGHEST-scoring
    member of each near-dup cluster (ties → smallest id) instead of
    keep-first's min-id convention — the curation-pipeline refinement
    where near-dups differ in quality (boilerplate-stripped vs raw crawl
    of the same page: keep the clean one). Docs in no cluster are their
    own cluster and always keep.

    Output: (id, cluster_rep, keep). Shape: one left join onto the
    cluster table (near-dup docs only — usually a small fraction of the
    corpus) + one per-cluster window; the window's partition is a
    cluster, so the sort is bounded by the largest duplicate family, the
    same bound dup_clusters itself already guarantees converging."""
    j = df.select(F.col(id_col), F.col(score_col)).join(
        clusters.select(F.col("doc").alias(id_col), "cluster_rep"),
        on=id_col,
        how="left",
    )
    rep = F.coalesce(F.col("cluster_rep"), F.col(id_col))
    w = Window.partitionBy(rep).orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (
        j.withColumn("cluster_rep", rep)
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(id_col, "cluster_rep", "keep")
    )

