"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine (north-star, BASELINE.json; `documents` table).

Scale strategy (the whole point — these are the operators a 100 TB
training-data pipeline runs first):

- exact: one hash-shuffle on the fingerprint; map-side partial agg makes
  the exchange proportional to #distinct docs, not #docs.
- n-gram Jaccard: candidate pairs come from an equi-join on shared
  shingles — never an all-pairs product. Hot shingles (appearing in >
  ``max_shingle_freq`` docs) are dropped before the join: they generate
  O(freq^2) candidate pairs while carrying ~zero Jaccard signal — this is
  the skew control that keeps the join bounded at scale.
- MinHash+LSH: signatures shrink each doc to k longs; banding turns
  near-dup detection into an equi-join on (band, band_hash). Tunable
  (bands, rows) = recall/precision dial. All hashing is xxhash64 JVM-side.
- SimHash: 64-bit sketch; Hamming-ball candidates via band equality.
- embedding-cosine: exact pair join above a threshold (LSH-bucketed
  variant in operators.similarity for scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from gomrjob_spark.cache import iterate, scoped_persist
from gomrjob_spark.functions import sql_ident
from gomrjob_spark.operators.text import fingerprint, normalized, spread, tokens

# Mersenne prime 2^31-1: affine MinHash permutations stay in 62-bit range
# under ANSI mode (no overflow) while xxhash64 provides the base hash.
_MERSENNE = 2_147_483_647


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per normalized-text fingerprint.

    One shuffle, partial-aggregated; the survivor choice (min id) is
    deterministic. Returns (id, fingerprint, n_dups)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
        .select(id_col, "fp", "n_dups")
    )


def word_shingles(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    Built with a sequence/transform over the token array — one pass, no
    Python, no self-join. The token array is projected into a real column
    before the higher-order transform: expressions referenced inside a
    lambda don't get common-subexpression elimination, so inlining the
    regex tokenizer there re-runs it per element_at call (measured ~5x
    slower end-to-end)."""
    toked = spread(df).select(
        F.col(id_col), tokens(normalized(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    # guard short docs: sequence only when >= n tokens (ANSI element_at
    # throws on out-of-bounds)
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)).otherwise(
        F.array().cast("array<int>")
    )
    shingle = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    # no trailing .distinct(): array_distinct already dedups within a doc
    # and ids separate docs — a global distinct would be a pure extra
    # shuffle of the full (id, shingle) stream
    return toked.select(
        F.col(id_col), F.explode(F.array_distinct(shingle)).alias("shingle")
    ).filter(F.length("shingle") > 0)


def _pair_intersections(
    sh: DataFrame, id_col: str, max_shingle_freq: int | None
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate stage of the n-gram pair operators: the
    undirected per-pair intersection counts (id_a < id_b, n_common) and
    the per-doc kept-shingle sizes (id, n_sh) from a (id, shingle)
    stream whose shingles are distinct per doc.

    CAPPED mode: ONE hash exchange of the shingle stream. A
    ``count(*) over (partition by shingle)`` on that exchange drops the
    stop shingles (frequency > cap), and the ``collect_list`` grouping
    reads the same partitioning, so it adds no exchange. The window
    drops a stop shingle's rows before ``collect_list`` buffers them:
    the window's row buffer spills to disk past its in-memory
    threshold, so a 1e9-doc stop shingle costs one long, spilling task,
    never the OOM the cap exists to kill, and every collected group
    holds <= cap ids (cap^2/2 pair structs per row, bounded). Both keys
    lead with ``xxhash64(shingle)``, so the sort under the window
    compares 8-byte prefixes, not strings (the shingle stays in the
    key: a hash collision merges nothing). Candidate pairs then explode
    row-locally from the sorted id array (i < j, so id_a < id_b by
    construction) instead of feeding a shingle-keyed self-join.

    The grouped frame is read twice, by the pair aggregate and by the
    sizes (a map-side-combined count on id), so it passes one lazy
    ``localCheckpoint``: building it runs the shingle exchange, and the
    first task to read a grouped partition stores it for the other
    reader. Without it, each reader would sort, window and collect the
    shingle exchange again. A persisted frame would do the same work
    once but cost one Spark job per read (adaptive execution makes each
    read its own table-cache stage and reuses no exchange above one, so
    the sizes, read by both sides of their join, would be aggregated
    and broadcast twice). Taking the sizes off the pair aggregate
    instead, as a diagonal (x, x) row per kept id, re-aggregated every
    pair row once more for them: 15-20% more executor CPU at the 64x
    probe (SCALING.md, "Fewer Spark jobs per crawl round"). Like every
    checkpoint, the grouped frame cannot recompute, so it stays out of
    ``release_scoped``; Spark's context cleaner frees it once no frame
    refers to it.

    UNCAPPED mode keeps the r13 equi-join shape: with no frequency
    bound, one hot shingle's id group (and its f^2/2 combination
    structs) must not land in a single row/task."""
    if max_shingle_freq is not None:
        freq = F.count(F.lit(1)).over(Window.partitionBy("_h", "shingle"))
        grp = (
            sh.withColumn("_h", F.xxhash64("shingle"))
            .select(id_col, "_h", "shingle", freq.alias("_f"))
            .filter(F.col("_f") <= max_shingle_freq)
            .groupBy("_h", "shingle")
            .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
            .select("_ids")
            .localCheckpoint(eager=False)
        )
        sizes = (
            grp.select(F.explode("_ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        combos = F.expr(
            "flatten(transform(_ids, (x, i) -> "
            "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
            "y -> struct(x AS id_a, y AS id_b))))"
        )
        inter = (
            grp.filter(F.size("_ids") >= 2)
            .select(F.explode(combos).alias("_p"))
            .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        return inter, sizes
    sh = scoped_persist(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter, sizes


def _pair_sizes(inter: DataFrame, sizes: DataFrame, id_col: str) -> DataFrame:
    """``inter`` with both endpoints' sizes, (id_a, id_b, n_common, n_a,
    n_b). Both joins read ``sizes`` unrenamed, so their build sides are
    one plan and adaptive execution broadcasts (or shuffles) it once; a
    rename below either join would make two plans, and two broadcasts."""
    sa, sb = sizes.alias("_sa"), sizes.alias("_sb")
    return (
        inter.join(sa, F.col("id_a") == F.col(f"_sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"_sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.col("_sa.n_sh").alias("n_a"),
            F.col("_sb.n_sh").alias("n_b"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= t).

    intersection counts + per-doc sizes via :func:`_pair_intersections`
    (grouped single-exchange candidates in capped mode, shingle
    equi-join uncapped); union via |A u B| = |A| + |B| - |A n B|.
    ``max_shingle_freq`` drops stop-shingles first (skew control, see
    module docstring)."""
    inter, sizes = _pair_intersections(
        word_shingles(df, n, text_col, id_col), id_col, max_shingle_freq
    )
    return (
        _pair_sizes(inter, sizes, id_col)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Directed n-gram CONTAINMENT near-dup pairs:
    C(src -> dst) = |sh(src) ∩ sh(dst)| / |sh(src)| >= threshold,
    emitted as (id_src, id_dst, containment), id_src != id_dst.

    The sub-document signal Jaccard structurally misses (Broder's
    resemblance-vs-containment distinction, SEQUENCES'97): a short
    document quoted whole inside a long one has LOW Jaccard (the union
    is the long doc) but containment 1.0 — the common shape of
    boilerplate headers, syndicated excerpts, and quote-heavy pages in
    a crawl. Containment is asymmetric, so pairs are directed.

    Plan: identical candidate generation to :func:`jaccard_pairs`
    (:func:`_pair_intersections` — each UNDIRECTED intersection
    computed once, never all-pairs, same stop-shingle skew dial); both
    directions then derive row-locally from the one (n_common, n_a,
    n_b) row, one explode of a two-struct array — no second join, no
    second shuffle, and no union whose two branches would each run the
    pair plan above the shared exchanges. Exact bigint counts + one IEEE
    division per direction -> cross-engine hash-stable."""
    inter, sizes = _pair_intersections(
        word_shingles(df, n, text_col, id_col), id_col, max_shingle_freq
    )
    common = F.col("n_common").cast("double")
    both = F.array(
        F.struct(
            F.col("id_a").alias("id_src"),
            F.col("id_b").alias("id_dst"),
            (common / F.col("n_a").cast("double")).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("id_src"),
            F.col("id_a").alias("id_dst"),
            (common / F.col("n_b").cast("double")).alias("containment"),
        ),
    )
    return (
        _pair_sizes(inter, sizes, id_col)
        .select(F.explode(both).alias("_c"))
        .select("_c.*")
        .filter(F.col("containment") >= threshold)
    )


def shingle_array(text_col: Column | str, n: int = 3) -> Column:
    """Row-local distinct word-n-gram shingle array (no explode): the
    streaming-safe form of word_shingles — a single document's shingle
    set needs no aggregation, so it can be computed per row inside a
    stateless streaming projection. Callers should project the token
    array into a real column first when reusing it (lambda bodies get no
    common-subexpression elimination; see word_shingles)."""
    toks = tokens(normalized(text_col))
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.filter(F.array_distinct(sh), lambda s: F.length(s) > 0)


def minhash_base_expr(shingles_col: Column | str, base_hash: str = "md5") -> Column:
    """Row-local base-hash array for a shingle array (one hash per
    shingle, reduced mod the Mersenne prime). PROJECT this into a real
    column before feeding minhash_signature_expr: the num_hashes
    permutation folds each reference it, and lambda bodies get no
    common-subexpression elimination — inlining would recompute the md5
    per permutation."""
    sh = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    if base_hash == "md5":
        raw = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")  # noqa: E731
    elif base_hash == "xxhash64":
        raw = F.xxhash64  # type: ignore[assignment]
    else:
        raise ValueError(f"base_hash must be 'xxhash64' or 'md5', got {base_hash!r}")
    return F.transform(sh, lambda s: F.pmod(raw(s), F.lit(_MERSENNE)))


def minhash_signature_expr(
    base_col: Column | str, num_hashes: int = 32, seed: int = 42
) -> Column:
    """Row-local MinHash signature (array<bigint>) from a projected
    base-hash array column (see minhash_base_expr) — same hash family
    and coefficients as the agg-based minhash_signatures, but computed
    per row, so it runs inside a stateless streaming projection. Empty
    shingle arrays yield NULL mins, which never match a band equi-join
    (SQL null equality) — mirroring the agg path, where such docs simply
    have no signature row."""
    coeffs = minhash_coeffs(num_hashes, seed)
    base = F.col(base_col) if isinstance(base_col, str) else base_col
    return F.array(
        *[
            F.array_min(
                F.transform(base, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE)))
            )
            for a, b in coeffs
        ]
    )


def minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """The affine-permutation coefficients, deterministic per seed —
    shared by the Spark operator and any SQL mirror of it."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    shingles: DataFrame | None = None,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash signature (array<long> of length num_hashes) per doc.

    One base hash per shingle, then ``num_hashes`` affine permutations
    (a*h+b mod 2^31-1) folded with min() — entirely column expressions, one
    aggregation shuffle. Signature length trades accuracy for width; 64
    longs = 512 bytes/doc at any corpus size. Pass a precomputed (persisted)
    ``shingles`` frame to share the tokenize+shingle scan with other stages.

    ``base_hash``: 'xxhash64' (production — fastest JVM path) or 'md5'
    (60-bit md5-hex prefix — slower, but reproducible by any SQL engine,
    enabling a full oracle gate on the MinHash pipeline)."""
    coeffs = minhash_coeffs(num_hashes, seed)
    sh = shingles if shingles is not None else word_shingles(df, n, text_col, id_col)
    if base_hash == "xxhash64":
        raw = F.xxhash64(F.col("shingle"))
    elif base_hash == "md5":
        raw = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("bigint")
    else:
        raise ValueError(f"base_hash must be 'xxhash64' or 'md5', got {base_hash!r}")
    base = F.pmod(raw, F.lit(_MERSENNE))
    mins = [
        F.min(F.pmod(base * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature"))


def _first_shared_band(bh_a: Column, bh_b: Column, bands: int) -> Column:
    """Index of the lowest band where two band-hash arrays agree (NULL if
    none — impossible for rows produced by a band equi-join). Evaluated
    map-side right after the join; comparing to the join's own band
    index keeps a multi-band-colliding pair exactly once, replacing a
    distinct() exchange over the candidate-pair stream."""
    first: Column = F.lit(None).cast("int")
    for t in range(bands - 1, -1, -1):
        first = F.when(F.element_at(bh_a, t + 1) == F.element_at(bh_b, t + 1), F.lit(t)).otherwise(
            first
        )
    return first


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    id_col: str = "doc_id",
    *,
    sig_len: int,
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band,
    each pair exactly once.

    (bands, rows=len/bands) sets the S-curve: P(candidate) =
    1-(1-j^rows)^bands. The join key is (band_idx, hash of the band slice),
    so the shuffle carries ids + band hashes only — no signatures.

    Pair dedup is shuffle-free ("first shared band wins"): every banded
    row carries the full band-hash array (``bands`` longs — for 16 bands,
    128 bytes on a row that already exists), and a pair colliding in
    several bands survives only where the join's band index equals the
    lowest band whose hashes agree — decided map-side, mirroring the
    packed-signature trick in embedding_dup_pairs_bucketed. The previous
    shape ended in ``.distinct()`` over the full candidate-pair stream: a
    whole extra shuffle whose volume is the quadratic blowup of every hot
    bucket — precisely the stream that grows fastest on duplicate-heavy
    corpora (plan pinned shuffle-free in tests/test_plan_quality.py).

    ``sig_len`` is required (the caller knows num_hashes): inferring it
    from the frame would cost a ``.first()`` — one extra full execution
    of the signature pipeline — silently."""
    rows = sig_len // bands
    bh = F.array(
        *[
            F.xxhash64(F.slice(F.col("signature"), i * rows + 1, rows).cast("string"))
            for i in range(bands)
        ]
    )
    banded = signatures.select(F.col(id_col), bh.alias("_bh")).select(
        F.col(id_col), "_bh", F.posexplode("_bh").alias("band", "bhash")
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("_bh").alias("_bh_a"), "band", "bhash")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("_bh").alias("_bh_b"), "band", "bhash")
    return (
        a.join(b, ["band", "bhash"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (_first_shared_band(F.col("_bh_a"), F.col("_bh_b"), bands) == F.col("band"))
        )
        .select("id_a", "id_b")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified: LSH proposes candidates, the
    exact Jaccard of the candidate pair confirms (no false positives in the
    output; recall is the LSH S-curve, tested vs exact on the fixture).

    Verification joins shingle sets only for candidate pairs — at scale
    that's |candidates| * avg_doc_shingles, a sliver of the corpus.

    The shingle frame is computed once and persisted (MEMORY_AND_DISK,
    scoped — a harness running many queries releases it after the
    consuming action via gomrjob_spark.cache.release_scoped): it feeds
    the signature aggregation and both sides of the verification join —
    without the persist, the tokenize+shingle scan of the full corpus
    runs three times.
    """
    sh = scoped_persist(word_shingles(df, n, text_col, id_col))
    # the signature frame is read by BOTH sides of the band self-join
    # (one of them usually as a broadcast build side) — without its own
    # persist the 64-permutation aggregation runs twice per query.
    # num_hashes longs per doc: ~512 B/doc, linear, spills if not.
    sigs = scoped_persist(
        minhash_signatures(df, num_hashes, n, text_col, id_col, seed, shingles=sh)
    )
    cand = lsh_candidate_pairs(sigs, bands, id_col, sig_len=num_hashes)
    return _jaccard_verify(cand, sh, threshold, id_col)


def _jaccard_verify(
    cand: DataFrame, sh: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the (persisted)
    shingle frame: intersection via the pair-restricted shingle join,
    union via per-doc sizes. Shared by every propose/verify dedup path."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        _pair_sizes(inter, sizes, id_col)
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_md5_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """The fully SQL-mirrorable MinHash-LSH pipeline: md5-derived base
    hashes (any engine reproduces them — see minhash_signatures
    base_hash='md5') and banding on the RAW signature-slice values
    (an equi-join on (band, v0..v_{rows-1}) instead of a band hash), so
    the complete propose/verify computation sits under the hash-match
    oracle gate. The xxhash64 variant (minhash_dedup_pairs) stays the
    production fast path; this one is its cross-engine-verifiable twin —
    identical plan shape, a few extra bytes per banded row."""
    rows = num_hashes // bands
    sh = scoped_persist(word_shingles(df, n, text_col, id_col))
    # persisted for the same reason as the xxhash path: both band-join
    # sides read it
    sigs = scoped_persist(
        minhash_signatures(
            df, num_hashes, n, text_col, id_col, seed, shingles=sh, base_hash="md5"
        )
    )
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            *[
                F.element_at(F.col("signature"), b * rows + r + 1).alias(f"v{r}")
                for r in range(rows)
            ],
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col), F.col("signature"), F.explode(F.array(*entries)).alias("bk")
    ).select(id_col, "signature", "bk.*")
    keys = ["band"] + [f"v{r}" for r in range(rows)]
    a = banded.select(F.col(id_col).alias("id_a"), F.col("signature").alias("_sig_a"), *keys)
    b = banded.select(F.col(id_col).alias("id_b"), F.col("signature").alias("_sig_b"), *keys)
    # first-shared-band map-side pair dedup (see lsh_candidate_pairs) —
    # here the per-band comparison is raw slice equality on the carried
    # signatures, so the dedup is exact (no hash-collision caveat) and
    # any SQL engine reproduces it literally.
    first: Column = F.lit(None).cast("int")
    for t in range(bands - 1, -1, -1):
        first = F.when(
            F.slice(F.col("_sig_a"), t * rows + 1, rows)
            == F.slice(F.col("_sig_b"), t * rows + 1, rows),
            F.lit(t),
        ).otherwise(first)
    cand = (
        a.join(b, keys)
        .filter((F.col("id_a") < F.col("id_b")) & (first == F.col("band")))
        .select("id_a", "id_b")
    )
    return _jaccard_verify(cand, sh, threshold, id_col)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc: per-token xxhash64, each bit votes +1/-1,
    sign of the tally sets the output bit. Pure column expressions via a
    token explode + 64 conditional sums."""
    tok = (
        spread(df).select(F.col(id_col), F.explode(tokens(normalized(text_col))).alias("tok"))
        .filter(F.length("tok") > 0)
        .withColumn("h", F.xxhash64("tok"))
    )
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i).cast("bigint")) != 0, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(63)  # bit 63 skipped: keeps the sketch non-negative in a signed long
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(63):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sig = bit if sig is None else sig + bit
    return agg.select(id_col, sig.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidates via band equality (pigeonhole: distance <= max_hamming
    implies at least one of ``bands`` 16-bit slices equal when
    max_hamming < bands), then exact bit_count verification — same
    propose/verify shape as MinHash-LSH, equi-join shuffle only.

    A pair whose signatures agree on several bands collides once per
    shared band; it is kept exactly once by the first-shared-band test
    on sig_a XOR sig_b ("lowest agreeing band wins"), evaluated
    map-side right after the join — the same shuffle-free dedup the
    minhash and embedding paths use (r4 removed their candidate
    ``distinct()`` exchanges; r5 removes this one, the last of the
    family). Both signatures already ride the join for the Hamming
    verify, so the dedup costs zero extra bytes."""
    sig = simhash(df, text_col, id_col)
    width = 64 // bands
    banded = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1).cast("bigint"))
                        .alias("bval"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.bval")
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band", "bval")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band", "bval")
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    mask = F.lit((1 << width) - 1).cast("bigint")
    first_shared: Column = F.lit(None).cast("int")
    for t in range(bands - 1, -1, -1):
        first_shared = F.when(
            F.shiftrightunsigned(xor, t * width).bitwiseAND(mask) == 0, F.lit(t)
        ).otherwise(first_shared)
    return (
        a.join(b, ["band", "bval"])
        .filter((F.col("id_a") < F.col("id_b")) & (first_shared == F.col("band")))
        .select("id_a", "id_b", hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold, id_a < id_b.

    Exact all-pairs (BNLJ on the id inequality) — O(n^2), kept ONLY as
    the recall oracle for pytest. Production path (and the registered
    query) is ``embedding_dup_pairs_bucketed``."""
    from gomrjob_spark.operators.similarity import cosine

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def axis_sign_buckets(
    df: DataFrame,
    n_planes: int = 3,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sign-LSH bucket assignment with axis-aligned hyperplanes.

    Table ``t`` buckets on the sign bits of coordinates
    ``[t*n_planes, (t+1)*n_planes)`` — random-hyperplane LSH where the
    planes are the coordinate axes. Two properties make this the
    oracle-gated production bucketing (vs the Gaussian planes in
    operators.similarity.lsh_bucket):

    - zero float arithmetic (a sign test per coordinate), so any SQL
      engine reproduces the buckets bit-identically — the DuckDB oracle
      mirrors it literally;
    - the bucket frame carries only (table_id, bucket, id): the bucket
      shuffle never moves vectors.

    (n_planes, n_tables) is the recall/cost dial: P(pair shares a
    bucket) = 1-(1-p^n_planes)^n_tables with p = 1 - theta/pi. At the
    production threshold 0.95 use deep buckets (n_planes ~ 12-16); the
    fixture's adversarially low 0.4 threshold needs shallow buckets +
    many tables (3 x 16 = full recall on the fixture, pytest-gated).
    Returns one row per (vector, table): (id, table_id, bucket)."""
    entries = _axis_bucket_entries(vec_col, n_planes, n_tables, dim)  # validates first
    return df.select(
        F.col(id_col),
        F.explode(entries).alias("_tb"),
    ).select(
        id_col, F.col("_tb.table_id").alias("table_id"), F.col("_tb.bucket").alias("bucket")
    )


def _axis_bucket_entries(
    vec_col: str, n_planes: int, n_tables: int, dim: int = 64
) -> Column:
    """The (table_id, bucket) struct array behind axis_sign_buckets as a
    row-local column expression — cheap sign tests, safe to explode
    (never an expensive-transform Generate), reusable where the caller
    wants other columns (the vector itself) to ride the explode."""
    if n_planes * n_tables > dim:
        raise ValueError(
            f"n_planes*n_tables={n_planes * n_tables} exceeds dim={dim}: "
            "coordinate slices would run past the vector"
        )
    # ONE SQL string, one server-side parse (the _sql_arr / r5 gotcha
    # #4 rule applied to EXPRESSION BUILDING): the per-bit F.when
    # builder cost n_tables*n_planes py4j round-trips per call site —
    # measured 6.4 s of decontaminate_semantic's 8 s construction
    # across its two call sites at 8x8. IF(cond, a, b) ≡
    # when(cond, a).otherwise(b) (null condition takes the else branch
    # in both), so the evaluated expression is unchanged.
    vc = sql_ident(vec_col)
    entries = []
    for t in range(n_tables):
        bits = " + ".join(
            f"IF(element_at({vc}, {t * n_planes + j + 1}) >= 0, {1 << j}, 0)"
            for j in range(n_planes)
        )
        entries.append(f"named_struct('table_id', {t}, 'bucket', {bits})")
    return F.expr("array(" + ", ".join(entries) + ")")


def semantic_contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding-level decontamination detector — the eval-set leak that
    SURVIVES paraphrase, which n-gram overlap (contaminated_ids) cannot
    see: flag corpus vectors whose cosine against any benchmark/eval
    embedding reaches ``threshold``. Returns (id, n_bench_hits,
    max_cos) for the flagged ids; survivors are the caller's anti-join.

    Scale contract (the decontaminate shape): eval suites are tiny next
    to a 100 TB corpus, so the ENTIRE bench side — axis-sign buckets
    with vectors and norms attached — is a broadcast, and the corpus is
    probed IN PLACE: each corpus row computes its bucket keys row-
    locally (sign tests), the vector rides the explode (never leaves
    the scan stage), matches score exact cosine right there, and the
    only exchange in the whole detector is the final ids+scalars
    partial aggregate. The corpus is NEVER shuffled (plan-pinned).

    Bucketing is axis-sign LSH at query-side depth (default 8x8 — the
    per-bench-probe work bound sets the parameters, the knn_axis_lsh
    convention): recall at cosine 0.95 is 1-(1-p^8)^8 ≈ 0.99 with
    p = 1 - acos(0.95)/pi ≈ 0.90, and the sign tests are float-free so
    a SQL oracle reproduces the candidate set bit-identically.
    Duplicate (corpus, bench) hits across tables rescore the same
    IEEE-identical cosine rather than paying an ids-only dedup shuffle
    + a vector re-join — the threshold filter prunes the stream before
    the aggregate, and count_distinct inside the agg collapses the
    table multiplicity exactly."""
    from gomrjob_spark.operators.similarity import dot, l2_norm

    bvec = benchmark.select(
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_bv"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    bench_side = (
        axis_sign_buckets(benchmark, n_planes, n_tables, id_col, vec_col, dim)
        .select(F.col(id_col).alias("_bid"), "table_id", "bucket")
        .join(bvec, "_bid")
    )
    probe = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_nc"),  # staged: no CSE in lambdas
        F.explode(_axis_bucket_entries(vec_col, n_planes, n_tables, dim)).alias(
            "_tb"
        ),
    ).select(
        id_col,
        vec_col,
        "_nc",
        F.col("_tb.table_id").alias("table_id"),
        F.col("_tb.bucket").alias("bucket"),
    )
    hits = probe.join(F.broadcast(bench_side), ["table_id", "bucket"]).select(
        F.col(id_col),
        F.col("_bid"),
        (dot(F.col(vec_col), F.col("_bv")) / (F.col("_nc") * F.col("_nb"))).alias(
            "_cos"
        ),
    )
    return (
        hits.filter(F.col("_cos") >= F.lit(threshold))
        .groupBy(id_col)
        .agg(
            F.count_distinct("_bid").cast("bigint").alias("n_bench_hits"),
            F.max("_cos").alias("max_cos"),
        )
    )


def _lsh_depth_for_corpus(n_vectors: int, target_occupancy: int = 64) -> int:
    """k0 = log2 of corpus size over target bucket occupancy: the depth
    at which the EXPECTED occupancy n/2^k stays ≈ ``target_occupancy``
    as n grows, which is what keeps the propose join's candidate volume
    linear in n. Shared verbatim (floor(log2(greatest(2, n/occ)))) with
    the DuckDB oracle's SQL derivation in plans/llm.py so both engines
    pick identical parameters from the same corpus count."""
    import math

    return max(1, int(math.log2(max(2, n_vectors / max(1, target_occupancy)))))


def _lsh_params_for_depth(
    k0: int,
    p: float,
    target_recall: float = 0.95,
    max_bits: int = 63,
) -> tuple[int, int]:
    """Resolve (n_planes, n_tables) from a desired depth ``k0`` and the
    per-plane collision probability ``p``: the smallest table count L
    reaching ``target_recall`` at depth k, shaving k while k*L exceeds
    ``max_bits`` (the axis-sign coordinate budget: table t reads
    coordinates [t*k, (t+1)*k), so k*L must fit the vector — shallower
    buckets raise per-table recall, so the cap stays satisfiable)."""
    import math

    k = max(1, k0)
    while k > 1:
        l_needed = math.ceil(
            math.log(1.0 - target_recall) / math.log(1.0 - p**k)
        )
        if k * l_needed <= max_bits:
            return k, l_needed
        k -= 1
    return 1, min(max_bits, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p)))


def _plane_collision_prob(threshold: float) -> float:
    """P(one random hyperplane agrees) for a pair at cosine
    ``threshold``: 1 - arccos(c)/π, clamped strictly below 1 so the
    recall model's log(1-p^k) stays finite at threshold >= 1.0."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    return min(p, 1.0 - 1e-12)


def auto_lsh_params(
    n_vectors: int,
    threshold: float = 0.95,
    target_recall: float = 0.95,
    target_occupancy: int = 64,
    max_bits: int = 63,
) -> tuple[int, int]:
    """Pick (n_planes, n_tables) for sign-LSH bucketed dedup from corpus
    size and similarity threshold — the scale dial the r4 sf-sweep
    showed matters: at fixed depth, bucket occupancy grows ∝ n and
    candidate pairs ∝ n², so the DEPTH must grow with log2(n) to keep
    the propose/verify join linear (measured: the fixture's (3,16) is
    quadratic across sf0.1→0.4 while the auto-derived depth stays flat —
    SCALING.md).

    Model: a pair at cosine c collides under one random hyperplane with
    p = 1 - arccos(c)/π; a k-plane bucket with p^k; any of L tables with
    1-(1-p^k)^L. Choose k so the EXPECTED bucket occupancy n/2^k ≈
    ``target_occupancy`` (bounded candidate blowup), then the smallest L
    reaching ``target_recall`` at the threshold, capped by the axis-sign
    coordinate budget k*L <= ``max_bits`` (shave k if needed).

    The cap is the honest limit of AXIS-sign LSH: depth cannot outgrow
    the embedding dimension. At the production threshold (0.95,
    p≈0.90) the cap binds at k=9, i.e. corpora beyond ~64*2^9 vectors
    per shard re-enter occupancy growth; beyond that, move to Gaussian
    random hyperplanes (unbounded plane supply) — same plan shape.

    The derivation is deliberately a pure function of (n, threshold,
    recall, occupancy, cap): plans/llm.py embeds the k0→(k,L) table it
    induces into the DuckDB oracle, so both engines derive identical
    parameters from the corpus count and the hash gate holds at any
    scale factor."""
    p = _plane_collision_prob(threshold)
    k0 = _lsh_depth_for_corpus(n_vectors, target_occupancy)
    return _lsh_params_for_depth(k0, p, target_recall, max_bits)


def lsh_param_lut(
    threshold: float,
    target_recall: float = 0.95,
    max_bits: int = 63,
    k0_max: int = 24,
) -> list[tuple[int, int, int]]:
    """(k0, n_planes, n_tables) for every depth 1..k0_max — the lookup
    table the DuckDB oracle joins against ``floor(log2(n/occupancy))``
    so its parameter choice is bit-identical to auto_lsh_params without
    reproducing float recall arithmetic in SQL (libm log/pow can differ
    in the last ulp across engines; a table of ints cannot)."""
    p = _plane_collision_prob(threshold)
    return [
        (k0, *_lsh_params_for_depth(k0, p, target_recall, max_bits))
        for k0 in range(1, k0_max + 1)
    ]


def embedding_dup_pairs_bucketed(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 3,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Scale-safe embedding near-dup pairs: sign-LSH buckets propose,
    exact cosine verifies — no all-pairs product anywhere.

    Plan shape: bucket assignment is a projection of the scan (ids +
    bucket keys only), candidates come from an equi-join on
    (table_id, bucket), pair dedup happens BEFORE vectors are fetched,
    and the two vector fetches are equi-joins on id. Shuffle volume is
    O(n_tables * n + |candidates|) rows of ids — the vectors move only
    for deduped candidates. No BroadcastNestedLoopJoin (pinned in
    tests/test_plan_quality.py).

    Pair dedup is shuffle-free ("first matching table wins"): every row
    carries its length-L per-table bucket array, and a pair colliding in
    several tables survives only in the lowest such table_id —
    ``array_position(zip_with(bk_a, bk_b, eq), true)`` evaluated
    map-side right after the join, replacing a distinct() exchange over
    the (large) candidate stream. (r4 packed the signature into one
    bigint; the array form removed that 63-bit cap so depth can follow
    log2(n) up to the dimension budget — the real axis-LSH limit —
    while keeping the identical plan shape.)

    Per-vector L2 norms are computed ONCE in the fetch frames and the
    per-pair score is dot/(norm_a*norm_b) — the same expression
    cosine() folds per pair (bit-identical result, verified by the
    unchanged oracle hash) at a third of the per-pair flops.

    (A dim-unrolled flat expression tree was tried for the scoring and
    is ~4x SLOWER than the HOF fold: a 128-term nested Add chain blows
    up Catalyst's optimizer passes. The HOF fold is the right form.)"""
    nbits = n_planes * n_tables
    if nbits > dim:
        raise ValueError(
            f"n_planes*n_tables={nbits} exceeds dim={dim}: "
            "coordinate slices would run past the vector"
        )
    # per-table bucket array: element t = the k sign bits of coordinates
    # [t*k, (t+1)*k) packed little-endian (identical to axis_sign_buckets
    # and to the oracle's list_transform in plans/llm.py)
    bucket_exprs = []
    for t in range(n_tables):
        bits: Column | None = None
        for j in range(n_planes):
            bit = F.when(
                F.element_at(F.col(vec_col), t * n_planes + j + 1) >= 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        bucket_exprs.append(bits.cast("bigint"))
    return _bucket_array_dup_pairs(df, bucket_exprs, threshold, id_col, vec_col)


def _bucket_array_dup_pairs(
    df: DataFrame,
    bucket_exprs: list[Column],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Shared propose/verify skeleton for bucket-array LSH dedup
    (axis-sign and random-plane variants): explode the per-table bucket
    array, equi-join on (table_id, bucket), dedup pairs map-side by
    first shared table, fetch vectors for survivors only, verify exact
    cosine. See embedding_dup_pairs_bucketed for the full plan-shape
    rationale."""
    keyed = df.select(F.col(id_col), F.array(*bucket_exprs).alias("_bk"))
    return _bucket_frame_dup_pairs(df, keyed, threshold, id_col, vec_col)


def _bucket_frame_dup_pairs(
    df: DataFrame,
    keyed: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The propose/verify back half over an already-keyed (id, _bk:
    array<bigint>) frame — split out (r13) so the random-plane variant
    can compute its bucket arrays with one Arrow-batched integer
    matmul instead of k*L separate HOF folds (the wave-2 64x probe
    apportioned ~1/3 of its wall to per-plane zip_with/aggregate
    expression evaluation — 99 intermediate array allocations per
    row)."""
    from gomrjob_spark.operators.similarity import dot, l2_norm

    b = keyed.select(
        F.col(id_col),
        "_bk",
        F.posexplode("_bk").alias("table_id", "bucket"),
    )
    # The bucket join broadcasts one side, so downstream parallelism is
    # the streaming side's partitioning — which is the (tiny) source
    # scan's. Repartition the exploded frame (n_tables*n rows of ids, a
    # trivial shuffle) so the join fan-out and the per-pair scoring run
    # wide instead of in one task. The partition count is explicit:
    # AQE would coalesce a by-size-tiny shuffle to one partition, which
    # serializes the (large) downstream fan-out — the shuffle is small
    # but what GROWS out of it is not.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    a_side = b.repartition(n_parts, "table_id", "bucket").select(
        F.col(id_col).alias("id_a"), F.col("_bk").alias("_bk_a"), "table_id", "bucket"
    )
    b_side = b.select(
        F.col(id_col).alias("id_b"), F.col("_bk").alias("_bk_b"), "table_id", "bucket"
    )
    # 1-based index of the first table where the two bucket arrays agree
    first_shared = F.array_position(
        F.zip_with(F.col("_bk_a"), F.col("_bk_b"), lambda x, y: x == y), True
    )
    cand = (
        a_side.join(b_side, ["table_id", "bucket"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (first_shared == F.col("table_id") + F.lit(1))
        )
        .select("id_a", "id_b")
    )
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def random_plane_signs(
    n_planes: int, n_tables: int, dim: int = 64, seed: int = 7
) -> list[list[list[int]]]:
    """±1 sign patterns for random-hyperplane LSH, ``signs[t][j][d]``.

    Each plane (t, j) is seeded INDEPENDENTLY (one Mersenne stream per
    plane, seed mixed from (seed, t, j)), so the plane set for any
    smaller (k, L) is a strict subset of a larger one — the property
    that lets a corpus-size-derived parameterization share one
    precomputed plane grid across scale factors (and lets the DuckDB
    oracle embed the grid once as mask literals). Rademacher (±1)
    entries rather than Gaussians: the random-projection guarantees
    hold (Achlioptas 2001, "Database-friendly random projections"), and
    the dot product stays in exact integer arithmetic after
    quantization — the bit-identical-across-engines requirement."""
    import random

    return [
        [
            [
                1 if (random.Random(seed * 1_000_003 + t * 1_009 + j).getrandbits(dim) >> d) & 1 else -1
                for d in range(dim)
            ]
            for j in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def embedding_dup_pairs_rp(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH embedding dedup — the depth-UNBOUNDED twin
    of embedding_dup_pairs_bucketed.

    Axis-sign LSH reads disjoint coordinate slices, so its depth is
    capped at k*L <= dim: beyond ~occupancy*2^(dim/L) vectors the
    buckets re-enter occupancy growth. Random hyperplanes have no such
    bound — every plane uses ALL coordinates — so k can keep following
    log2(n/occupancy) to any corpus size; the cost of depth is compute
    (k*L dot products per vector, embarrassingly parallel in the scan
    projection), not recall or dimensionality.

    Cross-engine determinism (what keeps this under the DuckDB hash
    gate, where float random projections would drift): coordinates are
    quantized to integers q_d = floor(v_d * 2^20) — float multiply and
    floor are IEEE-identical everywhere — and each sign test is an
    INTEGER dot product sum_d(±q_d) >= 0 (values < 2^40, exact in any
    engine/arithmetic order). Plane signs come from
    :func:`random_plane_signs`, embedded as literals in both plans.

    Same skeleton as the axis variant: ids-only bucket equi-join,
    first-shared-table map-side pair dedup, exact cosine verify.

    Sign-test execution (r13, from the wave-2 64x probe): the k*L
    integer dot products per vector run as ONE Arrow-batched numpy
    matmul (quantized vectors (n x d) @ sign matrix (d x k*L)) instead
    of k*L separate zip_with/aggregate HOF expressions — at the 64x
    point the per-plane folds (99 intermediate array allocations per
    row) were ~1/3 of wall clock. Bit-identical by arithmetic, not
    luck: the quantized components are integers |q| < 2^22, every
    partial sum of <= 64 of their +-products is an integer < 2^28 —
    exactly representable in float64 — so BLAS's reassociated float
    matmul produces the SAME integers as the sequential fold and the
    sign test agrees with the DuckDB oracle's integer dots
    everywhere."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    signs = random_plane_signs(n_planes, n_tables, dim, seed)
    sign_mat = np.array(signs, dtype=np.float64).reshape(
        n_tables * n_planes, dim
    )
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def keyer(batches):
        for pdf in batches:
            if len(pdf) == 0:  # an upstream-filtered empty Arrow batch
                continue
            vecs = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            q = np.floor(vecs * float(1 << 20))  # integer-valued float64
            dots = q @ sign_mat.T  # (n, T*K), exact integers
            bits = (dots >= 0).astype(np.int64).reshape(
                len(pdf), n_tables, n_planes
            )
            buckets = (bits * weights).sum(axis=2)  # (n, T) bigint
            yield pd.DataFrame(
                {id_col: pdf[id_col], "_bk": list(buckets)}
            )

    # the id passes through the keyer untouched, so the output schema
    # carries the CALLER's id type (r13 advisor: a hardcoded bigint —
    # a regression from the expression-based keyer — failed or
    # silently coerced non-bigint id corpora)
    id_type = df.schema[id_col].dataType.simpleString()
    keyed = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        keyer, schema=f"{id_col} {id_type}, _bk array<bigint>"
    )
    return _bucket_frame_dup_pairs(df, keyed, threshold, id_col, vec_col)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): for every node u, connect each strictly
    larger neighbor to m = min(N(u) ∪ {u}). One shuffle on node id."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("_m"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient every edge large→small, then for each
    node u link all of its smaller neighbors (and u itself) to the
    minimum one. One shuffle on the larger endpoint."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = directed.groupBy("src").agg(F.min("dst").alias("_m"))
    relinked = directed.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("_m").alias("dst")
    )
    centers = mins.select("src", F.col("_m").alias("dst"))
    return (
        relinked.unionByName(centers)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


# Largest edge set the driver finish labels, whatever the broadcast
# threshold (the engine session's 32 MiB allows 2.1M edges). On a 4-core
# VM the driver finish beat the distributed rounds at every size
# measured, up to 2.09M edges: 16 s against 31 s wall on a star forest
# (the rounds' best case, 2 rounds) and 13 s against 54 s on near-dup
# clusters (5 rounds). Larger edge sets were not measured.
_DRIVER_FINISH_MAX_EDGES = 2_000_000


def _driver_min_labels(src, dst):
    """Component minimum of every endpoint of an undirected edge list,
    computed on the driver: min-label hooking plus pointer jumping over
    dense ``np.unique`` indices. The indices sort like the ids, so the
    minimum index of a component is its minimum id. Every parent points
    at a smaller-or-equal index, so the parent links form a forest, and
    each pass hooks every root that has a smaller root across an edge,
    so the loop ends once no edge spans two trees. Returns (ids, labels)
    as parallel arrays."""
    import numpy as np  # noqa: PLC0415

    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = np.split(inv, 2)
    parent = np.arange(ids.size)
    while True:
        ra, rb = parent[a], parent[b]
        if (ra == rb).all():
            return ids, ids[parent]
        lo = np.minimum(ra, rb)
        np.minimum.at(parent, ra, lo)
        np.minimum.at(parent, rb, lo)
        while not ((jumped := parent[parent]) == parent).all():
            parent = jumped


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph — the survivor
    -selection step after near-dup pair detection (every doc maps to the
    minimum id reachable through dup pairs; singletons map to
    themselves). Returns (id, component). Edges may repeat and come in
    either direction.

    Algorithm: alternating large-star / small-star contraction (Kiveris
    et al. 2014) — each round hangs nodes directly off their
    neighborhood minimum, so component depth roughly halves per round
    and pathological chains converge in O(log n) rounds (min-label
    propagation, the previous implementation, needed diameter rounds:
    a 64-node chain would not converge inside max_iter). At the fixed
    point the edge set is a forest of stars centered at each
    component's minimum id.

    Distribution: each round is two grouped aggregates + two joins, all
    shuffling on node id; :func:`~gomrjob_spark.cache.iterate` runs the
    rounds and checkpoints each round's edge set, and one noop write per
    edge set stores the checkpoint and observes its (count, hash-sum)
    fingerprint, the changed-edge check. The raw edges enter without a
    ``distinct()``: the star rounds de-duplicate their own output and
    the driver finish ignores repeats.

    Driver finish: once a fingerprint (the one before the first round
    included) counts ``n`` edges with ``n * 16`` bytes <=
    ``spark.sql.autoBroadcastJoinThreshold`` and ``n <=
    _DRIVER_FINISH_MAX_EDGES``, the driver labels the collected edges
    (``_driver_min_labels``) instead of running more rounds. A threshold
    <= 0 keeps the job distributed. Running out of ``max_iter`` rounds
    above the bound raises ``RuntimeError``. Pass ``stats={}`` to
    receive ``{"rounds": r}`` back: the number of distributed rounds
    run, 0 when the driver finishes at once."""
    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    # Spark's own parse of the conf ('10MB', '-1', ...); an edge costs 16
    # bytes (two 8-byte ids), and <= 0 disables the driver finish
    bound = e0.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    max_driver_edges = min(bound // 16, _DRIVER_FINISH_MAX_EDGES) if bound > 0 else -1
    sigs: list[tuple] = []  # (count, hash-sum) of every edge set, in order

    def done(e: DataFrame) -> bool:
        """One Spark job per edge set: a noop write reads the
        checkpointed frame, and so stores it, while an ``Observation``
        takes the fingerprint (count, wrapping sum of xxhash64(src,dst))
        off the same job; a global aggregate would cost two. Two
        consecutive edge sets with equal fingerprints are equal up to a
        64-bit hash-sum collision — vanishingly unlikely and
        non-adversarial here; max_iter still bounds the loop."""
        obs = Observation()
        e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: exact and overflow-free under ANSI mode
            # (a bigint sum of 64-bit hashes would overflow)
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("fp"),
        ).write.format("noop").mode("overwrite").save()
        sigs.append((obs.get["n"], obs.get["fp"]))
        return sigs[-1][0] <= max_driver_edges or fixpoint()

    def fixpoint() -> bool:
        return len(sigs) > 1 and sigs[-1] == sigs[-2]

    def star_round(e: DataFrame, r: int) -> DataFrame:
        """One large-star + small-star round. ``spread`` keeps the
        layout wide: AQE coalesces a round's distinct() output by BYTES
        (a few MB of edges -> 2-3 partitions) and the checkpoint freezes
        that layout, so the next round's map side ran 3-wide on a
        32-core box. The width follows the input's edge count, read from
        its fingerprint, so a few hundred edges run 1-wide instead of
        paying a 32-way exchange plus 32 near-empty tasks per round.
        Round 1 also spreads its input, the caller's edges, whose layout
        is the caller's; a graph the driver labels at once pays no
        spread. A conf-gated no-op on a real cluster."""
        n = sigs[-1][0]
        if r == 1:
            e = spread(e, rows_hint=n)
        return spread(_small_star(_large_star(e)), rows_hint=n)

    e = iterate(star_round, e0, max_rounds=max_iter, until=done)
    rounds = len(sigs) - 1
    if fixpoint():
        star_map = e.groupBy("src").agg(F.min("dst").alias("_component"))
    elif sigs[-1][0] <= max_driver_edges:
        import pandas as pd  # noqa: PLC0415

        pdf = e.toPandas()
        ids, labels = _driver_min_labels(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
        id_type = e.schema["src"].dataType.simpleString()
        star_map = e.sparkSession.createDataFrame(
            pd.DataFrame({"src": ids, "_component": labels}),
            f"src {id_type}, _component {id_type}",
        )
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {rounds} rounds and "
            f"{sigs[-1][0]} edges remain above the driver-finish bound of "
            f"{max_driver_edges} edges (spark.sql.autoBroadcastJoinThreshold="
            f"{bound}); raise max_iter"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(star_map, F.col("node") == F.col("src"), "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("_component"), F.col("node")).alias("component"),
        )
    )


def incremental_dedup(
    batch: DataFrame,
    known_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Continuous-ingestion exact dedup: admit only batch documents whose
    content fingerprint is (a) not already in the corpus fingerprint
    store and (b) the first occurrence within this batch (min id wins).
    Returns (id, fp, n_dups_in_batch) — the rows to append to both the
    corpus and the store.

    This is how a 100 TB pipeline dedups day-over-day: the store is an
    append-only fingerprint table, never rewritten; each batch pays one
    anti-join shuffle on fp against it plus the within-batch survivor
    aggregate. Both sides shuffle on the same key, so a bucketed store
    elides its exchange entirely (operators/bucketing.py)."""
    fps = batch.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    fresh = fps.join(
        known_fps.select(F.col(fp_col).alias("fp")).distinct(), "fp", "left_anti"
    )
    return (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups_in_batch"))
        .select(id_col, "fp", "n_dups_in_batch")
    )


def contaminated_ids(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_common: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination detector: training documents sharing at
    least ``min_common`` distinct word n-grams with any benchmark/eval
    document. Returns (id, n_hit) where n_hit counts the train doc's
    distinct n-grams that appear anywhere in the benchmark set — the
    standard leakage check before training on web-scale corpora (eval
    answers quoted verbatim in crawl pages).

    Scale: eval suites are tiny next to a 100 TB corpus, so the distinct
    benchmark n-gram set is broadcast and the train-side shingle stream
    is probed in place — no shuffle of the corpus at all, just the
    per-doc hit count aggregate. If the benchmark side ever outgrows the
    broadcast threshold, pass ``broadcast_benchmark=False`` and the same
    plan degrades to a shuffled hash join on the shingle."""
    train_sh = word_shingles(train, n, text_col, id_col)
    bench_sh = word_shingles(benchmark, n, text_col, id_col).select("shingle").distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    return (
        train_sh.join(bench_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") >= min_common)
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_common: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Drop contaminated training documents (see contaminated_ids): one
    broadcast probe + one anti-join on the id, the corpus stream is
    never shuffled. ``broadcast_benchmark=False`` is the escape hatch
    for a benchmark set above the broadcast threshold (forwarded to
    contaminated_ids)."""
    bad = contaminated_ids(
        train, benchmark, n, min_common, text_col, id_col, broadcast_benchmark
    )
    return train.join(bad.select(id_col), id_col, "left_anti")


def hamming_near_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bands: int = 4,
    bits: int = 64,
    max_hamming: int = 3,
) -> DataFrame:
    """Generic Hamming-banded near-pair join for ANY packed integer
    signature — text simhash, image dHash, audio contour fingerprints:
    split the signature into ``bands`` equal bit slices; pairs agreeing
    on at least one slice are candidates (pigeonhole: a pair with
    hamming <= bands-1 MUST share an unchanged band, so recall is EXACT
    for ``max_hamming <= bands - 1``); verify with
    ``bit_count(a XOR b)``. Emits (id_a < id_b, hamming).

    Plan shape (the family convention): the ×bands explode carries
    (id, signature, band, slice) — the signature is 8 bytes, so unlike
    shingle arrays it rides the explode for free — candidates come from
    one equi-join on (band, slice), and multi-band collisions dedup
    MAP-SIDE by the first-shared-band filter over the two carried
    signatures: no distinct() exchange over candidate pairs (the r5
    simhash pin, generalized). Band values extract with an arithmetic
    shift + mask, identical on Spark and DuckDB signed 64-bit, which is
    what lets formula-hashed fixtures sit under the cross-engine gate."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"recall is only guaranteed for max_hamming <= bands-1 "
            f"({bands - 1}), got {max_hamming}"
        )
    if bits % bands:
        raise ValueError(f"bits {bits} not divisible by bands {bands}")
    width = bits // bands
    mask = (1 << width) - 1

    def band_val(col: Column, b: int) -> Column:
        return F.shiftright(col, b * width).bitwiseAND(F.lit(mask).cast("bigint"))

    h = F.col(hash_col)
    banded = df.select(
        F.col(id_col),
        h.alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_val(h, b).alias("bv")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "_h", "bk.*")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("_h").alias("_ha"), "band", "bv"
    )
    b_side = banded.select(
        F.col(id_col).alias("id_b"), F.col("_h").alias("_hb"), "band", "bv"
    )
    cand = a.join(b_side, ["band", "bv"]).filter(F.col("id_a") < F.col("id_b"))
    first: Column = F.lit(None).cast("int")
    for t in range(bands - 1, -1, -1):
        first = F.when(
            band_val(F.col("_ha"), t) == band_val(F.col("_hb"), t), F.lit(t)
        ).otherwise(first)
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.filter(F.col("band") == first)
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT n-gram Jaccard >= t pairs via PREFIX FILTERING (the
    Chaudhuri/Xiao ppjoin family) — the deterministic, zero-miss twin of
    MinHash LSH. The threshold is a rational tn/td so the gate is the
    integer test ``(td+tn)*i >= tn*(na+nb)`` (equivalent to
    i/(na+nb-i) >= tn/td), exact on both engines.

    Why it scales where the plain shared-shingle join doesn't: a pair
    with J >= t MUST share a shingle within each doc's first
    ``p = m - ceil(t*m) + 1`` shingles under a GLOBAL canonical order
    (rarest-first: ascending global frequency, shingle text as
    tie-break). Proof sketch: if the prefixes were disjoint, each doc
    would have ceil(t*m) canonical-order-later shingles the other may
    share at most, giving an intersection too small for J >= t. So the
    candidate join runs over the PREFIXES only — by construction the
    globally RAREST ~(1-t) fraction of each doc — which caps shared-key
    fan-out exactly where the full join explodes on stop-shingles.
    Candidates then verify with an exact row-local
    ``array_intersect`` over the two sorted shingle arrays.

    Plan: one freq equi-join (data-sized vocabulary, no broadcast
    assumption), one groupBy(id) building the canonical array, the
    ids-only prefix self-equi-join with a row-local size prune
    (``tn*m_a <= td*m_b`` both ways), pair dedup through a partial-
    aggregated groupBy (map-side combine collapses same-pair rows
    before the wire — measured 3.5x faster at an 8x sweep than
    carrying prefix arrays for a row-local first-shared test), then
    two id equi-joins carrying doc-sized arrays for the DEDUPED
    candidates only, where one ``array_intersect`` verifies exactly.
    """
    tn, td = threshold_num, threshold_den
    if not (0 < tn <= td):
        raise ValueError("threshold must be a rational in (0, 1]")
    sh = word_shingles(df, n, text_col, id_col)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
    ranked = sh.join(freq, "shingle")
    grouped = scoped_persist(
        ranked.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("_f", "shingle"))).alias("_s")
        )
        .select(
            F.col(id_col),
            F.transform("_s", lambda s: s["shingle"]).alias("arr"),
        )
        .withColumn("m", F.size("arr"))
        # p = m - ceil(t*m) + 1, ceil as integer arithmetic
        .withColumn(
            "p", F.col("m") - F.expr(f"({tn} * m + {td - 1}) DIV {td}") + 1
        )
    )
    pre = grouped.select(
        id_col, "m", F.explode(F.slice("arr", 1, F.col("p"))).alias("shingle")
    )
    a = pre.select(
        F.col(id_col).alias("id_a"), F.col("m").alias("_ma"), "shingle"
    )
    b = pre.select(
        F.col(id_col).alias("id_b"), F.col("m").alias("_mb"), "shingle"
    )
    # ids-only candidate stream (16 bytes/row): pairs sharing several
    # prefix shingles dedup through a partial-aggregated groupBy — the
    # map-side combine collapses duplicates before the wire. (The
    # minhash first-shared-band trick doesn't transfer here: bands are
    # fixed-width ints testable row-locally, prefixes are variable-
    # length sets — carrying them per exploded row was measured 3.5x
    # SLOWER than the ids-only dedup shuffle at an 8x sweep.)
    cands = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size prune: J >= t forces t*|A| <= |B| and t*|B| <= |A|
            & (F.lit(tn) * F.col("_ma") <= F.lit(td) * F.col("_mb"))
            & (F.lit(tn) * F.col("_mb") <= F.lit(td) * F.col("_ma"))
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_nshared"))
        .drop("_nshared")
    )
    ga = grouped.select(
        F.col(id_col).alias("id_a"), F.col("arr").alias("_aa"),
        F.col("m").alias("n_a"),
    )
    gb = grouped.select(
        F.col(id_col).alias("id_b"), F.col("arr").alias("_ab"),
        F.col("m").alias("n_b"),
    )
    verified = (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("_aa", "_ab")).cast("bigint")
        )
        .filter(
            F.lit(td + tn) * F.col("n_common")
            >= F.lit(tn) * (F.col("n_a") + F.col("n_b"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "n_common",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
    )


def token_edit1_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    toks_col: str = "toks",
) -> DataFrame:
    """All pairs within TOKEN edit distance <= 1 (one substitution,
    insertion, or deletion), exactly — the SymSpell/FastSS deletion-
    neighborhood join, the entity-resolution/spell-match shape. Each
    row emits its full token key plus its m delete-one keys; any two
    sequences at edit distance <= 1 provably share a key (substitution
    at i: both delete i; indel: the longer's delete hits the shorter's
    full key), so candidates come from a plain equi-join — no
    all-pairs, no similarity scan. Sharing a key is necessary but NOT
    sufficient (A.del(0)==B.del(1) can pair distance-2 sequences), so
    candidates verify exactly with the prefix/suffix rule:

      equal lengths:  #position mismatches <= 1
      lengths off 1:  common_prefix + common_suffix >= shorter length

    both row-local array expressions. Returns (id_a, id_b, dist).

    Scale shape: signature fan-out is m+1 ids-only rows per input row
    (keys are space-joined tokens — collision-free: tokens cannot
    contain spaces); candidate dedup is the partial-aggregated groupBy
    (map-side combine); verification joins the token arrays for
    DEDUPED candidates only. Never quadratic unless the TRUE result is
    (every emitted pair is within distance 1 of sharing a key's
    pigeonhole bound).
    """
    toked = scoped_persist(
        df.select(F.col(id_col), F.col(toks_col).alias("_t")).withColumn(
            "_m", F.size("_t")
        )
    )
    t = F.col("_t")
    del_keys = F.transform(
        F.sequence(F.lit(1), F.col("_m")),
        lambda i: F.concat_ws(
            " ", F.concat(F.slice(t, 1, i - 1), F.slice(t, i + 1, F.col("_m") - i))
        ),
    )
    keys = F.concat(F.array(F.concat_ws(" ", t)), del_keys)
    # stage the key array into a real column BEFORE exploding (the fused
    # Generate would re-run the whole builder per emitted element)
    sigs = toked.withColumn("_keys", keys).select(
        F.col(id_col), F.explode("_keys").alias("_k")
    )
    a = sigs.select(F.col(id_col).alias("id_a"), "_k")
    b = sigs.select(F.col(id_col).alias("id_b"), "_k")
    cands = (
        a.join(b, "_k")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )
    ga = toked.select(
        F.col(id_col).alias("id_a"), F.col("_t").alias("_ta"), F.col("_m").alias("_ma")
    )
    gb = toked.select(
        F.col(id_col).alias("id_b"), F.col("_t").alias("_tb"), F.col("_m").alias("_mb")
    )
    j = cands.join(ga, "id_a").join(gb, "id_b")
    mn = F.least(F.col("_ma"), F.col("_mb"))
    ta, tb = F.col("_ta"), F.col("_tb")
    eq_pre = F.zip_with(
        F.slice(ta, 1, mn), F.slice(tb, 1, mn), lambda x, y: x == y
    )
    eq_suf = F.zip_with(
        F.slice(F.reverse(ta), 1, mn),
        F.slice(F.reverse(tb), 1, mn),
        lambda x, y: x == y,
    )
    staged = j.withColumn("_pre", eq_pre).withColumn("_suf", eq_suf)
    fm = F.array_position(F.col("_pre"), F.lit(False))
    fs = F.array_position(F.col("_suf"), F.lit(False))
    p = F.when(fm == 0, mn).otherwise(fm - 1)
    s = F.when(fs == 0, mn).otherwise(fs - 1)
    n_mismatch = F.size(F.filter(F.col("_pre"), lambda v: ~v))
    dist = F.when(F.col("_ma") == F.col("_mb"), n_mismatch).otherwise(F.lit(1))
    ok = F.when(
        F.col("_ma") == F.col("_mb"), n_mismatch <= 1
    ).otherwise(
        (F.abs(F.col("_ma") - F.col("_mb")) == 1) & ((p + s) >= mn)
    )
    return staged.filter(ok).select(
        "id_a", "id_b", dist.cast("int").alias("dist")
    )


def cap_pair_fanout(
    pairs: DataFrame,
    k: int = 2,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Production valve for mega-cluster pair explosions: keep, for
    every node, only its ``k`` smallest-id partners on EITHER side of
    the pair stream. Near-dup clusters of size s carry s(s-1)/2
    verified pairs — quadratic in s — but connected components only
    needs a connected subgraph. Under this cap each clique of size s
    keeps <= 2ks edges (the per-dst rule alone retains the full star
    around the clique minimum), so downstream CC cost is linear in
    cluster size while the component assignment is UNCHANGED whenever
    clusters are cliques — exactly the replica/mirror-duplication shape
    that produces mega-clusters in web corpora (measured on the 8x
    sweep fixture: 156,704 pairs -> linear, identical components; see
    SCALING.md round-7 entity_resolution analysis).

    NOT components-preserving on arbitrary graphs (a long path whose
    interior node outranks k partners on both sides can split), so the
    exact hash-gated queries leave it OFF; it is the same bounded-loss
    dial as graph.link_prediction's ``max_degree`` hub valve.

    Plan: two row_number windows over the ids-only pair stream (8-byte
    keys, 16-byte rows), one exchange per side. A mega-cluster makes a
    heavy window key; the rows are ids-only and the sort spills, which
    is precisely the regime the valve exists for.
    """
    from pyspark.sql.window import Window

    wa = Window.partitionBy(src_col).orderBy(dst_col)
    wb = Window.partitionBy(dst_col).orderBy(src_col)
    return (
        pairs.select(src_col, dst_col)
        .withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rb", F.row_number().over(wb))
        .filter((F.col("_ra") <= k) | (F.col("_rb") <= k))
        .drop("_ra", "_rb")
    )


def paragraph_containment(
    docs: DataFrame,
    size: int = 256,
    drop_ppm: int = 300_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-granularity containment dedup with DOC-level rollup
    (the RefinedWeb/Gopher sub-document pass): chunk every document
    into fixed ``size``-char paragraphs (text.chunk_text, zero
    overlap — the dedup_repeated_chunks unit), fingerprint each, and
    mark a paragraph CONTAINED when the same fingerprint already
    occurs in a lower-id document. A document is dropped when its
    contained fraction reaches ``drop_ppm`` parts-per-million —
    production pipelines dedup at this grain precisely because
    doc-level MinHash misses partial boilerplate (a page that is 40%
    syndicated template and 60% fresh text is a keep, but its template
    paragraphs still poison repeated-substring statistics).

    Returns (id, n_par, n_contained, contained_ppm, keep) — exact
    integer arithmetic end to end, fully hash-gateable.

    Scale shape: the chunk explode happens in the scan projection; the
    fingerprint stream carries (fp, id) ONLY — never text — through
    one partial-agg shuffle (min id per fp) and one fp-keyed join
    back; the rollup is one more ids+counters aggregate. No pair
    materialization at all: containment against "any earlier doc"
    needs only the per-fingerprint minimum, so the cost is linear in
    paragraph count at every corpus size (no quadratic regime even on
    boilerplate-heavy fixtures — the mega-cluster problem
    cap_pair_fanout valves for pair-based dedup simply never arises).
    """
    from gomrjob_spark.operators.text import chunk_text

    chunks = chunk_text(docs, size=size, overlap=0, text_col=text_col,
                        id_col=id_col).select(
        F.col(id_col), F.md5(F.col("chunk")).alias("fp")
    )
    firsts = chunks.groupBy("fp").agg(F.min(id_col).alias("_first"))
    return (
        chunks.join(firsts, "fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_par"),
            F.sum(
                F.when(F.col("_first") < F.col(id_col), 1).otherwise(0)
            ).cast("bigint").alias("n_contained"),
        )
        .withColumn(
            "contained_ppm",
            F.expr("(1000000 * n_contained) DIV n_par").cast("bigint"),
        )
        .withColumn("keep", F.col("contained_ppm") < drop_ppm)
    )


def repeated_ngram_spans(
    docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact repeated token-span statistics at the Lee et al. grain
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — production pipelines use ~50-char / 13-token
    spans): every OVERLAPPING n-token window is fingerprinted, a
    window occurrence is DUPLICATED when its fingerprint occurs >= 2
    times anywhere in the corpus (other docs or elsewhere in the same
    doc — the paper removes all but one occurrence of any such span),
    and each document reports (n_win, n_dup, dup_ppm). This is the
    span-exact signal between dedup_paragraph_containment's aligned
    256-char chunks (misses shifted boilerplate) and
    dedup_ngram_jaccard's whole-doc similarity.

    Documents with < n tokens have no windows and drop out.

    Scale shape: the window explode happens in the scan projection
    (positions exploded from a cheap sequence, the window string built
    per emitted row — never explode an expensive transform); the
    fingerprint stream carries (fp, id) ONLY through one count-per-fp
    partial agg and one fp-keyed join back, then the per-doc rollup —
    linear at every corpus size, no pair materialization (the same
    no-quadratic-regime argument as paragraph_containment)."""
    from gomrjob_spark.operators.text import normalized, spread, tokens

    staged = spread(docs).select(
        F.col(id_col),
        F.filter(tokens(normalized(text_col)), lambda x: x != "").alias("_toks"),
    )
    idx = F.when(
        F.size("_toks") >= n, F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = staged.select(
        F.col(id_col), "_toks", F.explode(idx).alias("_i")
    ).select(
        F.col(id_col),
        F.md5(
            F.array_join(F.slice("_toks", F.col("_i"), n), " ")
        ).alias("fp"),
    )
    counts = wins.groupBy("fp").agg(F.count(F.lit(1)).alias("_n"))
    return (
        wins.join(counts, "fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_win"),
            F.sum(F.when(F.col("_n") >= 2, 1).otherwise(0)).cast("bigint").alias(
                "n_dup"
            ),
        )
        .withColumn(
            "dup_ppm", F.expr("(1000000 * n_dup) DIV n_win").cast("bigint")
        )
    )


def cross_source_overlap(
    docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Cross-SOURCE contamination matrix — corpus forensics at the Lee
    et al. span grain: for every pair of sources, how many distinct
    ``n``-token window fingerprints they share, and that count as ppm
    of the smaller source's distinct-fingerprint inventory (a
    containment-style score: 1e6 means the smaller source's spans are
    entirely carried by the larger). The table a corpus build reads
    before mixing crawls: two "independent" dumps sharing half their
    spans are one dump counted twice, and an eval-set source
    overlapping a train source is a leak. Returns (source_a, source_b,
    n_shared, min_total, overlap_ppm), a < b.

    Scale shape: window fingerprints explode in the scan projection;
    ONE (fp, source) distinct + one fp-keyed partial agg collect the
    per-fingerprint source SET — bounded by the source catalog (an
    operator dial: tens to hundreds of sources in production, never
    corpus-sized), so the pair explode is row-local C(|sources|, 2)
    work per fingerprint and no doc-pair is ever materialized; the
    final matrix aggregate keys on (a, b) <= |sources|^2 rows."""
    from gomrjob_spark.operators.text import normalized, spread, tokens

    staged = spread(docs).select(
        F.col(group_col).alias("_src"),
        F.filter(tokens(normalized(text_col)), lambda x: x != "").alias("_toks"),
    )
    idx = F.when(
        F.size("_toks") >= n, F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    fps = (
        staged.select("_src", "_toks", F.explode(idx).alias("_i"))
        .select(
            "_src",
            F.md5(F.array_join(F.slice("_toks", F.col("_i"), n), " ")).alias("fp"),
        )
        .distinct()
    )
    fps = scoped_persist(fps)
    totals = fps.groupBy("_src").agg(
        F.count(F.lit(1)).cast("bigint").alias("_tot")
    )
    srcsets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_set("_src")).alias("_ss"))
        .filter(F.size("_ss") >= 2)
    )
    pairs = (
        srcsets.select(
            "_ss", F.explode(F.sequence(F.lit(1), F.size("_ss") - 1)).alias("_i")
        )
        .select(
            "_ss",
            "_i",
            F.explode(
                F.sequence(F.col("_i") + 1, F.size("_ss"))
            ).alias("_j"),
        )
        .select(
            F.element_at("_ss", F.col("_i")).alias("source_a"),
            F.element_at("_ss", F.col("_j")).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        pairs.join(
            totals.select(
                F.col("_src").alias("source_a"), F.col("_tot").alias("_ta")
            ),
            "source_a",
        )
        .join(
            totals.select(
                F.col("_src").alias("source_b"), F.col("_tot").alias("_tb")
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.least("_ta", "_tb").cast("bigint").alias("min_total"),
            F.expr("(1000000 * n_shared) DIV least(_ta, _tb)")
            .cast("bigint")
            .alias("overlap_ppm"),
        )
    )


def span_removal_rewrite(
    docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring REMOVAL (Lee et al. "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499, the ExactSubstr
    pass production pipelines actually run): emit the CLEANED corpus
    with all-but-one occurrence of every duplicated ``n``-token span
    spliced out. :func:`repeated_ngram_spans` measures these spans;
    this operator rewrites the text. Returns (id, n_tokens, n_removed,
    text_rewritten) — n_removed is the count of deleted token
    positions, text_rewritten the surviving tokens of the NORMALIZED
    text space-joined (so the hash gate pins every splice boundary).

    Winner rule: the occurrence with the smallest (doc_id, position)
    per duplicated fingerprint survives; every other occurrence's
    token range [i, i+n) is deleted. Overlapping loser ranges within a
    document union before splicing (each token deleted once), via a
    row-local fold over the sorted span starts that merges
    overlapping/adjacent intervals — the survivor can still lose
    tokens to a DIFFERENT duplicated span overlapping it, exactly as
    byte-range removal behaves in the paper's implementation.

    Scale shape: windows explode from a cheap position sequence in the
    scan projection; the fingerprint stream carries (fp, id, pos) ONLY
    through one partial-agg shuffle (min-struct winner + count per fp)
    and one fp-keyed equi join back — NO pair materialization, so like
    paragraph_containment there is no quadratic regime even on
    boilerplate-heavy corpora. The rebuild is one doc-keyed join of
    the (id, sorted starts) frame against the persisted token frame
    plus a row-local interval-merge fold + position filter."""
    from gomrjob_spark.operators.text import normalized, spread, tokens

    staged = scoped_persist(
        spread(docs)
        .select(
            F.col(id_col),
            F.filter(
                tokens(normalized(text_col)), lambda x: x != ""
            ).alias("_toks"),
        )
        .filter(F.size("_toks") >= 1)
    )
    idx = F.when(
        F.size("_toks") >= n, F.sequence(F.lit(1), F.size("_toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = staged.select(
        F.col(id_col), "_toks", F.explode(idx).alias("_i")
    ).select(
        F.col(id_col),
        F.col("_i").cast("bigint").alias("_i"),
        F.md5(F.array_join(F.slice("_toks", F.col("_i"), n), " ")).alias("fp"),
    )
    dupw = wins.groupBy("fp").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("_i").alias("i"))).alias(
            "_w"
        ),
        F.count(F.lit(1)).alias("_c"),
    ).filter(F.col("_c") >= 2)
    losers = (
        wins.join(dupw, "fp")
        .filter(
            F.struct(F.col(id_col).alias("d"), F.col("_i").alias("i"))
            != F.col("_w")
        )
        .select(id_col, "_i")
    )
    return _splice_spans(staged, losers, n, id_col)


def _splice_spans(
    staged: DataFrame, losers: DataFrame, n: int, id_col: str
) -> DataFrame:
    """Shared splice stage of the span rewriters: given the persisted
    (id, _toks) token frame and an (id, _i) frame of span starts to
    delete (each covering tokens [_i, _i + n)), merge overlapping/
    adjacent spans per document with a row-local fold over the sorted
    starts and rebuild the text from the surviving positions. Returns
    (id, n_tokens, n_removed, text_rewritten)."""
    rem = losers.groupBy(id_col).agg(
        F.array_sort(F.collect_list("_i")).alias("_starts")
    )
    # row-local splice: fold the sorted starts into merged half-open
    # intervals [s, s+n) (overlap OR adjacency extends the last one),
    # then keep the tokens whose position no interval covers
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    last = lambda acc: F.try_element_at(acc, F.lit(-1))  # noqa: E731
    ivals = F.aggregate(
        F.coalesce(F.col("_starts"), F.array().cast("array<bigint>")),
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= last(acc)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["s"].alias("s"),
                        F.greatest(last(acc)["e"], s + n).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(s.alias("s"), (s + n).alias("e"))))
        ),
    )
    staged_iv = staged.join(rem, id_col, "left").select(
        F.col(id_col), "_toks", ivals.alias("_iv")
    )
    kept = F.filter(
        F.sequence(F.lit(1).cast("bigint"), F.size("_toks").cast("bigint")),
        lambda j: ~F.exists(
            F.col("_iv"), lambda iv: (j >= iv["s"]) & (j < iv["e"])
        ),
    )
    # stage the filtered position array as a real column (CSE across a
    # projection is not guaranteed; the r5 HOF lesson)
    with_kept = staged_iv.select(F.col(id_col), "_toks", kept.alias("_kept"))
    return with_kept.select(
        F.col(id_col),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        (
            F.size("_toks").cast("bigint") - F.size("_kept").cast("bigint")
        ).alias("n_removed"),
        F.array_join(
            F.transform("_kept", lambda j: F.element_at("_toks", j.cast("int"))),
            " ",
        ).alias("text_rewritten"),
    )


def decontaminate_span_scrub(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SURGICAL decontamination — the rewrite companion to
    :func:`decontaminate` (which drops whole documents): excise every
    ``n``-token span of a training document that appears ANYWHERE in
    the benchmark suite, keeping the rest of the document — the
    published middle ground for pages that merely QUOTE an eval item
    (dropping them wastes good tokens; keeping them leaks the answer).
    Unlike span_removal_rewrite there is no winner: every matching
    occurrence goes. Returns (id, n_tokens, n_removed, text_rewritten)
    over the training side.

    Scale shape: the benchmark fingerprint set is MODEL-sized (eval
    suites are thousands of items) and broadcasts; training windows
    explode in the scan projection and probe it map-side — the corpus
    is never shuffled by the benchmark (the decontaminate plan
    contract) — then the shared splice pays one doc-keyed rebuild."""
    from gomrjob_spark.operators.text import normalized, spread, tokens

    def _stage(df):
        return (
            spread(df)
            .select(
                F.col(id_col),
                F.filter(
                    tokens(normalized(text_col)), lambda x: x != ""
                ).alias("_toks"),
            )
            .filter(F.size("_toks") >= 1)
        )

    def _wins(staged):
        idx = F.when(
            F.size("_toks") >= n,
            F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        return staged.select(
            F.col(id_col), "_toks", F.explode(idx).alias("_i")
        ).select(
            F.col(id_col),
            F.col("_i").cast("bigint").alias("_i"),
            F.md5(
                F.array_join(F.slice("_toks", F.col("_i"), n), " ")
            ).alias("fp"),
        )

    staged = scoped_persist(_stage(train))
    bench_fps = _wins(_stage(benchmark)).select("fp").distinct()
    losers = _wins(staged).join(F.broadcast(bench_fps), "fp").select(
        id_col, "_i"
    )
    return _splice_spans(staged, losers, n, id_col)


#: paragraph-id packing for sub-document dedup: par_id = doc_id *
#: _PAR_STRIDE + chunk_index. 100k 256-char paragraphs = a 25 MB
#: document — far past any fixture or sane crawl page; the id stays
#: well inside bigint for any doc_id the fixtures (or their scaled
#: replicas) carry. Both bounds are ENFORCED at pack time (_pack_par_id
#: raises mid-scan rather than silently aliasing into a neighbouring
#: document's paragraph space or overflowing bigint).
_PAR_STRIDE = 100_000
#: largest doc_id whose packed par_id stays inside bigint
_MAX_PACK_DOC_ID = (2**63 - 1) // _PAR_STRIDE - 1


def _pack_par_id(doc_id: Column, chunk_index: Column) -> Column:
    """doc_id * _PAR_STRIDE + chunk_index, failing LOUDLY (raise_error
    in the scan projection) when a document exceeds _PAR_STRIDE
    paragraphs or doc_id would overflow bigint — a silent alias would
    corrupt keep verdicts; an error surfaces the need for a wider
    stride or a struct key."""
    ok = (
        (chunk_index >= 0)
        & (chunk_index < F.lit(_PAR_STRIDE))
        & (doc_id >= 0)
        & (doc_id <= F.lit(_MAX_PACK_DOC_ID))
    )
    return F.when(
        ok, doc_id.cast("bigint") * _PAR_STRIDE + chunk_index.cast("bigint")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("par_id pack out of range (doc_id="),
                doc_id.cast("string"),
                F.lit(", chunk_index="),
                chunk_index.cast("string"),
                F.lit(f", stride={_PAR_STRIDE})"),
            )
        ).cast("bigint")
    )


def paragraph_minhash_rollup(
    docs: DataFrame,
    threshold: float = 0.8,
    size: int = 256,
    drop_ppm: int = 300_000,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Paragraph-grain NEAR-dup rollup — the probabilistic sibling of
    :func:`paragraph_containment` (RefinedWeb-style): paragraphs are
    256-char chunks, near-duplicate paragraph PAIRS come from the
    md5-minhash banded propose + exact-Jaccard verify pipeline
    (:func:`minhash_md5_dedup_pairs` at paragraph grain — so lightly
    EDITED boilerplate matches, not just byte-identical chunks), and a
    document drops when >= ``drop_ppm`` of its paragraphs near-dup a
    LOWER-id document's paragraph. Returns (id, n_par, n_near,
    near_ppm, keep).

    Paragraph ids pack as doc_id * _PAR_STRIDE + chunk_index, so the
    lower-id-doc ordering is the par-id ordering and the whole
    pipeline stays single-key. Same-document paragraph matches are
    excluded from the rollup (within-doc repetition is
    dedup_repeated_ngram_spans' signal).

    Scale: everything is the measured minhash_md5 shape (banded
    equi-join, no cross product, ids-only verify streams) at ~len/256x
    the row count; the rollup adds one left join + one per-doc
    aggregate, both ids-only."""
    from gomrjob_spark.operators.text import chunk_text

    chunks = chunk_text(
        docs, size=size, overlap=0, text_col=text_col, id_col=id_col
    )
    pars = chunks.select(
        _pack_par_id(F.col(id_col), F.col("chunk_index")).alias("par_id"),
        "chunk",
    )
    pairs = minhash_md5_dedup_pairs(
        pars, threshold, num_hashes, bands, n,
        text_col="chunk", id_col="par_id", seed=seed,
    )
    covered = (
        pairs.filter(
            F.expr(f"id_a DIV {_PAR_STRIDE}") < F.expr(f"id_b DIV {_PAR_STRIDE}")
        )
        .select(F.col("id_b").alias("par_id"))
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    return (
        pars.select("par_id")
        .join(covered, "par_id", "left")
        .select(
            F.expr(f"par_id DIV {_PAR_STRIDE}").alias(id_col),
            F.coalesce(F.col("_c"), F.lit(0)).alias("_hit"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_par"),
            F.sum("_hit").cast("bigint").alias("n_near"),
        )
        .withColumn(
            "near_ppm", F.expr("(1000000 * n_near) DIV n_par").cast("bigint")
        )
        .withColumn("keep", F.col("near_ppm") < drop_ppm)
    )
