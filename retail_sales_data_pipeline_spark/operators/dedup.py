"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Algorithms follow the published classics — MinHash resemblance
(Broder, "On the resemblance and containment of documents", 1997),
banded LSH (Indyk & Motwani 1998; Leskovec/Rajaraman/Ullman, *Mining
of Massive Datasets* ch. 3), SimHash (Charikar 2002; Manku et al.,
"Detecting near-duplicates for web crawling", WWW 2007) — re-expressed
as Spark relational plans.

Training-data-pipeline extensions (SURVEY.md §7.2 M5). Design rules for
100 TB corpora:

- **No driver-side state.** Every stage is a DataFrame op; candidate
  generation is a shuffle on a *bounded* key (fingerprint, shingle
  hash, band key), never an O(n²) cross join.
- **Shingles travel as 60-bit hashes, not strings.** ``md5`` is
  computed once per shingle; every downstream join/exchange carries
  8-byte longs instead of ~30-char strings. A 60-bit space makes
  accidental collisions negligible (birthday bound ≈ 4·10⁻⁸ at 10⁹
  shingles) and md5 is identical in Spark and DuckDB, so everything
  stays oracle-checkable.
- **Exact dedup** groups on the md5 fingerprint, not the full text, so
  the shuffle carries 32-byte keys instead of documents.
- **MinHash** pays the md5 once and derives the k-function family with
  affine rehashes mod 2³¹−1 (two multiplies each, whole-stage codegen).
- **LSH verification** first semi-joins the shingle relation down to
  candidate ids — the expensive exchanges see |candidates|·|doc| rows,
  not the whole corpus.
- **SimHash**: 32-bit signatures from per-token md5 bits, one
  explode + groupBy per corpus pass.

Skew note: shingle/band keys are hash-uniform by construction; the only
skew risk is a pathological shingle appearing in most documents, which
the ``df_cap`` guard removes (drop shingles more frequent than a cap —
standard practice, also removes useless candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..caching import persist_tracked
from .text import fingerprint_md5, tokens

# Affine MinHash family: all arithmetic stays under 2^62 so int64 math
# is exact (and engine-identical).
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_A = 2654435761  # Knuth multiplicative constant


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text with the
    canonical (minimum) id and the duplicate count.

    Output: ``canonical_id, fingerprint, n_dups``.
    """
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("canonical_id", "fingerprint", "n_dups")
    )


def token_shingles(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct n-token shingle strings per document: ``(id, shingle)``.

    ``array_distinct`` dedups within the document BEFORE the explode, so
    no post-explode distinct is needed — the whole construction is a
    pure zero-shuffle projection, which is what the MinHash pipeline
    wants (its next step is a groupBy anyway, and a window-based
    construction plus global distinct measured ~1.5× slower end-to-end
    there). The lambda references a local ``toks`` subtree; HOF
    interpretation cost here is O(len) per row — the quadratic pitfall
    (see ``text._toks``) applies to nested per-element re-evaluation,
    which the single ``slice`` per index avoids at acceptable constant.
    For document-frequency consumers that tolerate an exchange,
    :func:`shingle_hashes_fast` is the measured-faster window path.
    """
    toks = tokens(text_col)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles)).alias("shingle"),
    ).where(F.length("shingle") > 0)


def shingle_hashes(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct shingles as 60-bit longs: ``(id, sh)``.

    ``sh = int(md5(shingle)[:15], 16)`` — one md5 per shingle, then
    every downstream exchange carries 8-byte keys. md5 because the
    MinHash signatures derived from these values must be reproducible
    in the DuckDB oracle; when only shingle *identity* matters, use
    :func:`shingle_hashes_fast`.
    """
    return token_shingles(df, n=n, text_col=text_col, id_col=id_col).select(
        "id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long").alias("sh"),
    )


def shingle_hashes_fast(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct shingles as xxhash64 longs: ``(id, sh)`` — the
    throughput-tuned twin of :func:`shingle_hashes`, for operators
    whose OUTPUT depends only on shingle *equality* (document-frequency
    counts, set joins), not on the hash values.

    Two deliberate differences, measured ~3× faster end-to-end:

    - **xxhash64 instead of md5** — engine-native, no hex round-trip.
      Oracles for equality-only operators group raw shingle strings, so
      any injective-enough hash matches; a 64-bit collision (≪1
      expected pair below ~10⁹ distinct shingles) could only perturb a
      document-frequency count by one.
    - **posexplode + lead() window instead of the higher-order
      transform/slice** — native operators throughout; the doc-key
      exchange it introduces is reused by this path's per-document
      consumers. (The md5 :func:`token_shingles` path measured FASTER
      with the row-local HOF construction because it avoids the
      post-window global distinct; each path keeps its measured-best
      construction.)
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    tok = df.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    w = W.partitionBy("id").orderBy("pos")
    sh = tok.select(
        "id",
        F.concat_ws(
            " ", "tok", *[F.lead("tok", i).over(w) for i in range(1, n)]
        ).alias("shingle"),
        F.lead("tok", n - 1).over(w).alias("_last"),
    )
    whole = df.select(
        F.col(id_col).alias("id"), F.concat_ws(" ", toks).alias("shingle")
    ).where(F.size(toks) < n)
    return (
        sh.where(F.col("_last").isNotNull())
        .select("id", "shingle")
        .unionByName(whole)
        .where(F.length("shingle") > 0)
        .select("id", F.xxhash64("shingle").alias("sh"))
        .distinct()
    )


def jaccard_verify(cand: DataFrame, elements: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over hashed element sets for candidate pairs.

    ``cand``: (id_a, id_b); ``elements``: (id, sh) distinct. The element
    relation is first semi-joined down to ids that appear in any
    candidate pair, so the per-pair intersection join only exchanges
    candidate documents' shingles — at corpus scale that is the
    difference between shuffling |candidates|·doc_len and |corpus|·
    doc_len rows. Output: ``id_a, id_b, jaccard`` (6 dp) ≥ threshold.
    """
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # el feeds three subtrees (sizes, ea, eb) — persist eagerly or the
    # semi-join (and everything above it) recomputes per reference;
    # it holds only CANDIDATE documents' elements, ≪ corpus
    el = persist_tracked(elements.join(ids, "id"))
    el.count()
    sizes = el.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    ea = el.select(F.col("id").alias("id_a"), "sh")
    eb = el.select(F.col("id").alias("id_b"), "sh")
    common = (
        cand.join(ea, "id_a")
        .join(eb, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by n-gram (token shingle) Jaccard similarity.

    hashed shingle → inverted-index self-join → per-pair intersection →
    ``|A∩B| / (|A| + |B| - |A∩B|)``. Output:
    ``id_a < id_b, jaccard (6 dp)`` for pairs ≥ threshold.

    ``df_cap`` drops shingles occurring in more than ``df_cap`` docs —
    the skew guard for web-scale corpora (a boilerplate shingle shared
    by millions of docs would otherwise quadratically explode one key).
    """
    sh = shingle_hashes(df, n=n, text_col=text_col, id_col=id_col)
    if df_cap is not None:
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
        sh = sh.join(freq.where(F.col("_df") <= df_cap), "sh").select("id", "sh")
    # sh feeds sizes AND both sides of the inverted-index self-join —
    # persist eagerly so tokenize+explode+md5 (+ the df_cap join) runs
    # once, not per reference (same pattern as minhash_lsh_pairs)
    sh = persist_tracked(sh)
    sh.count()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(shingles: DataFrame, num_hashes: int = 8) -> DataFrame:
    """MinHash signatures over a hashed-shingle relation ``(id, sh)``,
    wide form: ``(id, mh_0, …, mh_{k-1})``.

    Family member i is the affine rehash
    ``((2i+1)·A·(sh mod P) + i·A) mod P`` — the md5 cost was already
    paid in :func:`shingle_hashes`; each family member is two multiplies
    (whole-stage codegen). All k minima are computed as k ``min``
    aggregates in ONE ``groupBy(id)`` — no ×k row explosion, a single
    exchange of (id, k longs).
    """
    base = F.col("sh") % MINHASH_P

    def h(i: int):
        a = (2 * i + 1) * MINHASH_A % MINHASH_P
        b = i * MINHASH_A % MINHASH_P
        return (F.lit(a) * base + F.lit(b)) % MINHASH_P

    return shingles.groupBy("id").agg(
        *[F.min(h(i)).alias(f"mh_{i}") for i in range(num_hashes)]
    )


def lsh_band_keys(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Band a wide signature: ``(id, band, band_key)`` where band_key is
    the md5 of the band's minhash components joined in hash order.
    Pure projection + explode — the signature groupBy already
    partitioned by id, so no further exchange is needed here.
    """
    mh_cols = sorted(
        (c for c in signatures.columns if c.startswith("mh_")),
        key=lambda c: int(c.split("_")[1]),
    )
    if len(mh_cols) % rows_per_band:
        # a narrower trailing band would be much looser (P ~ s^rows),
        # silently skewing the LSH S-curve — reject like the embedding
        # bucket stage (similarity.lsh_bucket_keys) instead of diverging
        raise ValueError(
            f"{len(mh_cols)} minhashes do not divide into bands of "
            f"{rows_per_band}; choose num_hashes divisible by "
            "rows_per_band"
        )
    bands = [mh_cols[i : i + rows_per_band] for i in range(0, len(mh_cols), rows_per_band)]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in cols])).alias(
                    "band_key"
                ),
            )
            for bi, cols in enumerate(bands)
        ]
    )
    return signatures.select("id", F.explode(band_structs).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    bands: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """Co-bucket candidate pairs ``(id_a < id_b)`` from banded signatures.

    ``bucket_cap`` drops band buckets with more than ``bucket_cap``
    members before pairing. A bucket of m docs emits m(m-1)/2 pairs, so
    one boilerplate cluster holding 10% of a corpus would alone generate
    ~0.5% of n² candidates — at 100 TB that single hot bucket is the
    job-killer, not the average case (tests/test_scale.py plants exactly
    this and measures the counts). Buckets past the cap are degenerate
    near-exact clusters; the layered guards upstream (exact dedup on
    fingerprints, ``df_cap`` shingle pruning) catch those members at
    linear cost, which is why capped LSH is standard in production
    near-dup pipelines.
    """
    if bucket_cap is not None:
        sizes = bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("_n")
        )
        bands = bands.join(
            sizes.where(F.col("_n") <= bucket_cap).select("band", "band_key"),
            ["band", "band_key"],
        )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pipeline: hashed shingles → signatures →
    bands → bucket join → candidate pairs → exact Jaccard verification
    on the shingle sets.

    Output: ``id_a < id_b, jaccard`` for verified pairs ≥ threshold.
    The bucket join shuffles on (band, band_key) — bounded and uniform;
    candidates are a tiny fraction of n², which is the whole point:
    unlike :func:`ngram_jaccard_pairs` the full inverted-index join
    never happens, only |bands| × |docs| rows move. ``bucket_cap``
    guards the skewed case — see :func:`lsh_candidate_pairs`.
    """
    # Persist every relation the DAG references more than once, and
    # fill each cache EAGERLY (count) before building downstream —
    # otherwise the whole upstream subtree recomputes per reference
    # (bands feeds the bucket-size guard AND both sides of the pair
    # self-join; cand feeds the id semi-join AND the intersection join
    # in jaccard_verify; within one job the references are planned
    # before any cache partition lands, so lazy persist only halves the
    # waste).  Measured at 20k synthetic docs (docs/SCALE.md, "Dedup
    # slope vs corpus size"): 21.4 s unpersisted → 12.4 s lazy persists → 6.2 s eager.  Sizes
    # are scale-safe: sh is |corpus|·doc_len hashed longs, sig is
    # |docs| rows of k longs, cand is |candidate| pairs — all
    # MEMORY_AND_DISK, so at 100 TB they spill rather than OOM (Spark
    # ML's MinHashLSH persists the same relations).
    sh = persist_tracked(shingle_hashes(df, n=n, text_col=text_col, id_col=id_col))
    sig = persist_tracked(minhash_signatures(sh, num_hashes=num_hashes))
    sig.count()  # also fills sh (its only input) one subtree deep
    bands = lsh_band_keys(sig, rows_per_band=rows_per_band)
    cand = persist_tracked(lsh_candidate_pairs(bands, bucket_cap=bucket_cap))
    cand.count()
    return jaccard_verify(cand, sh, threshold)


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): cluster duplicates-of-duplicates into groups so each
    document maps to one canonical id (the production tail of every
    near-dup pipeline).

    ``nodes``: (id); ``pairs``: (id_a, id_b) undirected. Output:
    ``(id, cluster_id)`` with cluster_id = min id reachable.

    Converges in O(log n) rounds, not graph-diameter rounds: a 120-hop
    duplicate chain closes in a handful of alternations where min-label
    propagation would need 120. Per round each op is one groupBy
    (neighborhood min) + one join — bounded, uniformly-keyed shuffles;
    ``localCheckpoint`` truncates lineage; only a changed-count reaches
    the driver.

    - large-star: every node connects its strictly-larger neighbors to
      the minimum of its closed neighborhood;
    - small-star: every node connects its smaller-or-equal neighbors
      (and itself) to that minimum.
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _star(e: DataFrame, large: bool) -> DataFrame:
        sym = _sym(e)
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        joined = sym.join(m, "u")
        cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = joined.where(cond).select(F.col("v").alias("u"), F.col("m").alias("v"))
        if not large:
            out = out.unionByName(m.select("u", F.col("m").alias("v")))
        # canonical undirected form (min, max), self-loops dropped
        return (
            out.where(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .distinct()
        )

    converged = False
    for _ in range(max_iter):
        nxt = _star(_star(edges, large=True), large=False).localCheckpoint()
        changed = (
            nxt.exceptAll(edges).count() + edges.exceptAll(nxt).count()
        )
        edges = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: edge set still changing after "
            f"max_iter={max_iter} alternations — labels may be partial. "
            "O(log n) convergence means this indicates a pathological "
            "input; raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    # after convergence the edge set is a star per component: each
    # node's closed-neighborhood min IS the component min
    mins = (
        _sym(edges)
        .groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("cluster_id"))
    )
    return nodes.join(mins, nodes.id == mins.u, "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )


def blocked_levenshtein_pairs(
    df: DataFrame,
    key_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 3,
    prefix_len: int = 4,
    len_band: int = 8,
    block_cap: int | None = None,
) -> DataFrame:
    """Fuzzy-key near-dup pairs by edit distance with blocking — the
    entity-resolution workhorse (record linkage à la Fellegi-Sunter
    blocking; complements token/shingle dedup, which misses
    character-level typos that shift every shingle).

    ``key_col`` is used VERBATIM — callers normalize (lower/trim/
    truncate) before calling, and the oracle twin must apply the same
    normalization. An internal ``lower(trim(...))`` was removed in
    round 4: it silently diverged from oracles that block on the
    caller's key whenever the key had case or edge whitespace the
    caller kept (e.g. a trailing space at a truncation boundary flips
    the length band and shifts the distance by 1).

    Candidate pairs must share a block = (``prefix_len``-char
    prefix, length band of width ``len_band``): two strings within edit
    distance d differ in length by ≤ d, so with ``len_band > 2 *
    max_dist`` same-band-or-adjacent blocking would be exhaustive; the
    single-band variant here is the standard recall/cost tradeoff and
    the oracle twin applies the identical rule. Scale shape: one shuffle
    on the block key (bounded, prefix-uniform), pairwise Levenshtein
    only within blocks — never O(n²). The O(len²) DP cost per pair is
    why ``key_col`` should be a short normalized key (title, name, URL),
    not a document body.

    Size ``prefix_len`` to the key distribution: a block of m keys costs
    m(m−1)/2 DP evaluations, so a prefix shorter than the corpus's
    discriminating length concentrates the whole corpus into a few hot
    blocks (measured here: prefix 4 over word-initial keys → 59 blocks,
    531k pairs, 6.6 s at sf0.1; prefix 12 collapses that ~50×).
    ``block_cap`` is the backstop — blocks past the cap are dropped,
    the same skew treatment as :func:`lsh_candidate_pairs`.

    Output: ``id_a < id_b, dist`` for pairs with distance ≤ max_dist.
    """
    key = F.col(key_col)
    rel = df.select(
        F.col(id_col).alias("id"),
        key.alias("_k"),
        F.substring(key, 1, prefix_len).alias("_pfx"),
        F.floor(F.length(key) / len_band).alias("_band"),
    )
    if block_cap is not None:
        sizes = rel.groupBy("_pfx", "_band").agg(F.count(F.lit(1)).alias("_n"))
        rel = rel.join(
            sizes.where(F.col("_n") <= block_cap).select("_pfx", "_band"),
            ["_pfx", "_band"],
        )
    a, b = rel.alias("a"), rel.alias("b")
    return (
        a.join(
            b,
            (F.col("a._pfx") == F.col("b._pfx"))
            & (F.col("a._band") == F.col("b._band"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein(F.col("a._k"), F.col("b._k")).alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def simhash_signatures(df: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document from per-token md5 bits.

    Token hash = first 8 hex chars of md5 as a 32-bit integer; bit b of
    the signature is the sign of Σ_tokens (±1 by token bit b). One
    explode to (doc, token, bit) and one groupBy — linear in corpus size.
    Output: ``(id, simhash)`` as a long.
    """
    # no post-explode .distinct(): array_distinct already dedups tokens
    # within each document and ids are unique, so the global distinct
    # was a semantic no-op costing a full shuffle of the token relation
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("token"),
    )
    h32 = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    per_bit = (
        tok.select("id", h32.alias("h"), bit)
        .select(
            "id",
            "b",
            # shiftright/shiftleft builtins take a literal count; the SQL
            # expression form accepts a column shift amount
            F.when(F.expr("shiftright(h, b) & 1") == 1, 1).otherwise(-1).alias("w"),
        )
        .groupBy("id", "b")
        .agg(F.sum("w").alias("s"))
    )
    return per_bit.groupBy("id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0)
        ).alias("simhash")
    )
